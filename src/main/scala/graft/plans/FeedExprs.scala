package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.FeedText

/** Native codegen'd forms of the [[graft.pipeline.FeedText]] kernels:
  * `feed_kind(text)` sniffs rss | atom | sitemap, `feed_entries(text)`
  * parses the full entry list as `array<struct<title,link,ts>>` — the
  * crawl-frontier discovery ops run inside whole-stage codegen in the
  * scan stage; downstream explodes the small entry array, never the
  * feed document itself. Both return null for NON-NULL input that is not
  * a feed, so their table entries are null-on-non-null. */
object FeedExprs {

  val entrySchema: StructType = StructType(Seq(
    StructField("title", StringType, nullable = true),
    StructField("link", StringType, nullable = true),
    StructField("ts", StringType, nullable = true)))

  /** `feed_kind(text)` — rss | atom | sitemap | null. */
  def kindS(s: UTF8String): UTF8String = {
    if (s == null) return null
    val k = FeedText.kind(s.toString)
    if (k == null) null else UTF8String.fromString(k)
  }

  /** `feed_entries(text)` — parsed entry array (null when not a feed). */
  def entriesS(s: UTF8String): ArrayData = {
    if (s == null) return null
    val es = FeedText.entries(s.toString)
    if (es == null) return null
    def u(x: String): UTF8String =
      if (x == null) null else UTF8String.fromString(x)
    new GenericArrayData(es.map(e =>
      InternalRow(u(e.title), u(e.link), u(e.ts))).asInstanceOf[Array[Any]])
  }

  def feed_kind(c: Column): Column = NativeFunctions.column("feed_kind", c)
  def feed_entries(c: Column): Column = NativeFunctions.column("feed_entries", c)
}
