package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.PageLayout

/** One positioned text block of a paginated document. */
final case class PageBlock(
    doc_id: Long, page: Int, x: Double, y: Double, w: Double, h: Double,
    text: String)

/** A block with its per-document reading position. */
final case class OrderedBlock(doc_id: Long, page: Int, seq: Int, text: String)

/** Spark plumbing for PDF layout analysis ([[PageLayout]]): repeated
  * header/footer removal (relational — repetition across a document's
  * pages) and XY-cut reading-order reconstruction (per-page, inside
  * `flatMapGroups` — a page's blocks are bounded, the corpus is not).
  *
  * Scale shape: both stages shuffle by `doc_id` only (the furniture
  * groupBy and the (doc_id, page) grouping hash-partition on the doc key),
  * so a 100 TB corpus distributes by document with no all-pairs step; AQE
  * handles the rare giant document, and the per-page XY-cut is O(n log n)
  * in that page's block count.
  */
object LayoutJob {

  /** Deterministic synthetic layout corpus over the documents table — the
    * geometry the sandbox's text-only testdata lacks. Each word of the
    * whitespace-normalized text becomes one block, laid out two columns of
    * five rows per page (column-major: words 0-4 left column, 5-9 right),
    * plus per-page header "doc <id> header" and footer "page <n>" blocks.
    * Clean valleys by construction: rows are 120 apart (h=100, 20-gap),
    * columns at x=50 and x=300 (w=200, 50-gap), header/footer span both
    * columns so the first XY-cut is horizontal. Reading order of the
    * content therefore equals word order — which is what makes the DuckDB
    * oracle for `q_layout_order` expressible (md5 of the normalized text).
    */
  def synthesizeBlocks(spark: SparkSession, documents: DataFrame): Dataset[PageBlock] = {
    import spark.implicits._
    // one-pass kernel form of trim(regexp_replace(.., "\\s+", " "))
    val nt = graft.plans.TextHashExprs
      .ws_normalize(coalesce(col("text"), lit("")), doTrim = true, doLower = false)
    val words = documents
      .select(col("doc_id").cast("long").as("doc_id"), nt.as("nt"))
      .filter(col("nt") =!= "")
      .select(col("doc_id"), posexplode(split(col("nt"), " ")).as(Seq("i", "word")))
    val content = words.select(
      col("doc_id"),
      (col("i") / 10).cast("int").as("page"),
      (lit(50.0) + ((col("i") % 10) / 5).cast("int") * 250.0).as("x"),
      (lit(60.0) + (col("i") % 5).cast("int") * 120.0).as("y"),
      lit(200.0).as("w"), lit(100.0).as("h"),
      col("word").as("text"))
    val pages = content.select(col("doc_id"), col("page")).distinct()
    val header = pages.select(col("doc_id"), col("page"),
      lit(50.0).as("x"), lit(10.0).as("y"), lit(450.0).as("w"), lit(30.0).as("h"),
      concat(lit("doc "), col("doc_id"), lit(" header")).as("text"))
    val footer = pages.select(col("doc_id"), col("page"),
      lit(50.0).as("x"), lit(940.0).as("y"), lit(450.0).as("w"), lit(30.0).as("h"),
      concat(lit("page "), col("page") + 1).as("text"))
    content.unionByName(header).unionByName(footer).as[PageBlock]
  }

  /** Header/footer removal: a block is page furniture iff it sits in the
    * top or bottom page band AND its normalized text ([[PageLayout
    * .normalizeFurniture]] — digits → '#', so "page 3"/"page 12" repeat)
    * occurs in-band on at least half of the document's pages. One shuffle
    * on doc_id; the furniture key set per document is tiny. Degenerate
    * case, documented: on a 1-page document every in-band block trivially
    * meets the half-the-pages bar and is removed. */
  def removeFurniture(
      spark: SparkSession, blocks: Dataset[PageBlock],
      pageHeight: Double = 1000.0, topFrac: Double = 0.05,
      bottomFrac: Double = 0.90): Dataset[PageBlock] = {
    import spark.implicits._
    // native-expression form of PageLayout.normalizeFurniture (stays in
    // whole-stage codegen; LayoutSpec pins the equivalence); the \s+
    // collapse runs in the one-pass ws_normalize kernel
    val norm = graft.plans.TextHashExprs.ws_normalize(
      regexp_replace(lower(col("text")), "[0-9]+", "#"),
      doTrim = true, doLower = false)
    val withBand = blocks.toDF()
      .withColumn("in_band",
        col("y") < pageHeight * topFrac || col("y") + col("h") > pageHeight * bottomFrac)
      .withColumn("norm", norm)
    val pageCounts = blocks.toDF().groupBy("doc_id")
      .agg(countDistinct(col("page")).as("n_pages"))
    val furniture = withBand.filter(col("in_band"))
      .groupBy("doc_id", "norm")
      .agg(countDistinct(col("page")).as("n_band_pages"))
      .join(pageCounts, "doc_id")
      .filter(col("n_band_pages") * 2 >= col("n_pages"))
      .select(col("doc_id"), col("norm"), lit(true).as("is_furniture"))
    withBand
      .join(furniture, Seq("doc_id", "norm"), "left")
      .filter(!(col("in_band") && coalesce(col("is_furniture"), lit(false))))
      .select(col("doc_id"), col("page"), col("x"), col("y"), col("w"), col("h"), col("text"))
      .as[PageBlock]
  }

  /** XY-cut reading order per page. Emits (doc_id, page, seq, text) where
    * `seq` is the position within the page; the document order is
    * (page, seq). Grouping key is (doc_id, page) — hash-distributed, each
    * group holds one page's blocks only. */
  def readingOrder(spark: SparkSession, blocks: Dataset[PageBlock]): Dataset[OrderedBlock] = {
    import spark.implicits._
    blocks.groupByKey(b => (b.doc_id, b.page))
      .flatMapGroups { (key: (Long, Int), it: Iterator[PageBlock]) =>
        val (docId, page) = key
        val blks = it.toIndexedSeq
        val order = PageLayout.xyCut(
          blks.zipWithIndex.map { case (b, i) => PageLayout.Blk(b.x, b.y, b.w, b.h, i) })
        order.iterator.zipWithIndex.map { case (bi, seq) =>
          OrderedBlock(docId, page, seq, blks(bi).text)
        }
      }
  }
}
