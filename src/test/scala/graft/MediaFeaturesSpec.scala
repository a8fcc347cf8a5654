package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the full output of `q_media_features` at sf0.001: its columns, its
  * row count and a SHA-256 over every column of every row. The digest is
  * taken over the rendered rows in sorted order, so it does not depend on
  * partitioning or on the query's own ordering. Any change that reaches the
  * query through the header probes, the fold feature, the faked-dims tier,
  * the resize geometry or the frame sampling shows up here. */
class MediaFeaturesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-media-features-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  test("q_media_features at sf0.001: columns, row count and all-column digest are pinned") {
    val df = SparkEntry.queries("q_media_features")(spark, sfDir)
    assert(df.columns.toSeq == Seq("media_ref", "doc_id", "media_type", "byte_len",
      "dim1", "dim2", "dim3", "out_w", "out_h", "n_frames"))
    val rows = df.collect()
      .map(_.toSeq.map(String.valueOf).mkString("\u0001"))
      .sorted
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes(StandardCharsets.UTF_8)))
    val digest = md.digest().map(b => f"${b & 0xff}%02x").mkString
    assert(rows.length == 1034)
    assert(digest == "68d0566f2887cb97a0a14cebe3aa2b8b53b08dfd5b3105e8f64b21e3dac32b77")
  }
}
