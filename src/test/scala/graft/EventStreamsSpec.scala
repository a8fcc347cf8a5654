package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams

class EventStreamsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-eventstreams-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // file stream sources require a directory — stage the table into one
  private lazy val eventsPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("events-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("watermarked windowed aggregation emits closed windows that match batch") {
    val q = EventStreams.startToMemory(
      EventStreams.windowedCounts(spark, eventsPath), "win_counts")
    q.awaitTermination()
    val streamed = spark.table("win_counts")
    assert(streamed.count() > 0, "no closed windows emitted")

    // closed windows must agree with a batch computation over the same data
    val batch = spark.read.parquet(eventsPath)
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))
    val joined = streamed.select("win_start", "event_type", "n")
      .join(batch.withColumnRenamed("n", "n_batch"), Seq("win_start", "event_type"))
    assert(joined.filter(col("n") =!= col("n_batch")).count() == 0)
  }

  test("event-time-timeout sessionization: closed sessions match batch; timeouts close idle sessions") {
    import org.apache.spark.sql.expressions.Window
    val gapMs = 3600 * 1000L
    val q = EventStreams.startToMemory(
      EventStreams.sessionize(spark, eventsPath).toDF(), "sessions")
    q.awaitTermination()
    val sessions = spark.table("sessions")
    assert(sessions.count() > 0)
    // every emitted row is a closed session (no open snapshots anymore)
    assert(sessions.filter(!col("closed")).count() == 0)

    // Batch expectation: per-user 1h-gap sessionization; a session is
    // closed either by a later event (every non-trailing session) or by
    // the watermark timeout (a trailing session with lastTs + gap <
    // final watermark = max ts over the whole stream, strict — matching
    // FlatMapGroupsWithStateExec's `timeoutTimestamp < watermark`).
    val ev = spark.read.parquet(eventsPath)
      .withColumn("ts_ms", unix_millis(col("ts").cast("timestamp")))
    val maxTs = ev.agg(max(col("ts_ms"))).collect()(0).getLong(0)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val withSid = ev
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(w))
      .withColumn("new_s",
        when(col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > gapMs, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(w))
    val sess = withSid.groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total"),
        max(col("ts_ms")).as("last_ms"))
    val maxSid = sess.groupBy(col("user_id")).agg(max(col("sid")).as("max_sid"))
    val expected = sess.join(maxSid, Seq("user_id"))
      .filter(col("sid") < col("max_sid") || col("last_ms") + gapMs < maxTs)

    // multiset equality on (user_id, n_events, total@4dp) — totals are fp
    // sums whose accumulation order differs between batch and stream
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("user_id"), col("n_events"), round(col("total"), 4).as("t"))
      .agg(count(lit(1)).as("k"))
    val diff = keyed(sessions).withColumnRenamed("k", "k_s")
      .join(keyed(expected).withColumnRenamed("k", "k_b"),
        Seq("user_id", "n_events", "t"), "full_outer")
      .filter(coalesce(col("k_s"), lit(-1)) =!= coalesce(col("k_b"), lit(-2)))
    assert(diff.count() == 0, s"closed-session mismatch:\n${diff.collect().mkString("\n")}")

    // some sessions must have closed via TIMEOUT (trailing sessions with no
    // later event), not only via a later event
    val timeoutClosed = expected.filter(col("sid") === col("max_sid")).count()
    assert(timeoutClosed > 0, "fixture must exercise the watermark-timeout close path")
  }

  test("streaming exact dedup keeps one doc per fingerprint with bounded state") {
    // stage the docs table plus an exact-duplicate shard (the q_dedup_exact
    // scaffolding shape: every 5th doc re-lands under a shifted id)
    val dir = java.nio.file.Files.createTempDirectory("docs-dedup-src")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.mode("append").parquet(dir.toString)
    docs.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000)
      .write.mode("append").parquet(dir.toString)

    val q = graft.streaming.EventStreams.startToMemory(
      graft.streaming.EventStreams.streamingExactDedup(spark, dir.toString), "dedup_docs")
    q.awaitTermination()
    val out = spark.table("dedup_docs")

    val distinctFp = spark.read.parquet(dir.toString)
      .select(md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("fp"))
      .distinct().count()
    assert(out.count() == distinctFp,
      s"stream must emit exactly one row per fingerprint (${out.count()} vs $distinctFp)")
    assert(out.select("fp").distinct().count() == distinctFp)
  }

  test("streaming dedup fingerprint == md5(lower(regexp_replace(text, \\s+, ' '))) on traps") {
    import spark.implicits._
    // the ws_normalize traps: case-fold specials (ſ K İ Σ incl. final
    // sigma), non-ASCII whitespace (NBSP must NOT collapse), runs of every
    // Java-\s char, all-whitespace, empty, null — plus case/space variants
    // that must collide on one fingerprint
    val texts: Seq[String] = Seq(
      "", " ", " \t\n\f\r ", "plain", "  lead", "trail  ", " both \t sides ",
      "Upper CASE ſtraße İstanbul KΣLVIN ΟΔΟΣ", "nb\u00a0sp stays", "早安  世界",
      "a\rb\nc\td", "ΣΙΓΜΑ ΤΕΛΟΣ", "x  y   z", "X Y Z", "PLAIN", null) ++
      (0 until 30).map { i =>
        val r = new scala.util.Random(700 + i)
        (0 until 12).map(_ => Seq("Tok", "ſs", "İi", "K", "Σ", "早", " ", "\t", "\n", "#")(
          r.nextInt(10))).mkString(Seq("", " ", "  ", "\t")(r.nextInt(4)))
      }
    val dir = java.nio.file.Files.createTempDirectory("docs-fp-traps").toString
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "trap", Option(t).map(_.length.toLong)) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(dir)

    val q = EventStreams.startToMemory(
      EventStreams.streamingExactDedup(spark, dir), "dedup_fp_traps")
    q.awaitTermination()
    val want = docs.select(col("doc_id"),
      md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("want"))
    val got = spark.table("dedup_fp_traps")
    val mismatched = got.join(want, Seq("doc_id"))
      .filter(!(col("fp") <=> col("want"))).count()
    assert(mismatched == 0L)
    assert(got.count() == want.select("want").distinct().count())
  }
}
