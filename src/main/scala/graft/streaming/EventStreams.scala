package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming coverage beyond the reference (which is strictly
  * batch — SURVEY.md §2.9): event-time windowed aggregation with a
  * watermark, and custom session state via `flatMapGroupsWithState` — the
  * streaming analogues a training-data pipeline needs for continuously
  * landing telemetry (the `events` table models it). */
object EventStreams {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Watermarked tumbling-window counts per event type: late events beyond
    * 10 minutes are dropped, window state is bounded — the pattern that
    * keeps state finite at any scale. */
  def windowedCounts(spark: SparkSession, eventsPath: String): DataFrame = {
    spark.readStream
      .schema(eventSchema)
      .parquet(eventsPath)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(25,6)")).cast("double").as("total"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total"))
  }

  final case class SessionUpdate(user_id: Long, n_events: Long, total: Double, closed: Boolean)
  final case class SessionState(n: Long, total: Double, lastTs: Long)

  /** Custom per-user session state with PRODUCTION close semantics: a
    * session closes either (a) when a later event arrives more than `gap`
    * after the session's last event, or (b) via `EventTimeTimeout` when the
    * WATERMARK passes lastTs + gap — so idle sessions are flushed and their
    * state removed without waiting for the user's next event (the round-2
    * form used NoTimeout + an open-snapshot row per batch, a demo shape
    * whose state never expired). State is therefore bounded by the number
    * of users active within one gap horizon, not all users ever seen.
    *
    * Every emitted row is a CLOSED session; a session whose user stays
    * quiet within the watermark horizon remains in state, unemitted —
    * exactly a production sessionizer's contract. Events within one
    * micro-batch are buffered and time-sorted per user; bounded by trigger
    * size. */
  def sessionize(spark: SparkSession, eventsPath: String,
                 gapMs: Long = 3600 * 1000L): Dataset[SessionUpdate] = {
    import spark.implicits._
    val events = spark.readStream
      .schema(eventSchema)
      .parquet(eventsPath)
      .withWatermark("ts", "0 seconds")
      .as[(Long, Timestamp, Long, String, Double, String)]

    events
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long,
         it: Iterator[(Long, Timestamp, Long, String, Double, String)],
         state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            // watermark passed lastTs + gap with no new events: close & evict
            val s = state.get
            state.remove()
            Iterator.single(SessionUpdate(userId, s.n, s.total, closed = true))
          } else {
            var s = state.getOption.getOrElse(SessionState(0L, 0.0, Long.MinValue))
            val out = Seq.newBuilder[SessionUpdate]
            it.toSeq.sortBy(e => (e._2.getTime, e._1)).foreach { e =>
              val t = e._2.getTime
              if (s.lastTs != Long.MinValue && t - s.lastTs > gapMs) {
                out += SessionUpdate(userId, s.n, s.total, closed = true)
                s = SessionState(0L, 0.0, Long.MinValue)
              }
              s = SessionState(s.n + 1, s.total + e._5, t)
            }
            state.update(s)
            // timeout must stay ahead of the current watermark (a user whose
            // newest event is already older than watermark - gap closes at
            // the next watermark tick instead of throwing)
            state.setTimeoutTimestamp(
              math.max(s.lastTs + gapMs, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
        })
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming exact dedup — the streaming analogue of q_dedup_exact:
    * documents land continuously, the first document with a given
    * normalized-text fingerprint passes, later duplicates arriving within
    * the watermark horizon are dropped, and — the part that matters at an
    * unbounded corpus — `dropDuplicatesWithinWatermark` EVICTS fingerprint
    * state older than the horizon, so state is bounded by ingest rate ×
    * horizon instead of growing with corpus size (plain streaming
    * `dropDuplicates` would retain every key forever). Event time is
    * derived deterministically from doc_id (the synthetic table carries no
    * ingest timestamp). */
  def streamingExactDedup(spark: SparkSession, docsPath: String,
                          watermark: String = "1 hour"): DataFrame = {
    spark.readStream
      .schema(docSchema)
      .parquet(docsPath)
      // one-pass kernel, bit-identical to md5(lower(regexp_replace(text,
      // "\\s+", " "))) (TextHashSpec / EventStreamsSpec differentials)
      .withColumn("fp", md5(graft.plans.TextHashExprs
        .ws_normalize(col("text"), doTrim = false, doLower = true)))
      .withColumn("ingest_ts",
        timestamp_seconds(lit(1767225600L) + pmod(col("doc_id"), lit(100L))))
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("fp")
      .select(col("doc_id"), col("fp"), col("ingest_ts"))
  }

  def startToMemory(df: DataFrame, name: String): StreamingQuery =
    df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory(s"ckpt-$name").toString)
      .start()
}
