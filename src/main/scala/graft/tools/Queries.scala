package graft.tools

import java.io.File
import java.util.Locale

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.Bench.noop
import graft.SparkEntry
import graft.pipeline.DedupJobs

/** The session every tool runs in, and the one runner over
  * [[SparkEntry.queries]].
  *
  * `sbt "runMain graft.tools.Queries <dump|time|explain> <sfDir> <out> [names...]"`,
  * where no names means all of them:
  *  - `dump` writes each query to `<out>/<name>` as `coalesce(1)` parquet,
  *    the way [[graft.Verify]] does;
  *  - `time` runs [[graft.Bench]]'s protocol (a warm pass over the
  *    `sf0.001` dir beside `sfDir` when there is one, one warm rep, min of
  *    2 timed reps, cache freed between reps, noop sink) and prints one
  *    line per query to stdout;
  *  - `explain` prints each query's `explain("formatted")` to stderr.
  *
  * `time` and `explain` ignore `<out>`. A query that throws ends the run
  * with exit code 1: a missing number must never read as a timing. */
object Queries {

  /** `local[N]` with N from `SPARK_GRAFT_CPUS` (default: the available
    * processors) and [[graft.Bench]]'s confs, so a tool plans and runs a
    * query the way Bench times it. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Queries <dump|time|explain> <sfDir> <out> [names...]")
    val spark = session()
    val ok = try { run(spark, args(0), args(1), args(2), args.drop(3).toSeq); true }
      catch { case NonFatal(e) => e.printStackTrace(); false }
      finally spark.stop()
    if (!ok) sys.exit(1)
  }

  /** Runs `mode` over `names` (all queries when empty). Every name is
    * checked before any query runs. */
  def run(spark: SparkSession, mode: String, sfDir: String, out: String,
      names: Seq[String]): Unit = {
    val queries = SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val chosen = if (names.isEmpty) queries.keys.toSeq.sorted else names

    def each(f: String => Unit): Unit = chosen.foreach { n =>
      try f(n) catch { case NonFatal(e) => throw new RuntimeException(s"$n failed", e) }
    }
    def fresh(): Unit = { DedupJobs.releaseCached(); spark.catalog.clearCache() }

    mode match {
      case "dump" => each { n =>
        queries(n)(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
        println(s"dumped $n")
      }
      case "explain" => each { n =>
        Console.withOut(System.err) {
          println(s"\n========== $n ==========")
          queries(n)(spark, sfDir).explain("formatted")
        }
      }
      case "time" =>
        spark.range(100000).selectExpr("sum(id)").collect()
        val dir = new File(sfDir).getAbsoluteFile
        val warmDir = new File(dir.getParentFile, "sf0.001")
        if (warmDir.exists() && warmDir != dir)
          each(n => noop(queries(n)(spark, warmDir.getPath)))
        each { n =>
          fresh()
          noop(queries(n)(spark, sfDir))
          val reps = (1 to 2).map { _ =>
            fresh()
            val t0 = System.nanoTime()
            noop(queries(n)(spark, sfDir))
            (System.nanoTime() - t0) / 1e9
          }
          println("%s min=%.3f reps=%s".formatLocal(Locale.ROOT, n, reps.min,
            reps.map(r => "%.3f".formatLocal(Locale.ROOT, r)).mkString(",")))
        }
      case _ =>
        throw new IllegalArgumentException(s"mode must be dump, time or explain, not $mode")
    }
  }
}
