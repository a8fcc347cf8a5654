package graft.pipeline

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel

/** The one owner of every multiply-consumed intermediate the engine
  * materialises: how it is materialised, and how it is freed.
  *
  *  - [[cut]]: an EAGER local checkpoint, for a stage boundary read by
  *    several consumers and for the per-round lineage cut of an iterative
  *    loop. A lazy persist at these boundaries was measured slower (r6
  *    bench: `resolveChains` 0.48 s eager vs 0.74 s lazy, `q_layout_order`
  *    1.25 s vs 2.11 s): independent consumer stages race on the uncached
  *    partitions and duplicate the stage's work, while the eager cut runs
  *    it exactly once. A 100-TB run would cut to reliable storage instead.
  *  - [[counted]]: a cut plus one aggregate observed (`Dataset.observe`)
  *    in the pass that materialises it, so a size or convergence decision
  *    needs no count job of its own. The observation sits directly under
  *    the cut: under adaptive execution an observation below a shuffle is
  *    dropped when that shuffle's output is empty, and its `get` would
  *    wait forever.
  *  - [[cache]]: a lazy MEMORY_AND_DISK persist, for a table that several
  *    operators of one job read (the dedup family's token, band, shingle
  *    and window tables). An eager count barrier in its place was measured
  *    and rejected: the 9-26 s bimodal runs it was meant to fix were heap
  *    expansion GC pauses (see build.sbt's Xms note), and with a fixed heap
  *    the barrier's extra pass only cost time.
  *
  * Everything made here is tracked until [[release]] (or [[free]]) frees
  * it. Cuts are tracked weakly, so in a session that never releases, a cut
  * nothing references any more is still freed by Spark's ContextCleaner. */
private[graft] object Materialize {

  private val persists = new ConcurrentLinkedQueue[Dataset[_]]()
  private val cuts = new ConcurrentLinkedQueue[WeakReference[RDD[_]]]()

  /** The checkpointed RDD behind a cut. */
  private def rddOf(ds: Dataset[_]): Option[RDD[_]] =
    ds.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }

  /** `ds` materialised now, its lineage replaced by the stored rows. */
  def cut[T](ds: Dataset[T]): Dataset[T] = {
    val c = ds.localCheckpoint()
    rddOf(c).foreach(r => cuts.add(new WeakReference[RDD[_]](r)))
    c
  }

  /** [[cut]], and the value of `n` (by default the row count) over the
    * rows it stored. `n` must be a non-null aggregate on empty input. */
  def counted[T](ds: Dataset[T], n: Column = count(lit(1))): (Dataset[T], Long) = {
    val o = Observation()
    val c = cut(ds.observe(o, n.as("n")))
    (c, o.get("n").asInstanceOf[Number].longValue)
  }

  /** `df` persisted lazily. If this exact plan is already persisted (two
    * pipelines sharing an intermediate), it is reused and its first owner
    * frees it: persisting it again would only log a benign "Asked to cache
    * already cached data" WARN. */
  def cache(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else { persists.add(df.persist(StorageLevel.MEMORY_AND_DISK)); df }

  /** Frees `ds` now if it is a persist or a cut made here: a loop's round
    * once the next round's cut exists, a wave once it is written. */
  def free(ds: Dataset[_]): Unit =
    if (persists.remove(ds)) ds.unpersist(false)
    else rddOf(ds).foreach(r => if (cuts.removeIf(_.get eq r)) r.unpersist(false))

  /** Frees every persist and cut made here since the last release. A
    * DataFrame built on a freed cut can no longer be read ("Checkpoint
    * block … not found"): consume every result first, and build a fresh
    * one after the release. */
  def release(blocking: Boolean = false): Unit = {
    Iterator.continually(persists.poll()).takeWhile(_ != null).foreach(_.unpersist(blocking))
    Iterator.continually(cuts.poll()).takeWhile(_ != null)
      .foreach(w => Option(w.get).foreach(_.unpersist(blocking)))
  }
}
