package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One recorded call: `parent` is the index of the enclosing span (-1 for
  * an operation's root span), `op` the operation it belongs to. */
final case class Span(name: String, parent: Int, op: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task metrics of the Spark jobs run inside one traced call. */
final class StageMetrics {
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskMsByStage: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map.empty

  /** Max over median task run time of the stage that ran longest in
    * total: skew where the time actually goes. 1.0 when no stage ran. */
  def skew: Double = {
    if (taskMsByStage.isEmpty) return 1.0
    val ts = taskMsByStage.values.maxBy(_.sum).sorted
    val med = ts(ts.length / 2)
    if (med <= 0) 1.0 else ts.last.toDouble / med
  }
}

/** Groups task-end events by the job group set around each traced call. */
final class TaskMetricsListener extends SparkListener {
  private val groupOfStage = new ConcurrentHashMap[Int, String]()
  val byGroup = new ConcurrentHashMap[String, StageMetrics]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(id => e.stageIds.foreach(s => groupOfStage.put(s, id)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = groupOfStage.get(e.stageId)
    val tm = e.taskMetrics
    if (g == null || tm == null) return
    val m = byGroup.computeIfAbsent(g, _ => new StageMetrics)
    m.synchronized {
      m.tasks += 1
      m.cpuNs += tm.executorCpuTime
      m.gcMs += tm.jvmGCTime
      m.shuffleWriteBytes += tm.shuffleWriteMetrics.bytesWritten
      m.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
      m.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += tm.executorRunTime
    }
  }
}

/** Spans kept in memory around the calls into the engine's layers. When
  * disabled, `call` only runs its body: the untraced run pays nothing. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var op = -1

  def group(spanIndex: Int): String = s"${spans(spanIndex).name}#$spanIndex"

  /** Root span of one operation; its children are the calls below. */
  def operation[T](index: Int)(body: => T): T = { op = index; call("op")(body) }

  def call[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val sc = spark.sparkContext
    val id = spans.length
    spans += Span(name, stack.headOption.getOrElse(-1), op, System.nanoTime(), 0L)
    stack = id :: stack
    sc.setJobGroup(group(id), name)
    try body
    finally {
      spans(id) = spans(id).copy(endNs = System.nanoTime())
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(group(p), spans(p).name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** A span's duration minus the part its direct children cover. */
  def selfSeconds(i: Int): Double =
    spans(i).seconds - spans.iterator.filter(_.parent == i).map(_.seconds).sum
}

/** Process-wide JVM counters: GC time and count, process CPU time. */
final case class JvmSnapshot(wallNs: Long, gcMs: Long, gcCount: Long, cpuNs: Long)

object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def snapshot(): JvmSnapshot = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    JvmSnapshot(System.nanoTime(), gcs.map(_.getCollectionTime.max(0L)).sum,
      gcs.map(_.getCollectionCount.max(0L)).sum, os.getProcessCpuTime)
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peakBytes = 0L

  /** Tracks the highest heap in use right after any collection since the
    * last [[resetHeapPeak]]. */
  def watchHeap(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach { gc =>
      gc.asInstanceOf[NotificationEmitter].addNotificationListener((n, _) => {
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peakBytes = math.max(peakBytes, used) }
        }
      }, null, null)
    }

  /** Starts a new peak at the heap in use now (call right after a full
    * collection, so the baseline is the retained heap). */
  def resetHeapPeak(): Unit = {
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    synchronized { peakBytes = used }
  }
  def heapPeakMb: Double = {
    val bytes = synchronized(peakBytes)
    bytes / 1048576.0
  }
}
