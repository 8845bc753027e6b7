package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution

/** Counters fed by a [[SparkListener]]: jobs, job wall time, tasks,
  * executor CPU time, bytes and records read. Registered for the
  * whole run; the listener only adds to atomics, so its cost is the same
  * whether or not a step is traced.
  */
final class JobCounters extends SparkListener {
  val jobs = new AtomicLong
  val jobWallNs = new AtomicLong
  val tasks = new AtomicLong
  val execCpuNs = new AtomicLong
  val bytesRead = new AtomicLong
  val recordsRead = new AtomicLong
  private val jobStartMs = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStartMs.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobStartMs.remove(e.jobId)).foreach(s =>
      jobWallNs.addAndGet((e.time - s) * 1000000L))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      execCpuNs.addAndGet(m.executorCpuTime)
      bytesRead.addAndGet(m.inputMetrics.bytesRead)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  def snapshot(): Counts = Counts(jobs.get, jobWallNs.get / 1e9, tasks.get,
    execCpuNs.get / 1e9, bytesRead.get, recordsRead.get)
}

final case class Counts(jobs: Long, jobWallS: Double, tasks: Long,
    execCpuS: Double, bytesRead: Long, recordsRead: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, jobWallS - o.jobWallS,
    tasks - o.tasks, execCpuS - o.execCpuS, bytesRead - o.bytesRead,
    recordsRead - o.recordsRead)
}

/** One traced call: wall time plus the Spark work it caused. */
final case class Span(wallS: Double, c: Counts) {
  def driverGapS: Double = math.max(0.0, wallS - c.jobWallS)
}

/** Per-layer recorder. Untraced runs only time the statements; a traced
  * step additionally drains the listener bus after each call so the job
  * counters cover exactly that call, and records per-layer values under
  * their metric names.
  */
final class Tracer(sc: SparkContext, val counters: JobCounters) {
  val values: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  var enabled = false

  def add(name: String, v: Double): Unit =
    if (enabled) values.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  private def drain(): Unit = org.apache.spark.GraftBenchBridge.drainListeners(sc)

  /** Time `body`; when tracing, also return the Spark work it caused. */
  def span[A](body: => A): (A, Span) = {
    if (enabled) drain()
    val before = if (enabled) counters.snapshot() else null
    val t0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - t0) / 1e9
    if (enabled) {
      drain()
      (out, Span(wall, counters.snapshot() - before))
    } else (out, Span(wall, Counts(0, 0, 0, 0, 0, 0)))
  }
}

object Trace {
  /** Planning-phase durations Spark's own tracker recorded for `qe`. */
  def phases(qe: QueryExecution): Map[String, Double] =
    qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1000.0 }

  def planNodes(p: LogicalPlan): Int = {
    var n = 0
    p.foreach(_ => n += 1)
    n
  }

  def gcSeconds(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  /** Live heap after forcing full collections: the heap pools' usage as
    * the last full collection left them. Several collections with pauses
    * between them let Spark's cleaner threads release what the earlier
    * ones found unreachable; the usage is read from the collector rather
    * than from the current heap, which also counts whatever was allocated
    * since the collection ended.
    */
  def heapAfterGcMb(): Double = {
    (0 until 3).foreach { _ => Thread.sleep(50); System.gc() }
    val afterFullGc = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
      case b: com.sun.management.GarbageCollectorMXBean
          if b.getName.contains("Old") || b.getName.contains("MarkSweep") =>
        Option(b.getLastGcInfo)
    }.flatten.headOption
    val used = afterFullGc match {
      case Some(info) =>
        val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
        info.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools.contains(pool) => u.getUsed
        }.sum
      case None => ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    used / (1024.0 * 1024.0)
  }
}
