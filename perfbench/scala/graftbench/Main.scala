package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.config.GraftConfig

/** A workload: what is built before timing starts, the steps that warm
  * the JVM up, the fixed cycle of steps its one closed-loop client repeats
  * until time is up, and the steps that close the run. `stmt` is the
  * statement class its end-to-end metrics are taken over.
  */
final case class Workload(name: String, stmt: String,
    setup: Pipeline => State, warmup: Seq[Step], cycle: Seq[Step],
    finish: Seq[Step])

/** One statement of a cycle; `name` keys warm-up and trace alternation. */
final case class Step(name: String, run: (Pipeline, State) => Unit)

/** Tables a workload drives. */
final case class State(main: BenchTable, events: BenchTable)

/** Benchmark client: one JVM, one Spark session at `local[nproc]`, one
  * closed-loop client issuing one statement at a time. Writes the raw
  * samples and counters as JSON to `--out`; `run.py` turns them into
  * metrics.
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --scratch <dir> --out <file> [--corrupt-expected]
  * }}}
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val corrupt = argv.contains("--corrupt-expected")
    val workload = args("--workload")
    val seed = args("--seed").toLong
    val seconds = args("--seconds").toDouble
    val traced = args.getOrElse("--trace", "0") == "1"
    val scratch = Paths.get(args("--scratch"))
    val out = Paths.get(args("--out"))
    val w = Workloads.byName.getOrElse(workload,
      sys.error(s"unknown workload $workload; known: ${Workloads.byName.keys.mkString(", ")}"))
    val nproc = Runtime.getRuntime.availableProcessors()

    // java.io.tmpdir points into the run's scratch root, so the catalog
    // warehouse GraftConfig creates there is removed with it
    val spark = GraftConfig(sfDir = "", cpus = nproc, appName = "graftbench")
      .newSession()
    val sessionReadyS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val counters = new JobCounters
    spark.sparkContext.addSparkListener(counters)
    val tracer = new Tracer(spark.sparkContext, counters)
    val warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.bench")

    var record: Map[String, Any] = null
    try {
      // one Record for the whole run: a wrong answer in set-up, warm-up,
      // the measured loop or the closing steps counts alike
      val rec = new Record
      val p = new Pipeline(spark, tracer, rec,
        new Inputs(scratch.resolve("inputs"), seed), warehouse, seed)
      val state = w.setup(p)
      if (corrupt) Workloads.corrupt(p, state)
      // the first statements of a JVM run up to 1.5x slower until the JIT
      // has compiled them; warm-up runs them before timing starts
      rec.phase = "warmup"
      w.warmup.foreach(step => timeStep(step, p, state))
      val tables = Seq(state.main, state.events).filter(_ != null)
      tables.foreach(_.bytes.observe())
      val writtenBefore = tables.map(_.bytes.written).sum
      val submittedBefore = rec.rowsSubmitted
      rec.phase = "measured"
      // set-up time: from JVM start (session, inputs, prebuilt tables,
      // warm-up) until the measured loop begins
      val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

      val gc0 = Trace.gcSeconds()
      val t0 = System.nanoTime()
      val seen = mutable.HashMap.empty[String, Int].withDefaultValue(0)
      var cycles = 0
      var cycleWritten = 0L
      var cycleRows = 0L
      def elapsed = (System.nanoTime() - t0) / 1e9
      var i = 0
      while (elapsed < seconds || cycles == 0) {
        // traced runs trace every other occurrence of each step, so the
        // tracing overhead is measured in the same process on the same mix
        val step = w.cycle(i)
        tracer.enabled = traced && seen(step.name) % 2 == 0
        seen(step.name) += 1
        try timeStep(step, p, state)
        catch { case NonFatal(e) => rec.check(ok = false, s"${step.name} threw $e") }
        i += 1
        if (i == w.cycle.size) {
          // bytes per row count whole cycles only: the statements of a
          // cycle differ in how much they write
          i = 0
          cycles += 1
          tables.foreach(_.bytes.observe())
          cycleWritten = tables.map(_.bytes.written).sum - writtenBefore
          cycleRows = rec.rowsSubmitted - submittedBefore
        }
      }
      val measured = elapsed
      rec.phase = "finish"
      tracer.enabled = traced
      tables.foreach(p.traceLog)
      tracer.enabled = false
      w.finish.foreach(step => timeStep(step, p, state))
      tracer.enabled = traced
      val gcS = Trace.gcSeconds() - gc0
      if (traced) tracer.add("jvm.gc_s", gcS)
      val heap = Trace.heapAfterGcMb()
      if (traced) tracer.add("jvm.heap_after_gc_mb", heap)

      tables.foreach(_.bytes.observe())
      record = Map(
        "nproc" -> nproc, "seed" -> seed, "workload" -> workload,
        "trace" -> (if (traced) 1 else 0),
        "session_s" -> sessionReadyS, "setup_s" -> setupS,
        "measured_s" -> measured, "cycles" -> (cycles + i.toDouble / w.cycle.size),
        "attempted" -> rec.attempted, "failed" -> rec.failed,
        "failures" -> rec.failures.toSeq, "failed_in" -> rec.failedIn.toMap,
        "class_rows" -> rec.rows.toMap, "class_s" -> rec.seconds.toMap,
        "stmt" -> w.stmt, "cycle" -> w.cycle.map(_.name),
        "input_sha256" -> p.inputs.digests.toSeq,
        "rows_submitted" -> cycleRows,
        "bytes_written" -> cycleWritten,
        "bytes_live" -> tables.map(_.bytes.live).sum,
        "rows_live" -> tables.map(_.liveRows).sum,
        "heap_mb" -> heap,
        "gc_s" -> gcS,
        "samples" -> rec.samples.map { case (k, v) =>
          k -> Map("all" -> v.filterNot(_._2).map(_._1).toSeq,
            "all_kinds" -> v.filterNot(_._2).map(_._3).toSeq,
            "traced" -> v.filter(_._2).map(_._1).toSeq) }.toMap,
        "layers" -> tracer.values.map { case (k, v) => k -> v.toSeq }.toMap)
    } finally {
      spark.stop()
    }
    Files.write(out, new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsBytes(record))
  }

  /** Run one step; its wall time including bookkeeping goes to stderr. */
  private def timeStep(step: Step, p: Pipeline, s: State): Unit = {
    val t0 = System.nanoTime()
    step.run(p, s)
    System.err.println(f"[graftbench] step ${step.name} ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }
}
