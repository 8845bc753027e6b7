package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{Instant, ZoneOffset}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, date_format}
import org.apache.spark.sql.types._

import graft.catalog.{PartitionSpec, SnapshotTable}
import graft.ingest.CsvIngest
import graft.streaming.EventStream

/** Outcome bookkeeping for the whole run: timed samples, rows and seconds
  * per statement class, rows submitted, and correctness checks. Checks
  * count in every phase (set-up, warm-up, measured, finish); samples are
  * kept only while `phase` is "measured".
  */
final class Record {
  var phase = "setup"
  /** class → (seconds, traced, statement kind) per measured statement. */
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[(Double, Boolean, String)]] =
    mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  /** phase → failed checks in it */
  val failedIn: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap.empty
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** class → rows the class's statements carried, and their seconds */
  val rows: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  val seconds: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  var rowsSubmitted = 0L

  def measuring: Boolean = phase == "measured"

  def sample(cls: String, kind: String, s: Double, traced: Boolean, n: Long): Unit =
    if (measuring) {
      samples.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += ((s, traced, kind))
      if (!traced) { rows(cls) += n; seconds(cls) += s }
    }

  /** One attempted operation; a wrong answer counts as failed. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      failedIn(phase) = failedIn.getOrElse(phase, 0L) + 1
      if (failures.size < 20) failures += s"[$phase] $what"
    }
  }
}

/** Tracks every file ever seen under a table root, so bytes written
  * counts data, manifests and snapshots once each, including files that
  * a later expiry deletes.
  */
final class RootBytes(root: String) {
  val LogDir = "_graft_log"
  private val seen = mutable.HashMap.empty[String, Long]
  private val dir = java.nio.file.Paths.get(root.stripPrefix("file:"))

  /** (path, bytes, under the log directory) of every file under the root. */
  private def list(): Seq[(String, Long, Boolean)] = {
    if (!Files.isDirectory(dir)) return Nil
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      val rel = dir.relativize(f).toString
      (rel, Files.size(f), rel.startsWith(LogDir + "/"))
    }.toVector
    finally walk.close()
  }

  /** Record the current listing; returns (new data bytes, new log bytes). */
  def observe(): (Long, Long) = {
    var data = 0L
    var log = 0L
    list().foreach { case (p, len, isLog) =>
      val key = p + "#" + len
      if (!seen.contains(key)) {
        seen(key) = len
        if (isLog) log += len else data += len
      }
    }
    (data, log)
  }
  def written: Long = seen.values.sum
  def live: Long = list().map(_._2).sum
  def logBytes: Long = list().filter(_._3).map(_._2).sum
  /** Size of the newest file directly in the log directory. */
  def latestSnapshotBytes: Long = {
    val ls = Files.list(dir.resolve(LogDir))
    try ls.iterator().asScala.filter(Files.isRegularFile(_))
      .maxBy(Files.getLastModifiedTime(_).toMillis).toFile.length
    finally ls.close()
  }
}

/** The benchmark's view of one evolving snapshot table: its handle, its
  * catalog name and the answers the benchmark expects from it.
  */
final class BenchTable(val name: String, val root: String) {
  var t: SnapshotTable = _
  val rowsByMonth: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap.empty
  /** live key → month of its row */
  val keys: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  /** version → live rows at that version, for time travel */
  val rowsAt: mutable.LinkedHashMap[Long, Long] = mutable.LinkedHashMap.empty
  val bytes = new RootBytes(root)
  def sqlName: String = s"graft.bench.$name"
  def liveRows: Long = rowsByMonth.values.sum
  def noteVersion(v: Long = t.currentVersion()): Unit = rowsAt(v) = liveRows
}

/** The statements of every workload. Each public step issues exactly the
  * engine calls a client of that statement class would, times them, and
  * checks the answer against what the benchmark generated.
  */
final class Pipeline(spark: SparkSession, tracer: Tracer, val rec: Record,
    val inputs: Inputs, warehouse: String, seed: Long) {
  import Pipeline._

  val rnd = new Random(seed ^ 0x5eed5eedL)
  private var batchNo = 0
  private var newKeyNo = 0L

  def table(name: String): BenchTable =
    new BenchTable(name, s"$warehouse/bench/$name")

  /** The month the next ingest batch lands in. */
  def nextMonth: String = Inputs.monthOf(batchNo)

  // ---------------------------------------------------------------- ingest

  /** One ingest statement: `CsvIngest.ingest` of a fresh drifting batch
    * followed by `SnapshotTable.append`, through to the committed
    * snapshot. `project` narrows the frame for keyed tables.
    */
  def ingestBatch(bt: BenchTable, files: Int, maxRecords: Int,
      maxOptional: Int, project: Option[Seq[String]] = None,
      timed: Boolean = true, minRows: Int = 0): Unit = {
    val b = inputs.batch(batchNo, files, maxRecords, maxOptional, minRows)
    batchNo += 1
    val (df0, sIngest) = tracer.span(
      CsvIngest.ingest(spark, b.dir.toString, b.clock))
    val df = project.fold(df0)(cols => df0.select(cols.map(col): _*))
    if (tracer.enabled && timed) {
      tracer.add("ingest.plan_s", sIngest.wallS)
      tracer.add("ingest.jobs_per_file", sIngest.c.jobs.toDouble / b.files.size)
      tracer.add("ingest.driver_gap_s", sIngest.driverGapS)
      val qe = df0.queryExecution
      tracer.add("schema.plan_nodes", Trace.planNodes(qe.analyzed).toDouble)
      qe.optimizedPlan
      val ph = Trace.phases(qe)
      tracer.add("schema.analysis_s", ph.getOrElse("analysis", 0.0))
      tracer.add("schema.optimization_s", ph.getOrElse("optimization", 0.0))
    }
    val filesBefore =
      if (bt.t == null || !tracer.enabled) 0 else bt.t.currentSnapshot().files.size
    val (_, sAppend) = tracer.span {
      if (bt.t == null)
        bt.t = SnapshotTable.create(spark, bt.root, df.schema,
          Some(PartitionSpec("created_at", "month")))
      bt.t.append(df)
    }
    val snap = bt.t.currentSnapshot()
    val (dataB, logB) = bt.bytes.observe()
    if (tracer.enabled && timed) {
      traceWrite(sAppend, snap.files.size - filesBefore, dataB, logB)
    }
    if (timed) rec.sample("ingest_batch", "ingest", sIngest.wallS + sAppend.wallS,
      tracer.enabled, b.rows)
    rec.rowsSubmitted += b.rows
    bt.rowsByMonth(b.month) = bt.rowsByMonth.getOrElse(b.month, 0L) + b.rows
    b.files.foreach(f => f.keys.foreach(k => bt.keys(k) = b.month))
    bt.noteVersion(snap.version)
    // rows per month partition, from the committed manifest
    val got = snap.files.filter(_.partition.contains(b.month)).map(_.rows).sum
    rec.check(got == bt.rowsByMonth(b.month),
      s"ingest ${bt.name} month ${b.month}: manifest rows $got, expected ${bt.rowsByMonth(b.month)}")
  }

  private def traceWrite(s: Span, filesAdded: Int, dataB: Long, logB: Long): Unit = {
    tracer.add("write.append_s", s.wallS)
    tracer.add("write.jobs", s.c.jobs.toDouble)
    tracer.add("write.exec_cpu_s", s.c.execCpuS)
    tracer.add("write.driver_gap_s", s.driverGapS)
    tracer.add("write.files_added", filesAdded.toDouble)
    tracer.add("write.data_bytes", dataB.toDouble)
    tracer.add("write.log_bytes", logB.toDouble)
  }

  /** `log` layer probes: a fresh handle's open cost and the log's size. */
  def traceLog(bt: BenchTable): Unit = if (tracer.enabled) {
    val (_, s) = tracer.span(SnapshotTable.load(spark, bt.root).currentSnapshot())
    tracer.add("log.open_s", s.wallS)
    tracer.add("log.snapshot_bytes", bt.bytes.latestSnapshotBytes.toDouble)
    tracer.add("log.bytes", bt.bytes.logBytes.toDouble)
    tracer.add("log.versions", bt.t.history().size.toDouble)
  }

  /** Evolve the schema the way long-lived tables do, so older files carry
    * older shapes: widen, add, rename and drop a column.
    */
  def evolve(bt: BenchTable): Unit = {
    val t = bt.t
    t.widenColumn("index", LongType); bt.noteVersion()
    t.addColumns(Seq(StructField("segment", StringType))); bt.noteVersion()
    t.renameColumn("last_name", "surname"); bt.noteVersion()
    t.dropColumn("subscription_date"); bt.noteVersion()
  }

  // ----------------------------------------------------------------- reads

  private def monthStart(m: String): Instant =
    java.time.YearMonth.parse(m).atDay(1).atStartOfDay(ZoneOffset.UTC).toInstant

  private def pickKey(bt: BenchTable): (String, Long) =
    if (rnd.nextInt(4) == 0) (f"ffff${rnd.nextLong() & 0xffffffffffL}%012x", 0L)
    else {
      val k = bt.keys.keysIterator.drop(rnd.nextInt(bt.keys.size)).next()
      (k, 1L)
    }

  /** Check a one-row answer whose first column is a count. */
  private def countIs(what: String, exp: Long): Array[Row] => Option[String] =
    rows => {
      val got = rows.head.getLong(0)
      if (got == exp) None else Some(s"$what: $got rows, expected $exp")
    }

  /** One read statement of kind `kind`: the frame is built and its result
    * materialized inside the timed span, then checked.
    */
  def read(bt: BenchTable, kind: String): Unit = {
    val months = bt.rowsByMonth.keys.toVector
    val t = bt.t
    def nextMonth(m: String) = java.time.YearMonth.parse(m).plusMonths(1).toString
    var lookedUp: Option[String] = None
    val (query, check): (() => DataFrame, Array[Row] => Option[String]) = kind match {
      case "full_agg" =>
        val exp = bt.rowsByMonth.filter(_._2 > 0).toMap
        (() => t.read().groupBy(date_format(col("created_at"), "yyyy-MM")).count(),
          rows => {
            val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
            if (got == exp) None else Some(s"full_agg: $got, expected $exp")
          })
      case "month_range" =>
        val i = rnd.nextInt(months.size)
        val sel = months.slice(i, math.min(months.size, i + 1 + rnd.nextInt(3)))
        (() => t.readTimestampRange(monthStart(sel.head), monthStart(nextMonth(sel.last)))
            .selectExpr("count(*)"),
          countIs(s"month_range ${sel.head}..${sel.last}", sel.map(bt.rowsByMonth).sum))
      case "key_lookup" =>
        val (k, exp) = pickKey(bt)
        lookedUp = Some(k)
        (() => t.readWhere(col("customer_id") === k),
          rows => if (rows.length == exp) None
            else Some(s"key_lookup $k: ${rows.length} rows, expected $exp"))
      case "time_travel" =>
        val vs = bt.rowsAt.keys.toVector
        val v = vs(rnd.nextInt(vs.size))
        (() => t.readAt(v).selectExpr("count(*)"), countIs(s"time_travel v$v", bt.rowsAt(v)))
      case "meta_agg" =>
        (() => t.aggregate(Seq(SnapshotTable.MetaAgg("count_star", "", "n"))),
          countIs("meta_agg", bt.liveRows))
      case "sql_catalog" =>
        val m = months(rnd.nextInt(months.size))
        (() => spark.sql(s"SELECT count(*) FROM ${bt.sqlName} " +
            s"WHERE created_at >= TIMESTAMP'$m-01 00:00:00' " +
            s"AND created_at < TIMESTAMP'${nextMonth(m)}-01 00:00:00'"),
          countIs(s"sql_catalog $m", bt.rowsByMonth(m)))
      case "format_graft" =>
        val (k, exp) = pickKey(bt)
        (() => spark.read.format("graft").load(bt.root).where(col("customer_id") === k),
          rows => if (rows.length == exp) None
            else Some(s"format_graft $k: ${rows.length} rows, expected $exp"))
      case "dv_masked" =>
        (() => spark.sql(s"SELECT count(*), count(DISTINCT customer_id) FROM ${bt.sqlName}"),
          rows => {
            val (n, d) = (rows.head.getLong(0), rows.head.getLong(1))
            if (n == bt.liveRows && d == bt.keys.size) None
            else Some(s"dv_masked: $n rows / $d keys, expected ${bt.liveRows} / ${bt.keys.size}")
          })
    }
    val ((df, rows), s) = tracer.span { val df = query(); (df, df.collect()) }
    val wrong = check(rows)
    rec.sample("read", kind, s.wallS, tracer.enabled, rows.length)
    rec.check(wrong.isEmpty, wrong.getOrElse(""))
    if (tracer.enabled) {
      tracer.add(s"scan.${kind}_s", s.wallS)
      tracer.add("scan.tasks", s.c.tasks.toDouble)
      tracer.add("scan.bytes_read", s.c.bytesRead.toDouble)
      tracer.add("scan.rows_read_per_row_returned",
        s.c.recordsRead.toDouble / math.max(1, rows.length))
      tracer.add("scan.exec_cpu_s", s.c.execCpuS)
      tracer.add("scan.driver_gap_s", s.driverGapS)
      val ph = Trace.phases(df.queryExecution)
      tracer.add("plans.analysis_s", ph.getOrElse("analysis", 0.0))
      tracer.add("plans.optimization_s", ph.getOrElse("optimization", 0.0))
      tracer.add("plans.planning_s", ph.getOrElse("planning", 0.0))
      if (kind == "meta_agg") tracer.add("plans.meta_agg_scan_tasks", s.c.tasks.toDouble)
      lookedUp.foreach(k => tracer.add("scan.files_kept_ratio",
        t.pruneFiles(col("customer_id") === k).size.toDouble /
          math.max(1, t.currentSnapshot().files.size)))
    }
  }

  // ------------------------------------------------------------ row-level

  /** Source rows for upsert/merge: `upd` live keys with a new first name
    * plus `ins` new keys, all in the table's current shape.
    */
  private def source(bt: BenchTable, upd: Int, ins: Int): (DataFrame, Seq[(String, String)]) = {
    val schema = bt.t.schema
    val live = bt.keys.toVector
    val chosen = rnd.shuffle(live.indices.toVector).take(upd).map(live)
    val fresh = (0 until ins).map { _ =>
      newKeyNo += 1
      f"n$seed%06x$newKeyNo%09x" -> bt.rowsByMonth.keys.toVector(rnd.nextInt(bt.rowsByMonth.size))
    }
    val rows = (chosen ++ fresh).map { case (k, m) =>
      Row.fromSeq(schema.fields.toSeq.map { f =>
        f.name match {
          case "customer_id" => k
          case "created_at" => java.sql.Timestamp.from(monthStart(m).plusSeconds(86400L * 14))
          case "first_name" => s"upd$newKeyNo"
          case "index" => f.dataType match { case LongType => 0L; case _ => 0 }
          case _ => null
        }
      })
    }
    (spark.createDataFrame(rows.asJava, schema), fresh)
  }

  private def pickLive(bt: BenchTable, n: Int): Seq[String] = {
    val live = bt.keys.keysIterator.toVector
    rnd.shuffle(live.indices.toVector).take(n).map(live)
  }

  /** One row-level statement of kind `kind` on `bt`. */
  def dml(bt: BenchTable, kind: String, upd: Int, ins: Int, del: Int): Unit = {
    val t = bt.t
    val before = if (tracer.enabled) t.currentSnapshot() else null
    var inserted: Seq[(String, String)] = Nil
    var deleted: Seq[String] = Nil
    val (_, s) = kind match {
      case "upsert_api" =>
        val (src, fresh) = source(bt, upd, ins); inserted = fresh
        tracer.span(t.upsert(src, Seq("customer_id")))
      case "merge_sql" =>
        val (src, fresh) = source(bt, upd, ins); inserted = fresh
        src.createOrReplaceTempView("bench_src")
        tracer.span(spark.sql(s"MERGE INTO ${bt.sqlName} t USING bench_src s " +
          "ON t.customer_id = s.customer_id " +
          "WHEN MATCHED THEN UPDATE SET first_name = s.first_name " +
          "WHEN NOT MATCHED THEN INSERT *"))
      case "delete_api" =>
        deleted = pickLive(bt, del)
        tracer.span(t.delete(col("customer_id").isin(deleted: _*)))
      case "delete_sql" =>
        deleted = pickLive(bt, del)
        tracer.span(spark.sql(s"DELETE FROM ${bt.sqlName} WHERE customer_id IN (" +
          deleted.map(k => s"'$k'").mkString(",") + ")"))
    }
    val after = t.currentSnapshot()
    rec.sample("dml", kind, s.wallS, tracer.enabled, inserted.size + upd + deleted.size)
    rec.rowsSubmitted += inserted.size + upd + deleted.size
    inserted.foreach { case (k, m) =>
      bt.keys(k) = m; bt.rowsByMonth(m) = bt.rowsByMonth(m) + 1 }
    deleted.foreach { k =>
      val m = bt.keys.remove(k).get; bt.rowsByMonth(m) = bt.rowsByMonth(m) - 1 }
    bt.noteVersion(after.version)
    val (dataB, logB) = bt.bytes.observe()
    if (tracer.enabled) {
      tracer.add(s"rowlevel.${kind}_s", s.wallS)
      tracer.add("rowlevel.jobs", s.c.jobs.toDouble)
      val afterPaths = after.files.map(_.path).toSet
      tracer.add("rowlevel.files_rewritten",
        before.files.count(f => !afterPaths.contains(f.path)).toDouble)
      tracer.add("rowlevel.dv_files", after.dvFiles.size.toDouble)
      tracer.add("rowlevel.bytes_per_row_changed",
        (dataB + logB).toDouble / math.max(1, inserted.size + upd + deleted.size))
    }
    // rows after each statement, read back through the catalog
    read(bt, "dv_masked")
  }

  /** Periodic maintenance: compaction, then snapshot expiry. */
  def maintain(bt: BenchTable, keep: Int): Unit = {
    val t = bt.t
    val filesBefore = t.currentSnapshot().files.size
    val (_, sc) = tracer.span(t.compact(minFiles = 1))
    val (dataB, _) = bt.bytes.observe()
    val (expired, se) = tracer.span(t.expireSnapshots(keep = keep))
    bt.bytes.observe()
    // expired versions can no longer be read back
    val kept = t.history().map(_.version).toSet
    bt.rowsAt.keys.toVector.filterNot(kept.contains).foreach(bt.rowsAt.remove)
    bt.noteVersion()
    if (tracer.enabled) {
      tracer.add("maint.compact_s", sc.wallS)
      tracer.add("maint.expire_s", se.wallS)
      tracer.add("maint.bytes_rewritten", dataB.toDouble)
      tracer.add("maint.files_before", filesBefore.toDouble)
      tracer.add("maint.files_after", t.currentSnapshot().files.size.toDouble)
      tracer.add("maint.files_deleted", expired._2.toDouble)
    }
    read(bt, "dv_masked")
  }

  // -------------------------------------------------------------- stream

  private var streamDir: Path = _
  private var checkpoint: String = _

  /** Stream sink table, unpartitioned, fed from a CSV file source. */
  def streamTable(): BenchTable = {
    val bt = table("events")
    bt.t = SnapshotTable.create(spark, bt.root, StreamSchema)
    bt.noteVersion()
    streamDir = inputs.nextDirPath("stream")
    checkpoint = inputs.nextDirPath("checkpoint").toString
    bt
  }

  /** One streaming step: `files` tiny CSVs land in the source directory,
    * and the sink commits one micro-batch per file. Each micro-batch's
    * `triggerExecution` is one sample; the change feed over the step's
    * commits must hold exactly the rows streamed.
    */
  def stream(bt: BenchTable, files: Int, maxRecords: Int): Unit = {
    val staged = inputs.nextDirPath("stage")
    val written = (0 until files).map { _ =>
      val f = inputs.csv(staged, maxRecords, 1)
      // the five mandatory columns lead every generated file and are never
      // quoted; the stream reads them under a fixed schema
      val lines = StreamSchema.fieldNames.mkString(",") +:
        Files.readAllLines(f.path, StandardCharsets.UTF_8).asScala.toSeq.drop(1)
          .filter(_.nonEmpty).map(_.split(",", 6).take(5).mkString(","))
      val out = streamDir.resolve(f.path.getFileName)
      Files.write(out, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
      f
    }
    val rows = written.map(_.rows.toLong).sum
    val v0 = bt.t.currentVersion()
    val src = spark.readStream.schema(StreamSchema).option("header", "true")
      .option("maxFilesPerTrigger", "1").csv(streamDir.toString)
    val q = EventStream.writeToSnapshotTable(src, bt.root, checkpoint)
    try q.processAllAvailable() finally q.stop()
    q.exception.foreach(e => rec.check(false, s"stream: $e"))
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    progress.foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1000.0 }
      val trig = d.getOrElse("triggerExecution", 0.0)
      rec.sample("microbatch", "stream", trig, tracer.enabled, p.numInputRows)
      if (tracer.enabled) {
        val add = d.getOrElse("addBatch", 0.0)
        tracer.add("stream.trigger_s", trig)
        tracer.add("stream.add_batch_s", add)
        tracer.add("stream.engine_s", trig - add)
      }
    }
    rec.rowsSubmitted += rows
    bt.rowsByMonth("all") = bt.rowsByMonth.getOrElse("all", 0L) + rows
    val v1 = bt.t.currentVersion()
    bt.bytes.observe()
    val (got, s) = tracer.span(bt.t.changes(v0, v1).count())
    if (tracer.enabled) tracer.add("stream.changes_s", s.wallS)
    rec.check(progress.length == files && got == rows,
      s"stream: ${progress.length} micro-batches / $got change rows, expected $files / $rows")
  }
}

object Pipeline {
  val StreamSchema: StructType = StructType(Seq(
    StructField("index", IntegerType), StructField("customer_id", StringType),
    StructField("first_name", StringType), StructField("last_name", StringType),
    StructField("subscription_date", DateType)))

  /** Columns of the keyed table the row-level workload churns. */
  val KeyedColumns: Seq[String] = Seq("created_at", "index", "customer_id",
    "first_name", "last_name", "subscription_date")
}
