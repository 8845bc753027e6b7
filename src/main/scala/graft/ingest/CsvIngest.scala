package graft.ingest

import java.time.Instant

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.CsvInferBridge
import org.apache.spark.storage.StorageLevel

import graft.schema.SchemaOps

/** The drifting-CSV ingest pipeline (reference `src/jobs/job.py:29-101`,
  * stages 4-10 in SURVEY §3.1), Spark-first:
  *
  *   discover → per-file CSV read with inference (A2) → align each frame
  *   to the first file's schema (E1; first-file-is-authority is the
  *   reference's documented, order-dependent contract, `job.py:54` —
  *   SURVEY §7.4 risk 2) → unionByName with null fill (D1) → normalize
  *   names (C1) → stamp created_at + reorder (C2/C3).
  *
  * The whole plan is narrow (scan→project→union→project) — zero
  * shuffles, so it scales linearly with input bytes on any cluster.
  * Schema inference is one extra pass over the batch's bytes, as in the
  * reference (SURVEY §4), but one Spark job for the whole batch, not two
  * per file: [[org.apache.spark.sql.graftbridge.CsvInferBridge]] infers
  * every file's own schema in a single scan, and each file is then read
  * with that schema, which runs no job. At 100 TB you would supply an
  * explicit schema per batch instead — `readOne` takes one.
  */
object CsvIngest {

  /** A1 — list `*.csv` under `dir`, sorted; error if none (reference
    * `job.py:29-37`). Lists through the Hadoop `FileSystem` of `dir`'s
    * scheme — the one every later read goes through — so `file:` and
    * remote URIs list like bare local paths.
    */
  def discover(dir: String, conf: Configuration = new Configuration()): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    val found =
      if (!fs.exists(p) || !fs.getFileStatus(p).isDirectory) Seq.empty
      else fs.listStatus(p).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".csv"))
        .map(_.getPath.toString).sorted
    if (found.isEmpty)
      throw new IllegalArgumentException(s"No CSV files found in $dir")
    found
  }

  /** A2 — one CSV with a header. Per-file schemas are the point:
    * inferring over the union would erase the drift this engine exists
    * to handle (`job.py:47-48`). Without `schema`, Spark infers it at
    * two jobs for this file; the batch path passes the schema
    * [[org.apache.spark.sql.graftbridge.CsvInferBridge]] inferred for
    * the file — the same one — so the read itself runs no job.
    */
  def readOne(spark: SparkSession, path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val base = spark.read.option("header", "true")
    schema match {
      case Some(s) => base.schema(s).csv(path)
      case None    => base.option("inferSchema", "true").csv(path)
    }
  }

  /** A2 variant for hostile inputs: PERMISSIVE mode with an explicit
    * schema plus a corrupt-record column. A malformed row lands intact
    * in `_corrupt_record` (other fields null) instead of failing the
    * job (FAILFAST would kill a 100 TB batch for one bad row) or
    * vanishing (DROPMALFORMED silently loses data). Bracket-style: the
    * parsed input must be cached to split on the corrupt column (Spark
    * populates it during parsing, not as a data column), so the cache
    * is released in `finally` when `body` returns — same resource
    * discipline as [[withIngested]]. `body` receives (good rows without
    * the marker column, quarantined raw lines); route the quarantine to
    * a side sink and reconcile counts.
    */
  def withQuarantined[A](spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType)
      (body: (DataFrame, DataFrame) => A): A = {
    import org.apache.spark.sql.functions.col
    val marker = "_corrupt_record"
    val withMarker = org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField(
        marker, org.apache.spark.sql.types.StringType))
    val raw = spark.read.option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", marker)
      .schema(withMarker)
      .csv(path)
      .cache()
    try {
      val good = raw.filter(col(marker).isNull).drop(marker)
      val bad = raw.filter(col(marker).isNotNull)
        .select(col(marker).as("raw_line"))
      body(good, bad)
    } finally raw.unpersist(blocking = true)
  }

  /** Stages 5-10 of the reference job: read all files, align to the
    * first file's schema, union, normalize names, stamp `created_at`.
    *
    * @param clock   injected batch timestamp (SURVEY §7.4 risk 3)
    * @param persist replicate the reference's DISK_ONLY persists (F1,
    *                `job.py:50-51,61-62` — "JUST for development
    *                purposes"); default off, Spark spills on its own
    * @param fillDefaults apply the dormant C5 null-default projection
    */
  def ingest(spark: SparkSession, dir: String, clock: Instant,
      persist: Boolean = false, fillDefaults: Boolean = false): DataFrame =
    build(spark, dir, clock, persist, fillDefaults)._2

  /** F2 parity (`job.py:133-137` unpersists in `finally`): run `body`
    * over the ingested frame, then unpersist every per-file frame that
    * `persist=true` pinned — the resource-safe variant of [[ingest]]
    * for callers that persist.
    */
  def withIngested[A](spark: SparkSession, dir: String, clock: Instant,
      persist: Boolean = true, fillDefaults: Boolean = false)
      (body: DataFrame => A): A = {
    val (persisted, result) = build(spark, dir, clock, persist, fillDefaults)
    try body(result)
    // blocking: the resource-safe variant must guarantee release on
    // return (async unpersist leaves pins draining in the background)
    finally persisted.foreach(_.unpersist(blocking = true))
  }

  private def build(spark: SparkSession, dir: String, clock: Instant,
      persist: Boolean, fillDefaults: Boolean): (Seq[DataFrame], DataFrame) = {
    val files = discover(dir, spark.sparkContext.hadoopConfiguration)
    val schemas = CsvInferBridge.inferSchemas(spark, files)
    val dfs = files.zip(schemas).map { case (f, s) => readOne(spark, f, Some(s)) }
    val persisted =
      if (persist) dfs.map(_.persist(StorageLevel.DISK_ONLY)) else Seq.empty
    val frames = if (persist) persisted else dfs
    val target = frames.head.schema
    val aligned = frames.map(SchemaOps.alignTo(_, target))
    val union = SchemaOps.unionByNameAll(aligned)
    val named = SchemaOps.normalizeNames(union)
    val stamped = SchemaOps.stampCreatedAt(named, clock)
    (persisted, if (fillDefaults) SchemaOps.withDefaults(stamped) else stamped)
  }
}
