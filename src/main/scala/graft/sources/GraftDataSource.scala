package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.connector.catalog.{Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.{GraftChangesV2Table, GraftMetadataV2Table, GraftV2Table, SnapshotTable}

/** Spark SQL data source for [[graft.catalog.SnapshotTable]] — the
  * integration that makes the snapshot layer consumable WITHOUT the
  * Scala API, exactly how a SQL-only user reaches an Iceberg table:
  *
  * {{{
  *   spark.read.format("graft").load("/warehouse/events")
  *   spark.read.format("graft")
  *     .option("versionAsOf", 3).load("/warehouse/events")   // time travel
  *   spark.read.format("graft")
  *     .option("tag", "corpus-v1.0").load("/warehouse/events")
  *
  *   CREATE TEMPORARY VIEW events_snap
  *   USING graft OPTIONS (path '/warehouse/events')
  * }}}
  *
  * A DSv2 `TableProvider`: batch reads resolve to the SAME tables
  * [[graft.catalog.GraftCatalog]] serves — [[GraftV2Table]] (pinned by
  * `versionAsOf` / `tag` / `timestampAsOf`, or following a `branch`),
  * [[GraftChangesV2Table]] for the `changesFrom` / `changesTo` change
  * feed and [[GraftMetadataV2Table]] for `metadata` — so scans plan
  * through the native batch scan, and SQL DELETE / UPDATE / MERGE on a
  * temp view run as Spark's own row-level rewrite
  * ([[graft.plans.GraftViewDml]] only unwraps the view). Writes and
  * streams stay on the v1 interfaces below: a path-addressed table
  * advertises neither batch nor streaming writes nor micro-batch
  * reads, so `save()`, `readStream` and `writeStream` fall back to
  * them.
  */
final class GraftDataSource extends TableProvider
    with CreatableRelationProvider with DataSourceRegister
    with StreamSourceProvider with StreamSinkProvider {

  override def shortName(): String = "graft"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      sys.error("the graft data source requires a path: " +
        ".load(root) / .save(root) or OPTIONS (path '...')"))

  /** Writes hand [[getTable]] their frame's schema instead of asking
    * for inference, so a `save()` to a path with no table yet reaches
    * the fallback to [[createRelation]] (which creates it).
    */
  override def supportsExternalMetadata(): Boolean = true

  /** Called only for reads without a user schema: a missing table
    * fails here, eagerly, with [[SnapshotTable.load]]'s message. The
    * table [[getTable]] routes to declares the schema actually read.
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SnapshotTable.load(SparkSession.active,
      pathOf(CaseInsensitiveMap(options.asScala.toMap))).schemaAt(None)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val parameters = CaseInsensitiveMap(properties.asScala.toMap)
    val spark = SparkSession.active
    val path = pathOf(parameters)
    if (!SnapshotTable.exists(spark, path))
      return new GraftAbsentTable(path, schema)
    val base = SnapshotTable.load(spark, path)
    def longOpt(key: String, label: String): Option[Long] =
      parameters.get(key).map { v =>
        try v.toLong
        catch {
          case _: NumberFormatException =>
            sys.error(s"$label must be a version number, got '$v'")
        }
      }
    // metadata tables (Iceberg `table.files` / `partitions` / `history`
    // / `refs`): OPTIONS (path '…', metadata 'partitions') reads the
    // manifest-derived introspection DataFrames — SQL-only users get
    // the same ops views the Scala API exposes, zero data-file I/O
    parameters.get("metadata") match {
      case Some(kind) =>
        require(parameters.size <= 2 ||
          parameters.keys.forall(k => k == "path" || k == "metadata" ||
            k == "paths"),
          "metadata tables take no other options (they describe the " +
            "CURRENT snapshot; time travel does not apply)")
        return new GraftMetadataV2Table(base, path, kind.toLowerCase)
      case None => ()
    }
    // CDC changelog surface: the window resolves when the feed's schema
    // is first needed (a batch load), never for a readStream, which
    // falls back to the v1 source with its own option checks
    if (Seq("changesfrom", "changesto", "changesfromtimestamp",
        "changestotimestamp").exists(parameters.contains))
      return new GraftChangesV2Table(base, path,
        Some(() => changesWindow(base, path, parameters)))
    val version = longOpt("versionasof", "versionAsOf")
    val tag = parameters.get("tag")
    // branch 'name': the view IS the branch — reads see the branch
    // head, INSERT/DML through the view land on the branch line
    val branch = parameters.get("branch")
    // timestampAsOf: epoch millis or ISO-8601 instant, resolved to the
    // latest snapshot committed at or before it (readAsOf semantics)
    val ts = parameters.get("timestampasof").map { v =>
      try v.toLong
      catch {
        case _: NumberFormatException =>
          try java.time.Instant.parse(v).toEpochMilli
          catch {
            case _: java.time.format.DateTimeParseException => sys.error(
              s"timestampAsOf must be epoch millis or ISO-8601, got '$v'")
          }
      }
    }
    require(Seq(version, tag, ts).count(_.isDefined) <= 1,
      "pass at most one of versionAsOf, tag, timestampAsOf")
    require(branch.isEmpty || Seq(version, tag, ts).forall(_.isEmpty),
      "branch cannot combine with versionAsOf/tag/timestampAsOf " +
        "(time travel WITHIN a branch: read the branch handle's history)")
    val table = branch.map(base.branch).getOrElse(base)
    // resolved once, here: a tag through the ref, a timestamp to the
    // latest snapshot at or before it (None = follow current)
    val pinned = (tag, ts) match {
      case (Some(t), _) => Some(table.tags().getOrElse(t, sys.error(
        s"no tag '$t' at $path; tags: ${table.tags().keys.mkString(", ")}")))
      case (None, Some(ms)) => Some(table.versionAsOf(ms))
      case _ => version
    }
    new GraftV2Table(table, path, pinned, streaming = false)
  }

  /** `changesFrom` / `changesTo` (or their `…Timestamp` variants) as a
    * pinned window. Bounds are version numbers or TAG NAMES ("changes
    * since the corpus the model trained on") — digits always mean a
    * version; all-digit tag names are refused at tag() creation, so the
    * routing is total.
    */
  private def changesWindow(base: SnapshotTable, path: String,
      parameters: Map[String, String]): GraftChangesV2Table.Window = {
    def boundOpt(key: String): Option[Long] = parameters.get(key).map { v =>
      scala.util.Try(v.toLong).getOrElse {
        base.tags().getOrElse(v, sys.error(
          s"$key: '$v' is neither a version number nor a tag at $path; " +
            s"tags: ${base.tags().keys.mkString(", ")}"))
      }
    }
    // Delta startingTimestamp analog: <bound>Timestamp resolves to the
    // latest version committed at or before it (readAsOf semantics —
    // "changes SINCE the corpus as of T"). Epoch millis or ISO-8601.
    def tsBoundOpt(key: String, versionKey: String): Option[Long] = {
      require(!(parameters.contains(key) && parameters.contains(versionKey)),
        s"pass $versionKey OR $key, not both")
      parameters.get(key).map { v =>
        val ms = scala.util.Try(v.toLong).getOrElse(
          scala.util.Try(java.time.Instant.parse(v).toEpochMilli).getOrElse(
            sys.error(s"$key must be epoch millis or ISO-8601, got '$v'")))
        base.versionAsOf(ms)
      }
    }
    // evaluate both variants eagerly: the conflict check must fire
    // even when the version-keyed option would win an orElse
    val fromTs = tsBoundOpt("changesfromtimestamp", "changesfrom")
    val toTs = tsBoundOpt("changestotimestamp", "changesto")
    (boundOpt("changesfrom").orElse(fromTs),
      boundOpt("changesto").orElse(toTs)) match {
      case (Some(f), Some(t)) =>
        require(Seq("versionasof", "tag", "timestampasof")
          .forall(k => !parameters.contains(k)),
          "changesFrom/changesTo cannot combine with versionAsOf/tag/timestampAsOf")
        GraftChangesV2Table.Window(f, t, updateImages =
          parameters.get("updateimages").exists(_.equalsIgnoreCase("true")))
      case _ => sys.error("pass BOTH changesFrom and changesTo (or neither)")
    }
  }

  /** Write side: `df.write.format("graft").mode(...).save(root)`.
    * Append and Overwrite map to the table's atomic commits (schema
    * evolution applies); a missing table is created first, with an
    * optional hidden-partition spec from `partition` — `'month(ts)'`
    * or `'identity(col)'` — honored only at creation.
    * ErrorIfExists/Ignore follow their SaveMode contracts against
    * table EXISTENCE.
    */
  override def createRelation(ctx: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode._
    val spark = ctx.sparkSession
    val path = pathOf(parameters)
    // branch 'name' on the WRITE side too: the commit lands on the
    // branch line (a silently-ignored option here would publish
    // staged-for-review data straight to main readers)
    val branch = parameters.get("branch")
    val exists = SnapshotTable.exists(spark, path)
    require(branch.isEmpty || exists,
      s"cannot write to branch '${branch.getOrElse("")}' of a table " +
        s"that does not exist yet at $path — create the table and the " +
        "branch first")
    if (exists && mode == ErrorIfExists)
      sys.error(s"graft table already exists at $path (SaveMode.ErrorIfExists)")
    if (!exists || mode != Ignore) {
      val base =
        if (exists) SnapshotTable.load(spark, path)
        else SnapshotTable.create(spark, path, data.schema,
          spec = parameters.get("partition").map(parseSpec))
      val table = branch.map(base.branch).getOrElse(base)
      mode match {
        case Overwrite => table.overwrite(data)
        case _ if !exists => table.append(data) // fresh table: content
        case Append => table.append(data)
        case _ => () // Ignore / ErrorIfExists on existing: no write
      }
    }
    // Spark only recaches by this relation; reads go through getTable
    val written = data.schema
    new BaseRelation {
      override val sqlContext: SQLContext = ctx
      override val schema: StructType = written
    }
  }

  /** Streaming read: `spark.readStream.format("graft")
    * .option("changesFrom", v).load(root)` — the CDC changelog as a
    * micro-batch stream, one offset per table version
    * ([[graft.streaming.GraftChangesSource]]). `changesFrom` omitted =
    * stream only commits after the query starts.
    */
  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "the graft streaming source derives its schema from the table — " +
        "drop .schema(...)")
    val table = SnapshotTable.load(sqlContext.sparkSession, pathOf(parameters))
    (shortName(),
      graft.streaming.GraftChangesSource.changeSchema(table.schemaAt(None)))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    // version number or tag name — a stream resuming "since the tagged
    // corpus vintage" is the natural consumer shape; the timestamp
    // variant resolves via readAsOf semantics
    require(!(parameters.contains("changesfrom") &&
        parameters.contains("changesfromtimestamp")),
      "pass changesFrom OR changesFromTimestamp, not both")
    val from = parameters.get("changesfrom").map { v =>
      scala.util.Try(v.toLong).getOrElse {
        val tbl = SnapshotTable.load(sqlContext.sparkSession,
          pathOf(parameters))
        tbl.tags().getOrElse(v, sys.error(
          s"changesFrom: '$v' is neither a version number nor a tag; " +
            s"tags: ${tbl.tags().keys.mkString(", ")}"))
      }
    }.orElse(parameters.get("changesfromtimestamp").map { v =>
      val ms = scala.util.Try(v.toLong).getOrElse(
        scala.util.Try(java.time.Instant.parse(v).toEpochMilli).getOrElse(
          sys.error("changesFromTimestamp must be epoch millis or " +
            s"ISO-8601, got '$v'")))
      SnapshotTable.load(sqlContext.sparkSession, pathOf(parameters))
        .versionAsOf(ms)
    })
    require(!parameters.contains("changesto"),
      "a streaming changelog read is unbounded — changesTo only applies " +
        "to batch reads (spark.read)")
    val maxPerTrigger = parameters.get("maxversionspertrigger").map { v =>
      val n = try v.toLong catch {
        case _: NumberFormatException =>
          sys.error(s"maxVersionsPerTrigger must be a positive number, got '$v'")
      }
      require(n >= 1, s"maxVersionsPerTrigger must be >= 1, got $n")
      n
    }
    new graft.streaming.GraftChangesSource(sqlContext, pathOf(parameters),
      from, metadataPath, maxPerTrigger)
  }

  /** `writeStream.format("graft").start(root)` — exactly-once append
    * into an existing snapshot table (batch id recorded in the commit;
    * replays skip), or keyed CDC upsert with `.option("keys",
    * "k1,k2")` + `outputMode("update")`, routed MoR/COW by the table's
    * `graft.merge.mode`. Partitioning comes from the table's own spec.
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "the graft sink takes partitioning from the table's own spec — " +
        "drop partitionBy(...)")
    val keys = parameters.get("keys").map(
      _.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    require(keys.forall(_.nonEmpty), "keys must name at least one column")
    import org.apache.spark.sql.streaming.OutputMode
    if (outputMode == OutputMode.Complete()) sys.error(
      "the graft sink does not support Complete mode — a snapshot " +
        "table is the accumulated state; use Append or keyed Update")
    if (outputMode == OutputMode.Update() && keys.isEmpty) sys.error(
      "Update mode needs .option(\"keys\", ...) — without keys an " +
        "updated row cannot replace its previous image")
    // the converse too (ADVICE r14, low): keys under Append would
    // silently switch the sink to keyed upsert — dropping Append's
    // batch-id exactly-once dedup and its append-only contract — for
    // a user who set keys but forgot outputMode("update"). Refuse.
    if (outputMode != OutputMode.Update() && keys.nonEmpty) sys.error(
      "the keys option is a keyed-upsert contract and is only honored " +
        "in Update mode — add .outputMode(\"update\") or drop " +
        ".option(\"keys\", ...)")
    // the table must exist: schema/spec/properties govern the write
    SnapshotTable.load(sqlContext.sparkSession, pathOf(parameters))
    new graft.streaming.GraftSink(pathOf(parameters), keys)
  }

  /** `month(col)` / `identity(col)` / `bucket(N, col)` / bare `col`
    * (= identity). The bare form refuses parentheses so a malformed
    * transform (unclosed paren, stray text) fails HERE with the real
    * problem rather than creating a table partitioned on a garbage
    * column name.
    */
  private def parseSpec(s: String): graft.catalog.PartitionSpec = {
    val Xform = raw"(\w+)\(([^)]+)\)".r
    val BucketArgs = raw"\s*(\d+)\s*,\s*([^,\s]+)\s*".r
    s.trim match {
      case Xform("bucket", args) => args match {
        case BucketArgs(n, c) =>
          require(n.toLong >= 1, s"bucket count must be >= 1, got $n")
          graft.catalog.PartitionSpec(c, s"bucket[$n]")
        case other => sys.error(s"unparseable bucket transform args " +
          s"'$other' (expected 'bucket(N, col)')")
      }
      case Xform(t, c) =>
        // validate the transform BEFORE the table is created: an
        // unknown transform would otherwise persist a spec that only
        // fails (MatchError in partitionExpr) on the first append —
        // after the bad table already exists on disk
        require(t == "month" || t == "identity",
          s"unsupported partition transform '$t' " +
            "(supported: month, identity, bucket)")
        graft.catalog.PartitionSpec(c.trim, t)
      case bare if bare.nonEmpty && !bare.exists("()".contains(_)) =>
        graft.catalog.PartitionSpec(bare, "identity")
      case other => sys.error(s"unparseable partition option: '$other' " +
        "(expected 'month(col)', 'identity(col)', 'bucket(N, col)', " +
        "or a bare column name)")
    }
  }
}

/** A `save()` target with no table yet: it has no capabilities, so
  * every save mode falls back to [[GraftDataSource.createRelation]],
  * which creates the table.
  */
private final class GraftAbsentTable(path: String,
    override val schema: StructType) extends Table {
  override def name(): String = path
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.Collections.emptySet()
}
