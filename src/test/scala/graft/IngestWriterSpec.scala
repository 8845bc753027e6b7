package graft

import java.nio.file.Files
import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.EvolvingWriter
import graft.gen.FakeData
import graft.ingest.CsvIngest

/** End-to-end: generated drift CSVs → ingest pipeline → evolving
  * warehouse table → re-read (SURVEY §7.2 steps 3-4; the reference's
  * core demo, its `README.md:3-7`).
  */
class IngestWriterSpec extends AnyFunSuite {
  lazy val spark = TestSparkSession.spark
  val clock: Instant = Instant.parse("2026-01-01T00:00:00Z")

  test("discover errors on empty dir (reference job.py:29-37)") {
    val empty = Files.createTempDirectory("graft-empty").toString
    intercept[IllegalArgumentException] { CsvIngest.discover(empty) }
  }

  test("discover and ingest take a file: URI directory") {
    val dir = Files.createTempDirectory("graft-uri")
    FakeData.generate(dir.toString, start = 1, end = 3, records = 4, seed = 6L,
      maxOptional = 3)
    Files.write(dir.resolve("notes.txt"), "not a csv".getBytes)
    val uri = dir.toUri.toString
    assert(uri.startsWith("file:"))
    val found = CsvIngest.discover(uri)
    assert(found.map(f => new java.io.File(new java.net.URI(f)).getName) ==
      Seq("customers-1.csv", "customers-2.csv", "customers-3.csv"))
    assert(CsvIngest.ingest(spark, uri, clock).count() ==
      CsvIngest.ingest(spark, dir.toString, clock).count())
    val empty = Files.createTempDirectory("graft-uri-empty").toUri.toString
    val e = intercept[IllegalArgumentException] { CsvIngest.discover(empty) }
    assert(e.getMessage.contains("No CSV files found"))
  }

  test("ingest: drift CSVs union with normalized names, created_at first") {
    val dir = Files.createTempDirectory("graft-csv").toString
    FakeData.generate(dir, start = 1, end = 5, records = 10, seed = 42L,
      maxOptional = 8)
    val out = CsvIngest.ingest(spark, dir, clock)
    assert(out.columns.head == "created_at")
    // mandatory columns always present, normalized
    for (c <- Seq("index", "customer_id", "first_name", "last_name",
        "subscription_date"))
      assert(out.columns.contains(c), s"missing $c in ${out.columns.toSeq}")
    // all names normalized (no uppercase/space/hyphen/parens)
    assert(out.columns.forall(c => c == c.toLowerCase &&
      !c.exists(" -()".contains(_))))
    assert(out.count() >= 5) // >=1 row per file
    // deterministic: same seed → same data
    assert(out.count() == CsvIngest.ingest(spark, dir, clock).count())
  }

  test("withQuarantined splits malformed rows into the quarantine, keeps good rows, releases cache") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-quarantine")
    val f = dir.resolve("bad.csv")
    Files.write(f, java.util.List.of(
      "id,qty", "1,2", "x,notanint", "3,4"))
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("qty", IntegerType)))
    val before = spark.sparkContext.getPersistentRDDs.size
    CsvIngest.withQuarantined(spark, f.toString, schema) { (good, bad) =>
      assert(good.collect().map(r => (r.getInt(0), r.getInt(1))).toSet ==
        Set((1, 2), (3, 4)))
      assert(!good.columns.contains("_corrupt_record"))
      val lines = bad.collect().map(_.getString(0))
      assert(lines.toSeq == Seq("x,notanint")) // raw line preserved intact
    }
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "parsed-input cache must be released when the bracket returns")
  }

  test("evolving writer: second batch with new columns grows the table, old rows read null") {
    val csvA = Files.createTempDirectory("graft-batchA").toString
    val csvB = Files.createTempDirectory("graft-batchB").toString
    // batch A: few optional columns; batch B: different seed → different drift
    FakeData.generate(csvA, start = 1, end = 3, records = 5, seed = 1L, maxOptional = 3)
    FakeData.generate(csvB, start = 1, end = 3, records = 5, seed = 99L, maxOptional = 12)
    val table = "spark_catalog.default.customers_evo"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    EvolvingWriter.configure(spark)

    val dfA = CsvIngest.ingest(spark, csvA, clock)
    val addedA = EvolvingWriter.appendWithEvolution(spark, dfA, table)
    assert(addedA.isEmpty) // table created, nothing "evolved"
    val schemaA = EvolvingWriter.tableSchema(spark, table).get
    val countA = spark.table(table).count()
    assert(countA == dfA.count())

    val dfB = CsvIngest.ingest(spark, csvB,
      Instant.parse("2026-02-01T00:00:00Z"))
    val newCols = dfB.columns.filterNot(schemaA.fieldNames.contains).toSet
    val addedB = EvolvingWriter.appendWithEvolution(spark, dfB, table)
    assert(addedB.map(_.name).toSet == newCols)

    val evolved = EvolvingWriter.tableSchema(spark, table).get
    assert(schemaA.fieldNames.toSet.subsetOf(evolved.fieldNames.toSet))
    assert(newCols.subsetOf(evolved.fieldNames.toSet))
    val total = spark.table(table).count()
    assert(total == countA + dfB.count())
    // old rows must read null for evolved columns
    if (newCols.nonEmpty) {
      val c = newCols.head
      val oldRowsNull = spark.table(table)
        .filter(org.apache.spark.sql.functions.col("month_created_at") === "2026-01")
        .filter(org.apache.spark.sql.functions.col(s"`$c`").isNull).count()
      assert(oldRowsNull == countA, s"old rows should be null for $c")
    }
    // partition pruning column present and populated
    assert(spark.table(table).columns.contains(EvolvingWriter.PartitionColumn))
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("compact merges per-append small files, data unchanged") {
    val csv = Files.createTempDirectory("graft-compact").toString
    FakeData.generate(csv, start = 1, end = 3, records = 8, seed = 21L, maxOptional = 3)
    val table = "spark_catalog.default.customers_compact"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    EvolvingWriter.configure(spark)
    // five small appends -> at least five files in the month partition
    val df = CsvIngest.ingest(spark, csv, clock)
    for (_ <- 1 to 5) EvolvingWriter.appendWithEvolution(spark, df, table)
    val rowsBefore = spark.table(table).count()
    val checksumBefore = spark.table(table)
      .select(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.concat_ws("|",
          spark.table(table).columns.sorted.map(c =>
            org.apache.spark.sql.functions.col(s"`$c`").cast("string")): _*)).as("h"))
      .collect().map(_.getString(0)).sorted.toSeq
    val (before, after) = EvolvingWriter.compact(spark, table)
    assert(before >= 5)
    assert(after < before)
    assert(spark.table(table).count() == rowsBefore)
    val checksumAfter = spark.table(table)
      .select(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.concat_ws("|",
          spark.table(table).columns.sorted.map(c =>
            org.apache.spark.sql.functions.col(s"`$c`").cast("string")): _*)).as("h"))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(checksumAfter == checksumBefore)
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("upsert replaces keyed rows, keeps others, handles cross-partition key moves") {
    import org.apache.spark.sql.functions.{col, lit}
    val table = "spark_catalog.default.customers_upsert"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    EvolvingWriter.configure(spark)
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.from(Instant.parse(s))
    val jan = Seq((1L, "a", ts("2026-01-10T00:00:00Z")),
      (2L, "b", ts("2026-01-11T00:00:00Z")))
      .toDF("id", "v", "created_at")
    val feb = Seq((3L, "c", ts("2026-02-10T00:00:00Z")))
      .toDF("id", "v", "created_at")
    EvolvingWriter.appendWithEvolution(spark, jan, table)
    EvolvingWriter.appendWithEvolution(spark, feb, table)

    // update id=1 in place (same month), move id=2 to March, add id=4
    val batch = Seq((1L, "a2", ts("2026-01-20T00:00:00Z")),
      (2L, "b2", ts("2026-03-01T00:00:00Z")),
      (4L, "d", ts("2026-03-02T00:00:00Z")))
      .toDF("id", "v", "created_at")
    EvolvingWriter.upsert(spark, batch, table, Seq("id"))

    val rows = spark.table(table).select("id", "v", "month_created_at")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set((1L, "a2", "2026-01"), (2L, "b2", "2026-03"),
      (3L, "c", "2026-02"), (4L, "d", "2026-03")))

    // all of January migrates to April -> the 2026-01 partition must
    // disappear entirely (the dynamic-overwrite empty-partition edge)
    val drain = Seq((1L, "a3", ts("2026-04-01T00:00:00Z")))
      .toDF("id", "v", "created_at")
    EvolvingWriter.upsert(spark, drain, table, Seq("id"))
    val parts = spark.table(table).select("month_created_at")
      .distinct().collect().map(_.getString(0)).toSet
    assert(parts == Set("2026-02", "2026-03", "2026-04"))
    assert(spark.table(table).filter(col("id") === 1L)
      .select("v").collect().map(_.getString(0)).toSeq == Seq("a3"))
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("upsert on an unpartitioned table rewrites keyed rows in place") {
    val table = "spark_catalog.default.kv_upsert_flat"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    EvolvingWriter.configure(spark)
    import spark.implicits._
    // no created_at -> no partition column -> the whole-table path
    EvolvingWriter.appendWithEvolution(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), table)
    EvolvingWriter.upsert(spark,
      Seq((2L, "b2"), (3L, "c")).toDF("id", "v"), table, Seq("id"))
    val rows = spark.table(table)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "a"), (2L, "b2"), (3L, "c")))
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("upsert handles NULL partition values without losing or duplicating rows") {
    import org.apache.spark.sql.functions.col
    val table = "spark_catalog.default.customers_upsert_nullpart"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    EvolvingWriter.configure(spark)
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.from(Instant.parse(s))
    // null created_at -> null month partition, alongside a real month
    val seed = Seq((1L, "a", Option(ts("2026-01-10T00:00:00Z"))),
      (2L, "b", Option.empty[java.sql.Timestamp]),
      (3L, "c", Option(ts("2026-02-10T00:00:00Z"))))
      .toDF("id", "v", "created_at")
    EvolvingWriter.appendWithEvolution(spark, seed, table)
    // update the null-month key AND an untouched-month key stays put
    EvolvingWriter.upsert(spark,
      Seq((2L, "b2", Option.empty[java.sql.Timestamp])).toDF("id", "v", "created_at"),
      table, Seq("id"))
    val rows = spark.table(table).select("id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "a"), (2L, "b2"), (3L, "c")))
    // repeated upsert must not accumulate duplicates
    EvolvingWriter.upsert(spark,
      Seq((2L, "b3", Option.empty[java.sql.Timestamp])).toDF("id", "v", "created_at"),
      table, Seq("id"))
    assert(spark.table(table).filter(col("id") === 2L).count() == 1)
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("upsert is safe under static partitionOverwriteMode (pins dynamic itself)") {
    import org.apache.spark.sql.functions.col
    val table = "spark_catalog.default.customers_upsert_static"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    EvolvingWriter.configure(spark)
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.from(Instant.parse(s))
    val jan = Seq((1L, "a", ts("2026-01-10T00:00:00Z"))).toDF("id", "v", "created_at")
    val feb = Seq((2L, "b", ts("2026-02-10T00:00:00Z"))).toDF("id", "v", "created_at")
    EvolvingWriter.appendWithEvolution(spark, jan, table)
    EvolvingWriter.appendWithEvolution(spark, feb, table)
    // simulate a session that never called configure: static mode would
    // make a partitioned overwrite truncate the WHOLE table
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(modeKey, "static")
    try {
      EvolvingWriter.upsert(spark,
        Seq((1L, "a2", ts("2026-01-12T00:00:00Z"))).toDF("id", "v", "created_at"),
        table, Seq("id"))
      // February must survive; January row updated
      val rows = spark.table(table).select("id", "v")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(rows == Set((1L, "a2"), (2L, "b")))
      assert(spark.conf.get(modeKey) == "static") // caller's conf restored
    } finally {
      spark.conf.set(modeKey, "dynamic")
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("overwritePartitions replaces only the overlapping month") {
    val csv = Files.createTempDirectory("graft-ow").toString
    FakeData.generate(csv, start = 1, end = 2, records = 5, seed = 5L, maxOptional = 3)
    val table = "spark_catalog.default.customers_ow"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    EvolvingWriter.configure(spark)
    val jan = CsvIngest.ingest(spark, csv, Instant.parse("2026-01-15T00:00:00Z"))
    val feb = CsvIngest.ingest(spark, csv, Instant.parse("2026-02-15T00:00:00Z"))
    EvolvingWriter.appendWithEvolution(spark, jan, table)
    EvolvingWriter.appendWithEvolution(spark, feb, table)
    val before = spark.table(table).count()
    // overwrite January only: table keeps feb rows + new jan rows
    EvolvingWriter.overwritePartitions(spark, jan.limit(1), table)
    val after = spark.table(table)
    assert(after.filter(org.apache.spark.sql.functions.col("month_created_at") === "2026-01").count() == 1)
    assert(after.filter(org.apache.spark.sql.functions.col("month_created_at") === "2026-02").count() == feb.count())
    assert(after.count() == feb.count() + 1)
    assert(before == jan.count() + feb.count())
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("appendWithEvolution widens int->long and float->double metadata-only") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val table = "spark_catalog.default.widen_t"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    EvolvingWriter.configure(spark)
    EvolvingWriter.appendWithEvolution(spark,
      Seq((1, 1.5f)).toDF("a", "b"), table)
    assert(spark.table(table).schema("a").dataType == IntegerType)
    // wider batch arrives: table promotes, old int32/float files still read
    EvolvingWriter.appendWithEvolution(spark,
      Seq((2L, 2.5d)).toDF("a", "b"), table)
    val s = spark.table(table).schema
    assert(s("a").dataType == LongType && s("b").dataType == DoubleType)
    val out = spark.table(table).orderBy("a").as[(Long, Double)].collect().toSeq
    assert(out == Seq((1L, 1.5), (2L, 2.5)))
    // NARROWER later batch still appends (cast up by alignTo), no demotion
    EvolvingWriter.appendWithEvolution(spark,
      Seq((3, 3.5f)).toDF("a", "b"), table)
    assert(spark.table(table).schema("a").dataType == LongType)
    assert(spark.table(table).count() == 3)
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("compact(partitions=...) rewrites only the selected month") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val csv = Files.createTempDirectory("graft-compact-p").toString
    FakeData.generate(csv, start = 1, end = 3, records = 8, seed = 22L, maxOptional = 3)
    val table = "spark_catalog.default.customers_compact_scoped"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    EvolvingWriter.configure(spark)
    val df = CsvIngest.ingest(spark, csv, clock)
    for (_ <- 1 to 4) EvolvingWriter.appendWithEvolution(spark, df, table)
    val p = EvolvingWriter.PartitionColumn
    val month = spark.table(table).select(col(p)).distinct()
      .collect().map(_.getString(0)).min
    def filesOutside(): Set[String] = spark.table(table)
      .filter(col(p) =!= month).select(input_file_name())
      .distinct().collect().map(_.getString(0)).toSet
    val outsideBefore = filesOutside()
    val rowsBefore = spark.table(table).count()
    val (before, after) =
      EvolvingWriter.compact(spark, table, partitions = Some(Seq(Some(month))))
    assert(before >= 4 && after < before)
    assert(spark.table(table).count() == rowsBefore)
    // untouched partitions keep their physical files — the rewrite was
    // scoped, not a whole-table pass
    assert(filesOutside() == outsideBefore)
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("DROP PARTITION values are escaped as SQL literals") {
    assert(EvolvingWriter.sqlStringLiteral("2024-01") == "2024-01")
    assert(EvolvingWriter.sqlStringLiteral("a'b") == "a\\'b")
    assert(EvolvingWriter.sqlStringLiteral("a\\'b") == "a\\\\\\'b")
  }
}
