package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.CsvInferBridge
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.FakeData
import graft.ingest.CsvIngest
import graft.schema.SchemaOps

/** One-job batch inference ([[CsvInferBridge]]) against Spark's own
  * per-file inference: every file's schema, and the ingested batch
  * frame, must be exactly what inferring each file alone gives —
  * drifting FakeData batches, hostile edge files, files larger than one
  * split — and the job count must not grow with the number of files.
  */
class CsvInferSpec extends AnyFunSuite {
  lazy val spark = TestSparkSession.spark
  private val clock = Instant.parse("2026-01-01T00:00:00Z")

  /** What Spark infers for `f` read alone. */
  private def inferredAlone(f: String): StructType =
    spark.read.option("header", "true").option("inferSchema", "true").csv(f).schema

  /** The batch frame built from per-file inference, each file read with
    * `readOne` and no schema — the pipeline before one-job inference.
    */
  private def perFileIngest(dir: String): DataFrame = {
    val frames = CsvIngest.discover(dir).map(f => CsvIngest.readOne(spark, f))
    val aligned = frames.map(SchemaOps.alignTo(_, frames.head.schema))
    val union = aligned.reduce(_.unionByName(_, allowMissingColumns = true))
    SchemaOps.stampCreatedAt(SchemaOps.normalizeNames(union), clock)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def assertParity(dir: String): Unit = {
    val files = CsvIngest.discover(dir)
    val got = CsvInferBridge.inferSchemas(spark, files)
    files.zip(got).foreach { case (f, s) =>
      assert(s == inferredAlone(f), s"schema of $f")
    }
    val batch = CsvIngest.ingest(spark, dir, clock)
    val want = perFileIngest(dir)
    assert(batch.schema == want.schema)
    assert(rows(batch) == rows(want))
  }

  private def write(dir: Path, name: String, content: String): Unit =
    Files.write(dir.resolve(name), content.getBytes(StandardCharsets.UTF_8))

  /** Run `body` with session confs set, restoring them after. */
  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("FakeData batches: per-file schemas and the batch frame match per-file inference") {
    for (seed <- Seq(1L, 2L, 3L)) {
      // a space in the path: the scan reports it URL-encoded
      val dir = Files.createTempDirectory(s"graft infer $seed").toString
      FakeData.generate(dir, start = 1, end = 8, records = 10, seed = seed)
      assertParity(dir)
    }
  }

  test("edge files keep per-file inference's schemas and rows") {
    val dir = Files.createTempDirectory("graft-infer-edge")
    write(dir, "a-normal.csv", "id,score,name\n1,2.5,x\n2,3,y\n")
    write(dir, "b-empty.csv", "")
    write(dir, "c-header-only.csv", "id,label\n")
    write(dir, "d-blank-lines.csv", "\n\nid,v\n\n1,2.5\n\n3,\n\n")
    write(dir, "e-dup-and-empty-names.csv", "a,,a,A,b\n1,2,3,4,true\n")
    write(dir, "f-quoted-comma.csv", "\"last, first\",n\n\"Doe, J\",1\n\"Roe, K\",22\n")
    write(dir, "g-header-as-data.csv", "k,v\n1,2\nk,v\n3,4\n")
    write(dir, "h-ragged.csv", "p,q,r\n1\n2,x,3,4\n")
    write(dir, "i-crlf.csv", "m,o\r\n1,2.5\r\n\r\n3,4\r\n")
    write(dir, "j-bom.csv", "\uFEFFbm,bp\n1,true\n")
    write(dir, "k-space-line.csv", "   \nsm,sq\n 1 ,2\n")
    write(dir, "l-tab-line.csv", "\t\ntm,tn\n1,2\n")
    assertParity(dir.toString)
  }

  test("a file larger than one split infers as it does alone") {
    val dir = Files.createTempDirectory("graft-infer-split")
    val body = (1 to 3000).map { i =>
      // `v` turns double only near the end; `w` is typed only there;
      // a copy of the header sits in a middle split
      val v = if (i == 2900) "1.5" else i.toString
      val w = if (i > 2990) "2026-01-02" else ""
      if (i == 1500) "id,v,w" else s"$i,$v,$w"
    }
    write(dir, "big.csv", ("id,v,w" +: body).mkString("\n") + "\n")
    write(dir, "small.csv", "id,z\n7,true\n")
    withConf("spark.sql.files.maxPartitionBytes" -> "4096",
        "spark.sql.files.openCostInBytes" -> "0") {
      assert(spark.read.text(dir.resolve("big.csv").toString)
        .rdd.getNumPartitions > 1, "the big file must span several splits")
      assertParity(dir.toString)
    }
  }

  test("5 and 40 files infer in the same number of jobs, at most 2") {
    def jobsToIngest(files: Int): Int = {
      val dir = Files.createTempDirectory(s"graft-infer-jobs-$files").toString
      FakeData.generate(dir, start = 1, end = files, records = 5, seed = 5L)
      val group = s"graft-infer-jobs-$files"
      val jobs = new AtomicInteger(0)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties.getProperty("spark.jobGroup.id") == group)
            jobs.incrementAndGet()
      }
      val sc = spark.sparkContext
      sc.addSparkListener(listener)
      sc.setJobGroup(group, "ingest")
      try {
        CsvIngest.ingest(spark, dir, clock)
        ListenerDrain.drain(sc)
        jobs.get
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
      }
    }
    val five = jobsToIngest(5)
    val forty = jobsToIngest(40)
    assert(five == forty, s"5 files ran $five jobs, 40 files ran $forty")
    assert(forty <= 2, s"40 files ran $forty jobs")
  }
}
