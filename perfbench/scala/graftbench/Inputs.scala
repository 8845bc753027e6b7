package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{Instant, LocalDate, ZoneOffset}

import scala.jdk.CollectionConverters._

import graft.gen.FakeData

/** One generated CSV and what the benchmark knows about it. */
final case class CsvFile(path: Path, keys: Vector[String]) {
  def rows: Int = keys.size
}

/** One ingest batch: a directory of drifting CSVs stamped with one month
  * clock, so the whole batch lands in partition `month`.
  */
final case class Batch(dir: Path, files: Vector[CsvFile], clock: Instant,
    month: String) {
  def rows: Long = files.map(_.rows.toLong).sum
}

/** Seeded input generation through [[FakeData]]. File indices are global
  * across the run, so every file has its own rows and keys; the expected
  * answers are parsed back from the files as written.
  */
final class Inputs(root: Path, seed: Long) {
  private var nextFile = 0
  private var nextDir = 0
  private val fileSeed = seed * 1000003L

  def nextDirPath(prefix: String): Path = {
    nextDir += 1
    val d = root.resolve(f"$prefix-$nextDir%05d")
    Files.createDirectories(d)
    d
  }

  /** SHA-256 of every generated file, in generation order. */
  val digests: scala.collection.mutable.ArrayBuffer[String] =
    scala.collection.mutable.ArrayBuffer.empty

  def csv(dir: Path, maxRecords: Int, maxOptional: Int): CsvFile = {
    nextFile += 1
    val p = FakeData.writeCsv(dir, nextFile, maxRecords, fileSeed, maxOptional)
    digests += java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(p)).map(b => f"${b & 0xff}%02x").mkString
    CsvFile(p, Inputs.keysOf(p))
  }

  /** Batch `k` of a run: at least `files` CSVs, and more until the batch
    * holds `minRows` rows; each has 1..`maxRecords` rows and
    * 1..`maxOptional` optional columns. Clocked at month `k`.
    */
  def batch(k: Int, files: Int, maxRecords: Int, maxOptional: Int,
      minRows: Int = 0): Batch = {
    val dir = nextDirPath("batch")
    val out = Vector.newBuilder[CsvFile]
    var n = 0
    var rows = 0
    while (n < files || rows < minRows) {
      val f = csv(dir, maxRecords, maxOptional)
      out += f; n += 1; rows += f.rows
    }
    val day = Inputs.Epoch.plusMonths(k.toLong).plusDays(14)
    Batch(dir, out.result(), day.atStartOfDay(ZoneOffset.UTC).toInstant,
      Inputs.monthOf(k))
  }
}

object Inputs {
  val Epoch: LocalDate = LocalDate.of(2020, 1, 1)

  def monthOf(k: Int): String = {
    val d = Epoch.plusMonths(k.toLong)
    f"${d.getYear}%04d-${d.getMonthValue}%02d"
  }

  /** `Customer Id` of each data row: the second field, never quoted. */
  def keysOf(p: Path): Vector[String] =
    Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toVector.drop(1)
      .filter(_.nonEmpty).map(_.split(",", 3)(1))
}
