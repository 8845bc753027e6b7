package graft.catalog

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftbridge.ParquetWriteBridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.funsuite.AnyFunSuite

/** Local files under the `faildel:` scheme whose `delete` always
  * throws an unchecked exception.
  */
final class FailingDeleteFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("faildel:///")
  override def getScheme: String = "faildel"
  override def delete(p: Path, recursive: Boolean): Boolean =
    throw new IllegalStateException(s"injected delete failure: $p")
}

class StagedWriteCleanupSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSparkSession.spark

  test("a failing cleanup never hides the staged write's own error") {
    val schema = StructType(Seq(StructField("id", LongType)))
    val (factory, base) = ParquetWriteBridge.writerFactory(spark, schema)
    val conf = new Configuration(base.value)
    conf.set("fs.faildel.impl", classOf[FailingDeleteFs].getName)
    conf.setBoolean("fs.faildel.impl.disable.cache", true)
    val root = "faildel://" + Files.createTempDirectory("staged-cleanup")
    val task = new StagedWriteTask(root, "data", schema,
      partitioned = false, BloomSpec.Off, NdvSpec.Off, "UTC", factory,
      new SerializableConfiguration(conf))
    // two rows reach a file, then the row source fails
    val rows = Iterator.tabulate(3) { i =>
      if (i < 2) InternalRow(i.toLong)
      else throw new ArithmeticException("row source failed")
    }
    val e = intercept[ArithmeticException](task.write(0, rows).toList)
    assert(e.getMessage == "row source failed")
    assert(e.getSuppressed.exists(
      _.getMessage.startsWith("injected delete failure")),
      e.getSuppressed.map(_.toString).mkString("; "))
  }
}
