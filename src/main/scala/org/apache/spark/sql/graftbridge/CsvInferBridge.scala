package org.apache.spark.sql.graftbridge

import scala.collection.mutable

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFileLinesReader, HadoopFsRelation, InMemoryFileIndex, PartitionedFile}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, NullType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Header + type inference for a whole batch of CSV files in ONE Spark
  * job. Per file, the schema is exactly what
  * `spark.read.option("header","true").option("inferSchema","true").csv(file)`
  * infers — Spark's `CSVFileFormat.inferSchema` /
  * `TextInputCSVDataSource.inferFromDataset` — but that path costs two
  * jobs per file (a `take(1)` for the header, an `aggregate` for the
  * types), and on small drifting files that fixed per-job cost is
  * nearly all of the ingest time.
  *
  * The same steps, regrouped:
  *  - before the job: `CSVOptions` built as `CSVFileFormat` builds
  *    them; each file's header line read as Spark's `take(1)` finds it
  *    (see [[headerLine]]) and named through `makeSafeHeader`; a file
  *    without one infers the empty schema, as Spark's does;
  *  - one text scan over all files, each line tagged with
  *    `_metadata.file_path`; every task filters comment/empty lines,
  *    drops lines equal to its file's header (`filterHeaderLine` —
  *    every split gets the header read before the job, so a file larger
  *    than one split infers as it does alone) and folds
  *    `CSVInferSchema.inferRowType` per file;
  *  - after it: per-file partials merged with `mergeRowTypes`, then
  *    `toStructFields` (never-typed columns become strings).
  *
  * The scan's file index is seeded with the files' statuses, so Spark
  * lists nothing: past `parallelPartitionDiscovery.threshold` paths a
  * listing would otherwise run a job of its own.
  *
  * Private-API note: `CSVOptions`, `CSVUtils`, `CSVInferSchema`, the
  * file-source classes and `SQLExecution` are Spark internals, hence
  * this bridge in the `org.apache.spark.sql` namespace — same
  * discipline as the sibling bridges (smallest possible surface, no
  * behavior of its own).
  */
object CsvInferBridge {

  /** The schema each of `paths` infers on its own, in `paths` order. */
  def inferSchemas(spark: SparkSession, paths: Seq[String]): Seq[StructType] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = session.sessionState.conf
    val options = new CSVOptions(
      Map("header" -> "true", "inferSchema" -> "true"),
      conf.csvColumnPruning, conf.sessionLocalTimeZone,
      conf.columnNameOfCorruptRecord)
    val hadoopConf = session.sessionState.newHadoopConf()
    val parser = new CsvParser(options.asParserSettings)
    val statuses = paths.map { p =>
      val path = new Path(p)
      path.getFileSystem(hadoopConf).getFileStatus(path)
    }
    // (header line, column names) per file; a file without one is not
    // scanned and infers the empty schema
    val headers = statuses.map(headerLine(_, hadoopConf).map(line => line ->
      CSVUtils.makeSafeHeader(parser.parseLine(line), conf.caseSensitiveAnalysis, options)))
    val types = headers.map(_.map { case (_, names) =>
      Array.fill[DataType](names.length)(NullType) }).toArray
    val scanned = headers.indices.collect { case i if headers(i).isDefined =>
      (i, statuses(i), headers(i).get._1, headers(i).get._2.length) }
    val infer = new CSVInferSchema(options)
    if (scanned.nonEmpty) typePartials(session, options, infer, scanned).foreach {
      case (i, partial) => types(i) = types(i).map(infer.mergeRowTypes(_, partial))
    }
    headers.zip(types).map {
      case (Some((_, names)), Some(t)) => StructType(infer.toStructFields(t, names))
      case _ => StructType(Nil)
    }
  }

  /** The line Spark's own inference takes as the header: the first line
    * of the file's text scan that `CSVUtils.filterCommentAndEmpty` keeps
    * in its Dataset form — SQL `trim`, which strips spaces only, so a
    * line of tabs counts as a header there. Read with the text source's
    * own line reader, which drops a leading UTF-8 byte-order mark as the
    * scan does. (`CSVUtils.readHeaderLine` differs on both points.)
    */
  private def headerLine(status: FileStatus, conf: Configuration): Option[String] = {
    val reader = new HadoopFileLinesReader(PartitionedFile(InternalRow.empty,
      SparkPath.fromFileStatus(status), 0, status.getLen), conf)
    try reader.map(t => UTF8String.fromBytes(t.getBytes, 0, t.getLength))
      .find(_.trim().numBytes > 0).map(_.toString)
    finally reader.close()
  }

  /** The one job over `files` (index, status, header line, column
    * count): per task, per file it read, the row types folded over that
    * file's data lines.
    */
  private def typePartials(session: org.apache.spark.sql.classic.SparkSession,
      options: CSVOptions, infer: CSVInferSchema,
      files: Seq[(Int, FileStatus, String, Int)]): Array[(Int, Array[DataType])] = {
    val known = files.map { case (_, s, _, _) => s.getPath -> Array(s) }.toMap
    val index = new InMemoryFileIndex(session, files.map(_._2.getPath), options.parameters,
      Some(StructType(Nil).add("value", StringType)), new FileStatusCache {
        override def getLeafFiles(path: Path): Option[Array[FileStatus]] = known.get(path)
        override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
        override def invalidateAll(): Unit = ()
      })
    val relation = HadoopFsRelation(index, StructType(Nil),
      StructType(Nil).add("value", StringType), None, new TextFileFormat,
      options.parameters)(session)
    val lines = session.baseRelationToDataFrame(relation)
      .select(col("value"), col("_metadata.file_path"))
    val byPath = files.map { case (i, s, header, width) =>
      s.getPath -> (i, header, width)
    }.toMap
    val rdd = lines.queryExecution.toRdd.mapPartitions { rows =>
      val parser = new CsvParser(options.asParserSettings)
      val acc = mutable.LinkedHashMap.empty[Int, Array[DataType]]
      val in = rows.buffered
      while (in.hasNext) {
        val path = in.head.getUTF8String(1).copy()
        // `file_path` is the URL-encoded form of the status's path
        val (i, header, width) = byPath(SparkPath.fromUrlString(path.toString).toPath)
        val run = new Iterator[String] {
          def hasNext: Boolean = in.hasNext && in.head.getUTF8String(1) == path
          def next(): String = in.next().getUTF8String(0).toString
        }
        val data = CSVUtils.filterHeaderLine(
          CSVUtils.filterCommentAndEmpty(run, options), header, options)
        acc(i) = data.map(parser.parseLine).foldLeft(
          acc.getOrElse(i, Array.fill[DataType](width)(NullType)))(infer.inferRowType)
      }
      acc.iterator
    }
    SQLExecution.withSQLConfPropagated(session)(rdd.collect())
  }
}
