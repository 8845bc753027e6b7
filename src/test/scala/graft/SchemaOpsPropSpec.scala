package graft

import scala.util.Random

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.schema.SchemaOps

/** Property-style tests over seeded random schema drift (SURVEY §7.5):
  * align→union→conform must be total over random column subsets/orders,
  * align idempotent, evolution monotone. Hand-rolled generators (the
  * scalatest↔scalacheck bridge isn't in the offline cache; determinism
  * via fixed seed).
  */
class SchemaOpsPropSpec extends AnyFunSuite {
  lazy val spark = TestSparkSession.spark

  private val universe: Vector[StructField] = Vector(
    StructField("c_str", StringType), StructField("c_int", IntegerType),
    StructField("c_long", LongType), StructField("c_dbl", DoubleType),
    StructField("c_bool", BooleanType), StructField("c_date", DateType))

  private def subset(r: Random): Vector[StructField] =
    r.shuffle(universe).take(1 + r.nextInt(universe.length))

  private def emptyDf(fields: Vector[StructField]) =
    spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
      StructType(fields))

  test("alignTo always yields target fields first, extras after (total over drift)") {
    val r = new Random(7)
    for (_ <- 1 to 30) {
      val src = subset(r); val tgt = subset(r)
      val out = SchemaOps.alignTo(emptyDf(src), StructType(tgt))
      assert(out.schema.fields.take(tgt.size).toVector
        .map(f => (f.name, f.dataType)) == tgt.map(f => (f.name, f.dataType)),
        s"src=${src.map(_.name)} tgt=${tgt.map(_.name)}")
      val extras = src.map(_.name).filterNot(tgt.map(_.name).toSet)
      assert(out.schema.fields.drop(tgt.size).map(_.name).toVector == extras)
    }
  }

  test("alignTo is idempotent") {
    val r = new Random(11)
    for (_ <- 1 to 15) {
      val src = subset(r); val tgt = subset(r)
      val target = StructType(tgt)
      val once = SchemaOps.alignTo(emptyDf(src), target)
      val twice = SchemaOps.alignTo(once, target)
      assert(once.schema == twice.schema)
    }
  }

  test("unionByNameAll of random subsets covers the union of columns") {
    val r = new Random(13)
    for (_ <- 1 to 15) {
      val schemas = Vector.fill(3)(subset(r))
      val out = SchemaOps.unionByNameAll(schemas.map(emptyDf))
      assert(out.columns.toSet == schemas.flatten.map(_.name).toSet)
    }
  }

  test("diff-driven evolution is monotone: evolved schema contains both sides") {
    val r = new Random(17)
    for (_ <- 1 to 30) {
      val src = subset(r); val tgt = subset(r)
      val d = SchemaOps.diff(StructType(src), StructType(tgt))
      val evolved = tgt ++ d.extraInSource
      assert(src.map(_.name).toSet.subsetOf(evolved.map(_.name).toSet))
      assert(tgt.map(_.name).toSet.subsetOf(evolved.map(_.name).toSet))
    }
  }

  test("file-order permutation changes only column order, not data (SURVEY §7.4 risk 2)") {
    import spark.implicits._
    val r = new Random(19)
    val a = Seq((1, "x")).toDF("id", "a")
    val b = Seq((2, 3.5)).toDF("id", "b")
    val c = Seq((3, true)).toDF("id", "c")
    for (_ <- 1 to 5) {
      val perm = r.shuffle(Vector(a, b, c))
      val first = perm.head.schema
      val aligned = perm.map(SchemaOps.alignTo(_, first))
      val out = SchemaOps.unionByNameAll(aligned)
      assert(out.columns.toSet == Set("id", "a", "b", "c"))
      assert(out.select("id").collect().map(_.getInt(0)).toSet == Set(1, 2, 3))
    }
  }

  test("unionByNameAll equals the pairwise unionByName reduce: column order, types, rows") {
    import org.apache.spark.sql.Row
    val r = new Random(23)
    val names = Vector("k", "a", "b", "c", "d")
    val types = Vector[DataType](IntegerType, DoubleType, StringType)
    def value(t: DataType, i: Int): Any = t match {
      case IntegerType => i
      case DoubleType  => i + 0.5
      case _           => i.toString
    }
    def nodes(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect { case p => p }.size
    for (round <- 1 to 16) {
      // even rounds: a column's type may differ between frames (int,
      // double and string widen against each other); odd rounds: one
      // type per column. Names sometimes differ only in case.
      val conflicts = round % 2 == 0
      val fixed = names.map(_ -> types(r.nextInt(types.size))).toMap
      val frames = Vector.fill(2 + r.nextInt(5)) {
        val fields = r.shuffle(names).take(1 + r.nextInt(names.size)).map { n =>
          StructField(if (r.nextInt(4) == 0) n.toUpperCase else n,
            if (conflicts) types(r.nextInt(types.size)) else fixed(n))
        }
        val rows = Seq.tabulate(1 + r.nextInt(3))(i =>
          Row(fields.map(f => value(f.dataType, i)): _*))
        spark.createDataFrame(java.util.List.of(rows: _*), StructType(fields))
      }
      val want = frames.reduce(_.unionByName(_, allowMissingColumns = true))
      val got = SchemaOps.unionByNameAll(frames)
      val shapes = frames.map(_.schema.simpleString)
      assert(got.schema == want.schema, shapes)
      assert(got.collect().toSeq == want.collect().toSeq, shapes)
      assert(nodes(got) <= nodes(want), shapes)
    }
  }
}
