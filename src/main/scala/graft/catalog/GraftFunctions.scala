package graft.catalog

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The catalog's v2 `FunctionCatalog` functions: the hidden-partition
  * transforms (`months`, `bucket`) exposed as bound scalar functions,
  * so Spark can RESOLVE transform expressions that name them — the
  * resolution path `DistributionAndOrderingUtils.prepareQuery` →
  * `V2ExpressionUtils.toCatalystTransformOpt` → `FunctionCatalog
  * .loadFunction` takes when a write declares `RequiresDistribution
  * AndOrdering` clustered by a partition TRANSFORM rather than a
  * plain column (Iceberg wires its transforms through the same seam).
  *
  * Each bound function maps rows to the SAME equivalence classes as
  * the write-side partition rendering ([[SnapshotTable.partitionExpr]]):
  *
  *  - `months(ts)` = months since 1970-01 of the session-timezone
  *    local date — bijective with the `yyyy-MM` strings the layout
  *    renders (the zone id is captured at BIND time, driver-side, so
  *    executors agree with the plan's session).
  *  - `bucket(n, v)` = `pmod(xxhash64(v, seed=42), n)` — identical to
  *    the layout's bucket value (and to [[StatsPruner.hashOf]], which
  *    is what makes driver-side bucket pruning sound).
  *
  * Clustering correctness only needs determinism + matching classes;
  * matching the EXACT layout values additionally keeps the door open
  * for storage-partitioned joins.
  */
object GraftFunctions {

  private[catalog] val MonthsName = "months"
  private[catalog] val BucketName = "bucket"

  private[catalog] def list: Array[Identifier] =
    Array(Identifier.of(Array.empty, MonthsName),
      Identifier.of(Array.empty, BucketName))

  /** Load by NAME in any namespace — the resolution seam probes with
    * an empty namespace; SQL users may qualify with the catalog.
    */
  private[catalog] def load(ident: Identifier): Option[UnboundFunction] =
    ident.name.toLowerCase(java.util.Locale.ROOT) match {
      case MonthsName => Some(MonthsUnbound)
      case BucketName => Some(BucketUnbound)
      case _ => None
    }

  private object MonthsUnbound extends UnboundFunction {
    override def name(): String = MonthsName
    override def description(): String =
      "months(ts) - months since 1970-01 in the session timezone " +
        "(the graft month partition transform)"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 1,
        s"$MonthsName takes exactly one argument")
      val dt = inputType.fields.head.dataType
      // bound DRIVER-side during planning: capture the session zone so
      // executor evaluation agrees with date_format's rendering
      val zone = SQLConf.get.sessionLocalTimeZone
      dt match {
        case TimestampType => MonthsBound(TimestampType, zone)
        case TimestampNTZType => MonthsBound(TimestampNTZType, "UTC")
        case DateType => MonthsBound(DateType, zone)
        case other => throw new UnsupportedOperationException(
          s"$MonthsName expects a timestamp or date argument, got $other")
      }
    }
  }

  private final case class MonthsBound(dt: DataType, zone: String)
      extends ScalarFunction[Integer] {
    override def name(): String = MonthsName
    override def canonicalName(): String = s"graft.$MonthsName($zone)"
    override def inputTypes(): Array[DataType] = Array(dt)
    override def resultType(): DataType = IntegerType
    override def isResultNullable: Boolean = true
    override def produceResult(input: InternalRow): Integer =
      if (input.isNullAt(0)) null
      else {
        val ld = dt match {
          case DateType =>
            java.time.LocalDate.ofEpochDay(input.getInt(0).toLong)
          case TimestampNTZType =>
            DateTimeUtils.microsToLocalDateTime(input.getLong(0)).toLocalDate
          case _ =>
            DateTimeUtils
              .microsToInstant(input.getLong(0))
              .atZone(DateTimeUtils.getZoneId(zone)).toLocalDate
        }
        (ld.getYear - 1970) * 12 + (ld.getMonthValue - 1)
      }
  }

  private object BucketUnbound extends UnboundFunction {
    override def name(): String = BucketName
    override def description(): String =
      "bucket(n, v) - pmod(xxhash64(v, seed=42), n), the graft bucket " +
        "partition transform"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 2 &&
        inputType.fields.head.dataType == IntegerType,
        s"$BucketName takes (numBuckets INT, value)")
      BucketBound(inputType.fields(1).dataType)
    }
  }

  private final case class BucketBound(dt: DataType)
      extends ScalarFunction[Integer] {
    override def name(): String = BucketName
    override def canonicalName(): String = s"graft.$BucketName"
    override def inputTypes(): Array[DataType] = Array(IntegerType, dt)
    override def resultType(): DataType = IntegerType
    override def isResultNullable: Boolean = true
    override def produceResult(input: InternalRow): Integer =
      if (input.isNullAt(1)) null
      else {
        val n = input.getInt(0).toLong
        // n is rarely a literal at bind time (Spark binds on types
        // only), so the domain check lives here with a named error
        // instead of an ArithmeticException from the pmod
        require(n > 0,
          s"$BucketName(n, v): the bucket count must be positive, got $n")
        val h = XxHash64Function.hash(input.get(1, dt), dt, 42L)
        (((h % n) + n) % n).toInt
      }
  }
}

/** The partition transforms alone, as a `FunctionCatalog`: what a
  * path-addressed relation (a `USING graft` temp view — no catalog of
  * its own) carries into a row-level write, so the write's
  * transform-clustered distribution resolves exactly as it does for
  * `graft.db.t` ([[graft.plans.GraftViewDml]] attaches it).
  */
final class GraftFunctionCatalog extends FunctionCatalog {
  override def name(): String = "graft_functions"
  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = ()
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    GraftFunctions.list
  override def loadFunction(ident: Identifier): UnboundFunction =
    GraftFunctions.load(ident).getOrElse(throw new org.apache.spark.sql
      .catalyst.analysis.NoSuchFunctionException(name(), ident.toString))
}
