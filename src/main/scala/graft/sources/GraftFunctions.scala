package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types._

/** The catalog's V2 function registry — the partition-transform functions
  * Spark resolves when translating a reported `KeyGroupedPartitioning`
  * into catalyst `TransformExpression`s (the reference ships the same set
  * through its `SparkFunctionCatalog`:
  * `spark/v3.5/spark/src/main/java/org/apache/iceberg/spark/functions/SparkFunctions.java`).
  *
  * Each bound function computes EXACTLY the write-side derivation in
  * [[graft.spatial.Transforms.writeExpr]] — that identity is what lets
  * Spark trust two co-partitioned scans into a storage-partitioned join
  * (and, with one-side-shuffle SPJ, hash the unpartitioned side to the
  * same layout). `canonicalName` is keyed by input type: two scans of the
  * same transform over same-typed columns compare equal in
  * `KeyGroupedShuffleSpec`.
  */
object GraftFunctions {

  val names: Seq[String] = Seq("bucket", "truncate", "years", "months", "days", "hours")

  def load(name: String): Option[UnboundFunction] = name.toLowerCase match {
    case "bucket" => Some(BucketUnbound)
    case "truncate" => Some(TruncateUnbound)
    case "years" => Some(datePart("years"))
    case "months" => Some(datePart("months"))
    case "days" => Some(datePart("days"))
    case "hours" => Some(HoursUnbound)
    case _ => None
  }

  /** `hours(ts)` = floorDiv(epoch micros, 3600e6) — TIMESTAMP only, and
    * timezone-INDEPENDENT (pure epoch division), which is what makes it
    * safe to bind for SPJ where year/month/day over timestamps are not
    * (their write derivation follows the session timezone).
    */
  private object HoursUnbound extends UnboundFunction {
    override def name(): String = "hours"
    override def description(): String = "hours(ts) — graft timestamp partition transform"
    override def bind(inputType: StructType): BoundFunction = {
      if (inputType.length != 1 || inputType(0).dataType != TimestampType)
        throw new UnsupportedOperationException(s"hours over $inputType (TIMESTAMP only)")
      scalar("hours", "graft.hours(timestamp)", Array(TimestampType), IntegerType, { row =>
        if (row.isNullAt(0)) null
        else Math.floorDiv(row.getLong(0), 3600L * 1000000L).toInt
      })
    }
  }

  private def scalar(fname: String, canonical: String, in: Array[DataType],
      out: DataType, f: InternalRow => Any): BoundFunction =
    new ScalarFunction[Any] {
      override def inputTypes(): Array[DataType] = in
      override def resultType(): DataType = out
      override def name(): String = fname
      override def canonicalName(): String = canonical
      override def produceResult(input: InternalRow): Any = f(input)
    }

  /** `bucket(n, v)` = pmod(murmur3_32(v, seed 42), n) — Spark's own
    * `hash()`, the hash [[graft.spatial.Transforms.Bucket]] writes with.
    */
  private object BucketUnbound extends UnboundFunction {
    override def name(): String = "bucket"
    override def description(): String =
      "bucket(numBuckets, col) — murmur3 hash bucket (graft partition transform)"
    override def bind(inputType: StructType): BoundFunction = {
      // UnsupportedOperationException is the contract Spark's
      // V2ExpressionUtils.loadV2FunctionOpt catches — anything else
      // aborts query planning instead of degrading to "no SPJ"
      if (inputType.length != 2)
        throw new UnsupportedOperationException(s"bucket takes (numBuckets, value): $inputType")
      val vt = inputType(1).dataType
      vt match {
        case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
             StringType | BinaryType | BooleanType | DateType | TimestampType => ()
        case other => throw new UnsupportedOperationException(s"bucket over $other")
      }
      scalar("bucket", s"graft.bucket(${vt.simpleString})",
        Array(IntegerType, vt), IntegerType, { row =>
          if (row.isNullAt(1)) null
          else {
            val n = row.getInt(0)
            val h = Murmur3HashFunction.hash(row.get(1, vt), vt, 42L).toInt
            ((h % n) + n) % n
          }
        })
    }
  }

  /** `truncate(w, v)`: string prefix / numeric floor-to-width-multiple —
    * [[graft.spatial.Transforms.Truncate]]'s write derivation.
    */
  private object TruncateUnbound extends UnboundFunction {
    override def name(): String = "truncate"
    override def description(): String =
      "truncate(width, col) — prefix/floor truncation (graft partition transform)"
    override def bind(inputType: StructType): BoundFunction = {
      if (inputType.length != 2)
        throw new UnsupportedOperationException(s"truncate takes (width, value): $inputType")
      val vt = inputType(1).dataType
      val canonical = s"graft.truncate(${vt.simpleString})"
      val in = Array[DataType](IntegerType, vt)
      vt match {
        case StringType => scalar("truncate", canonical, in, vt, { row =>
          // CODE-POINT prefix like the write path (substring counts code
          // points, String.take counts UTF-16 units): the SPJ identity
          // bound-function == write-derivation must hold for emoji too
          if (row.isNullAt(1)) null
          else row.getUTF8String(1).substringSQL(1, row.getInt(0))
        })
        case IntegerType => scalar("truncate", canonical, in, vt, { row =>
          if (row.isNullAt(1)) null
          else { val w = row.getInt(0); val v = row.getInt(1); v - (((v % w) + w) % w) }
        })
        case LongType => scalar("truncate", canonical, in, vt, { row =>
          if (row.isNullAt(1)) null
          else { val w = row.getInt(0); val v = row.getLong(1); v - (((v % w) + w) % w) }
        })
        case other => throw new UnsupportedOperationException(s"truncate over $other")
      }
    }
  }

  /** `years`/`months`/`days` over DATE with the ordinal semantics
    * [[graft.spatial.Transforms.DatePart]] writes: calendar year, months
    * since 1970-01, days since epoch.
    */
  private def datePart(part: String): UnboundFunction = new UnboundFunction {
    override def name(): String = part
    override def description(): String = s"$part(col) — graft date partition transform"
    override def bind(inputType: StructType): BoundFunction = {
      // a year(ts)-partitioned TIMESTAMP table must degrade to no-SPJ,
      // not fail its reads: only UnsupportedOperationException is caught
      // by Spark's function resolution
      if (inputType.length != 1 || inputType(0).dataType != DateType)
        throw new UnsupportedOperationException(s"$part over $inputType (DATE only)")
      scalar(part, s"graft.$part(date)", Array(DateType), IntegerType, { row =>
        if (row.isNullAt(0)) null
        else {
          val days = row.getInt(0)
          part match {
            case "days" => days
            case "years" => java.time.LocalDate.ofEpochDay(days.toLong).getYear
            case "months" =>
              val d = java.time.LocalDate.ofEpochDay(days.toLong)
              (d.getYear - 1970) * 12 + (d.getMonthValue - 1)
          }
        }
      })
    }
  }
}
