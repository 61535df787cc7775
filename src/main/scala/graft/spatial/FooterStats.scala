package graft.spatial

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}

/** Per-file min/max statistics extracted from parquet FOOTERS — no data
  * pass. This is how the reference populates its manifest metrics
  * (`parquet/.../ParquetUtil.java` fileMetrics in /root/reference reads
  * footer statistics); the round-1 implementation re-scanned the written
  * rows with a Spark aggregation, doubling write I/O at scale.
  *
  * Value representations are chosen to match what Catalyst literals carry,
  * so [[FileStats.cmp]] compares like with like: timestamps stay raw INT64
  * (µs for TIMESTAMP(MICROS) — same as `unix_micros`; ns columns are read
  * by Spark as plain longs), dates stay INT32 days, decimals are rescaled
  * to BigDecimal, strings decode UTF-8. Columns whose stats are absent or
  * unmappable in any row group get a null entry → inclusive evaluation
  * treats them as "might match" (never unsound pruning).
  */
object FooterStats {

  /** Read stats for one data file (runs on an executor). */
  def read(dir: String, name: String, conf: Configuration,
      excludeCols: Set[String]): FileStats = {
    val p = new Path(new Path(dir), name)
    val in = HadoopInputFile.fromPath(p, conf)
    val reader = ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val mins = mutable.Map.empty[String, Any]
      val maxs = mutable.Map.empty[String, Any]
      val invalid = mutable.Set.empty[String]
      // null_value_counts tracked independently of value bounds: an
      // all-null column has no min/max yet a perfectly known null count
      val nulls = mutable.Map.empty[String, Long]
      val nullsUnknown = mutable.Set.empty[String]
      // per-column on-disk bytes (compressed chunk sizes, like Iceberg's
      // column_sizes from the writer metrics)
      val sizes = mutable.Map.empty[String, Long]
      for (b <- blocks; c <- b.getColumns.asScala) {
        val key = c.getPath.toDotString
        if (key.count(_ == '.') <= 1)
          sizes(key) = sizes.getOrElse(key, 0L) + c.getTotalSize
        // top-level primitives + one struct level, like the manifest schema;
        // declared geometry columns carry no value stats (bbox shadow does)
        if (key.count(_ == '.') <= 1 && !excludeCols.contains(key.split('.').head)) {
          val st0 = Option(c.getStatistics: Statistics[_])
          st0 match {
            case Some(st) if !st.isEmpty && st.isNumNullsSet && st.getNumNulls >= 0 =>
              nulls(key) = nulls.getOrElse(key, 0L) + st.getNumNulls
            case _ => nullsUnknown += key // one unknown row group poisons it
          }
          val extracted = for {
            st <- st0 if !st.isEmpty && st.hasNonNullValue
            mn <- convert(c.getPrimitiveType, st.genericGetMin.asInstanceOf[AnyRef])
            mx <- convert(c.getPrimitiveType, st.genericGetMax.asInstanceOf[AnyRef])
          } yield (mn, mx)
          extracted match {
            case Some((mn, mx)) if !invalid(key) =>
              mins(key) = merge(mins.get(key), mn, keepMin = true)
              maxs(key) = merge(maxs.get(key), mx, keepMin = false)
            case Some(_) => // already poisoned
            case None if st0.exists(st => !st.isEmpty && !st.hasNonNullValue) =>
              // all-null so far: legitimate absence of bounds, not poison —
              // a later row group's real bounds REPLACE the null
              // placeholder (merge treats a null prev like None), since
              // all-null groups contribute no values to min/max
              if (!mins.contains(key)) { mins(key) = null; maxs(key) = null }
            case None =>
              // one stat-less row group poisons the whole file's entry
              invalid += key
          }
        }
      }
      invalid.foreach { k => mins(k) = null; maxs(k) = null }
      nullsUnknown.foreach(nulls.remove)
      FileStats(name, rows, in.getLength, mins.toMap, maxs.toMap,
        nulls = nulls.toMap, colSizes = sizes.toMap)
    } finally reader.close()
  }

  private def merge(prev: Option[Any], v: Any, keepMin: Boolean): Any = prev match {
    case None | Some(null) => v
    case Some(p) =>
      val c = compare(p, v)
      if ((keepMin && c <= 0) || (!keepMin && c >= 0)) p else v
  }

  // ONE comparator with the consumers of these bounds (FileStats.cmp,
  // range projection): UTF-8 byte order for strings, exact BigDecimal
  // for numbers. Incomparable → 0 = "keep the previous" (convert() drops
  // NaN bounds before merge, so this arm never decides a real ordering).
  private def compare(a: Any, b: Any): Int = ValueOrder.compare(a, b).getOrElse(0)

  /** Map a footer stat value to the manifest's literal-compatible repr;
    * None = unmappable (INT96, unknown annotations, NaN bounds).
    */
  private def convert(t: PrimitiveType, v: AnyRef): Option[Any] = {
    import LogicalTypeAnnotation._
    val ann = t.getLogicalTypeAnnotation
    (t.getPrimitiveTypeName, ann, v) match {
      case (_, d: DecimalLogicalTypeAnnotation, i: java.lang.Integer) =>
        Some(BigDecimal(BigInt(i.longValue()), d.getScale))
      case (_, d: DecimalLogicalTypeAnnotation, l: java.lang.Long) =>
        Some(BigDecimal(BigInt(l.longValue()), d.getScale))
      case (_, d: DecimalLogicalTypeAnnotation, b: Binary) =>
        Some(BigDecimal(BigInt(new java.math.BigInteger(b.getBytes)), d.getScale))
      case (_, _: StringLogicalTypeAnnotation, b: Binary) =>
        Some(b.toStringUsingUTF8)
      // non-finite bounds decline entirely: NaN has no order, and Infinity
      // would both crash the BigDecimal merge and serialize as a bare
      // `Infinity` token no JSON parser accepts — bricking the manifest
      case (_, _, d: java.lang.Double) =>
        if (d.isNaN || d.isInfinite) None else Some(d.doubleValue())
      case (_, _, f: java.lang.Float) =>
        if (f.isNaN || f.isInfinite) None else Some(f.floatValue())
      case (_, _, i: java.lang.Integer) => Some(i.intValue()) // incl. DATE days
      case (_, _, l: java.lang.Long) => Some(l.longValue()) // incl. TIMESTAMP µs/ns
      case _ => None // INT96, plain binary, boolean, unknown
    }
  }
}

/** The reference's `write.metadata.metrics.*` table-property family
  * (TableProperties METRICS_MODE_*, MetricsModes.java, tested by
  * TestWriteMetricsConfig): per-column control over which manifest
  * metrics a write records. At 100 TB this bounds manifest size — a wide
  * table with multi-KB string columns otherwise persists full-length
  * bounds for every file.
  *
  *  - `none`: no value metrics at all (no bounds, no null counts)
  *  - `counts`: null counts only
  *  - `truncate(n)`: counts + bounds truncated to n code points — the
  *    lower bound is a prefix (≤ true min), the upper bound is the prefix
  *    with its last code point incremented (≥ true max), so INCLUSIVE
  *    pruning stays conservative; truncated columns are flagged in the
  *    manifest so MIN/MAX aggregate pushdown declines (a truncated bound
  *    is a bound, not the value)
  *  - `full`: everything (this engine's default; the reference defaults
  *    to truncate(16))
  *
  * Column keys are LOGICAL names; application maps them to the physical
  * stats keys.
  */
object MetricsModes {
  sealed trait Mode
  case object NoMetrics extends Mode
  case object Counts extends Mode
  case object Full extends Mode
  final case class Truncate(n: Int) extends Mode

  private val TruncRe = "truncate\\((\\d+)\\)".r

  def parse(s: String): Mode = s.trim.toLowerCase(java.util.Locale.ROOT) match {
    case "none" => NoMetrics
    case "counts" => Counts
    case "full" => Full
    case TruncRe(n) if n.toInt > 0 => Truncate(n.toInt)
    case other => throw new IllegalArgumentException(
      s"unsupported metrics mode: $other (none|counts|truncate(n)|full)")
  }

  /** (default mode, per-PHYSICAL-column overrides) for the table's current
    * properties; Full when the table has no manifest yet.
    */
  def forTable(path: String): (Mode, Map[String, Mode]) = {
    val props =
      if (Snapshots.currentVersion(path) > 0) Snapshots.readProps(path)
      else Map.empty[String, String]
    val default = props.get("write.metadata.metrics.default")
      .map(parse).getOrElse(Full)
    val phys = TableSchema.read(path).filterNot(_.dropped)
      .map(e => e.logical -> e.physical).toMap
    val perCol = props.collect {
      case (k, v) if k.startsWith("write.metadata.metrics.column.") =>
        val logical = k.stripPrefix("write.metadata.metrics.column.")
        phys.getOrElse(logical, logical) -> parse(v)
    }
    (default, perCol)
  }

  /** Truncate a string lower bound: a prefix is always ≤ the value. */
  def truncMin(s: String, n: Int): String =
    if (s.codePointCount(0, s.length) <= n) s
    else s.substring(0, s.offsetByCodePoints(0, n))

  /** Truncate a string upper bound: prefix with the last code point
    * incremented (skipping the surrogate gap); None when every prefix
    * code point is already U+10FFFF (no representable upper bound).
    */
  def truncMax(s: String, n: Int): Option[String] = {
    if (s.codePointCount(0, s.length) <= n) return Some(s)
    val cps = s.codePoints().limit(n.toLong).toArray
    var i = cps.length - 1
    while (i >= 0 && cps(i) >= 0x10FFFF) i -= 1
    if (i < 0) None
    else {
      val inc = if (cps(i) + 1 == 0xD800) 0xE000 else cps(i) + 1
      Some(new String(cps.take(i), 0, i) + new String(Character.toChars(inc)))
    }
  }

  /** `<geom>_bbox` shadow columns of the table: stems whose name matches
    * the shadow pattern AND whose stripped sibling is an actual geometry
    * column — declared (recorded encoding) or a physical-BINARY (WKB)
    * column with the 4-double bbox struct beside it. A user data column
    * that merely contains "_bbox" in its name is NOT a shadow and honors
    * its declared metrics mode.
    */
  private def geometryShadowStems(path: String): Set[String] = {
    import org.apache.spark.sql.types.{BinaryType, DoubleType, StructType => SStruct}
    def isBboxStruct(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case s: SStruct => s.fields.length == 4 &&
        s.fields.map(_.name).toSet == Set("xmin", "ymin", "xmax", "ymax") &&
        s.fields.forall(_.dataType == DoubleType)
      case _ => false
    }
    val declared = GeometryFields.get(path).keySet
    val fromSchema = Snapshots.readSchema(path).map { st =>
      st.fields.collect {
        case f if f.name.endsWith("_bbox") && isBboxStruct(f.dataType) &&
            st.fields.exists(s => s.name == f.name.stripSuffix("_bbox") &&
              (s.dataType == BinaryType || declared(s.name))) => f.name
      }.toSet
    }.getOrElse(Set.empty[String])
    fromSchema ++ declared.map(_ + "_bbox")
  }

  /** Apply the table's metrics config to freshly collected file stats. */
  def apply(path: String, stats: Seq[FileStats]): Seq[FileStats] = {
    val (default, perCol) = forTable(path)
    if (default == Full && perCol.isEmpty) return stats
    // geometry bbox SHADOW stats are exempt: they are derived pruning
    // metadata (4 doubles per geometry column, bounded), not user column
    // stats — a blanket `default = none/counts` must not silently kill
    // spatial pruning (the reference's geometry bounds ride the manifest
    // unconditionally too). Matched exactly against the table's shadow
    // columns, not by substring.
    val shadows = geometryShadowStems(path)
    def mode(k: String): Mode =
      if (shadows(k.split('.').head)) Full
      else perCol.getOrElse(k.split('.').head, default)
    stats.map { f =>
      val keep = (m: Map[String, Any]) => m.filter { case (k, _) =>
        mode(k) match {
          case Full => true
          case Truncate(_) => true // handled below
          case _ => false
        }
      }
      val truncated = mutable.ArrayBuffer.empty[String]
      def bounds(m: Map[String, Any], isMin: Boolean): Map[String, Any] =
        keep(m).flatMap { case (k, v) =>
          mode(k) match {
            case Truncate(n) => v match {
              case s: String =>
                if (isMin) Some(k -> truncMin(s, n))
                else truncMax(s, n) match {
                  case Some(t) =>
                    if (t != s && !truncated.contains(k)) truncated += k
                    Some(k -> t)
                  case None => None
                }
              case other => Some(k -> other) // non-string: full bounds
            }
            case _ => Some(k -> v)
          }
        }
      val mins = bounds(f.mins, isMin = true)
      // a min prefix shorter than the value also marks truncation
      f.mins.foreach { case (k, v) => mode(k) match {
        case Truncate(n) => v match {
          case s: String if truncMin(s, n) != s && !truncated.contains(k) =>
            truncated += k
          case _ => ()
        }
        case _ => ()
      }}
      val maxs = bounds(f.maxs, isMin = false)
      // upper-bound truncation can DROP a key (no representable bound):
      // drop the min too — a one-sided range would still prune soundly,
      // but symmetric absence keeps the manifest shape simple
      val minsAligned = mins.filter { case (k, _) =>
        maxs.contains(k) || !mode(k).isInstanceOf[Truncate] }
      val nulls = f.nulls.filter { case (k, _) => mode(k) != NoMetrics }
      f.copy(mins = minsAligned, maxs = maxs, nulls = nulls,
        truncated = truncated.toSeq.sorted)
    }
  }
}
