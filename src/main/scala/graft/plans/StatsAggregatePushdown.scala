package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.spatial.{FileStats, GraftFileIndex}

/** Answer global COUNT(*) / MIN / MAX from the table manifest without
  * scanning a single data file — the Spark-native seat of the reference's
  * aggregate pushdown (`spark/v3.5/spark/src/main/java/org/apache/iceberg/spark/source/SparkScanBuilder.java:202-274`
  * in /root/reference, which evaluates Count/Max/Min against manifest stats
  * via `AggregateEvaluator` and returns a pre-computed local scan).
  *
  * Fires only for an ungrouped, unfiltered Aggregate over a
  * [[GraftFileIndex]]-backed relation (possibly through the column-pruning
  * Project the optimizer inserts) whose manifest has stats for every
  * referenced column; anything else keeps the normal plan. At 100 TB this
  * turns `SELECT count(*), max(id) FROM t` into a driver-side O(#files)
  * manifest fold.
  */
object StatsAggregatePushdown extends Rule[LogicalPlan] {

  /** The session kill-switch of BOTH aggregate pushdowns (this rule and
    * the DSv2 scan builder's), the reference's
    * SparkSQLProperties.AGGREGATE_PUSH_DOWN_ENABLED (default true). Read
    * from the caller's SQLConf (not SparkSession.active — wrong session in
    * multi-session JVMs, none active on the optimizing thread) and parsed
    * safely: `true`/`1` enable, anything else declines the pushdown —
    * a malformed value never fails an aggregate query.
    */
  private[graft] def enabled(conf: org.apache.spark.sql.internal.SQLConf): Boolean = {
    val v = conf.getConfString("spark.sql.graft.aggregate-push-down.enabled", "true").trim
    v.equalsIgnoreCase("true") || v == "1"
  }

  /** One aggregate answerable from per-file manifest stats; `key` is the
    * physical stats key (`col` or `struct.leaf`).
    */
  private[graft] sealed trait StatAgg
  private[graft] object StatAgg {
    case object CountStar extends StatAgg
    final case class CountCol(key: String) extends StatAgg
    final case class MinCol(key: String, dt: DataType) extends StatAgg
    final case class MaxCol(key: String, dt: DataType) extends StatAgg
  }

  /** Catalyst value of `agg` over the files' stats, or None when the stats
    * cannot answer it exactly — the ONE evaluator of both pushdowns.
    */
  private[graft] def evaluate(agg: StatAgg, stats: Seq[FileStats]): Option[Any] = agg match {
    case StatAgg.CountStar => Some(stats.map(_.rows).sum)
    // COUNT(col) = Σ (rows − null_count(col)) — the reference's
    // CountAggregate over null_value_counts; declines when any file lacks
    // a null count (legacy manifest entries)
    case StatAgg.CountCol(k) =>
      val per = stats.map(f => f.nulls.get(k).map(n => f.rows - n))
      if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
    // TRUNCATED bounds (write.metadata.metrics truncate(n)) are bounds,
    // not the exact extremes — any file flagging the column declines
    case StatAgg.MinCol(k, dt) =>
      if (stats.exists(_.truncated.contains(k))) None
      else fold(stats.map(_.mins.get(k)), dt, isMin = true)
    case StatAgg.MaxCol(k, dt) =>
      if (stats.exists(_.truncated.contains(k))) None
      else fold(stats.map(_.maxs.get(k)), dt, isMin = false)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(Nil, aggExprs, child, _) if enabled(conf) =>
      unwrap(child).map { case (index, keys) =>
        val stats = index.allStats
        if (stats.isEmpty) agg
        else {
          val values = aggExprs.map(e => evalFromStats(e, stats, keys))
          if (values.exists(_.isEmpty)) agg
          else LocalRelation(
            aggExprs.map(_.toAttribute),
            Seq(InternalRow.fromSeq(values.map(_.get))))
        }
      }.getOrElse(agg)
  }

  private type Keys = Map[ExprId, (String, DataType)]

  private def fieldName(a: AttributeReference, ordinal: Int): String =
    a.dataType.asInstanceOf[StructType].fields(ordinal).name

  /** The stats index under `p` plus attr-exprId → stats-key resolution,
    * seeing through the optimizer's pruning/extraction Project.
    */
  private def unwrap(p: LogicalPlan): Option[(GraftFileIndex, Keys)] = p match {
    case LogicalRelation(HadoopFsRelation(i: GraftFileIndex, _, _, _, _, _), out, _, _, _) =>
      Some((i, out.map(a => a.exprId -> ((a.name, a.dataType))).toMap))
    case Project(list, LogicalRelation(HadoopFsRelation(i: GraftFileIndex, _, _, _, _, _), _, _, _, _)) =>
      val keys: Keys = list.flatMap {
        case a: AttributeReference => Seq(a.exprId -> ((a.name, a.dataType)))
        case al @ Alias(g @ GetStructField(ar: AttributeReference, ord, _), _) =>
          Seq(al.exprId -> ((s"${ar.name}.${fieldName(ar, ord)}", g.dataType)))
        case _ => Nil
      }.toMap
      Some((i, keys))
    case _ => None
  }

  /** Catalyst value for one result column, or None if not answerable. */
  private def evalFromStats(e: NamedExpression, stats: Seq[FileStats], keys: Keys): Option[Any] = {
    def strip(x: Expression): Expression = x match {
      case Alias(c, _) => strip(c)
      case other => other
    }
    def statKey(x: Expression): Option[(String, DataType)] = x match {
      case a: AttributeReference => keys.get(a.exprId)
      case g @ GetStructField(a: AttributeReference, ord, _) =>
        keys.get(a.exprId).map { case (n, _) => (s"$n.${fieldName(a, ord)}", g.dataType) }
      case _ => None
    }
    val statAgg: Option[StatAgg] = strip(e) match {
      case AggregateExpression(Count(Seq(Literal(_, _))), Complete, false, None, _) =>
        Some(StatAgg.CountStar)
      case AggregateExpression(Count(Seq(c)), Complete, false, None, _) =>
        statKey(c).map { case (k, _) => StatAgg.CountCol(k) }
      case AggregateExpression(Min(c), Complete, false, None, _) =>
        statKey(c).map { case (k, dt) => StatAgg.MinCol(k, dt) }
      case AggregateExpression(Max(c), Complete, false, None, _) =>
        statKey(c).map { case (k, dt) => StatAgg.MaxCol(k, dt) }
      case _ => None
    }
    statAgg.flatMap(evaluate(_, stats))
  }

  /** Also the DSv2 scan's column-statistics fold.
    * `isMin` = fold to the minimum (else maximum); comparisons are exact
    * (BigDecimal / UTF8String binary order), never double arithmetic.
    */
  private[graft] def fold(vs: Seq[Option[Any]], dt: DataType,
      isMin: Boolean): Option[Any] = {
    // every file must have a stat; null stats (all-null column) stay None
    if (vs.isEmpty || vs.exists(v => v.isEmpty || v.get == null)) return None
    val raw = vs.map(_.get)
    dt match {
      case StringType =>
        // compare in UTF8String binary order, not java String UTF-16
        // code-unit order — they diverge for [U+E000,U+FFFF] chars mixed
        // with supplementary characters, and these values are final results
        val ss = raw.map(v => UTF8String.fromString(v.toString))
        Some(ss.reduce((a, b) => if ((a.compareTo(b) < 0) == isMin) a else b))
      case _ =>
        // non-finite bounds (manifests written before the convert-side
        // guard) decline the rewrite: NaN has no order and BigDecimal
        // can't parse Infinity — fall back to the real scan
        val nonFinite = raw.exists {
          case d: java.lang.Double => d.isNaN || d.isInfinite
          case f: java.lang.Float => f.isNaN || f.isInfinite
          case _ => false
        }
        if (nonFinite) return None
        // exact comparison (doubles would collapse longs above 2^53)
        val ds = raw.map(v => BigDecimal(v.asInstanceOf[Number].toString))
        val bestIdx = ds.zipWithIndex.reduce((p, q) =>
          if (p._1 == q._1 || (p._1 < q._1) == isMin) p else q)._2
        val best = raw(bestIdx).asInstanceOf[Number]
        dt match {
          case LongType | TimestampType => Some(best.longValue())
          case IntegerType | DateType => Some(best.intValue())
          case DoubleType => Some(best.doubleValue())
          case FloatType => Some(best.floatValue())
          case ShortType => Some(best.shortValue())
          case ByteType => Some(best.byteValue())
          case _ => None
        }
    }
  }
}
