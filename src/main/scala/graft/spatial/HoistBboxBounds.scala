package graft.spatial

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types.{DataType, DoubleType}

/** A window bound of a bbox conjunct, read from the generated class's
  * `references[]` instead of being written into its source. Spark inlines
  * a double `Literal` into generated Java, so every new query window
  * meant new source text, a codegen-cache miss and a compile on the
  * driver; with the bound a reference, one query shape compiles once —
  * the way Spark already generates decimal, string and binary literals.
  * Prints as the literal it replaces, so EXPLAIN output does not change.
  */
case class BboxBound(value: Double) extends LeafExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, DoubleType).toString
  override def sql: String = Literal(value, DoubleType).sql
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bboxBound", value, "java.lang.Double")
    ExprCode.forNonNullValue(JavaCode.expression(s"$ref.doubleValue()", DoubleType))
  }
}

/** Physical rule: in filter and join conditions, every double `Literal`
  * compared with a geometry shadow leaf (`<g>_bbox.xmin` … — the shape
  * [[SpatialPredicatePushdown]]'s `envConjunct` emits) becomes a
  * [[BboxBound]]. Runs as a pre-columnar-transition rule, which Spark
  * applies to AQE stages and non-AQE plans alike.
  *
  * The logical plan keeps its literals: translation to data-source
  * filters, manifest pruning and `FileStats.canMatch` all match on
  * `Literal`. Scan nodes are never rewritten — `FileSourceScanExec`
  * translates its `dataFilters` lazily at execution, for parquet pushdown
  * and for [[GraftFileIndex]] file pruning alike, and would silently stop
  * pruning.
  */
object HoistBboxBounds extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p @ (_: FilterExec | _: BaseJoinExec) => p.transformExpressions {
      case c: BinaryComparison => c.withNewChildren(c.children.map {
        case Literal(v: Double, DoubleType) if c.children.exists(isShadowLeaf) => BboxBound(v)
        case other => other
      })
    }
  }

  private def isShadowLeaf(e: Expression): Boolean = e match {
    case GetStructField(a: Attribute, _, _) =>
      a.name.endsWith("_bbox") && SpatialPredicatePushdown.isShadowStruct(a.dataType)
    case _ => false
  }
}
