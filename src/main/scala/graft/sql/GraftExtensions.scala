package graft.sql

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}

/** `spark.sql.extensions=graft.sql.GraftExtensions` — the one-line session
  * wiring the reference documents for its own extension class
  * (`IcebergSparkSessionExtensions` in /root/reference's README). Injects
  * the SQL statement parser (`ALTER TABLE … SET GEOMETRY FIELDS`,
  * `CALL graft.system.*`), the view-substitution resolution rule (the
  * reference's `ResolveViews`), the ST_ function catalog (so pure-SQL
  * sessions resolve `ST_Intersects(…)` without ever touching the Scala
  * API), and the spatial-join rewrite (so the SQL spelling of a spatial
  * join plans through the PBSM equi-join instead of a nested-loop
  * cartesian), and the physical rule that turns bbox window bounds into
  * generated-code references ([[graft.spatial.HoistBboxBounds]]). The
  * remaining optimizer rules + the `call_function`-style registry are
  * installed lazily by every read path (`Geo.install`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
    ext.injectResolutionRule(session => GraftViewSubstitution(session))
    graft.functions.GeoSql.builders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
    // the main operator-optimization seat (vs Geo.install's
    // extraOptimizations): PushPredicateThroughJoin may fold the refine
    // Filter back into the rewritten equi-join there, which the rule's
    // __graft_spj_ reference guard declines to re-explode
    ext.injectOptimizerRule(_ => graft.spatial.SpatialJoinRewrite)
    // physical: bbox window bounds become generated-code references, so a
    // new window reuses the compiled class of its query shape
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = graft.spatial.HoistBboxBounds
    })
  }
}
