package graft.spatial

import org.locationtech.jts.geom.Envelope

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BinaryType, DoubleType}

import graft.functions.{GeoCodec, StCovers, StIntersects}

/** Catalyst rewrite of spatial predicates into pushable bbox range
  * predicates — the rebuild of the reference's single most important piece
  * of optimizer code, `SpatialPredicatePushDown`
  * (`spark/v3.5/spark-extensions/src/main/scala/org/apache/spark/sql/execution/datasources/v2/optimizer/havasu/SpatialPredicatePushDown.scala:49-134`
  * in /root/reference).
  *
  * Where the fork translates `ST_Intersects(geom, Q)` into an Iceberg
  * expression and injects it into the scan, here the translation target is
  * ordinary comparisons on the `<geom>_bbox` shadow struct:
  *
  *   ST_Intersects(g, Q) ⇒ g_bbox.xmin <= Q.maxX ∧ g_bbox.xmax >= Q.minX
  *                        ∧ g_bbox.ymin <= Q.maxY ∧ g_bbox.ymax >= Q.minY
  *   ST_Covers(g, Q)     ⇒ g_bbox.xmin <= Q.minX ∧ g_bbox.xmax >= Q.maxX
  *                        ∧ g_bbox.ymin <= Q.minY ∧ g_bbox.ymax >= Q.maxY
  *
  * which Spark's own machinery pushes to the parquet scan (row-group
  * pruning) and [[GraftFileIndex]] uses for file pruning. The original
  * spatial conjunct is retained for exact row-level JTS evaluation, same as
  * the fork keeps its `Filter` node (`SpatialPredicatePushDown.scala:62-66`)
  * — bbox pruning is inclusive-only.
  *
  * AND/OR recursion mirrors the fork (`:91-123`); NOT is deliberately not
  * translated — spatial predicates are non-negatable
  * (`api/.../expressions/Expression.java:65-98` throws on `negate()`), and a
  * bbox test is only a *necessary* condition, so `NOT ST_Intersects` must
  * never produce pruning.
  */
object SpatialPredicatePushdown extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      // derivation binds geometry ATTRIBUTES only — no attrs, no work
      val geoms = spatialGeomAttrs(cond)
      if (geoms.isEmpty) f
      else {
        // V2 column pruning may have baked the shadow out of a graft scan
        // below (the V1 relation always carries it) — re-expose before
        // binding, or DSv2 catalog reads silently lose every bbox prune
        val child2 = exposeShadows(child, geoms)
        derive(cond, Scope.of(child2)) match {
          case Some(extra) =>
            val existing = splitAnd(cond)
            val fresh = splitAnd(extra).filterNot(e => existing.exists(_.semanticEquals(e)))
            if (fresh.isEmpty) f
            else restoreOutput(f.output, Filter(And(fresh.reduce(And), cond), child2))
          case None => f
        }
      }
    // spatial predicates INSIDE JOIN CONDITIONS (beyond the reference —
    // its rule also matches only Filter): deterministic above-join
    // predicates fold into the join condition during the main optimizer,
    // and geometry-vs-geometry predicates live there natively, so without
    // this case they received no bbox conjunct at all (COVERAGE.md r14
    // observed gap). Two sound derivations, exact predicate always kept:
    //  - NECESSARY bbox conjuncts ANDed into the condition itself —
    //    literal-envelope forms plus cross-side SHADOW-vs-SHADOW interval
    //    overlap tests (cheap codegen'd comparisons that short-circuit
    //    before the per-pair JTS refine; implied by the original
    //    predicate, so the condition's TRUE-set — and with it every join
    //    type's semantics, outer and anti included — is unchanged);
    //  - WINDOW-BOUND PROPAGATION: a side whose join geometry is provably
    //    inside a literal envelope (an ST_Covers(lit, g) filter below the
    //    join, or a literal table's own rows) bounds the OTHER side of
    //    any cross-side intersects/covers pair — the matched pair's
    //    geometries share a point inside the window, so the other
    //    geometry's bbox must intersect it. That constant conjunct
    //    injects as a child Filter (join-type gated like ordinary
    //    pushdown) and reaches FILE pruning.
    // Shadow columns pruned away below the join are re-EXPOSED through
    // the interleaving Projects (pass-through attributes only); binding
    // stays qualifier-checked and DECLINES on ambiguity like the Filter
    // path.
    case j @ Join(_, _, _, Some(cond), _) if cond.exists {
        case _: StIntersects | _: StCovers => true
        case _ => false
      } => rewriteJoin(j)
  }

  private def rewriteJoin(j: Join): LogicalPlan = {
    val cond = j.condition.get
    val geoms = spatialGeomAttrs(cond)
    if (geoms.isEmpty) return j
    val left2 = exposeShadows(j.left, geoms)
    val right2 = exposeShadows(j.right, geoms)
    val scope = Scope.of(left2, right2)
    // (i) necessary bbox conjuncts for the condition itself
    val fresh = derive(cond, scope).map(splitAnd).getOrElse(Nil)
      .filterNot(e => splitAnd(cond).exists(_.semanticEquals(e)))
    // (ii) window-bound propagation across top-level cross-side pairs
    val pushes: Seq[(Boolean, Expression)] = crossPairs(cond).flatMap { case (gB, gT) =>
      val sides: Option[(LogicalPlan, Boolean)] =
        if (left2.outputSet.contains(gB) && right2.outputSet.contains(gT))
          Some((left2, false)) // bound on left → filter the RIGHT child
        else if (right2.outputSet.contains(gB) && left2.outputSet.contains(gT))
          Some((right2, true))
        else None // same side or unresolvable: nothing to propagate
      sides.filter(s => canFilterSide(s._2, j.joinType)).flatMap { case (bSide, tIsLeft) =>
        val target = if (tIsLeft) left2 else right2
        for {
          shadow <- bindShadow(gT, Scope.of(target))
          envs <- boundEnvOf(bSide, gB).map(Seq(_)).orElse(literalEnvs(bSide, gB))
        } yield (tIsLeft, envs.map(envConjunct(shadow, _, Intersects)).reduce[Expression](Or))
      }
    }
    if (fresh.isEmpty && pushes.isEmpty) return j
    val newLeft = pushes.collect { case (true, p) => p }
      .foldLeft(left2)((pl, p) => injectFilter(pl, p))
    val newRight = pushes.collect { case (false, p) => p }
      .foldLeft(right2)((pl, p) => injectFilter(pl, p))
    val newCond = if (fresh.isEmpty) cond else And(fresh.reduce(And), cond)
    if (fresh.isEmpty && (newLeft eq left2) && (newRight eq right2) &&
        (left2 eq j.left) && (right2 eq j.right)) j
    else restoreOutput(j.output,
      j.copy(left = newLeft, right = newRight, condition = Some(newCond)))
  }

  /** Shadow re-exposure widens children, and the widened node's OUTPUT
    * grows with them — benign under a Project (parents reference what they
    * reference) but WRONG at the plan root: a `df.filter(st_…).collect()`
    * on a catalog table would serve an optimized-plan schema carrying a
    * trailing `<g>_bbox` column the analyzed schema lacks (visible to
    * toRdd consumers, flagged by plan-change validation). Restore the
    * original attribute list with a Project whenever the output grew —
    * the retained predicate below it still references the shadow, so the
    * already-final scan keeps reading it (V2 pruning does not re-run in
    * `extraOptimizations`).
    */
  private def restoreOutput(orig: Seq[Attribute], rewritten: LogicalPlan): LogicalPlan =
    if (rewritten.output.map(_.exprId) == orig.map(_.exprId)) rewritten
    else Project(orig, rewritten)

  /** Geometry attributes referenced by spatial predicates in `cond`. */
  private def spatialGeomAttrs(cond: Expression): Seq[AttributeReference] = {
    val out = Seq.newBuilder[AttributeReference]
    cond.foreach {
      case StIntersects(a, b) => Seq(a, b).foreach {
        case r: AttributeReference => out += r
        case _ => ()
      }
      case StCovers(a, b) => Seq(a, b).foreach {
        case r: AttributeReference => out += r
        case _ => ()
      }
      case _ => ()
    }
    out.result().distinct
  }

  /** Top-level cross-side candidate pairs (gBound, gTarget): intersects is
    * symmetric; covers(a, b) implies intersects for JTS's nonempty
    * semantics, so both directions propagate. OR-guarded conjuncts are
    * excluded — a pair under OR is not a necessary match condition.
    */
  private def crossPairs(cond: Expression): Seq[(AttributeReference, AttributeReference)] =
    splitAnd(cond).flatMap {
      case StIntersects(a: AttributeReference, b: AttributeReference) => Seq((a, b), (b, a))
      case StCovers(a: AttributeReference, b: AttributeReference) => Seq((a, b), (b, a))
      case _ => Nil
    }

  /** Re-expose shadow structs of `geoms` that column pruning removed:
    * extend pass-through Projects between the join and the relations (the
    * shadows weren't referenced before this rule ran, so pruning dropped
    * them), and REBUILD pruned DSv2 graft scans to read the shadow again
    * (V2 pruning bakes the read schema into the scan, so no Project can
    * recover it). Widening a child only ADDS attributes — parents
    * reference what they reference.
    */
  private def exposeShadows(plan: LogicalPlan, geoms: Seq[AttributeReference]): LogicalPlan =
    plan match {
      case p @ Project(list, child) =>
        val child2 = exposeShadows(child, geoms)
        val add = geoms.flatMap { g =>
          child2.output.collect {
            case b: AttributeReference if b.name == s"${g.name}_bbox" &&
              isShadowStruct(b.dataType) &&
              !list.exists(_.toAttribute.exprId == b.exprId) => b
          }
        }.distinct
        if (add.isEmpty && (child2 eq child)) p
        else Project(list ++ add, child2)
      case f @ Filter(c, child) =>
        val child2 = exposeShadows(child, geoms)
        if (child2 eq child) f else Filter(c, child2)
      case rel: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        exposeOnScan(rel, geoms)
      case other => other
    }

  /** DSv2 re-exposure: a fresh [[graft.sources.GraftScan]] reading the
    * shadow column again, with the relation OUTPUT extended at exactly
    * the readSchema position. Rewrites ONLY under positional PROOF — the
    * new readSchema must be the old output plus the shadow at one index —
    * anything else declines (a misaligned output/readSchema pair would
    * serve columns into the wrong attributes).
    */
  private def exposeOnScan(
      rel: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation,
      geoms: Seq[AttributeReference])
      : org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation = {
    val wanted = geoms
      .filter(g => rel.outputSet.exists(_.exprId == g.exprId))
      .map(g => s"${g.name}_bbox")
      .filterNot(n => rel.output.exists(_.name == n)).distinct
    if (wanted.isEmpty) return rel
    wanted.foldLeft(rel) { (cur, n) =>
      cur.scan match {
        case gs: graft.sources.GraftScan =>
          gs.withExtraReadColumn(n) match {
            case Some(ns) =>
              val rs = ns.readSchema()
              val idx = rs.fieldNames.indexOf(n)
              val aligned = idx >= 0 && rs.length == cur.output.length + 1 &&
                rs.fieldNames.toSeq.patch(idx, Nil, 1) == cur.output.map(_.name) &&
                isShadowStruct(rs(idx).dataType)
              if (!aligned) cur
              else cur.copy(scan = ns, output = cur.output.patch(idx,
                Seq(AttributeReference(n, rs(idx).dataType,
                  nullable = rs(idx).nullable)()), 0))
            case None => cur
          }
        case _ => cur
      }
    }
  }

  /** Which child may take a derived filter, by join type — the standard
    * predicate-pushdown matrix (a necessary-condition filter removes only
    * rows that could never match, so anti-join right-side is sound too).
    */
  private def canFilterSide(targetIsLeft: Boolean, jt: JoinType): Boolean = jt match {
    case Inner | Cross | LeftSemi => true
    case LeftOuter | LeftAnti => !targetIsLeft
    case RightOuter => targetIsLeft
    case _ => false // FullOuter, ExistenceJoin: decline
  }

  /** A literal envelope provably bounding `g` below the join: an
    * `ST_Covers(lit, g)` filter conjunct on g's provenance path (Filter/
    * Project chains, and the g-bearing side of nested joins — joins only
    * keep or drop rows, never alter g). Every bound along the path holds
    * simultaneously, so multiple conjuncts INTERSECT — the tightest sound
    * envelope (a disjoint intersection is still sound: no row can
    * satisfy both covers, so any derived conjunct only drops
    * never-matching rows).
    */
  private def boundEnvOf(plan: LogicalPlan, g: AttributeReference): Option[Envelope] =
    plan match {
      case Filter(c, child) =>
        val here = splitAnd(c).collect {
          case StCovers(q, a: AttributeReference)
              if a.exprId == g.exprId && q.foldable && q.dataType == BinaryType &&
                q.eval(null) != null =>
            GeoCodec.readWkb(q.eval(null).asInstanceOf[Array[Byte]]).getEnvelopeInternal
        }
        (here ++ boundEnvOf(child, g)).reduceOption((a, b) => a.intersection(b))
      case Project(_, child) => boundEnvOf(child, g)
      case jn: Join =>
        if (jn.left.outputSet.contains(g)) boundEnvOf(jn.left, g)
        else if (jn.right.outputSet.contains(g)) boundEnvOf(jn.right, g)
        else None
      case _ => None
    }

  /** Envelopes bounding `g` when it comes from a literal table — a
    * `LocalRelation` (`VALUES …`) under pass-through Projects: a matched
    * pair's other geometry must intersect one of them, so the other side
    * is bounded by their OR. NULL and empty geometries match no spatial
    * predicate and are skipped; a value that does not parse, or more than
    * [[MaxLiteralEnvs]] envelopes, declines.
    */
  private def literalEnvs(plan: LogicalPlan, g: AttributeReference): Option[Seq[Envelope]] =
    plan match {
      case Project(list, child) if list.exists {
          case a: Attribute => a.exprId == g.exprId
          case _ => false
        } => literalEnvs(child, g)
      case l: LocalRelation if l.output.exists(_.exprId == g.exprId) =>
        val i = l.output.indexWhere(_.exprId == g.exprId)
        scala.util.Try(l.data.filterNot(_.isNullAt(i))
            .map(r => GeoCodec.readWkb(r.getBinary(i))).filterNot(_.isEmpty)
            .map(_.getEnvelopeInternal)).toOption
          .filter(es => es.nonEmpty && es.size <= MaxLiteralEnvs)
      case _ => None
    }

  /** Cap on the OR a literal table pushes: every file's stats and every
    * scanned row test each term, and Catalyst recurses through the OR
    * chain, so a long `VALUES` list joins unbounded rather than grow it. */
  private[graft] val MaxLiteralEnvs = 32

  /** Inject `pred` as a Filter as DEEP as pass-through nodes allow (so
    * [[graft.sources.GraftScanFilterPushdown]] / V1 PhysicalOperation see
    * it directly over the relation), deduping against existing conjuncts
    * for fixpoint stability.
    */
  private def injectFilter(plan: LogicalPlan, pred: Expression): LogicalPlan = plan match {
    case p @ Project(_, child) if pred.references.subsetOf(child.outputSet) =>
      val c2 = injectFilter(child, pred)
      if (c2 eq child) p else p.copy(child = c2)
    case f @ Filter(c, child) =>
      val have = splitAnd(c)
      val fresh = splitAnd(pred).filterNot(x => have.exists(_.semanticEquals(x)))
      if (fresh.isEmpty) f else Filter(And(fresh.reduce(And), c), child)
    case other => Filter(pred, other)
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** Binding scope: the visible attributes plus the LEAF plans beneath
    * them — provenance proof for shadow binding (see [[bindShadow]]).
    * Leaves collect LAZILY: the rule visits every Filter/Join in every
    * query, and only plans with bindable spatial predicates should pay
    * the tree walk.
    */
  private final case class Scope(out: Seq[Attribute], plans: Seq[LogicalPlan]) {
    lazy val leaves: Seq[LogicalPlan] = plans.flatMap(_.collectLeaves())
  }
  private object Scope {
    def of(plans: LogicalPlan*): Scope = Scope(plans.flatMap(_.output), plans)
  }

  /** Derive a bbox predicate implied by `cond`, if any. AND: any conjunct
    * may contribute. OR: both sides must contribute (else unsound).
    */
  private def derive(cond: Expression, out: Scope): Option[Expression] = cond match {
    case And(l, r) =>
      (derive(l, out), derive(r, out)) match {
        case (Some(a), Some(b)) => Some(And(a, b))
        case (a, b) => a.orElse(b)
      }
    case Or(l, r) =>
      for (a <- derive(l, out); b <- derive(r, out)) yield Or(a, b)
    // both argument orders: intersects is symmetric; covers(lit, geom)
    // means the literal covers the geometry → the geometry's bbox must lie
    // within the query envelope (the ST_Within-style containment test).
    // Geometry-vs-geometry forms (join conditions, two-column filters)
    // fall through to the SHADOW-vs-SHADOW interval test.
    case StIntersects(a, b) =>
      translate(a, b, out, Intersects).orElse(translate(b, a, out, Intersects))
        .orElse(pairTranslate(a, b, out, covers = false))
    case StCovers(a, b) =>
      translate(a, b, out, Covers).orElse(translate(b, a, out, CoveredBy))
        .orElse(pairTranslate(a, b, out, covers = true))
    case _ => None
  }

  private sealed trait Mode
  private case object Intersects extends Mode
  private case object Covers extends Mode
  private case object CoveredBy extends Mode

  private def translate(
      g: Expression, q: Expression, out: Scope, mode: Mode): Option[Expression] = {
    val geomAttr = g match {
      case a: AttributeReference => Some(a)
      case _ => None
    }
    val env: Option[Envelope] = q match {
      case lit if lit.foldable && lit.dataType == org.apache.spark.sql.types.BinaryType =>
        Option(lit.eval(null)).map(b =>
          GeoCodec.readWkb(b.asInstanceOf[Array[Byte]]).getEnvelopeInternal)
      case _ => None
    }
    for {
      a <- geomAttr
      e <- env
      bbox <- bindShadow(a, out)
    } yield envConjunct(bbox, e, mode)
  }

  /** Bind geometry attribute `a`'s shadow struct within the scope.
    *
    * Name match alone isn't proof: the rule is installed session-wide,
    * so a user's own unrelated `<g>_bbox` struct must not be read by
    * ordinal — require the exact shadow shape (4 double leaves named
    * xmin/ymin/xmax/ymax, same test as FooterStats.geometryShadowStems).
    * The match must also be CORRECT and UNIQUE: a self-join surfaces two
    * same-named shadows, and in a join where only the OTHER relation's
    * same-named shadow survived column pruning even a single candidate
    * can be the wrong relation's — binding it would inject a bbox
    * conjunct over the wrong row's envelope and silently DROP matching
    * rows. A candidate is valid when it carries the geometry attribute's
    * qualifier (computed shadows — `withColumn(st_bbox)` frames) OR when
    * one LEAF plan provably outputs both attributes (table shadows; alias
    * resolution stamps predicate attrs with the subquery qualifier while
    * the relation's own outputs carry none, so qualifier equality alone
    * would decline every `t.g`-style reference). Anything else — zero or
    * several valid candidates — DECLINES (pruning lost, rows kept).
    */
  private def bindShadow(a: AttributeReference,
      scope: Scope): Option[AttributeReference] = {
    val cands = scope.out.collect {
      case b: AttributeReference if b.name == s"${a.name}_bbox" &&
        isShadowStruct(b.dataType) => b
    }
    def sameLeaf(b: AttributeReference): Boolean = scope.leaves.exists(l =>
      l.outputSet.exists(_.exprId == a.exprId) &&
        l.outputSet.exists(_.exprId == b.exprId))
    cands.filter(b => b.qualifier == a.qualifier || sameLeaf(b)) match {
      case Seq(one) => Some(one)
      case _ => None
    }
  }

  private def shadowLeaf(bbox: AttributeReference, n: String): Expression = {
    val names = bbox.dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames
    GetStructField(bbox, names.indexOf(n), Some(n))
  }

  /** The bbox-vs-constant-envelope conjunct for one shadow struct.
    *
    * NULL-SAFE per leaf: the bbox test is a NECESSARY condition only —
    * a row whose shadow is NULL (add_files-imported parquet, pre-shadow
    * generations null-filled by the fully-nullable read schema) must
    * fall through to the retained exact predicate, never be dropped by
    * And(NULL, true) = NULL. Per-LEAF IsNull keeps file pruning: stats
    * record zero nulls on shadow leaves of normal files, so
    * FileStats.canMatch(IsNull) still excludes them.
    *
    * The bounds are double `Literal`s here, for every consumer of the
    * logical plan; at execution [[HoistBboxBounds]] turns them into
    * generated-code references, so a new window reuses the compiled code.
    */
  private def envConjunct(bbox: AttributeReference, e: Envelope, mode: Mode): Expression = {
    val (xmin, ymin, xmax, ymax) = (shadowLeaf(bbox, "xmin"), shadowLeaf(bbox, "ymin"),
      shadowLeaf(bbox, "xmax"), shadowLeaf(bbox, "ymax"))
    def le(l: Expression, v: Double) =
      Or(IsNull(l), LessThanOrEqual(l, Literal(v, DoubleType)))
    def ge(l: Expression, v: Double) =
      Or(IsNull(l), GreaterThanOrEqual(l, Literal(v, DoubleType)))
    val cs = mode match {
      case Intersects =>
        Seq(le(xmin, e.getMaxX), ge(xmax, e.getMinX), le(ymin, e.getMaxY), ge(ymax, e.getMinY))
      case Covers => // geom covers Q: geom bbox encloses Q
        Seq(le(xmin, e.getMinX), ge(xmax, e.getMaxX), le(ymin, e.getMinY), ge(ymax, e.getMaxY))
      case CoveredBy => // Q covers geom: geom bbox inside Q
        Seq(ge(xmin, e.getMinX), le(xmax, e.getMaxX), ge(ymin, e.getMinY), le(ymax, e.getMaxY))
    }
    cs.reduce[Expression](And)
  }

  /** Geometry-vs-geometry: the SHADOW-vs-SHADOW interval test — bbox
    * overlap for intersects, bbox enclosure for covers(g1, g2). Null-safe
    * per leaf PAIR (either side's missing shadow falls through to the
    * exact predicate).
    */
  private def pairTranslate(g1e: Expression, g2e: Expression, out: Scope,
      covers: Boolean): Option[Expression] = (g1e, g2e) match {
    case (g1: AttributeReference, g2: AttributeReference) =>
      for {
        b1 <- bindShadow(g1, out)
        b2 <- bindShadow(g2, out)
      } yield {
        def le(l: Expression, r: Expression) =
          Or(Or(IsNull(l), IsNull(r)), LessThanOrEqual(l, r))
        val cs =
          if (!covers) Seq( // interval overlap on both axes
            le(shadowLeaf(b1, "xmin"), shadowLeaf(b2, "xmax")),
            le(shadowLeaf(b2, "xmin"), shadowLeaf(b1, "xmax")),
            le(shadowLeaf(b1, "ymin"), shadowLeaf(b2, "ymax")),
            le(shadowLeaf(b2, "ymin"), shadowLeaf(b1, "ymax")))
          else Seq( // g1 covers g2: g1's bbox encloses g2's
            le(shadowLeaf(b1, "xmin"), shadowLeaf(b2, "xmin")),
            le(shadowLeaf(b2, "xmax"), shadowLeaf(b1, "xmax")),
            le(shadowLeaf(b1, "ymin"), shadowLeaf(b2, "ymin")),
            le(shadowLeaf(b2, "ymax"), shadowLeaf(b1, "ymax")))
        cs.reduce[Expression](And)
      }
    case _ => None
  }

  private[spatial] def isShadowStruct(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case s: org.apache.spark.sql.types.StructType =>
      s.fields.length == 4 &&
        s.fields.map(_.name).toSet == Set("xmin", "ymin", "xmax", "ymax") &&
        s.fields.forall(_.dataType == DoubleType)
    case _ => false
  }
}

/** Session installation for the geo layer (the fork injects its rule via
  * `IcebergSparkSessionExtensions.scala:48-54`; Spark-native equivalent is
  * `spark.experimental.extraOptimizations`, which runs after the main
  * optimizer batches — constant folding has already collapsed
  * `st_makeenvelope(lits…)` into a binary literal by then).
  */
object Geo {
  def installRule(spark: SparkSession): Unit = {
    // SpatialJoinRewrite AFTER SpatialPredicatePushdown in the list: within
    // one fixpoint iteration the window-bound propagation (file pruning)
    // runs before the join shape is rewritten away
    val rules = Seq(SpatialPredicatePushdown, SpatialJoinRewrite,
      graft.plans.StatsAggregatePushdown, graft.sources.GraftScanFilterPushdown)
    val cur = spark.experimental.extraOptimizations
    val missing = rules.filterNot(cur.contains)
    if (missing.nonEmpty) {
      spark.experimental.extraOptimizations = cur ++ missing
    }
  }
  def install(spark: SparkSession): Unit = {
    graft.functions.GeoSql.install(spark)
    installRule(spark)
  }
}
