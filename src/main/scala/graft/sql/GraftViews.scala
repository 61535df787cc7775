package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, SubqueryExpression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, StringType}

import graft.sources.GraftView
import graft.spatial.Snapshots

/** Catalog-level views for graft catalogs — the rebuild of the reference's
  * `ResolveViews` extension path (`IcebergSparkSessionExtensions.scala:41-43`
  * in /root/reference). Spark 4.1 ships the `ViewCatalog` SPI (which
  * [[graft.sources.GraftCatalog]] implements for programmatic use) but no
  * analyzer support for it, so — exactly like the reference — the session
  * extension does the work:
  *
  *  - view DDL (`CREATE [OR REPLACE] VIEW`, `DROP VIEW`, `SHOW VIEWS`,
  *    `ALTER VIEW … RENAME TO`) parses here when the identifier lands in a
  *    registered graft catalog; everything else falls through to Spark;
  *  - view REFERENCES substitute at parse time: an `UnresolvedRelation`
  *    naming a stored view is replaced by its parsed SQL (re-entering the
  *    parser, so nested views compose), with single-part names inside the
  *    body qualified by the view's stored catalog/namespace context.
  */
object GraftViews {

  val ViewFileName = "_graft_view.json"

  // parenthesized groups are QUOTE-AWARE: `[^)']` or a complete
  // ''-escaped quoted string — a property value or column comment
  // containing ')' or ',' parses instead of silently falling through to
  // Spark's parser (round-7 advisor finding)
  private val Paren = """(?:[^)']|'(?:[^']|'')*')*"""

  private val CreateViewRe =
    ("""(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)""" +
      s"""\\s*(\\($Paren\\))?""" + // optional column list: (a, b COMMENT 'x')
      """\s*(?:COMMENT\s+'((?:[^']|'')*)')?""" + // optional view comment
      s"""\\s*(?:TBLPROPERTIES\\s*\\(($Paren)\\))?""" + // optional ('k'='v', …)
      """\s+AS\s+(.+?)\s*$""").r

  /** Split on top-level commas, quotes respected. */
  private def splitQuoteAware(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQ = false
    s.foreach {
      case '\'' => inQ = !inQ; cur += '\''
      case ',' if !inQ => out += cur.toString; cur.clear()
      case c => cur += c
    }
    if (cur.nonEmpty || s.trim.nonEmpty) out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** `a, b COMMENT 'doc'` → `(name, per-column comment)` pairs. */
  private def parseColList(s: String): Seq[(String, Option[String])] =
    splitQuoteAware(s.stripPrefix("(").stripSuffix(")")).map { c =>
      val m = """(?is)^(\w+)(?:\s+COMMENT\s+'((?:[^']|'')*)')?$""".r
      c match {
        case m(n, cm) => (n, Option(cm).map(_.replace("''", "'")))
        case other => throw new IllegalArgumentException(
          s"bad view column spec: $other")
      }
    }

  /** `'k' = 'v', 'k2'='v2'` → map (the TBLPROPERTIES body). */
  private def parseProps(s: String): Map[String, String] = {
    val Pair = """(?s)^\s*'((?:[^']|'')*)'\s*=\s*'((?:[^']|'')*)'\s*$""".r
    splitQuoteAware(s).map {
      case Pair(k, v) => k.replace("''", "'") -> v.replace("''", "'")
      case other => throw new IllegalArgumentException(
        s"bad TBLPROPERTIES entry: $other")
    }.toMap
  }
  private val DropViewRe =
    """(?is)^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?([\w.]+)\s*$""".r
  private val ShowViewsRe =
    """(?is)^\s*SHOW\s+VIEWS\s+(?:IN|FROM)\s+([\w.]+)\s*$""".r
  private val RenameViewRe =
    """(?is)^\s*ALTER\s+VIEW\s+([\w.]+)\s+RENAME\s+TO\s+([\w.]+)\s*$""".r
  private val SetViewPropsRe =
    (s"""(?is)^\\s*ALTER\\s+VIEW\\s+([\\w.]+)\\s+SET\\s+TBLPROPERTIES\\s*""" +
      s"""\\(($Paren)\\)\\s*$$""").r
  private val UnsetViewPropsRe =
    (s"""(?is)^\\s*ALTER\\s+VIEW\\s+([\\w.]+)\\s+UNSET\\s+TBLPROPERTIES\\s*""" +
      s"""(?:IF\\s+EXISTS\\s*)?\\(($Paren)\\)\\s*$$""").r

  private def spark: Option[SparkSession] = SparkSession.getActiveSession

  private def graftWarehouse(cat: String): Option[String] = spark.flatMap { s =>
    val impl = s.conf.getOption(s"spark.sql.catalog.$cat")
    if (impl.contains(classOf[graft.sources.GraftCatalog].getName))
      s.conf.getOption(s"spark.sql.catalog.$cat.warehouse")
    else None
  }

  private def isCatalogName(name: String): Boolean =
    name == "spark_catalog" ||
      spark.exists(_.conf.getOption(s"spark.sql.catalog.$name").isDefined)

  /** `(catalog, namespace, name, dir)` when `parts` lands in a graft
    * catalog — explicitly (`cat.ns.name`) or through the session's current
    * catalog/namespace. Session/global temp views shadow graft views
    * (Spark resolution order) unless `respectTempViews = false` (CREATE,
    * where the persistent and temp namespaces are distinct).
    */
  private def resolveIdent(parts: Seq[String], respectTempViews: Boolean = true)
      : Option[(String, Seq[String], String, java.nio.file.Path)] = {
    if (respectTempViews &&
        spark.exists(_.sessionState.catalog.isTempView(parts))) return None
    if (parts.length >= 2 && graftWarehouse(parts.head).isDefined) {
      val wh = graftWarehouse(parts.head).get
      val ns = parts.tail.init
      Some((parts.head, ns,
        parts.last, java.nio.file.Paths.get(wh, parts.tail: _*)))
    } else if (parts.length >= 2 && isCatalogName(parts.head)) {
      None // explicit non-graft catalog: never route into the graft warehouse
    } else spark.flatMap { s =>
      val cm = s.sessionState.catalogManager
      val cat = cm.currentCatalog.name
      graftWarehouse(cat).map { wh =>
        val ns = if (parts.length == 1) cm.currentNamespace.toSeq else parts.init
        (cat, ns, parts.last, java.nio.file.Paths.get(wh, (ns :+ parts.last): _*))
      }
    }
  }

  private def viewFile(dir: java.nio.file.Path): java.nio.file.Path =
    dir.resolve(ViewFileName)

  def tryParse(sql: String): Option[LogicalPlan] = sql match {
    case CreateViewRe(replace, ifNotExists, ident, colList, comment, props, query) =>
      resolveIdent(ident.split('.').toSeq, respectTempViews = false).map { case (_, _, name, dir) =>
        GraftCreateViewCommand(dir.toString, name, query.trim,
          replace != null, ifNotExists != null,
          cols = Option(colList).map(parseColList).getOrElse(Nil),
          comment = Option(comment).map(_.replace("''", "'")),
          props = Option(props).map(parseProps).getOrElse(Map.empty))
      }
    case DropViewRe(ifExists, ident) =>
      resolveIdent(ident.split('.').toSeq).map { case (_, _, name, dir) =>
        GraftDropViewCommand(dir.toString, name, ifExists != null)
      }
    case ShowViewsRe(ident) =>
      val parts = ident.split('.').toSeq
      val whNs: Option[(String, Seq[String])] =
        if (graftWarehouse(parts.head).isDefined)
          Some((graftWarehouse(parts.head).get, parts.tail))
        else None
      whNs.map { case (wh, ns) => GraftShowViewsCommand(wh, ns) }
    case RenameViewRe(from, to) =>
      for {
        (_, _, _, fromDir) <- resolveIdent(from.split('.').toSeq)
        (_, _, _, toDir) <- resolveIdent(to.split('.').toSeq)
        if java.nio.file.Files.exists(viewFile(fromDir))
      } yield GraftRenameViewCommand(fromDir.toString, toDir.toString)
    case SetViewPropsRe(ident, props) =>
      resolveIdent(ident.split('.').toSeq).filter(r => java.nio.file.Files.exists(viewFile(r._4)))
        .map { case (_, _, name, dir) =>
          GraftAlterViewPropsCommand(dir.toString, name, parseProps(props), unset = Nil)
        }
    case UnsetViewPropsRe(ident, keys) =>
      resolveIdent(ident.split('.').toSeq).filter(r => java.nio.file.Files.exists(viewFile(r._4)))
        .map { case (_, _, name, dir) =>
          val ks = keys.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
            .map(_.stripPrefix("'").stripSuffix("'").replace("''", "'"))
          GraftAlterViewPropsCommand(dir.toString, name, Map.empty, unset = ks)
        }
    case _ => None
  }

  // views currently being expanded on this thread, keyed by their dir —
  // re-entering one is a TRUE definition cycle. (A raw depth cap would
  // misfire on legitimately deep non-cyclic chains.)
  private val inFlight = new ThreadLocal[List[String]] { override def initialValue = Nil }
  // total expansions per top-level substitution: acyclic diamond nesting
  // (v_i joins v_{i-1} twice) re-expands siblings and can go exponential
  // without tripping cycle detection — bound the WORK, generously
  private val expansions = new ThreadLocal[Integer] { override def initialValue = Integer.valueOf(0) }
  private val MaxExpansions = 512

  // CTE names resolve case-insensitively unless the session opts into
  // case-sensitive analysis
  private def normName(n: String): String =
    if (org.apache.spark.sql.internal.SQLConf.get.caseSensitiveAnalysis) n
    else n.toLowerCase

  /** Bottom-up rewrite of every `UnresolvedRelation`, descending into
    * `UnresolvedWith` CTE definitions (innerChildren — `transformUp` skips
    * them) and subquery-expression plans (`IN`/`EXISTS`/scalar), threading
    * the set of in-scope CTE names so CTE references are never mistaken
    * for catalog relations. Scoping is SEQUENTIAL, matching Spark's
    * `CTESubstitution`: a definition sees only names declared before it
    * (plus its own under WITH RECURSIVE) — a self- or forward-reference
    * in a non-recursive WITH legitimately names a catalog relation and
    * must stay eligible for view substitution.
    */
  private def transformRelations(plan: LogicalPlan, scope: Set[String])(
      f: (UnresolvedRelation, Set[String]) => LogicalPlan): LogicalPlan = plan match {
    case w: UnresolvedWith =>
      var defScope = scope
      val newCtes = w.cteRelations.map { case (n, sa, opt) =>
        val bodyScope = if (w.allowRecursion) defScope + normName(n) else defScope
        val rewritten = transformRelations(sa, bodyScope)(f).asInstanceOf[SubqueryAlias]
        defScope += normName(n)
        (n, rewritten, opt)
      }
      w.copy(
        child = transformRelations(w.child, defScope)(f),
        cteRelations = newCtes)
    case u: UnresolvedRelation => f(u, scope)
    case other =>
      other.mapChildren(transformRelations(_, scope)(f)).transformExpressionsUp {
        case s: SubqueryExpression => s.withNewPlan(transformRelations(s.plan, scope)(f))
      }
  }

  private def isCteRef(parts: Seq[String], scope: Set[String]): Boolean =
    parts.length == 1 && scope.contains(normName(parts.head))

  /** Replace graft-view relations with their parsed, context-qualified SQL.
    * Nested views expand RECURSIVELY within one call (not one layer per
    * analyzer iteration): the whole tree resolves in a single rule firing
    * and a definition cycle — a→b→a — is detected by re-entry into an
    * in-flight view, with a clear error instead of running the analyzer
    * to its fixed-point iteration limit. Non-cyclic chains expand to any
    * depth.
    */
  def substitute(plan: LogicalPlan, parser: ParserInterface): LogicalPlan = {
    if (spark.isEmpty) return plan
    transformRelations(plan, Set.empty) { (u, scope) =>
      if (isCteRef(u.multipartIdentifier, scope)) u
      else resolveIdent(u.multipartIdentifier) match {
        case Some((_, _, name, dir)) if java.nio.file.Files.exists(viewFile(dir)) =>
          val key = dir.toString
          if (inFlight.get.contains(key))
            throw new IllegalStateException(
              s"cyclic view reference while expanding view $name")
          if (inFlight.get.isEmpty) expansions.set(0) // new top-level expansion
          expansions.set(expansions.get + 1)
          if (expansions.get > MaxExpansions)
            throw new IllegalStateException(
              s"view expansion exceeded $MaxExpansions references while expanding " +
                s"view $name — exponentially nested view definitions?")
          val view = GraftView.read(
            Identifier.of(Array.empty, name), viewFile(dir))
          inFlight.set(key :: inFlight.get)
          try {
            val child = parser.parsePlan(view.query)
            // single-part (and catalog-less) names inside the body
            // resolve in the view's STORED context, not the caller's;
            // CTE references defined by the body itself stay untouched.
            // A 2-part name whose head coincides with a catalog name is
            // genuinely catalog-qualified ONLY if the stored catalog has
            // no namespace of that name — otherwise the namespace
            // interpretation wins and the name re-qualifies into the
            // stored context (>=3 parts are always catalog-qualified)
            def storedNsExists(h: String): Boolean =
              graftWarehouse(view.currentCatalog).exists(wh =>
                java.nio.file.Files.isDirectory(java.nio.file.Paths.get(wh, h)))
            val qualified = transformRelations(child, Set.empty) { (r, inner) =>
              if (isCteRef(r.multipartIdentifier, inner) ||
                  (isCatalogName(r.multipartIdentifier.head) &&
                    (r.multipartIdentifier.length >= 3 ||
                      (r.multipartIdentifier.length == 2 &&
                        !storedNsExists(r.multipartIdentifier.head))))) r
              else {
                val parts =
                  if (r.multipartIdentifier.length == 1)
                    (view.currentCatalog +: view.currentNamespace.toSeq) :+
                      r.multipartIdentifier.head
                  else view.currentCatalog +: r.multipartIdentifier
                UnresolvedRelation(parts)
              }
            }
            // the analyzer's own Substitution batch already ran by the
            // time the resolution rule injects this body — apply CTE
            // substitution to the fragment ourselves so WITH-bodies
            // resolve (the reference's ResolveViews does the same), then
            // recurse so nested views expand within this same firing
            val body = substitute(
              org.apache.spark.sql.catalyst.analysis.CTESubstitution(qualified), parser)
            // declared column list renames the body's output, exactly the
            // `FROM (q) AS v(c1, c2)` analyzer shape
            val aliased =
              if (view.aliases.isEmpty) body
              else org.apache.spark.sql.catalyst.analysis
                .UnresolvedSubqueryColumnAliases(view.aliases.toSeq, body)
            SubqueryAlias(name, aliased)
          } finally inFlight.set(inFlight.get.tail)
        case _ => u
      }
    }
  }
}

/** Analyzer seat of view substitution — the `ResolveViews`-shaped rule the
  * reference installs (`IcebergSparkSessionExtensions.scala:41-43` in
  * /root/reference). Substituting during RESOLUTION rather than parsing
  * covers every plan entry point: `spark.table("cat.db.v")` and other
  * DataFrame-API reads never pass through the session parser. By the time
  * this rule runs, Spark's own `CTESubstitution` has already replaced
  * in-scope CTE references, so only genuine relations remain unresolved;
  * the rule is idempotent (a substituted view leaves no matching
  * `UnresolvedRelation`) and expands nested views recursively within one
  * firing, so cyclic definitions fail immediately on in-flight re-entry.
  */
case class GraftViewSubstitution(session: SparkSession)
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    GraftViews.substitute(plan, session.sessionState.sqlParser)
}

/** `CREATE [OR REPLACE] VIEW [IF NOT EXISTS] v [(col [COMMENT 'c'], …)]
  * [COMMENT 'doc'] [TBLPROPERTIES ('k'='v', …)] AS query` on a graft
  * catalog: validates the query in the CURRENT session context, stores
  * SQL + context + schema (+ declared column aliases/comments and
  * properties — the reference's full view-DDL surface). Stored SQL,
  * never materialized.
  */
case class GraftCreateViewCommand(dir: String, name: String, sql: String,
    replace: Boolean, ifNotExists: Boolean,
    cols: Seq[(String, Option[String])] = Nil,
    comment: Option[String] = None,
    props: Map[String, String] = Map.empty) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val d = java.nio.file.Paths.get(dir)
    val vp = d.resolve(GraftViews.ViewFileName)
    require(!Snapshots.isTable(dir),
      s"cannot create view $name: a table with this name exists")
    if (java.nio.file.Files.exists(vp) && !replace) {
      if (ifNotExists) return Seq.empty
      throw new IllegalStateException(s"view already exists: $name")
    }
    val schema = spark.sql(sql).schema // resolves + validates the body now
    require(cols.isEmpty || cols.size == schema.size,
      s"view column list has ${cols.size} names but the query produces ${schema.size} columns")
    // served schema carries the declared aliases (FROM (q) AS v(c1, c2))
    val served =
      if (cols.isEmpty) schema
      else org.apache.spark.sql.types.StructType(
        schema.fields.zip(cols).map { case (f, (n, _)) => f.copy(name = n) })
    val cm = spark.sessionState.catalogManager
    java.nio.file.Files.createDirectories(d)
    GraftView.write(vp, sql, cm.currentCatalog.name, cm.currentNamespace,
      served, schema.fieldNames,
      aliases = if (cols.isEmpty) Array.empty else cols.map(_._1).toArray,
      comments = if (cols.isEmpty) Array.empty else cols.map(_._2.getOrElse("")).toArray,
      props = props ++ comment.map("comment" -> _))
    Seq.empty
  }
}

case class GraftDropViewCommand(dir: String, name: String, ifExists: Boolean)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val d = java.nio.file.Paths.get(dir)
    val vp = d.resolve(GraftViews.ViewFileName)
    if (!java.nio.file.Files.exists(vp)) {
      if (ifExists) return Seq.empty
      throw new IllegalStateException(s"view not found: $name")
    }
    // delete ONLY the view definition (and the now-empty dir): a recursive
    // walk would take any tables or views nested under the view's
    // directory with it — namespaces are implicit directories, so
    // unrelated children can and do live there
    java.nio.file.Files.deleteIfExists(vp)
    try java.nio.file.Files.deleteIfExists(d) // fails if non-empty: fine
    catch { case _: java.nio.file.DirectoryNotEmptyException => () }
    Seq.empty
  }
}

case class GraftShowViewsCommand(warehouse: String, ns: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("namespace", StringType, nullable = false)(),
    AttributeReference("viewName", StringType, nullable = false)(),
    AttributeReference("isTemporary", BooleanType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val nsPath = java.nio.file.Paths.get(warehouse, ns: _*)
    if (!java.nio.file.Files.isDirectory(nsPath)) return Seq.empty
    graft.spatial.Snapshots.listDir(nsPath)(
      _.filter(p => java.nio.file.Files.exists(p.resolve(GraftViews.ViewFileName)))
        .map(p => Row(ns.mkString("."), p.getFileName.toString, false))
        .toSeq).sortBy(_.getString(1))
  }
}

case class GraftRenameViewCommand(fromDir: String, toDir: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val to = java.nio.file.Paths.get(toDir)
    require(!java.nio.file.Files.exists(to), s"target already exists: $toDir")
    java.nio.file.Files.createDirectories(to.getParent)
    java.nio.file.Files.move(java.nio.file.Paths.get(fromDir), to)
    Seq.empty
  }
}

/** `ALTER VIEW v SET TBLPROPERTIES ('k'='v', …)` / `UNSET TBLPROPERTIES
  * [IF EXISTS] ('k', …)` — merges into / removes from the stored view's
  * property map; everything else about the view is untouched.
  */
case class GraftAlterViewPropsCommand(dir: String, name: String,
    set: Map[String, String], unset: Seq[String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val vp = java.nio.file.Paths.get(dir).resolve(GraftViews.ViewFileName)
    val v = GraftView.read(Identifier.of(Array.empty, name), vp)
    import scala.jdk.CollectionConverters._
    val cur = v.properties().asScala.toMap
    GraftView.write(vp, v.query(), v.currentCatalog(), v.currentNamespace(),
      v.schema(), v.queryColumnNames(), v.columnAliases(), v.columnComments(),
      cur ++ set -- unset)
    Seq.empty
  }
}
