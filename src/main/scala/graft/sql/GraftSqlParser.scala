package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.spatial.{GeometryFields, Snapshots}

/** SQL surface for the geo layer — the Spark-native rebuild of the
  * reference's parser extension (`IcebergSqlExtensions.g4:69-82` +
  * `IcebergSqlExtensionsAstBuilder.scala:218-227` and
  * `SetGeometryFieldsExec.scala:43-73` in /root/reference):
  *
  *   ALTER TABLE '<path>' SET GEOMETRY FIELDS col AS 'wkb' [, col2 AS 'wkt']
  *   CALL graft.system.<procedure>(arg [, name => arg ...])
  *
  * Tables are path-addressed (quoted string or backquoted identifier).
  * Everything that isn't one of these two statements delegates to Spark's
  * parser, so the extension is a pure superset of Spark SQL.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  // view substitution happens during ANALYSIS ([[GraftViewSubstitution]]),
  // not here: API entries like spark.table() never pass through the parser
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftStatements.tryParse(sqlText).getOrElse(delegate.parsePlan(sqlText))

  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String) = delegate.parseDataType(sqlText)
  override def parseTableSchema(sqlText: String): StructType = delegate.parseTableSchema(sqlText)
}

object GraftStatements {

  private val AlterRe =
    """(?is)^\s*ALTER\s+TABLE\s+(\S+?|'[^']*')\s+SET\s+GEOMETRY\s+FIELDS\s+(.+?)\s*$""".r
  private val FieldRe = """(?is)^\s*([\w.`]+)\s+AS\s+'([^']*)'\s*$""".r
  // `CALL <catalog>.system.<proc>(...)` — the reference's procedure form
  // (SparkProcedures via any registered Iceberg catalog). `graft` always
  // works; any other catalog name is accepted iff the session registers
  // it as a graft catalog (checked at match time, so other extensions'
  // CALL statements pass through untouched).
  private val CallRe = """(?is)^\s*CALL\s+(\w+)\.system\.(\w+)\s*\((.*)\)\s*$""".r
  private val CreateRefRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(\S+?|'[^']*')\s+(CREATE\s+OR\s+REPLACE|CREATE|REPLACE)\s+""" +
      """(BRANCH|TAG)\s+(?:(IF\s+NOT\s+EXISTS)\s+)?(\w+)""" +
      """(?:\s+AS\s+OF\s+VERSION\s+(\d+))?""" +
      """(?:\s+RETAIN\s+(\d+)\s+(DAYS|HOURS|MINUTES))?""" +
      """(?:\s+(WITH)\s+SNAPSHOT\s+RETENTION(?:\s+(\d+)\s+SNAPSHOTS)?(?:\s+(\d+)\s+(DAYS|HOURS|MINUTES))?)?\s*$""").r
  private val DropRefRe =
    """(?is)^\s*ALTER\s+TABLE\s+(\S+?|'[^']*')\s+DROP\s+(BRANCH|TAG)\s+(?:(IF\s+EXISTS)\s+)?(\w+)\s*$""".r
  // declared write order (ref writeSpec / WRITE ORDERED BY in
  // IcebergSqlExtensions.g4; stored as the write.order table property)
  private val WriteOrderRe =
    """(?is)^\s*ALTER\s+TABLE\s+(\S+?|'[^']*')\s+WRITE\s+(LOCALLY\s+)?ORDERED\s+BY\s+(.+?)\s*$""".r
  private val WriteUnorderedRe =
    """(?is)^\s*ALTER\s+TABLE\s+(\S+?|'[^']*')\s+WRITE\s+UNORDERED\s*$""".r
  private val WriteDistRe =
    """(?is)^\s*ALTER\s+TABLE\s+(\S+?|'[^']*')\s+WRITE\s+DISTRIBUTED\s+BY\s+PARTITION(?:\s+LOCALLY\s+ORDERED\s+BY\s+(.+?))?\s*$""".r
  // identifier fields (ref IcebergSqlExtensions.g4:74-75)
  private val SetIdFieldsRe =
    """(?is)^\s*ALTER\s+TABLE\s+(\S+?|'[^']*')\s+SET\s+IDENTIFIER\s+FIELDS\s+(.+?)\s*$""".r
  private val DropIdFieldsRe =
    """(?is)^\s*ALTER\s+TABLE\s+(\S+?|'[^']*')\s+DROP\s+IDENTIFIER\s+FIELDS\s+(.+?)\s*$""".r
  // partition-spec evolution (ref IcebergSqlExtensions.g4:69-83)
  private val AddPartFieldRe =
    """(?is)^\s*ALTER\s+TABLE\s+(\S+?|'[^']*')\s+ADD\s+PARTITION\s+FIELD\s+(.+?)(?:\s+AS\s+(\w+))?\s*$""".r
  private val DropPartFieldRe =
    """(?is)^\s*ALTER\s+TABLE\s+(\S+?|'[^']*')\s+DROP\s+PARTITION\s+FIELD\s+(.+?)\s*$""".r
  private val ReplacePartFieldRe =
    """(?is)^\s*ALTER\s+TABLE\s+(\S+?|'[^']*')\s+REPLACE\s+PARTITION\s+FIELD\s+(.+?)\s+WITH\s+(.+?)(?:\s+AS\s+(\w+))?\s*$""".r

  // row-level DML on quoted PATH tables (a quoted string is never a valid
  // table name for Spark's parser) — or on MULTIPART IDENTIFIERS that
  // resolve to a registered GraftCatalog (anything else falls through to
  // the delegate untouched, so other catalogs keep Spark's native DML)
  private val DeleteRe =
    """(?is)^\s*DELETE\s+FROM\s+'([^']+)'\s+WHERE\s+(.+?)\s*$""".r
  private val UpdateRe = // SET/WHERE boundary found quote-aware, not here
    """(?is)^\s*UPDATE\s+'([^']+)'\s+SET\s+(.+?)\s*$""".r
  private val MergeRe =
    """(?is)^\s*MERGE\s+INTO\s+'([^']+)'\s+USING\s+\((.+)\)\s+ON\s+(\w+)\s*$""".r
  private val MergeFullRe = // aliases with or without AS (`'t' x` / `'t' AS x`)
    """(?is)^\s*MERGE\s+INTO\s+'([^']+)'(?:\s+(?:AS\s+)?(\w+))?\s+USING\s+\((.+?)\)(?:\s+(?:AS\s+)?(\w+))?\s+ON\s+(.+?)\s+(WHEN\s+.+?)\s*$""".r
  private val DeleteIdentRe =
    """(?is)^\s*DELETE\s+FROM\s+([\w.]+)\s+WHERE\s+(.+?)\s*$""".r
  private val UpdateIdentRe =
    """(?is)^\s*UPDATE\s+([\w.]+)\s+SET\s+(.+?)\s*$""".r
  private val MergeFullIdentRe =
    """(?is)^\s*MERGE\s+INTO\s+([\w.]+)(?:\s+(?:AS\s+)?(\w+))?\s+USING\s+\((.+?)\)(?:\s+(?:AS\s+)?(\w+))?\s+ON\s+(.+?)\s+(WHEN\s+.+?)\s*$""".r
  /** Warehouse path of `cat.ns….table` iff `cat` is a registered
    * [[graft.sources.GraftCatalog]] — resolved from the session conf
    * (`spark.sql.catalog.<cat>` + `.warehouse`), so no catalog
    * instantiation and no touching other catalogs' identifiers.
    */
  private[sql] def graftPath(ident: String): Option[(String, String)] =
    org.apache.spark.sql.SparkSession.getActiveSession.flatMap { spark =>
      val parts = ident.split('.').toSeq
      if (parts.length < 2) None
      else {
        val impl = spark.conf.getOption(s"spark.sql.catalog.${parts.head}")
        val wh = spark.conf.getOption(s"spark.sql.catalog.${parts.head}.warehouse")
        val graftImpl = impl.exists(i =>
          i == classOf[graft.sources.GraftCatalog].getName ||
            i == classOf[graft.sources.GraftSessionCatalog].getName)
        val backendKind = spark.conf.getOption(s"spark.sql.catalog.${parts.head}.backend")
        val restUri = spark.conf.getOption(s"spark.sql.catalog.${parts.head}.uri")
          .filter(_ => backendKind.contains("rest"))
        if (graftImpl && (wh.isDefined || restUri.isDefined)) {
          // metastore-backed catalogs (registry, REST) resolve ONLY
          // through the recorded (ident -> location) mapping — the table
          // may live anywhere, and a lookup miss means the identifier does
          // not exist. No layout fallback here: after a metadata-only
          // RENAME the conventional layout dir belongs to the RENAMED
          // table, and a fallback would let DML against the old name
          // silently mutate its data.
          val metastoreLookup: Option[Seq[String] => Option[String]] = backendKind match {
            case Some("registry") if wh.isDefined =>
              Some(t => graft.sources.RegistryBackend.lookup(wh.get, t))
            case Some("rest") if restUri.isDefined =>
              Some(t => graft.sources.RestBackend.lookup(restUri.get, t))
            case _ => None
          }
          if (metastoreLookup.isDefined) {
            val lookup = metastoreLookup.get
            val last = parts.last
            lookup(parts.tail)
              .map(_ -> "main")
              .orElse(if (last.startsWith("branch_") && parts.length > 2)
                lookup(parts.tail.dropRight(1))
                  .map(_ -> last.stripPrefix("branch_"))
              else None)
          } else {
            val full = java.nio.file.Paths.get(wh.get, parts.tail: _*)
            def isTable(p: java.nio.file.Path) = graft.spatial.Snapshots.isTable(p.toString)
            // branch-scoped DML target (`cat.db.t.branch_x`): resolve the
            // parent table and carry the branch as the write ref
            val last = parts.last
            if (!isTable(full) && last.startsWith("branch_") && parts.length > 2 &&
                isTable(full.getParent))
              Some((full.getParent.toString, last.stripPrefix("branch_")))
            // a TABLE must actually live at the layout path: resolving a
            // typo'd identifier to its would-be location lets DDL/DML
            // materialize a phantom table there instead of failing with
            // "not found" (every caller operates on existing tables)
            else if (isTable(full)) Some((full.toString, "main"))
            else None
          }
        } else None
      }
    }

  private def parseSets(sets: String): Seq[(String, String)] =
    splitTopLevel(sets).map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"bad SET clause: $a")
      a.take(i).trim -> a.drop(i + 1).trim
    }

  /** First occurrence of word `kw` outside quotes and parens (-1 = none):
    * the SET/WHERE boundary must not split inside a string literal
    * (`SET c = 'a WHERE b' WHERE id = 1`) or a parenthesized subquery.
    */
  private def keywordIndex(s: String, kw: String): Int = {
    var i = 0; var inQ = false; var depth = 0
    def isWordChar(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    while (i < s.length) {
      val c = s.charAt(i)
      // a backslash-escaped char inside a literal (Spark's default
      // non-ANSI escaping) must not toggle the quote state
      if (inQ && c == '\\') i += 1
      else if (c == '\'') inQ = !inQ
      else if (!inQ && c == '(') depth += 1
      else if (!inQ && c == ')') depth -= 1
      else if (!inQ && depth == 0 && s.regionMatches(true, i, kw, 0, kw.length) &&
        (i == 0 || !isWordChar(s.charAt(i - 1))) &&
        (i + kw.length == s.length || !isWordChar(s.charAt(i + kw.length))))
        return i
      i += 1
    }
    -1
  }

  /** Start indexes of every `WHEN` at quote/paren depth zero — the MERGE
    * clause boundaries. A regex lookahead is not quote-aware: a string
    * value containing " WHEN " would truncate its clause mid-literal.
    */
  private def whenStarts(s: String): Seq[Int] = {
    val out = Seq.newBuilder[Int]
    var i = 0; var inQ = false; var depth = 0
    def isWordChar(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ && c == '\\') i += 1
      else if (c == '\'') inQ = !inQ
      else if (!inQ && c == '(') depth += 1
      else if (!inQ && c == ')') depth -= 1
      else if (!inQ && depth == 0 && s.regionMatches(true, i, "WHEN", 0, 4) &&
        (i == 0 || !isWordChar(s.charAt(i - 1))) &&
        (i + 4 < s.length && !isWordChar(s.charAt(i + 4))))
        out += i
      i += 1
    }
    out.result()
  }

  private def splitUpdateBody(tbl: String, body: String,
      ref: String = "main"): Option[DmlCommand] = {
    val wi = keywordIndex(body, "WHERE")
    // no WHERE = update every row (standard SQL; Iceberg allows it too)
    if (wi < 0) Some(DmlCommand(tbl, "update", "true", parseSets(body), "", ref))
    else Some(DmlCommand(tbl, "update", body.substring(wi + 5).trim,
      parseSets(body.take(wi)), "", ref))
  }

  def tryParse(sql: String): Option[LogicalPlan] = {
    GraftViews.tryParse(sql) match {
      case some @ Some(_) => return some
      case None =>
    }
    val dml = sql match {
      case DeleteRe(tbl, cond) => Some(DmlCommand(tbl, "delete", cond, Nil, ""))
      case UpdateRe(tbl, body) => splitUpdateBody(tbl, body)
      case MergeFullRe(tbl, tAlias, src, sAlias, on, whens) =>
        Some(MergeIntoCommand(tbl, src, on, parseWhens(whens),
          Option(tAlias).getOrElse("t"), Option(sAlias).getOrElse("s")))
      case MergeRe(tbl, src, key) => Some(DmlCommand(tbl, "merge", src, Nil, key))
      case DeleteIdentRe(ident, cond) =>
        graftPath(ident).map { case (p, ref) => DmlCommand(p, "delete", cond, Nil, "", ref) }
      case UpdateIdentRe(ident, body) =>
        graftPath(ident).flatMap { case (p, ref) => splitUpdateBody(p, body, ref) }
      case MergeFullIdentRe(ident, tAlias, src, sAlias, on, whens) =>
        graftPath(ident).map { case (p, ref) => MergeIntoCommand(p, src, on, parseWhens(whens),
          Option(tAlias).getOrElse("t"), Option(sAlias).getOrElse("s"), ref,
          catalogIdent = Some(ident).filter(_ => ref == "main")) }
      case _ => None
    }
    dml.orElse(tryParseDdl(sql))
  }

  /** Ordered WHEN clauses of a full MERGE. */
  private val WhenHeadRe =
    """(?is)^\s*(NOT\s+)?MATCHED(?:\s+BY\s+(SOURCE|TARGET))?(?:\s+AND\s+(.+))?\s*$""".r

  private def parseWhens(text: String): Seq[Snapshots.MergeClause] = {
    // clause boundaries come from a quote/paren-aware scan, and the
    // head/action split from keywordIndex — a regex lookahead would stop
    // at a WHEN (or THEN) inside a string literal
    val starts = whenStarts(text)
    val clauses = starts.zipWithIndex.map { case (st, k) =>
      val end = if (k + 1 < starts.length) starts(k + 1) else text.length
      val clause = text.substring(st + 4, end)
      val ti = keywordIndex(clause, "THEN")
      require(ti >= 0, s"bad MERGE WHEN clause (no THEN): WHEN$clause")
      val (matched, by, cond) = clause.take(ti) match {
        case WhenHeadRe(not, byG, condG) =>
          (not == null, Option(byG).map(_.toUpperCase), Option(condG).map(_.trim))
        case bad => throw new IllegalArgumentException(
          s"bad MERGE WHEN clause: WHEN$bad")
      }
      require(by.isEmpty || !matched, "BY SOURCE/TARGET is only valid after NOT MATCHED")
      val bySource = by.contains("SOURCE") // NOT MATCHED [BY TARGET] = source-side
      val act = clause.substring(ti + 4).trim
      val lower = act.toLowerCase
      if (lower.startsWith("update")) {
        val sets = splitTopLevel(act.replaceFirst("(?is)^UPDATE\\s+SET\\s+", "")).map { a =>
          val i = a.indexOf('=')
          require(i > 0, s"bad SET clause: $a")
          a.take(i).trim -> a.drop(i + 1).trim
        }
        Snapshots.MergeClause(matched, cond, "update", sets = sets, bySource = bySource)
      } else if (lower == "delete") {
        Snapshots.MergeClause(matched, cond, "delete", bySource = bySource)
      } else if (lower.replaceAll("\\s", "") == "insert*") {
        Snapshots.MergeClause(matched, cond, "insert", bySource = bySource)
      } else {
        val InsertRe = """(?is)^INSERT\s*\(([^)]*)\)\s*VALUES\s*\((.*)\)\s*$""".r
        act match {
          case InsertRe(cols, vals) =>
            Snapshots.MergeClause(matched, cond, "insert",
              insertCols = Some(splitTopLevel(cols).map(stripQuotes)),
              insertVals = Some(splitTopLevel(vals)), bySource = bySource)
          case bad => throw new IllegalArgumentException(s"bad MERGE action: $bad")
        }
      }
    }.toSeq
    require(clauses.nonEmpty, "MERGE needs WHEN clauses")
    clauses.foreach { c =>
      if (c.matched)
        require(c.action != "insert", "WHEN MATCHED supports UPDATE or DELETE")
      else if (c.bySource)
        require(c.action != "insert",
          "WHEN NOT MATCHED BY SOURCE supports UPDATE or DELETE")
      else
        require(c.action == "insert", "WHEN NOT MATCHED [BY TARGET] supports only INSERT")
    }
    clauses
  }

  private def tryParseDdl(sql: String): Option[LogicalPlan] = sql match {
    case AlterRe(tbl, fieldList) =>
      val fields = splitTopLevel(fieldList).map {
        case FieldRe(c, enc) => stripQuotes(c) -> enc.toLowerCase
        case bad => throw new IllegalArgumentException(
          s"SET GEOMETRY FIELDS expects `col AS 'encoding'`, got: $bad")
      }
      // resolveTable like every sibling DDL: a catalog identifier must
      // not be treated as a literal filesystem path
      Some(SetGeometryFieldsCommand(resolveTable(tbl), fields))
    case WriteDistRe(tbl, order) =>
      Some(WriteDistributionCommand(resolveTable(tbl), Option(order).map(_.trim)))
    case WriteOrderRe(tbl, locally, order) =>
      Some(WriteOrderCommand(resolveTable(tbl), Some(order.trim), local = locally != null))
    case WriteUnorderedRe(tbl) =>
      Some(WriteOrderCommand(resolveTable(tbl), None))
    case SetIdFieldsRe(tbl, cols) =>
      Some(IdentifierFieldsCommand(resolveTable(tbl),
        splitTopLevel(cols).map(stripQuotes), drop = false))
    case DropIdFieldsRe(tbl, cols) =>
      Some(IdentifierFieldsCommand(resolveTable(tbl),
        splitTopLevel(cols).map(stripQuotes), drop = true))
    case ReplacePartFieldRe(tbl, oldSpec, newSpec, asName) =>
      Some(PartitionFieldCommand(resolveTable(tbl),
        add = Seq(namedSpec(normSpec(newSpec), Option(asName))),
        drop = Seq(normSpec(oldSpec))))
    case AddPartFieldRe(tbl, spec, asName) =>
      Some(PartitionFieldCommand(resolveTable(tbl),
        add = Seq(namedSpec(normSpec(spec), Option(asName)))))
    case DropPartFieldRe(tbl, spec) =>
      Some(PartitionFieldCommand(resolveTable(tbl), drop = Seq(normSpec(spec))))
    case CreateRefRe(tbl, verb, kind, ifNotExists, name, version, retainN, retainUnit,
        retentionKw, minSnaps, ageN, ageUnit) =>
      def ms(unit: String): Long = unit.toUpperCase match {
        case "DAYS" => 86400000L
        case "HOURS" => 3600000L
        case _ => 60000L
      }
      // ref grammar: the clause requires at least one of
      // minSnapshotsToKeep / maxSnapshotAge — a bare clause is an error,
      // not a silent no-op retention policy
      require(retentionKw == null || minSnaps != null || ageN != null,
        "WITH SNAPSHOT RETENTION needs `<n> SNAPSHOTS` and/or `<n> DAYS|HOURS|MINUTES`")
      val v = verb.toUpperCase.replaceAll("\\s+", " ")
      Some(RefCommand(resolveTable(tbl), s"create_${kind.toLowerCase}", name,
        Option(version).map(_.toInt),
        retainMs = Option(retainN).map(n => n.toLong * ms(retainUnit)),
        minSnapshotsKeep = Option(minSnaps).map(_.toInt),
        maxSnapshotAgeMs = Option(ageN).map(n => n.toLong * ms(ageUnit)),
        replace = v != "CREATE",
        orCreate = v != "REPLACE",
        ifNotExists = ifNotExists != null))
    case DropRefRe(tbl, kind, ifExists, name) =>
      Some(RefCommand(resolveTable(tbl), s"drop_${kind.toLowerCase}", name, None,
        ifExists = ifExists != null))
    case CallRe(cat, proc, argList) if cat.equalsIgnoreCase("graft") || isGraftCatalog(cat) =>
      val (pos, named) = parseArgs(splitTopLevel(argList))
      Some(CallProcedureCommand(proc.toLowerCase, pos, named, cat))
    case _ => None
  }

  /** Is `cat` registered as a graft catalog in the active session? */
  private[sql] def isGraftCatalog(cat: String): Boolean =
    org.apache.spark.sql.SparkSession.getActiveSession.exists { spark =>
      spark.conf.getOption(s"spark.sql.catalog.$cat").exists(i =>
        i == classOf[graft.sources.GraftCatalog].getName ||
          i == classOf[graft.sources.GraftSessionCatalog].getName)
    }

  /** A quoted string is a literal path; a bare identifier resolves through
    * a registered GraftCatalog when one matches, else it IS the path.
    */
  private def resolveTable(tbl: String): String = {
    val stripped = stripQuotes(tbl)
    if (tbl.trim.startsWith("'")) stripped
    else graftPath(stripped).map(_._1).getOrElse(stripped)
  }

  /** Iceberg grammar accepts plural transform names (`years(ts)`). */
  private def normSpec(spec: String): String =
    spec.trim.replaceAll("(?i)^(year|month|day|hour)s\\s*\\(", "$1(")

  /** `ADD PARTITION FIELD bucket(4, id) AS shard` (ref grammar's
    * `AS name=identifier`): the explicit name becomes the derived
    * directory column. Only bucket/truncate carry custom names — the
    * other transforms derive fixed directory columns.
    */
  private def namedSpec(spec: String, as: Option[String]): String = as match {
    case None => spec
    case Some(n) => graft.spatial.Transforms.parse(spec) match {
      case b: graft.spatial.Transforms.Bucket => b.copy(name = Some(n)).spec
      case t: graft.spatial.Transforms.Truncate => t.copy(name = Some(n)).spec
      case other => throw new IllegalArgumentException(
        s"AS $n: only bucket/truncate partition fields accept an explicit name " +
          s"(got ${other.spec})")
    }
  }

  private def stripQuotes(s: String): String = {
    val t = s.trim
    if ((t.startsWith("'") && t.endsWith("'")) || (t.startsWith("`") && t.endsWith("`")))
      t.substring(1, t.length - 1)
    else t
  }

  /** Split on top-level commas (quotes respected). */
  /** Split on commas at quote AND paren depth zero — a comma inside a
    * function call (`SET a = coalesce(b, 0)`) or an escaped quote inside
    * a literal must not split the clause.
    */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQuote = false
    var depth = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuote && c == '\\' && i + 1 < s.length) {
        cur += c; cur += s.charAt(i + 1); i += 1
      } else {
        if (c == '\'') inQuote = !inQuote
        else if (!inQuote && c == '(') depth += 1
        else if (!inQuote && c == ')') depth -= 1
        if (c == ',' && !inQuote && depth == 0) { out += cur.toString; cur.clear() }
        else cur += c
      }
      i += 1
    }
    if (cur.nonEmpty || s.trim.nonEmpty) out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** `value` or `name => value`; values are 'strings', longs, doubles,
    * or booleans (the reference's constant callArgument rule).
    */
  private def parseArgs(args: Seq[String]): (Seq[Any], Map[String, Any]) = {
    val pos = Seq.newBuilder[Any]
    val named = Map.newBuilder[String, Any]
    args.foreach { a =>
      val i = a.indexOf("=>")
      if (i >= 0 && !a.take(i).contains('\'')) {
        named += a.take(i).trim.toLowerCase -> parseValue(a.drop(i + 2).trim)
      } else pos += parseValue(a)
    }
    (pos.result(), named.result())
  }

  private def parseValue(v: String): Any = {
    val t = v.trim
    // SQL escaping: a doubled quote inside a string literal is one quote
    // ('SELECT ''x''' carries SELECT 'x') — leaving it doubled corrupts
    // any argument with an apostrophe (view bodies, filter strings)
    if (t.startsWith("'") && t.endsWith("'"))
      t.substring(1, t.length - 1).replace("''", "'")
    else if (t.equalsIgnoreCase("true")) true
    else if (t.equalsIgnoreCase("false")) false
    else if (t.matches("[-+]?\\d+")) t.toLong
    else if (t.matches("[-+]?\\d*\\.\\d+([eE][-+]?\\d+)?")) t.toDouble
    else throw new IllegalArgumentException(s"unsupported CALL argument: $t")
  }
}

/** `ALTER TABLE '<path>' SET GEOMETRY FIELDS c AS 'enc' [, ...]` — promote
  * (or demote, enc = 'none') columns with physical-type validation.
  */
case class SetGeometryFieldsCommand(path: String, fields: Seq[(String, String)])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    fields.foreach { case (c, enc) =>
      GeometryFields.setGeometryField(spark, path, c, enc)
    }
    Seq.empty
  }
}

/** Row-level DML on path tables: `DELETE FROM '<path>' WHERE cond`,
  * `UPDATE '<path>' SET c = e [, ...] WHERE cond`, and
  * `MERGE INTO '<path>' USING (query) ON key` — mapped onto the
  * copy-on-write snapshot operations (the reference's
  * `SparkCopyOnWriteOperation` surface, reached there through Spark's
  * native DML on catalog tables).
  */
case class DmlCommand(path: String, op: String, condOrSrc: String,
    assignments: Seq[(String, String)], key: String,
    ref: String = "main") extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.expr
    graft.spatial.Geo.install(spark)
    val v = op match {
      case "delete" => Snapshots.delete(spark, path, expr(condOrSrc), ref)
      case "update" => Snapshots.update(spark, path, expr(condOrSrc),
        assignments.map { case (c, e) => c -> expr(e) }.toMap, ref)
      case "merge" => Snapshots.mergeUpsert(spark, path, spark.sql(condOrSrc), key, ref)
    }
    Seq(Row(v.toLong))
  }
}

/** `ALTER TABLE t WRITE [LOCALLY] ORDERED BY
  * hilbert(geom,res,minX,minY,maxX,maxY)` (or a column list) /
  * `WRITE UNORDERED` — declares the write order as table metadata so
  * EVERY later write (plain `INSERT INTO`, appends, rewrites) applies it;
  * the reference stores sort orders the same way
  * (`SortOrderToSpark.java:87-104`). LOCALLY sorts within the incoming
  * tasks only — no range exchange (the reference's LOCALLY ORDERED BY).
  */
case class WriteOrderCommand(path: String, order: Option[String],
    local: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = order match {
      case Some(o) => Snapshots.updateProperties(path,
        Map("write.order" -> o) ++
          (if (local) Map("write.order.mode" -> "local") else Map.empty),
        unset = if (local) Nil else Seq("write.order.mode"))
      case None => Snapshots.updateProperties(path, Map.empty,
        unset = Seq("write.order", "write.order.mode"))
    }
    Seq(Row(v.toLong))
  }
}

/** `ALTER TABLE t WRITE DISTRIBUTED BY PARTITION [LOCALLY ORDERED BY …]`
  * — hash-distribute writes onto the partition transforms (stored as
  * `write.distribution-mode = hash`), optionally with a local sort order;
  * the reference's write distribution modes (`SparkWriteUtil.java`).
  */
case class WriteDistributionCommand(path: String, order: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    // the declared order is LOCALLY ORDERED: record the mode, so if the
    // hash-distribution branch ever stops applying (partition fields all
    // dropped), later writes sort within tasks instead of paying a
    // cluster-wide range exchange the user never asked for
    val props = Map("write.distribution-mode" -> "hash") ++
      order.map("write.order" -> _) ++
      order.map(_ => "write.order.mode" -> "local")
    Seq(Row(Snapshots.updateProperties(path, props).toLong))
  }
}

/** `ALTER TABLE t SET|DROP IDENTIFIER FIELDS c1 [, c2 …]` — declares the
  * row-identity columns (ref `IcebergSqlExtensions.g4:74-75`,
  * `UpdateSchema.setIdentifierFields`). Surfaced as the
  * `identifier-fields` table property; [[Snapshots.upsert]] reads them as
  * the default merge keys (the CDC use the declaration exists for).
  */
case class IdentifierFieldsCommand(path: String, cols: Seq[String], drop: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = if (drop) Snapshots.dropIdentifierFields(spark, path, cols)
      else Snapshots.setIdentifierFields(spark, path, cols)
    Seq(Row(v.toLong))
  }
}

/** `ALTER TABLE t ADD|DROP PARTITION FIELD spec` / `REPLACE … WITH …` —
  * partition-spec evolution (ref `IcebergSqlExtensions.g4:69-83`):
  * metadata-only commit; existing files keep their layout generation.
  */
case class PartitionFieldCommand(path: String, add: Seq[String] = Nil,
    drop: Seq[String] = Nil) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(Snapshots.evolvePartitionSpec(path, add, drop).toLong))
}

/** `ALTER TABLE t (CREATE [OR REPLACE]|REPLACE) BRANCH|TAG [IF NOT
  * EXISTS] name [AS OF VERSION n] [RETAIN n DAYS|HOURS|MINUTES]
  * [WITH SNAPSHOT RETENTION [k SNAPSHOTS] [n DAYS|HOURS|MINUTES]]` and
  * `DROP BRANCH|TAG [IF EXISTS] name` — the reference's ref DDL
  * (`IcebergSqlExtensions.g4:85-120` createReplaceBranchClause /
  * createReplaceTagClause incl. every retention clause shape). Retention
  * stores per-ref ([[Snapshots.setRefRetention]]) and is honored by
  * `expire_snapshots`.
  */
case class RefCommand(path: String, op: String, name: String, version: Option[Int],
    retainMs: Option[Long] = None, minSnapshotsKeep: Option[Int] = None,
    maxSnapshotAgeMs: Option[Long] = None, replace: Boolean = false,
    orCreate: Boolean = true, ifNotExists: Boolean = false, ifExists: Boolean = false)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val isBranch = op.endsWith("branch")
    if (!isBranch)
      require(minSnapshotsKeep.isEmpty && maxSnapshotAgeMs.isEmpty,
        "SNAPSHOT RETENTION applies to branches only")
    op match {
      case "create_branch" | "create_tag" =>
        val exists = {
          val (bs, ts) = Snapshots.readRefs(path)
          bs.contains(name) || ts.contains(name)
        }
        if (exists && ifNotExists) () // IF NOT EXISTS: silent no-op
        else {
          if (replace)
            Snapshots.replaceRef(path, name, version, branch = isBranch,
              mustExist = !orCreate)
          else if (isBranch) Snapshots.createBranch(path, name, version)
          else Snapshots.createTag(path, name, version)
          Snapshots.setRefRetention(path, name, retainMs,
            if (isBranch) minSnapshotsKeep else None,
            if (isBranch) maxSnapshotAgeMs else None)
        }
      case "drop_branch" | "drop_tag" =>
        val (bs, ts) = Snapshots.readRefs(path)
        val exists = if (isBranch) bs.contains(name) else ts.contains(name)
        if (!exists && ifExists) () // IF EXISTS: silent no-op
        else if (isBranch) Snapshots.dropBranch(path, name)
        else Snapshots.dropTag(path, name)
    }
    Seq.empty
  }
}

/** Full `MERGE INTO '<path>' USING (query) ON cond WHEN ...` — ordered
  * clauses (incl. `WHEN NOT MATCHED BY SOURCE`) lowered onto
  * [[Snapshots.mergeInto]], which honors `write.merge.mode`
  * (copy-on-write rewrite or position-delta merge-on-read).
  */
case class MergeIntoCommand(path: String, sourceSql: String, onSql: String,
    clauses: Seq[Snapshots.MergeClause], targetAlias: String, sourceAlias: String,
    ref: String = "main",
    /** Original `cat.db.t` identifier when the target was named through a
      * graft catalog — lets the CoW merge read its affected files through
      * the CATALOG scan (storage-partitioned join when co-bucketed).
      */
    catalogIdent: Option[String] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    graft.spatial.Geo.install(spark)
    val v = Snapshots.mergeInto(spark, path, spark.sql(sourceSql), onSql, clauses,
      targetAlias, sourceAlias, ref, catalogIdent)
    Seq(Row(v.toLong))
  }
}

/** `CALL graft.system.<proc>(...)` — maintenance procedures over the
  * snapshot layer (the reference ships these under
  * `spark/v3.5/spark/src/main/java/org/apache/iceberg/spark/procedures/`).
  */
case class CallProcedureCommand(proc: String, pos: Seq[Any], named: Map[String, Any],
    catalog: String = "graft")
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("result", LongType, nullable = false)(),
    AttributeReference("detail", StringType, nullable = false)())

  private def arg(i: Int, name: String): Any =
    named.getOrElse(name, if (pos.length > i) pos(i)
    else throw new IllegalArgumentException(s"$proc: missing argument '$name'"))
  private def argOpt(i: Int, name: String): Option[Any] =
    named.get(name).orElse(pos.lift(i))
  private def str(v: Any): String = v.toString
  private def int(v: Any): Int = v match {
    // NO silent truncation: an epoch-millis timestamp passed where a small
    // int is expected (expire_snapshots' positional older_than convention)
    // must error, not wrap into a garbage negative that empties a keep set
    case l: Long =>
      if (l.isValidInt) l.toInt
      else throw new IllegalArgumentException(s"integer argument out of range: $l")
    case i: Int => i
    case s: String => s.toInt
    case other => throw new IllegalArgumentException(s"expected integer, got $other")
  }
  private def long(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case s: String => s.toLong
    case other => throw new IllegalArgumentException(s"expected integer, got $other")
  }
  /** Epoch millis from a long or a `'yyyy-MM-dd HH:mm:ss'` timestamp string. */
  private def millis(v: Any): Long = v match {
    case l: Long => l
    case s: String => java.sql.Timestamp.valueOf(s).getTime
    case other => throw new IllegalArgumentException(s"bad timestamp: $other")
  }

  override def run(spark: SparkSession): Seq[Row] = {
    // the first argument names the table: a filesystem path (always
    // worked), a fully-qualified `cat.db.t`, or — reference style — an
    // identifier relative to the CALL's own catalog
    // (`CALL gcat.system.proc('db.t')`)
    val rawTable = str(arg(0, "table"))
    val table =
      if (graft.spatial.Snapshots.isTable(rawTable)) rawTable
      else GraftStatements.graftPath(rawTable).map(_._1)
        .orElse(GraftStatements.graftPath(s"$catalog.$rawTable").map(_._1))
        .getOrElse(rawTable)
    proc match {
      case "expire_snapshots" =>
        // `keep` doubles as the reference's retain_last when older_than is
        // given. Args absent -> the table's declared history.expire.*
        // properties supply the defaults (the reference's RemoveSnapshots
        // property seam, TableProperties.java:329-333). Deviation, stated:
        // no implicit 5-day age default when the property is undeclared —
        // that safety default would make the bare procedure a no-op on
        // every short-lived table; production tables declare the window.
        val props = if (Snapshots.currentVersion(table) > 0)
          Snapshots.readProps(table) else Map.empty[String, String]
        val keep = argOpt(1, "keep").orElse(named.get("retain_last")).map(int)
          .orElse(props.get("history.expire.min-snapshots-to-keep").map(_.toInt))
          .getOrElse(1)
        val olderThan = named.get("older_than").map(millis)
          .orElse(props.get("history.expire.max-snapshot-age-ms").map(ms =>
            System.currentTimeMillis() - ms.toLong))
        val deleted = Snapshots.expireSnapshots(spark, table, keep, olderThan)
        Seq(Row(deleted.toLong, "deleted_data_files"))
      case "remove_orphan_files" =>
        Seq(Row(Snapshots.removeOrphanFiles(spark, table,
          named.get("older_than").map(millis)).toLong, "deleted_orphan_files"))
      case "compute_table_stats" =>
        // per-column NDV in one approx_count_distinct pass, stored as
        // snapshot properties and served to the CBO (columns => 'a,b'
        // restricts; default = every eligible column)
        val cols = named.get("columns").map(str).toSeq
          .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
        val (v, ndv) = Snapshots.computeTableStats(spark, table, cols)
        Seq(Row(v.toLong, s"ndv_columns=${ndv.size}"))
      case "compute_partition_stats" =>
        // the reference's partition-statistics file: per-partition
        // aggregates persisted + snapshot-stamped, computed from the
        // manifest alone (zero data-file reads); served by the
        // `partition_stats` metadata table
        val (v, np) = Snapshots.computePartitionStats(spark, table)
        Seq(Row(v.toLong, s"partitions=$np"))
      case "rewrite_data_files" =>
        // two surfaces, matching the reference procedure
        // (RewriteDataFilesProcedure.java): the strategy form
        //   (table, strategy => 'binpack'|'sort', sort_order => 'c [DESC], …',
        //    where => '<predicate>', target_file_size => bytes)
        // and the legacy positional hilbert form (table, geometry_col,
        // num_files[, resolution]). sort_order => 'hilbert(col, res)' also
        // routes to the hilbert rewrite.
        val newForm = named.contains("strategy") || named.contains("sort_order") ||
          named.contains("where") || named.contains("target_file_size")
        if (!newForm && argOpt(1, "geometry_col").isDefined) {
          val v = Snapshots.rewriteCompact(spark, table,
            str(arg(1, "geometry_col")), int(arg(2, "num_files")),
            argOpt(3, "resolution").map(int).getOrElse(graft.spatial.GeoTable.DefaultResolution))
          Seq(Row(v.toLong, "new_version"))
        } else {
          val orderSpec = named.get("sort_order").map(str)
          val hilbert = orderSpec.map(_.trim).filter(_.toLowerCase.startsWith("hilbert("))
          // `zorder(c1, …, cN)` — multi-column Z-order clustering, the
          // reference's SparkZOrderDataRewriter surface
          val zorder = orderSpec.map(_.trim).filter(_.toLowerCase.startsWith("zorder("))
          hilbert match {
            case Some(h) =>
              val inner = h.substring(h.indexOf('(') + 1, h.lastIndexOf(')'))
                .split(',').map(_.trim)
              val res = if (inner.length > 1) inner(1).toInt
                else graft.spatial.GeoTable.DefaultResolution
              val n = named.get("num_files").map(int).getOrElse(
                spark.sparkContext.defaultParallelism)
              val v = Snapshots.rewriteCompact(spark, table, inner(0), n, res)
              Seq(Row(v.toLong, "new_version"))
            case None =>
              val zcols = zorder.toSeq.flatMap { z =>
                z.substring(z.indexOf('(') + 1, z.lastIndexOf(')'))
                  .split(',').map(_.trim).filter(_.nonEmpty).toSeq
              }
              val order =
                if (zcols.nonEmpty) Nil
                else orderSpec.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
                  .map { tok =>
                    val parts = tok.split("\\s+")
                    (parts(0), !(parts.length > 1 && parts(1).equalsIgnoreCase("desc")))
                  }
              val strategy = named.get("strategy").map(str)
                .getOrElse(if (order.nonEmpty || zcols.nonEmpty) "sort" else "binpack")
              val (v, rewritten) = Snapshots.rewriteDataFiles(spark, table, strategy, order,
                named.get("where").map(w => org.apache.spark.sql.functions.expr(str(w))),
                named.get("target_file_size").map(a => long(a)), zorderCols = zcols)
              Seq(Row(v.toLong, s"rewritten_files=$rewritten"))
          }
        }
      case "rollback_to_snapshot" =>
        Seq(Row(Snapshots.rollback(spark, table, int(arg(1, "version"))).toLong, "new_version"))
      case "rollback_to_timestamp" =>
        val ts = arg(1, "timestamp") match {
          case l: Long => l
          case s: String => java.sql.Timestamp.valueOf(s).getTime
          case other => throw new IllegalArgumentException(s"bad timestamp: $other")
        }
        Seq(Row(Snapshots.rollbackToTimestamp(spark, table, ts).toLong, "new_version"))
      case "set_current_snapshot" =>
        Seq(Row(Snapshots.setCurrentSnapshot(spark, table, int(arg(1, "version"))).toLong,
          "new_version"))
      case "cherrypick_snapshot" =>
        Seq(Row(Snapshots.cherrypick(spark, table, int(arg(1, "version"))).toLong, "new_version"))
      case "add_files" =>
        val (v, n) = Snapshots.addFiles(spark, table)
        Seq(Row(n.toLong, s"files_added;new_version=$v"))
      case "add_column" =>
        // Iceberg's uuid/fixed[n]/time primitives (no Spark twin) map to
        // their physical types and record the declared type in the
        // _graft_xtypes sidecar ([[graft.spatial.ExtendedTypes]])
        val typeSpec = str(arg(2, "type"))
        graft.spatial.ExtendedTypes.parse(typeSpec) match {
          case Some(x) =>
            // write-path validation matches top-level frame columns —
            // a nested declaration would sit inert in the sidecar
            require(!str(arg(1, "name")).contains("."),
              s"extended type ${x.spec} is only supported on top-level columns")
            graft.spatial.TableSchema.addColumn(spark, table, str(arg(1, "name")), x.physical)
            graft.spatial.ExtendedTypes.declare(table, str(arg(1, "name")), x)
          case None =>
            graft.spatial.TableSchema.addColumn(spark, table, str(arg(1, "name")),
              org.apache.spark.sql.types.DataType.fromDDL(typeSpec))
        }
        Seq(Row(1L, s"added=${str(arg(1, "name"))}"))
      case "rename_column" =>
        graft.spatial.TableSchema.renameColumn(spark, table,
          str(arg(1, "from")), str(arg(2, "to")))
        graft.spatial.ExtendedTypes.onRename(table, str(arg(1, "from")), str(arg(2, "to")))
        Seq(Row(1L, s"renamed=${str(arg(1, "from"))}->${str(arg(2, "to"))}"))
      case "drop_column" =>
        graft.spatial.TableSchema.dropColumn(spark, table, str(arg(1, "name")))
        graft.spatial.ExtendedTypes.onDrop(table, str(arg(1, "name")))
        Seq(Row(1L, s"dropped=${str(arg(1, "name"))}"))
      case "fast_forward" =>
        Snapshots.fastForward(table, str(arg(1, "branch")), int(arg(2, "version")))
        Seq(Row(int(arg(2, "version")).toLong, "branch_moved"))
      case "create_view" =>
        graft.spatial.Views.createOrReplace(spark, table,
          str(arg(1, "name")), str(arg(2, "sql")))
        Seq(Row(1L, s"view=${str(arg(1, "name"))}"))
      case "drop_view" =>
        graft.spatial.Views.drop(table, str(arg(1, "name")))
        Seq(Row(1L, s"dropped_view=${str(arg(1, "name"))}"))
      case "resolve_views" =>
        val names = graft.spatial.Views.installAll(spark, table)
        Seq(Row(names.size.toLong, names.mkString(",")))
      case "create_changelog_view" =>
        val view = str(arg(3, "view"))
        // per-commit changelog with the reference's _change_ordinal /
        // _commit_snapshot_id metadata columns (ChangelogUtil.changelogSchema)
        val base = Snapshots.changelog(spark, table,
          int(arg(1, "from_version")), int(arg(2, "to_version")))
        // `identifier_columns => 'c1,c2'` (or `compute_updates => true`
        // with declared IDENTIFIER FIELDS) pairs delete+insert rows into
        // update_before/update_after — ref ChangelogIterator.computeUpdates
        val idCols = named.get("identifier_columns")
          .map(a => str(a).split(',').map(_.trim).filter(_.nonEmpty).toSeq)
          .orElse(if (named.get("compute_updates").contains(true))
            Some(Snapshots.identifierFields(table)) else None)
        val netChanges = named.get("net_changes").contains(true)
        // ref CreateChangelogViewProcedure.java:96-106: net-changes mode is
        // mutually exclusive with update pairing
        require(!netChanges || idCols.isEmpty,
          "net_changes cannot be combined with identifier_columns / compute_updates")
        val out = idCols match {
          case Some(cols) =>
            require(cols.nonEmpty, "compute_updates needs identifier columns " +
              "(identifier_columns => …, or ALTER TABLE … SET IDENTIFIER FIELDS)")
            Snapshots.computeUpdates(base, cols)
          case None => if (netChanges) Snapshots.removeNetCarryovers(base) else base
        }
        out.createOrReplaceTempView(view)
        Seq(Row(1L, s"view=$view"))
      case "publish_changes" =>
        // the reference's WAP publish (PublishChangesProcedure): promote
        // the audit branch staged under `wap_id` onto main — fast-forward
        // when main hasn't advanced, else cherry-pick each staged append
        // in order — and drop the branch
        val id = str(arg(1, "wap_id"))
        val (bs, _) = Snapshots.readRefs(table)
        val b = Seq(s"wap_$id", id).find(bs.contains).getOrElse(
          throw new IllegalArgumentException(s"no staged WAP branch for id: $id"))
        val bHead = Snapshots.resolveRef(table, b)
        val mainV = Snapshots.mainVersion(table)
        val nv =
          if (Snapshots.ancestorsOf(table, bHead).contains(mainV)) {
            Snapshots.fastForward(table, "main", bHead); bHead
          } else {
            val mainAnc = Snapshots.ancestorsOf(table, mainV).toSet
            var v = mainV
            Snapshots.ancestorsOf(table, bHead).filterNot(mainAnc).reverse
              .foreach(sv => v = Snapshots.cherrypick(spark, table, sv))
            v
          }
        Snapshots.dropBranch(table, b)
        Seq(Row(nv.toLong, s"published=$b"))
      case "rewrite_manifests" =>
        Seq(Row(Snapshots.rewriteManifests(spark, table).toLong, "new_version"))
      case "ancestors_of" =>
        val vs = Snapshots.ancestorsOf(table,
          argOpt(1, "version").map(int).getOrElse(Snapshots.mainVersion(table)))
        Seq(Row(vs.size.toLong, vs.mkString(",")))
      case "register_table" | "migrate" =>
        Seq(Row(Snapshots.registerTable(spark, table).toLong, "new_version"))
      case "snapshot" =>
        Seq(Row(Snapshots.snapshotClone(spark, table, str(arg(1, "target"))).toLong,
          "target_version"))
      case "rewrite_position_delete_files" =>
        Seq(Row(Snapshots.rewritePositionDeleteFiles(spark, table).toLong, "new_version"))
      case "export_iceberg_metadata" =>
        // CALL graft.system.export_iceberg_metadata('<table>') — one-way
        // export of the current snapshot as Iceberg v2 metadata
        // (metadata.json + avro manifest list/manifest with a name
        // mapping) over the existing parquet ([[spatial.IcebergExport]]).
        val metaFile = graft.spatial.IcebergExport.export(spark, table)
        Seq(Row(Snapshots.readManifest(table).size.toLong, metaFile))
      case "register_iceberg_table" =>
        // CALL graft.system.register_iceberg_table('<iceberg table dir,
        //   metadata dir, or *.metadata.json>', target => '<graft path>')
        // — the read direction of the Iceberg interop: adopt an external
        // Iceberg v1/v2 table as a graft table, metadata-only
        // ([[spatial.IcebergImport]]; the reference's RegisterTable/
        // migrate procedures).
        val tgt = str(arg(1, "target"))
        val ignoreRefs = named.get("ignore_refs").map(str)
          .exists(_.equalsIgnoreCase("true"))
        val v = graft.spatial.IcebergImport.importTable(spark, table, tgt,
          ignoreRefs)
        Seq(Row(v.toLong, s"target=$tgt"))
      case "build_vector_index" =>
        // CALL graft.system.build_vector_index('<corpus parquet path>',
        //   location => '<index dir>'[, column => 'embedding',
        //   id_column => 'vec_id'])
        // — the build-once/query-many ANN path without the Scala API.
        // Fresh corpus → no-op; pure append → incremental encode; else a
        // full staged rebuild ([[graft.operators.Similarity]]).
        val loc = str(arg(1, "location"))
        val idCol = named.get("id_column").map(str).getOrElse("vec_id")
        val vecCol = named.get("column").map(str).getOrElse("embedding")
        graft.operators.Similarity.ensureVectorIndexAt(spark, table, loc, idCol, vecCol)
        val rows = Snapshots.readManifest(loc).map(_.rows).sum
        Seq(Row(rows, s"index=$loc"))
      case "ann_search" =>
        // CALL graft.system.ann_search('<corpus parquet path>',
        //   location => '<index dir>', view => '<name>'[, k => 3,
        //   nprobe => 3, query_filter => '<predicate on vec_id/v>',
        //   queries => '<separate query parquet path>',
        //   query_vector => '0.1,0.2,…[;0.3,0.4,…]'])
        // — registers the top-k neighbor frame as a temp view (the
        // create_changelog_view convention for table-valued results).
        // With `queries`, the batch reads from that source (production
        // shape: queries are not corpus members) and query_filter
        // defaults to every row. With `query_vector`, the batch is the
        // inline literal vector(s) — the most common production call
        // shape (search by a given embedding, no query table); qid is
        // the vector's position in the argument.
        val loc = str(arg(1, "location"))
        val view = str(arg(2, "view"))
        val k = named.get("k").map(int).getOrElse(3)
        val nprobe = named.get("nprobe").map(int).getOrElse(3)
        val qSrc = named.get("queries").map(str)
        val qVecs = named.get("query_vector").map(str).toSeq
          .flatMap(_.split(';').toSeq)
          .map(v => v.split(',').toSeq.map(_.trim.toDouble))
        require(qSrc.isEmpty || qVecs.isEmpty,
          "ann_search: queries and query_vector are mutually exclusive")
        val qf = named.get("query_filter").map(str)
          .getOrElse(if (qSrc.isDefined || qVecs.nonEmpty) "true"
            else "vec_id % 100 = 0")
        graft.operators.Similarity
          .queryVectorIndexAt(spark, table, loc, nprobe, k, qf, qSrc, qVecs)
          .createOrReplaceTempView(view)
        Seq(Row(k.toLong, s"view=$view"))
      case other =>
        throw new IllegalArgumentException(s"unknown procedure: graft.system.$other")
    }
  }
}
