package graft.spatial

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Schema evolution for graft tables: add / rename / drop columns without
  * rewriting any data file.
  *
  * The reference gets id-based evolution from Iceberg (fields are matched
  * by field id, so renames are metadata-only — `Schema`/`TypeUtil` in
  * /root/reference). Parquet-by-name matching can't do that directly, so
  * the PHYSICAL column name written in the files plays the role of the
  * field id: `_graft_schema.json` maps each logical column to its physical
  * name, a rename changes only the logical side, and a drop marks the
  * entry hidden. Readers project physical → logical; writers map logical →
  * physical before appending, so every data file ever written stays
  * readable under the current logical schema. A column added later simply
  * doesn't exist in older files — the parquet reader yields nulls there.
  *
  * NESTED evolution (`ALTER TABLE t ADD COLUMN point.z double`, renames /
  * drops / comments of struct fields, incl. structs inside array elements
  * and map values — ref `UpdateSchema.java:56-84`,
  * `TestAlterTable.java:81,104,129`) uses the same machinery one level
  * down: an entry carries `children` describing its nested fields'
  * (logical, physical) mapping. The file-facing READ type of an evolved
  * struct lists its live fields in LOGICAL order under PHYSICAL names —
  * parquet's by-name clipping serves them in requested order, missing
  * (later-added) fields surface as nulls, dropped fields are simply not
  * requested — so the physical and logical rows align POSITIONALLY and a
  * reader needs only name fixups, never data movement. Map keys cannot
  * evolve (identity-bearing), matching the reference's rejection.
  */
object TableSchema {

  val SchemaName = "_graft_schema.json"

  /** (logical, physical, typeJson, dropped) per column, in schema order.
    * `children` (nested evolution log) mirror the same shape per struct
    * field; an array entry holds one child `element`, a map entry one
    * child `value`. `dataType` is the container shape at baseline — for
    * entries WITH children the authoritative leaf types live in the
    * children and [[logicalType]]/[[physicalType]] rebuild the tree.
    */
  case class Entry(logical: String, physical: String, dataType: DataType, dropped: Boolean,
      comment: Option[String] = None, children: Seq[Entry] = Nil)

  def exists(path: String): Boolean = Files.exists(Paths.get(path, SchemaName))

  /** Resolve an equality-delete key column to its CURRENT logical name —
    * the ONE seat shared by the V1 apply, the DSv2 bind, and the scan's
    * extra-column retention (diverging copies would make the two read
    * paths return different rows for one table). PHYSICAL match first:
    * deletes record physical names (never reused — [[addColumn]] skips
    * taken physicals), so a renamed-away name later RE-ADDED as a new
    * column must not shadow the remap onto an all-NULL column. The
    * current-name fallback serves legacy deletes recorded under
    * at-delete-time logical names and tables without an evolution log.
    * None = unresolvable either way (callers fail loud — silently
    * dropping a delete resurrects its rows).
    */
  def resolveDeleteCol(entries: Seq[Entry], c: String,
      current: Set[String]): Option[String] =
    entries.find(en => !en.dropped && en.physical == c).map(_.logical)
      .filter(current)
      .orElse(Some(c).filter(current))

  /** Top-level PHYSICAL name of a current logical column (identity when
    * no evolution log exists or the column predates it).
    */
  def physicalOf(entries: Seq[Entry], logical: String): String =
    entries.find(en => !en.dropped && en.logical == logical)
      .map(_.physical).getOrElse(logical)

  def read(path: String): Seq[Entry] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val p = Paths.get(path, SchemaName)
    if (!Files.exists(p)) return Nil
    def parseEntries(v: JValue): Seq[Entry] = v match {
      case JArray(es) => es.collect {
        case JObject(kv) =>
          val m = kv.toMap
          def str(k: String) = m(k).asInstanceOf[JString].s
          // `type` is stored as DataType.json — re-render the JValue so
          // primitives keep their quotes ("long") and structs stay objects
          val typeJson = JsonMethods.compact(JsonMethods.render(m("type")))
          Entry(str("logical"), str("physical"), DataType.fromJson(typeJson),
            m.get("dropped").contains(JBool(true)),
            m.get("comment").collect { case JString(c) => c },
            m.get("children").map(parseEntries).getOrElse(Nil))
      }
      case _ => Nil
    }
    parseEntries(JsonMethods.parse(
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))
  }

  private def write(path: String, entries: Seq[Entry]): Unit = {
    // column comments are free text: control chars (newline/tab/anything
    // < 0x20) must be \u-escaped too, or one legal multiline COMMENT makes
    // the schema file unparseable on every subsequent read
    def esc(s: String): String = {
      val sb = new StringBuilder(s.length + 8)
      s.foreach {
        case '\\' => sb.append("\\\\")
        case '"'  => sb.append("\\\"")
        case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.toString
    }
    def entryJson(e: Entry): String = {
      val comment = e.comment.map(c => s""","comment":"${esc(c)}"""").getOrElse("")
      val kids = if (e.children.isEmpty) ""
        else s""","children":${e.children.map(entryJson).mkString("[", ",", "]")}"""
      s"""{"logical":"${esc(e.logical)}","physical":"${esc(e.physical)}",""" +
        s""""type":${e.dataType.json},"dropped":${e.dropped}$comment$kids}"""
    }
    val body = entries.map(entryJson).mkString("[", ",", "]")
    Files.write(Paths.get(path, SchemaName), body.getBytes(StandardCharsets.UTF_8))
  }

  /** Capture the table's current physical schema as the evolution baseline
    * (logical == physical for every column). Partition columns are
    * excluded — they live in directory names, not files.
    */
  private def ensure(spark: SparkSession, path: String): Seq[Entry] = {
    val cur = read(path)
    if (cur.nonEmpty) cur
    else {
      val parts = GeoTable.readPartitionCols(path).toSet
      val baseline = GeoTable.ensureSchema(spark, path)
      val entries = baseline.fields.toSeq
        .filterNot(f => parts.contains(f.name))
        .map(f => Entry(f.name, f.name, f.dataType, dropped = false))
      write(path, entries)
      entries
    }
  }

  // ---- nested navigation --------------------------------------------------

  /** The reader-facing type an entry serves: nested evolution applied —
    * dropped nested fields hidden, logical names, nested comments as
    * standard field metadata. Entries without children serve `dataType`.
    */
  def logicalType(e: Entry): DataType =
    if (e.children.isEmpty) e.dataType
    else e.dataType match {
      case _: StructType => StructType(e.children.filterNot(_.dropped).map { k =>
        val md = k.comment.map(c =>
            new org.apache.spark.sql.types.MetadataBuilder().putString("comment", c).build())
          .getOrElse(org.apache.spark.sql.types.Metadata.empty)
        StructField(k.logical, logicalType(k), nullable = true, md)
      })
      case a: org.apache.spark.sql.types.ArrayType => org.apache.spark.sql.types.ArrayType(
        e.children.find(_.logical == "element").map(logicalType).getOrElse(a.elementType),
        containsNull = true)
      case m: org.apache.spark.sql.types.MapType => org.apache.spark.sql.types.MapType(
        m.keyType,
        e.children.find(_.logical == "value").map(logicalType).getOrElse(m.valueType),
        valueContainsNull = true)
      case other => other
    }

  /** The file-facing READ type: live fields only (dropped fields are not
    * requested — parquet by-name clipping skips them in old files and
    * they're absent from new ones), in the SAME order as [[logicalType]]
    * but under PHYSICAL names. Fields added after a file was written are
    * requested anyway and surface as nulls there. The positional identity
    * with the logical type is what lets readers fix names without moving
    * data.
    */
  def physicalType(e: Entry): DataType =
    if (e.children.isEmpty) e.dataType
    else e.dataType match {
      case _: StructType => StructType(e.children.filterNot(_.dropped).map(k =>
        StructField(k.physical, physicalType(k), nullable = true)))
      case a: org.apache.spark.sql.types.ArrayType => org.apache.spark.sql.types.ArrayType(
        e.children.find(_.logical == "element").map(physicalType).getOrElse(a.elementType),
        containsNull = true)
      case m: org.apache.spark.sql.types.MapType => org.apache.spark.sql.types.MapType(
        m.keyType,
        e.children.find(_.logical == "value").map(physicalType).getOrElse(m.valueType),
        valueContainsNull = true)
      case other => other
    }

  /** First nested mutation of an entry materializes its children from the
    * baseline type (logical == physical per field, like [[ensure]] at the
    * top level). Arrays expose one `element` child, maps one `value`
    * child (keys are identity-bearing and cannot evolve).
    */
  private def materialize(e: Entry): Entry =
    if (e.children.nonEmpty) e
    else e.dataType match {
      case s: StructType => e.copy(children = s.fields.toSeq.map(f =>
        Entry(f.name, f.name, f.dataType, dropped = false)))
      case a: org.apache.spark.sql.types.ArrayType =>
        e.copy(children = Seq(Entry("element", "element", a.elementType, dropped = false)))
      case m: org.apache.spark.sql.types.MapType =>
        e.copy(children = Seq(Entry("value", "value", m.valueType, dropped = false)))
      case other => throw new IllegalArgumentException(
        s"column ${e.logical}: ${other.simpleString} has no nested fields")
    }

  /** Navigate `parts` down the entry tree and transform the children list
    * at the end. `parent` is the container type whose children are being
    * edited (None at the top level). Map keys are rejected anywhere on
    * the path — the reference's `UpdateSchema` refuses map-key changes
    * the same way (`TestAlterTable.java`'s map-key negative case).
    */
  private def editChildren(es: Seq[Entry], parts: Seq[String], parent: Option[DataType])(
      op: (Seq[Entry], Option[DataType]) => Seq[Entry]): Seq[Entry] =
    parts match {
      case Seq() => op(es, parent)
      case name +: rest =>
        if (parent.exists(_.isInstanceOf[org.apache.spark.sql.types.MapType]) && name == "key")
          throw new UnsupportedOperationException(
            "cannot evolve a map key: keys are identity-bearing")
        val idx = es.indexWhere(x => !x.dropped && x.logical == name)
        require(idx >= 0, s"no such column: $name")
        val m = materialize(es(idx))
        es.updated(idx, m.copy(children =
          editChildren(m.children, rest, Some(m.dataType))(op)))
    }

  /** Struct-field targets only: nested add/rename/drop/comment address a
    * field of a struct (possibly inside an array element / map value);
    * the structural `element`/`value`/`key` slots themselves are not
    * renameable/droppable.
    */
  private def requireStructParent(parent: Option[DataType], target: Seq[String]): Unit =
    require(parent.forall(_.isInstanceOf[StructType]),
      s"${target.init.mkString(".")} is not a struct; nested changes address struct fields " +
        "(use `.element` / `.value` to reach structs inside arrays / map values)")

  /** Map a LOGICAL dot-path to the PHYSICAL one (stats keys, parquet
    * filter names). Components below the deepest evolved level pass
    * through unchanged — they are logical==physical by construction.
    */
  def physicalFieldPath(path: String, parts: Seq[String]): Seq[String] =
    physicalFieldPath(read(path), parts)

  def physicalFieldPath(entries: Seq[Entry], parts: Seq[String]): Seq[String] = {
    if (entries.isEmpty) return parts
    def walk(es: Seq[Entry], ps: Seq[String]): Seq[String] = ps match {
      case Seq() => Nil
      case name +: rest => es.find(e => !e.dropped && e.logical == name) match {
        case None => ps
        case Some(e) => e.physical +: walk(e.children, rest)
      }
    }
    walk(entries, parts)
  }

  // ---- mutations ----------------------------------------------------------

  def addColumn(spark: SparkSession, path: String, name: String, dt: DataType): Unit =
    addColumn(spark, path, name.split('.').toSeq, dt)

  def addColumn(spark: SparkSession, path: String, parts: Seq[String], dt: DataType): Unit = {
    // re-ADDING a name a pending predicate references would capture the
    // NEW column's values into the old delete (the rename-then-replace
    // hazard's second half) — same refusal
    requireNoCarriedPredicateOn(spark, path, parts, "add")
    val entries = ensure(spark, path)
    write(path, editChildren(entries, parts.init, None) { (kids, parent) =>
      requireStructParent(parent, parts)
      val name = parts.last
      require(!kids.exists(k => !k.dropped && k.logical == name),
        s"column exists: ${parts.mkString(".")}")
      // physical name must be globally fresh within its struct (a dropped
      // column keeps its data in files already written) — and the
      // collision-avoidance name must ITSELF be fresh, or two logical
      // columns could map onto one physical column (e.g. add after
      // dropping when a live sibling already holds `name_<k>`)
      val taken = kids.map(_.physical).toSet
      val physical =
        if (!taken(name)) name
        else Iterator.from(kids.size).map(i => s"${name}_$i").find(!taken(_)).get
      kids :+ Entry(name, physical, dt, dropped = false)
    })
  }

  /** A carried merge-on-read PREDICATE delete stores SQL referencing the
    * LOGICAL names current when it was recorded. Renaming/dropping such a
    * column leaves the stored SQL dangling: the DSv2 read path dies with
    * an internal cannot-evaluate error on the unresolved attribute, and
    * the V1 path only works by ACCIDENT (ResolveMissingReferences reaches
    * through the rename projection to the stable physical column) — an
    * accident that turns silently WRONG the moment a new column reuses
    * the name (rename-then-replace: the predicate would capture the NEW
    * column's values). Refuse the schema change while such predicates are
    * pending — materialize them first (`Snapshots.rewriteDataFiles`) —
    * the loud-refusal posture every stamp in this repo follows.
    * Unparseable stored SQL refuses conservatively; attribute matching is
    * case-insensitive, prefix-tolerant both ways (renaming `pt` breaks a
    * predicate on `pt.a` and vice versa) and qualifier-tolerant (a
    * `t.x`-style reference still names `x`).
    */
  private def requireNoCarriedPredicateOn(spark: SparkSession, path: String,
      parts: Seq[String], op: String): Unit = {
    val conds = Snapshots.pendingPredicateDeleteSql(path)
    if (conds.isEmpty) return
    val target = parts.map(_.toLowerCase(java.util.Locale.ROOT))
    conds.foreach { sql =>
      val refs: Seq[Seq[String]] = scala.util.Try(
        spark.sessionState.sqlParser.parseExpression(sql).collect {
          case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            ua.nameParts.map(_.toLowerCase(java.util.Locale.ROOT))
        }).getOrElse(Seq(target)) // unparseable: conservative refuse
      val hit = refs.exists { np =>
        np.take(target.length) == target ||
          target.take(np.length) == np ||
          np.takeRight(target.length) == target
      }
      require(!hit, s"cannot $op column ${parts.mkString(".")}: a pending " +
        s"merge-on-read predicate delete references it ($sql) — materialize " +
        "pending deletes first (Snapshots.rewriteDataFiles / CALL " +
        "system.rewrite_data_files) before evolving the schema")
    }
  }

  def renameColumn(spark: SparkSession, path: String, from: String, to: String): Unit =
    renameColumn(spark, path, from.split('.').toSeq, to)

  def renameColumn(spark: SparkSession, path: String, parts: Seq[String], to: String): Unit = {
    requireNoCarriedPredicateOn(spark, path, parts, "rename")
    val entries = ensure(spark, path)
    write(path, editChildren(entries, parts.init, None) { (kids, parent) =>
      requireStructParent(parent, parts)
      val from = parts.last
      require(kids.exists(k => !k.dropped && k.logical == from),
        s"no such column: ${parts.mkString(".")}")
      require(!kids.exists(k => !k.dropped && k.logical == to),
        s"column exists: ${(parts.init :+ to).mkString(".")}")
      kids.map(k => if (!k.dropped && k.logical == from) k.copy(logical = to) else k)
    })
  }

  /** Type promotion matrix — exactly Iceberg's WIDENING-only evolution
    * (ref /root/reference/api/src/main/java/org/apache/iceberg/types/TypeUtil.java
    * `isPromotionAllowed`: int→long, float→double, decimal precision
    * widen at fixed scale), extended along Spark's small-integral chain
    * (byte→short→int→long — all INT32-annotated in parquet, so the same
    * metadata-only widening applies). Every promotion is metadata-only:
    * old files keep their narrow physical type and the parquet readers
    * (vectorized and row) up-convert to the declared logical type; new
    * appends write the wide type; manifest min/max stats recorded under
    * the narrow type stay valid because stat comparison is value-exact
    * (BigDecimal), and aggregate pushdown converts folded stats to the
    * CURRENT logical type.
    */
  private def promotable(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    def rank(t: DataType): Int = t match {
      case ByteType => 0; case ShortType => 1; case IntegerType => 2; case LongType => 3
      case _ => -1
    }
    (from, to) match {
      case (a, b) if a == b => true
      case (a, b) if rank(a) >= 0 && rank(b) >= 0 => rank(a) < rank(b)
      case (FloatType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) => b.scale == a.scale && b.precision >= a.precision
      case _ => false
    }
  }

  /** Widen a column's logical type (no data rewrite). Rejects anything
    * outside the promotion matrix, like the reference's
    * `UpdateSchema.updateColumn`. Nested dot-paths promote a struct leaf
    * (or an array `element` / map `value` directly): the child entry
    * carries the wide type, the physical READ schema declares it, and the
    * parquet readers up-convert old files' narrow leaves exactly as at the
    * top level — per-leaf column readers don't care about nesting depth.
    */
  def updateColumnType(spark: SparkSession, path: String, name: String, to: DataType): Unit =
    updateColumnType(spark, path, name.split('.').toSeq, to)

  def updateColumnType(spark: SparkSession, path: String, parts: Seq[String], to: DataType): Unit = {
    val entries = ensure(spark, path)
    write(path, editChildren(entries, parts.init, None) { (kids, _) =>
      val idx = kids.indexWhere(k => !k.dropped && k.logical == parts.last)
      require(idx >= 0, s"no such column: ${parts.mkString(".")}")
      val e = kids(idx)
      require(promotable(e.dataType, to),
        s"cannot promote ${parts.mkString(".")}: ${e.dataType.simpleString} -> ${to.simpleString} " +
          "(allowed: integral widening, float->double, decimal precision widening at fixed scale)")
      kids.updated(idx, e.copy(dataType = to))
    })
  }

  /** Attach / replace a column doc comment (metadata-only). */
  def setColumnComment(spark: SparkSession, path: String, name: String,
      comment: Option[String]): Unit =
    setColumnComment(spark, path, name.split('.').toSeq, comment)

  def setColumnComment(spark: SparkSession, path: String, parts: Seq[String],
      comment: Option[String]): Unit = {
    val entries = ensure(spark, path)
    write(path, editChildren(entries, parts.init, None) { (kids, parent) =>
      requireStructParent(parent, parts)
      require(kids.exists(k => !k.dropped && k.logical == parts.last),
        s"no such column: ${parts.mkString(".")}")
      kids.map(k => if (!k.dropped && k.logical == parts.last) k.copy(comment = comment) else k)
    })
  }

  /** Validate a column exists — for TableChanges whose effect is a no-op
    * (e.g. DROP NOT NULL on an already-nullable column) but that must
    * still fail on a nonexistent column when invoked without the Spark
    * analyzer in front.
    */
  def requireColumn(spark: SparkSession, path: String, name: String): Unit =
    requireColumn(spark, path, name.split('.').toSeq)

  def requireColumn(spark: SparkSession, path: String, parts: Seq[String]): Unit = {
    editChildren(ensure(spark, path), parts.init, None) { (kids, _) =>
      require(kids.exists(k => !k.dropped && k.logical == parts.last),
        s"no such column: ${parts.mkString(".")}")
      kids
    }
    ()
  }

  def dropColumn(spark: SparkSession, path: String, name: String): Unit =
    dropColumn(spark, path, name.split('.').toSeq)

  def dropColumn(spark: SparkSession, path: String, parts: Seq[String]): Unit = {
    requireNoCarriedPredicateOn(spark, path, parts, "drop")
    val entries = ensure(spark, path)
    write(path, editChildren(entries, parts.init, None) { (kids, parent) =>
      requireStructParent(parent, parts)
      require(kids.exists(k => !k.dropped && k.logical == parts.last),
        s"no such column: ${parts.mkString(".")}")
      kids.map(k => if (!k.dropped && k.logical == parts.last) k.copy(dropped = true) else k)
    })
  }

  /** Physical file schema (all non-dropped + dropped columns still present
    * in files) for relation building; None when no evolution happened.
    * Nested-evolved columns surface their physical READ type (live fields
    * only, physical names, logical order).
    */
  def physicalSchema(path: String): Option[StructType] = {
    val entries = read(path)
    if (entries.isEmpty) None
    else Some(StructType(entries.map(e => StructField(e.physical, physicalType(e)))))
  }

  /** Physical-shape → logical-shape projection of one nested-evolved
    * column, matched BY NAME against the frame's actual type (`actual`) —
    * robust to frames read under the exact physical schema AND to
    * inference over a file subset (fields missing there become typed
    * nulls, extra file-order differences don't matter).
    */
  private[graft] def projectLogical(c: Column, e: Entry, actual: DataType): Column = {
    import org.apache.spark.sql.types.{ArrayType, MapType}
    import org.apache.spark.sql.functions.{lit, struct, transform, transform_values, when}
    if (e.children.isEmpty)
      return if (actual != e.dataType && promotable(actual, e.dataType)) c.cast(e.dataType) else c
    (e.dataType, actual) match {
      case (_: StructType, at: StructType) =>
        val fields = e.children.filterNot(_.dropped).map { k =>
          at.fields.find(_.name == k.physical) match {
            case Some(f) => projectLogical(c.getField(k.physical), k, f.dataType).as(k.logical)
            case None => lit(null).cast(logicalType(k)).as(k.logical) // added after this frame shape
          }
        }
        // struct() of a null struct's fields is a struct of nulls — keep
        // row-level nullness intact
        when(c.isNull, lit(null).cast(logicalType(e))).otherwise(struct(fields: _*))
      case (_: ArrayType, at: ArrayType) =>
        e.children.find(_.logical == "element")
          .map(k => transform(c, x => projectLogical(x, k, at.elementType))).getOrElse(c)
      case (_: MapType, at: MapType) =>
        e.children.find(_.logical == "value")
          .map(k => transform_values(c, (_, v) => projectLogical(v, k, at.valueType))).getOrElse(c)
      case _ => c
    }
  }

  /** Inverse of [[projectLogical]]: a logically-named value rebuilt under
    * physical field names for writing. Dropped nested fields are not
    * written; live fields missing from the written frame become typed
    * nulls.
    */
  private[graft] def projectPhysical(c: Column, e: Entry, actual: DataType): Column = {
    import org.apache.spark.sql.types.{ArrayType, MapType}
    import org.apache.spark.sql.functions.{lit, struct, transform, transform_values, when}
    if (e.children.isEmpty) return c
    (e.dataType, actual) match {
      case (_: StructType, at: StructType) =>
        val fields = e.children.filterNot(_.dropped).map { k =>
          at.fields.find(_.name == k.logical) match {
            case Some(f) => projectPhysical(c.getField(k.logical), k, f.dataType).as(k.physical)
            case None => lit(null).cast(physicalType(k)).as(k.physical)
          }
        }
        when(c.isNull, lit(null).cast(physicalType(e))).otherwise(struct(fields: _*))
      case (_: ArrayType, at: ArrayType) =>
        e.children.find(_.logical == "element")
          .map(k => transform(c, x => projectPhysical(x, k, at.elementType))).getOrElse(c)
      case (_: MapType, at: MapType) =>
        e.children.find(_.logical == "value")
          .map(k => transform_values(c, (_, v) => projectPhysical(v, k, at.valueType))).getOrElse(c)
      case _ => c
    }
  }

  /** The logical field an entry serves over the frame's physical field:
    * the logical name; a nested-evolved column's [[logicalType]]; a
    * promoted column's declared wide type — ONLY when the actual type is a
    * strict widening source of it (a declared-encoding geometry column
    * arrives already DECODED, wkt string files -> wkb binary frame, and
    * must keep its decoded type); the column comment as standard field
    * metadata on top of the physical field's own.
    */
  private def logicalField(e: Entry, actual: StructField): StructField = {
    val md = e.comment.map(c =>
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(actual.metadata).putString("comment", c).build())
      .getOrElse(actual.metadata)
    if (e.children.nonEmpty) StructField(e.logical, logicalType(e), nullable = true, md)
    else if (actual.dataType != e.dataType && promotable(actual.dataType, e.dataType))
      StructField(e.logical, e.dataType, actual.nullable, md)
    else StructField(e.logical, actual.dataType, actual.nullable, md)
  }

  /** (physical source, entry, logical field) in output order: live
    * entries present in the frame, then pass-through columns (partition
    * cols, bbox shadows added after the fact) under their own names.
    */
  private def logicalFields(physical: StructType,
      entries: Seq[Entry]): Seq[(StructField, Option[Entry], StructField)] = {
    val mapped = entries.filterNot(_.dropped).flatMap(e =>
      physical.fields.find(_.name == e.physical).map(f => (f, Some(e), logicalField(e, f))))
    val known = entries.map(_.physical).toSet
    mapped ++ physical.fields.filterNot(f => known(f.name)).map(f => (f, None, f))
  }

  /** The logical view of a physical schema — the schema [[toLogical]]
    * produces, derived without a frame (hides dropped columns, applies
    * renames, promotions, nested evolution and comments).
    */
  def logicalSchema(physical: StructType, entries: Seq[Entry]): StructType =
    if (entries.isEmpty) physical
    else StructType(logicalFields(physical, entries).map(_._3))

  /** Project a physically-named frame to the logical view: every column
    * lands on exactly the field [[logicalSchema]] derives (promoted
    * columns cast up so every snapshot reads under ONE logical type;
    * nested-evolved structs are rebuilt, then cast to fix field names and
    * nested comments, which struct() aliases drop).
    */
  def toLogical(df: DataFrame, path: String): DataFrame = {
    val entries = read(path)
    if (entries.isEmpty) df
    else df.select(logicalFields(df.schema, entries).map { case (actual, e, f) =>
      val c = col(s"`${actual.name.replace("`", "``")}`")
      val base = e match {
        case Some(en) if en.children.nonEmpty =>
          projectLogical(c, en, actual.dataType).cast(f.dataType)
        case _ if f.dataType != actual.dataType => c.cast(f.dataType)
        case _ => c
      }
      base.as(f.name, f.metadata)
    }: _*)
  }

  /** Map a logically-named frame back to physical names for writing
    * (top-level aliases; nested-evolved structs rebuilt under physical
    * field names).
    */
  def toPhysical(df: DataFrame, path: String): DataFrame = {
    val entries = read(path)
    if (entries.isEmpty) df
    else {
      val byLogical = entries.filterNot(_.dropped).map(e => e.logical -> e).toMap
      df.select(df.columns.map { c =>
        byLogical.get(c) match {
          case Some(e) if e.children.nonEmpty =>
            projectPhysical(col(c), e, df.schema(c).dataType).as(e.physical)
          case Some(e) => col(c).as(e.physical)
          case None => col(c)
        }
      }: _*)
    }
  }
}
