package graft.spatial

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.{Schema => AvroSchema}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** Read-direction Iceberg interop: register an EXISTING Apache Iceberg v2
  * (or v1) table as a graft table — the reference's `register_table` /
  * `migrate` adoption path (`core/.../TableMetadataParser.java`,
  * `HadoopTables.java`, `spark/.../procedures/RegisterTableProcedure.java`
  * in /root/reference), re-expressed over graft's own snapshot layer.
  *
  * The import is METADATA-ONLY: no data file is copied or moved. The
  * Iceberg `metadata.json` + Avro manifest list + manifests are parsed
  * into one graft snapshot whose entries reference the Iceberg data files
  * at their ABSOLUTE paths (graft's planning resolves `new Path(base,
  * child)`, and an absolute child wins URI resolution — the same contract
  * object stores give Iceberg itself). Per-file min/max pruning stats are
  * harvested from the parquet footers in one distributed footer pass
  * ([[GeoTable.collectStats]]) — the import cost is O(files) footer reads,
  * never a data pass.
  *
  * Fidelity mapping:
  *  - schema: the CURRENT Iceberg schema, with `schema.name-mapping
  *    .default` honored — the table is created under the PHYSICAL
  *    (data-file) column names and each logical≠physical field becomes a
  *    graft rename ([[TableSchema]]), so files written without Iceberg
  *    field ids and renamed columns both read correctly by name;
  *  - sequence numbers: Iceberg data/delete sequence numbers are
  *    rank-mapped onto graft `addedV` / equality-delete `seq` stamps
  *    (both engines scope an equality delete to strictly-older files),
  *    and the first graft version is pinned past every stamp
  *    (`minVersion`, the [[Snapshots.snapshotClone]] discipline);
  *  - v2 POSITION delete files (`content=1`) are rewritten into graft's
  *    native `(file_path, pos)` delete files ((file, pos) identifies a
  *    row globally, so Iceberg's partition/sequence scoping is subsumed);
  *  - v2 EQUALITY delete files (`content=2`) become graft equality
  *    deletes on the `equality_ids` columns; a PARTITION-SCOPED equality
  *    delete over identity partitioning is narrowed by appending the
  *    partition columns as constant equality columns (graft equality
  *    deletes are table-global, Iceberg's apply within their partition);
  *  - identity partition fields whose values live only in directory
  *    names (hive layout — graft's own export shape) are VERIFIED
  *    against the manifests' partition records and registered as graft
  *    partition columns; identity fields stored in the data files
  *    themselves (Iceberg's default write shape) import as ordinary
  *    columns — dir pruning is replaced by the harvested footer stats.
  *
  * Stated refusals (loud, never silent): non-parquet data files,
  * uuid/fixed/time primitive types, a partition field neither
  * dir-verified nor present in the data files, equality deletes scoped
  * to a non-identity partition, a renamed dir-served partition column,
  * and record-count mismatches between a manifest entry and its footer.
  */
object IcebergImport {

  /** Import the Iceberg table at `source` (a table dir with
    * `metadata/version-hint.text`, a metadata dir, or a direct
    * `*.metadata.json` path) as a fresh graft table at `target`.
    * Returns the committed graft HEAD version.
    *
    * SNAPSHOT HISTORY + REFS cross the boundary (r15): the source's main
    * ancestry (current snapshot's parent chain) imports as one graft
    * version per snapshot — time travel works on the imported table —
    * and source branches/tags whose target lies within that chain adopt
    * as graft refs. A ref targeting a snapshot OUTSIDE the importable
    * chain (diverged branch, expired ancestor) refuses LOUDLY unless
    * `ignoreRefs` (SQL: `ignore_refs => true`) drops it with a warning.
    */
  def importTable(spark: SparkSession, source: String, target: String,
      ignoreRefs: Boolean = false): Int = {
    val metaFile = resolveMetadataFile(source)
    val meta = parseMetadata(metaFile)
    require(Snapshots.currentVersion(target) == 0, s"target exists: $target")
    Files.createDirectories(Paths.get(target))

    // geometry encodings recorded by graft's own export round-trip as
    // declared encodings (and keep multi-MB WKT out of the value stats)
    val geomProps = meta.props.collect {
      case (k, v) if k.startsWith("graft.geometry-encoding.") =>
        k.stripPrefix("graft.geometry-encoding.") -> v
    }
    if (geomProps.nonEmpty) GeometryFields.putUnchecked(target, geomProps)

    // ---- importable chain + refs ------------------------------------------
    // refs beyond main must resolve within the chain BEFORE any work
    val chainIds = meta.chain.map(_.id).toSet
    val adoptRefs: Seq[(String, Long, String)] =
      meta.refs.toSeq.sortBy(_._1).collect {
        case (name, (sid, typ)) if name != "main" =>
          if (chainIds(sid)) Some((name, sid, typ))
          else if (ignoreRefs) {
            System.err.println(s"[graft] import of $source: $typ '$name' " +
              s"targets snapshot $sid outside the importable main ancestry " +
              "— dropped (ignore_refs)")
            None
          } else throw new IllegalArgumentException(
            s"cannot import $source: $typ '$name' targets snapshot $sid " +
              "outside the importable main ancestry (diverged branch or " +
              "expired history); pass ignore_refs => true to drop it")
      }.flatten
    // per-snapshot manifest state, oldest → newest; the union drives
    // stats, classification, and conflict checks. Avro reads memoize —
    // Iceberg REUSES unchanged manifests across snapshots, so the chain
    // walk would otherwise re-parse each shared manifest once per snapshot
    val avroMemo = scala.collection.mutable.Map.empty[String, Seq[GenericRecord]]
    val perSnap: Seq[(Long, (Seq[DataEntry], Seq[DeleteEntry], Seq[DeleteEntry]))] =
      meta.chain.map(s => s.id ->
        readManifests(s.manifestList, p => avroMemo.getOrElseUpdate(p, readAvro(p))))
    val dataEntries = perSnap.flatMap(_._2._1)
    val eqDels = perSnap.flatMap(_._2._3).distinct
    dataEntries.foreach { e =>
      require(e.format.equalsIgnoreCase("PARQUET"),
        s"cannot import $source: data file ${e.path} has format ${e.format} " +
          "(only parquet data files are readable here)")
    }
    // ONE entry per data file PER SNAPSHOT: byte-identical duplicates (the
    // same file reachable through two manifests) collapse; same-path
    // entries that DISAGREE within one snapshot are ambiguous — publishing
    // both would serve the file's rows twice, so refuse loudly. The check
    // is scoped per snapshot, NOT over the union of the chain: a path may
    // legitimately re-appear in a LATER snapshot with a different data
    // sequence number (removed by an overwrite, then re-registered via
    // add_files / replace) — each graft version publishes from its own
    // snapshot's entry, so addedV is free to differ across versions.
    val dedupEntries = dataEntries.distinct
    perSnap.foreach { case (sid, (dEnts, _, _)) =>
      val conflicting = dEnts.distinct.groupBy(_.path)
        .collect { case (p, es) if es.size > 1 => p }
      require(conflicting.isEmpty,
        s"cannot import $source: snapshot $sid references data file(s) " +
          s"${conflicting.mkString(", ")} in multiple manifest entries " +
          "with conflicting metadata")
    }

    // ---- per-file stats ---------------------------------------------------
    // Files whose manifest entry carries lower/upper bounds get their
    // pruning stats DECODED from the manifest (Iceberg's single-value
    // serialization) — the import then touches ZERO data bytes for them,
    // the reference's own register_table posture and the O(manifest)
    // scale path at 100k files. Files without bounds (graft's own export
    // writes none) fall back to one distributed footer pass.
    val geomCols = geomProps.keySet
    val (bounded, unbounded) = dedupEntries.partition(_.lower.nonEmpty)
    val boundedStats: Map[String, FileStats] = bounded.map { e =>
      val abs = absPath(e.path)
      abs -> decodeBoundStats(e, meta.schema.statNames, geomCols, abs)
    }.toMap
    val footerNames = unbounded.map(e => absPath(e.path)).distinct
    val footerStats = GeoTable.collectStats(spark, target, footerNames)
    val byName: Map[String, FileStats] =
      boundedStats ++ footerStats.map(f => f.path -> f).toMap
    unbounded.foreach { e =>
      val f = byName(absPath(e.path))
      require(f.rows == e.rows,
        s"cannot import $source: manifest records ${e.rows} rows for " +
          s"${e.path} but the file holds ${f.rows} — a partial-file " +
          "reference has no graft representation")
    }
    // columns physically present in the data files: footer chunks for the
    // footer-read files, bound/null-count keys for the manifest-served ones
    val inFile: Set[String] =
      footerStats.flatMap(f => f.colSizes.keysIterator.map(_.split('.').head)).toSet ++
        bounded.flatMap(e => (e.lower.keysIterator ++ e.nullCounts.keysIterator)
          .flatMap(meta.schema.statNames.get).map(_._1.split('.').head))
    // bound/null-count keys UNDER-approximate presence: a column whose
    // metrics are suppressed (write.metadata.metrics mode none /
    // column-count defaults) has no keys at all — before classifying a
    // candidate partition-source column as dir-served (or refusing the
    // import), confirm absence with ONE footer pass over the bounded
    // files. Lazy: the common fully-metered table never pays it.
    lazy val boundedFooterCols: Set[String] =
      GeoTable.collectStats(spark, target,
        bounded.map(e => absPath(e.path)).distinct)
        .flatMap(f => f.colSizes.keysIterator.map(_.split('.').head)).toSet
    def presentInFiles(phys: String): Boolean =
      inFile(phys) || (bounded.nonEmpty && boundedFooterCols(phys))

    // ---- partition fields: dir-served vs in-file vs refuse ---------------
    val dirServed = meta.specFields.filter { sf =>
      sf.transform == "identity" && {
        val srcField = meta.schema.fields.find(_.id == sf.sourceId)
        val present = srcField.exists(f => presentInFiles(f.physical))
        if (present) false // values come from the files; footer stats prune
        else {
          val verified = srcField.exists(f =>
            dedupEntries.forall(e => dirValueMatches(
              absPath(e.path), sf.name, e.partVals.get(sf.name).orNull, f.dataType)))
          require(verified,
            s"cannot import $source: identity partition field ${sf.name} is " +
              "neither stored in the data files nor served by matching " +
              "hive-style directory names — its values would read as null")
          require(srcField.exists(f => f.physical == sf.name && f.logical == sf.name),
            s"cannot import $source: dir-served partition column ${sf.name} " +
              "carries a name mapping or rename; renamed partition dir " +
              "columns are not representable (graft serves them by dir name)")
          true
        }
      }
    }
    meta.specFields.filterNot(_.transform == "identity").foreach { sf =>
      val src = meta.schema.fields.find(_.id == sf.sourceId)
      val phys = src.map(_.physical).getOrElse(sf.name)
      require(src.nonEmpty && presentInFiles(phys),
        s"cannot import $source: partition field ${sf.name} " +
          s"(${sf.transform}) derives from a column absent from the data " +
          "files; its source values are unrecoverable")
    }

    // ---- sequence-number rank mapping ------------------------------------
    // graft stamps are Ints ordered like versions; Iceberg sequence
    // numbers are sparse longs. Rank-map the union — both engines compare
    // STRICTLY (eq delete at seq S hits data seq < S), so any
    // order-preserving map keeps scoping exact.
    val allSeqs = (dedupEntries.map(_.seq) ++ eqDels.map(_.seq)).distinct.sorted
    val rank: Map[Long, Int] = allSeqs.zipWithIndex.map { case (s, i) => s -> (i + 1) }.toMap
    val maxRank = if (allSeqs.isEmpty) 0 else allSeqs.size

    // ---- delete files: rewrite into graft's native shapes ----------------
    // position deletes: (file_path, pos) rows, file paths normalized to
    // the unqualified absolute form the scan's `_metadata.file_path`
    // normalizes to. A snapshot's source files union into ONE job / ONE
    // rewritten file — (file, pos) identity is sequence-agnostic, so
    // merging loses nothing, and a production MoR table carrying
    // thousands of delete files imports in O(snapshots) jobs instead of
    // one sequential job each. HISTORY-SHARED: an identical pending set
    // across consecutive snapshots rewrites once (the cache).
    val posCache = scala.collection.mutable.Map.empty[Seq[String], String]
    def rewritePos(dels: Seq[DeleteEntry]): Seq[String] =
      if (dels.isEmpty) Nil
      else {
        val key = dels.map(d => absPath(d.path)).distinct.sorted
        Seq(posCache.getOrElseUpdate(key, {
          val rows = spark.read.parquet(key: _*)
            .select(Snapshots.normFile(col("file_path")).as("file_path"),
              col("pos").cast(LongType).as("pos"))
          writeMorFile(spark, target, rows, "posdel")
        }))
      }
    // equality deletes: columns resolved from equality_ids; a
    // partition-scoped delete (non-null partition under a partitioned
    // spec) is narrowed with constant identity partition columns
    def resolveEq(d: DeleteEntry) = {
      require(d.eqIds.nonEmpty,
        s"cannot import $source: equality delete ${d.path} carries no equality_ids")
      val raw = spark.read.parquet(absPath(d.path))
      val cols = d.eqIds.map { id =>
        val f = meta.schema.fields.find(_.id == id).getOrElse(
          throw new IllegalArgumentException(
            s"cannot import $source: equality delete ${d.path} references " +
              s"unknown field id $id"))
        val src = Seq(f.logical, f.physical).find(raw.columns.contains).getOrElse(
          throw new IllegalArgumentException(
            s"cannot import $source: equality delete ${d.path} is missing " +
              s"column ${f.logical} (field id $id)"))
        // register under the PHYSICAL name: graft's delete-column
        // resolver is physical-first (deterministic across later renames)
        (src, f.physical, f.dataType)
      }
      val partScopePhys: Seq[(String, Any, DataType)] =
        if (d.partVals.isEmpty) Nil
        else d.partVals.toSeq.map { case (name, v) =>
          val sf = meta.specFields.find(_.name == name)
          require(sf.exists(_.transform == "identity"),
            s"cannot import $source: equality delete ${d.path} is scoped to " +
              s"partition field $name with transform " +
              s"${sf.map(_.transform).getOrElse("?")} — graft equality " +
              "deletes cannot reproduce non-identity partition scoping")
          // graft narrows the scope with a constant equality column; SQL
          // join semantics make a NULL constant match nothing, which would
          // silently invert "applies to the null partition" — refuse
          require(v != null,
            s"cannot import $source: equality delete ${d.path} is scoped to " +
              s"the NULL partition of $name, which graft equality-column " +
              "narrowing cannot express")
          // the spec FIELD name is independent of the source column (custom
          // names are legal and do NOT track source renames) — resolve the
          // scope column through source-id like the dir-served classifier,
          // and refuse loudly when it is gone (a name-based fallback would
          // register a delete keyed on a nonexistent column and brick
          // every subsequent read of the table)
          val f = meta.schema.fields.find(_.id == sf.get.sourceId).getOrElse(
            throw new IllegalArgumentException(
              s"cannot import $source: equality delete ${d.path} is scoped " +
                s"to partition field $name whose source column (field id " +
                s"${sf.get.sourceId}) is not in the current schema"))
          (f.physical, v, f.dataType)
        }
      var df = raw.select(cols.map { case (src, phys, dt) =>
        col(src).cast(dt).as(phys) }: _*)
      partScopePhys.foreach { case (phys, v, dt) =>
        df = df.withColumn(phys, lit(toSparkLiteral(v, dt)).cast(dt))
      }
      (d.path, df, cols.map(_._2) ++ partScopePhys.map(_._1), rank(d.seq))
    }
    // rewrite in O(groups) jobs, not one job per source file: deletes
    // sharing (key columns, sequence rank) union into one graft delete
    // file — identical semantics (a graft eq delete is its key rows at
    // its seq), thousands fewer sequential Spark jobs on a production
    // MoR table. Group/union order is path-sorted for determinism;
    // groups recurring across snapshots rewrite once (the cache).
    val eqGroupCache =
      scala.collection.mutable.Map.empty[(Seq[String], Int, Seq[String]), String]
    def rewriteEq(dels: Seq[DeleteEntry]): Seq[EqDelete] =
      dels.map(resolveEq).groupBy { case (_, _, keyCols, seq) => (keyCols, seq) }
        .toSeq.sortBy { case ((keyCols, seq), _) => (seq, keyCols.mkString(",")) }
        .map { case ((keyCols, seq), group) =>
          val name = eqGroupCache.getOrElseUpdate(
            (keyCols, seq, group.map(_._1).sorted), {
              val frame = group.sortBy(_._1).map(_._2).reduce(_.unionByName(_))
              writeMorFile(spark, target, frame, "eqdel")
            })
          EqDelete(name, keyCols, seq)
        }

    // ---- publish the chain: one graft version per source snapshot --------
    // manifest schema = every current Iceberg column under its PHYSICAL
    // name (incl. dir-served partition cols — graft's "data + partition
    // columns" convention); renames land as evolution-log entries below.
    val physicalSchema = StructType(meta.schema.fields.map(f =>
      StructField(f.physical, f.dataType, nullable = !f.required)))
    // schema-only source (no current snapshot): one empty publish
    val states = if (perSnap.isEmpty) Seq(0L -> ((Nil, Nil, Nil))) else perSnap
    var vMap = Map.empty[Long, Int]
    var v = 0
    states.zipWithIndex.foreach { case ((sid, (dEnts, pos, eqs)), i) =>
      val entries = dEnts.distinct.map { e =>
        byName(absPath(e.path)).copy(addedV = rank(e.seq))
      }
      val posNames = rewritePos(pos)
      val eqSpecs = rewriteEq(eqs)
      // the FIRST graft version pins past every carried stamp
      v = TableOps.commit(target, minVersion = if (i == 0) maxRank + 1 else 0) { h =>
        Some(h.copy(m = h.m.copy(files = entries, deletes = Nil, posDeletes = posNames,
            eqDeletes = eqSpecs, partitions = dirServed.map(_.name), schema = Some(physicalSchema)),
          props = Map(
            "graft.imported-from" -> metaFile.toString,
            "iceberg.table-uuid" -> meta.tableUuid,
            "iceberg.snapshot-id" -> sid.toString)))
      }
      vMap += sid -> v
    }
    // refs land after the chain exists, each on its snapshot's version
    adoptRefs.foreach { case (name, sid, typ) =>
      if (typ == "tag") Snapshots.createTag(target, name, Some(vMap(sid)))
      else Snapshots.createBranch(target, name, Some(vMap(sid)))
    }

    // ---- name-mapped renames → graft schema evolution --------------------
    // pre-order: a parent's rename lands before its children's, and each
    // child path addresses the parent by its NEW logical name
    meta.schema.renames.foreach { case (parts, to) =>
      TableSchema.renameColumn(spark, target, parts, to)
    }
    v
  }

  // ---- metadata.json ------------------------------------------------------

  private def resolveMetadataFile(source: String): java.nio.file.Path = {
    val p = Paths.get(source)
    if (Files.isRegularFile(p) && source.endsWith(".json")) return p
    val metaDir = if (p.getFileName != null && p.getFileName.toString == "metadata") p
      else p.resolve("metadata")
    val hint = metaDir.resolve("version-hint.text")
    require(Files.exists(hint),
      s"no Iceberg table at $source: expected metadata/version-hint.text " +
        "or a direct *.metadata.json path")
    val v = new String(Files.readAllBytes(hint), StandardCharsets.UTF_8).trim
    val f = metaDir.resolve(s"v$v.metadata.json")
    require(Files.exists(f), s"version hint names $v but $f is missing")
    f
  }

  private case class SpecField(name: String, transform: String, sourceId: Int)
  private case class SField(id: Int, logical: String, physical: String,
      required: Boolean, dataType: DataType,
      /** struct leaves one level down: (field id, physical name, type). */
      leafIds: Seq[(Int, String, DataType)] = Nil)
  /** Flattened current schema: top-level fields, the pre-order rename
    * list (logical path → new name) the name mapping implies, and the
    * bound-stat key map — field id → (graft stat key, type) for top-level
    * primitives and one-level struct leaves (the manifest stats shape).
    */
  private case class ISchema(fields: Seq[SField], renames: Seq[(Seq[String], String)]) {
    lazy val statNames: Map[Int, (String, DataType)] = fields.flatMap { f =>
      f.dataType match {
        case _: StructType =>
          // one struct level, keyed "col.field" like FooterStats
          f.leafIds.map { case (id, childPhys, dt) =>
            id -> (s"${f.physical}.$childPhys", dt)
          }
        case _: ArrayType | _: MapType => Nil
        case prim => Seq(f.id -> (f.physical, prim))
      }
    }.toMap
  }
  /** One importable snapshot of the source's main ancestry. */
  private case class SnapMeta(id: Long, manifestList: String)
  private case class Meta(formatVersion: Int, location: String, tableUuid: String,
      schema: ISchema, specFields: Seq[SpecField], props: Map[String, String],
      /** main ancestry, OLDEST → NEWEST (empty: no current snapshot). */
      chain: Seq[SnapMeta],
      /** ref name → (snapshot id, "branch" | "tag"). */
      refs: Map[String, (Long, String)])

  private def parseMetadata(file: java.nio.file.Path): Meta = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val j = JsonMethods.parse(new String(Files.readAllBytes(file), StandardCharsets.UTF_8))
    def jint(v: JValue): Int = v match {
      case JInt(i) => i.toInt
      case JLong(l) => l.toInt
      case _ => throw new IllegalArgumentException(s"expected int, got $v")
    }
    val fv = jint(j \ "format-version")
    require(fv == 1 || fv == 2, s"unsupported Iceberg format-version: $fv")
    val uuid = (j \ "table-uuid") match { case JString(s) => s; case _ => "" }
    val location = (j \ "location") match { case JString(s) => s; case _ => "" }
    val props = (j \ "properties") match {
      case JObject(kv) => kv.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty[String, String]
    }
    // current schema: v2 `schemas[current-schema-id]`; v1 fallback `schema`
    val schemaJson = (j \ "schemas") match {
      case JArray(ss) =>
        val cur = jint(j \ "current-schema-id")
        ss.find(s => (s \ "schema-id").toOption.exists(jint(_) == cur)).getOrElse(
          throw new IllegalArgumentException(s"current-schema-id $cur not in schemas"))
      case _ => j \ "schema"
    }
    val mapping = props.get("schema.name-mapping.default")
      .map(m => JsonMethods.parse(m)).getOrElse(JArray(Nil))
    val schema = parseSchema(schemaJson, mapping)
    // default partition spec: v2 `partition-specs[default-spec-id]`; v1
    // fallback flat `partition-spec`
    val specJson = (j \ "partition-specs") match {
      case JArray(ss) =>
        val cur = jint(j \ "default-spec-id")
        ss.find(s => (s \ "spec-id").toOption.exists(jint(_) == cur))
          .map(_ \ "fields").getOrElse(JArray(Nil))
      case _ => (j \ "partition-spec") match {
        case a: JArray => a
        case _ => JArray(Nil)
      }
    }
    val specFields = specJson match {
      case JArray(fs) => fs.map { f =>
        val JString(name) = f \ "name"
        val JString(tr) = f \ "transform"
        SpecField(name, tr, jint(f \ "source-id"))
      }
      case _ => Nil
    }
    // current snapshot → the importable MAIN ancestry (parent-id walk)
    val curSnap = (j \ "current-snapshot-id") match {
      case JInt(i) if i.toLong >= 0 => Some(i.toLong)
      case JLong(l) if l >= 0 => Some(l)
      case _ => None
    }
    def jlong(v: JValue): Option[Long] = v match {
      case JInt(i) => Some(i.toLong)
      case JLong(l) => Some(l)
      case _ => None
    }
    case class RawSnap(id: Long, parent: Option[Long], manifestList: Option[String])
    val snaps: Map[Long, RawSnap] = ((j \ "snapshots") match {
      case JArray(ss) => ss.flatMap { s =>
        jlong(s \ "snapshot-id").map { id =>
          RawSnap(id, jlong(s \ "parent-snapshot-id"),
            (s \ "manifest-list") match {
              case JString(ml) => Some(ml)
              case _ => None
            })
        }
      }
      case _ => Nil
    }).map(s => s.id -> s).toMap
    val chain: Seq[SnapMeta] = curSnap.toSeq.flatMap { head =>
      val acc = scala.collection.mutable.ListBuffer.empty[SnapMeta]
      val seen = scala.collection.mutable.Set.empty[Long]
      var cur: Option[Long] = Some(head)
      var truncated: Option[Long] = None
      while (cur.nonEmpty && truncated.isEmpty) {
        val id = cur.get
        snaps.get(id) match {
          case Some(s) if !seen(id) =>
            seen += id
            s.manifestList match {
              case Some(ml) =>
                acc.prepend(SnapMeta(id, ml))
                cur = s.parent
              case None if id == head =>
                // the CURRENT snapshot must be readable
                throw new IllegalArgumentException(
                  "snapshot without manifest-list (v1 embedded `manifests` " +
                    "lists are not supported — rewrite the table metadata)")
              case None => truncated = Some(id) // ancestor: history ends here
            }
          case _ => cur = None // expired / absent parent: chain ends
        }
      }
      truncated.foreach(id => System.err.println(
        s"[graft] import: ancestor snapshot $id carries no manifest-list — " +
          s"history truncated to ${acc.size} snapshots"))
      acc.toList
    }
    // a claimed current snapshot MISSING from snapshots[] is corrupt
    // metadata — importing it as an empty table would silently lose
    // every row
    require(curSnap.isEmpty || chain.nonEmpty,
      s"current-snapshot-id ${curSnap.get} is not in the snapshots list — " +
        "corrupt table metadata")
    val refs: Map[String, (Long, String)] = (j \ "refs") match {
      case JObject(kv) => kv.flatMap { case (name, r) =>
        jlong(r \ "snapshot-id").map { sid =>
          val typ = (r \ "type") match {
            case JString(t) => t.toLowerCase
            case _ => "branch"
          }
          name -> (sid, typ)
        }
      }.toMap
      case _ => Map.empty
    }
    Meta(fv, location, uuid, schema, specFields, props, chain, refs)
  }

  /** Iceberg JSON schema + name mapping → flattened fields and renames. */
  private def parseSchema(j: org.json4s.JValue, mapping: org.json4s.JValue): ISchema = {
    import org.json4s._
    val renames = scala.collection.mutable.ArrayBuffer.empty[(Seq[String], String)]

    def mappingEntries(m: JValue): Seq[JValue] = m match {
      case JArray(es) => es
      case _ => Nil
    }
    def entryFor(ms: Seq[JValue], id: Int): Option[JValue] =
      ms.find(e => (e \ "field-id") match {
        case JInt(i) => i.toInt == id
        case JLong(l) => l.toInt == id
        case _ => false
      })
    def physicalName(e: Option[JValue], logical: String): String =
      e.map(_ \ "names").collect {
        case JArray(JString(n) :: _) => n
      }.getOrElse(logical)

    /** Convert a type; `path` is the LOGICAL path of this position (with
      * renames already applied to ancestors — TableSchema rename paths
      * address the post-rename tree when applied pre-order).
      */
    def convert(t: JValue, ms: Seq[JValue], path: Seq[String]): DataType = t match {
      case JString(s) => primitive(s)
      case obj: JObject => (obj \ "type") match {
        case JString("struct") =>
          val JArray(fs) = obj \ "fields"
          StructType(fs.map { f =>
            val JString(name) = f \ "name"
            val id = (f \ "id") match {
              case JInt(i) => i.toInt
              case JLong(l) => l.toInt
              case _ => -1
            }
            val required = (f \ "required") match {
              case JBool(b) => b
              case _ => false
            }
            val me = entryFor(ms, id)
            val phys = physicalName(me, name)
            // nested fields materialize under their PHYSICAL name first
            // (matching the files), then rename to the logical name
            if (phys != name) renames += ((path :+ phys) -> name)
            val childMs = me.map(e => mappingEntries(e \ "fields")).getOrElse(Nil)
            val dt = convert(f \ "type", childMs, path :+ name)
            StructField(phys, dt, nullable = !required)
          })
        case JString("list") =>
          val elemId = (obj \ "element-id") match {
            case JInt(i) => i.toInt; case JLong(l) => l.toInt; case _ => -1
          }
          val me = entryFor(ms, elemId)
          val childMs = me.map(e => mappingEntries(e \ "fields")).getOrElse(Nil)
          val elem = convert(obj \ "element", childMs, path :+ "element")
          val req = (obj \ "element-required") match {
            case JBool(b) => b; case _ => false
          }
          ArrayType(elem, containsNull = !req)
        case JString("map") =>
          val vId = (obj \ "value-id") match {
            case JInt(i) => i.toInt; case JLong(l) => l.toInt; case _ => -1
          }
          val ve = entryFor(ms, vId)
          val childMs = ve.map(e => mappingEntries(e \ "fields")).getOrElse(Nil)
          val k = convert(obj \ "key", Nil, path :+ "key")
          val v = convert(obj \ "value", childMs, path :+ "value")
          val req = (obj \ "value-required") match {
            case JBool(b) => b; case _ => false
          }
          MapType(k, v, valueContainsNull = !req)
        case other => throw new IllegalArgumentException(s"bad Iceberg type: $other")
      }
      case other => throw new IllegalArgumentException(s"bad Iceberg type: $other")
    }

    val ms = mappingEntries(mapping)
    val JArray(fields) = j \ "fields"
    val top = fields.map { f =>
      val JString(name) = f \ "name"
      val id = (f \ "id") match {
        case JInt(i) => i.toInt; case JLong(l) => l.toInt; case _ => -1
      }
      val required = (f \ "required") match { case JBool(b) => b; case _ => false }
      val me = entryFor(ms, id)
      val phys = physicalName(me, name)
      if (phys != name) renames += ((Seq(phys)) -> name)
      val childMs = me.map(e => mappingEntries(e \ "fields")).getOrElse(Nil)
      // one-level struct leaves → bound-stat keys ("col.field", the
      // manifest metrics shape)
      val leafIds: Seq[(Int, String, DataType)] = (f \ "type") match {
        case obj: JObject if (obj \ "type") == JString("struct") =>
          (obj \ "fields") match {
            case JArray(cfs) => cfs.flatMap { cf =>
              val JString(cn) = cf \ "name"
              val cid = (cf \ "id") match {
                case JInt(i) => i.toInt; case JLong(l) => l.toInt; case _ => -1
              }
              val cphys = physicalName(entryFor(childMs, cid), cn)
              (cf \ "type") match {
                case JString(ps) =>
                  scala.util.Try(primitive(ps)).toOption.map(pt => (cid, cphys, pt))
                case _ => None
              }
            }
            case _ => Nil
          }
        case _ => Nil
      }
      SField(id, name, phys, required, convert(f \ "type", childMs, Seq(name)), leafIds)
    }
    ISchema(top, renames.toSeq)
  }

  private val DecimalRe = """decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r
  private val FixedRe = """fixed\[(\d+)\]""".r

  private def primitive(s: String): DataType = s match {
    case "boolean" => BooleanType
    case "int" => IntegerType
    case "long" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "string" => StringType
    case "binary" => BinaryType
    case "date" => DateType
    case "timestamptz" => TimestampType
    case "timestamp" => TimestampNTZType
    case DecimalRe(p, sc) => DecimalType(p.toInt, sc.toInt)
    case "uuid" | "time" | FixedRe(_) => throw new IllegalArgumentException(
      s"Iceberg type $s has no by-name parquet reading here — " +
        "not importable")
    case other => throw new IllegalArgumentException(s"unknown Iceberg type: $other")
  }

  // ---- Avro manifests -----------------------------------------------------

  private case class DataEntry(path: String, format: String, seq: Long,
      rows: Long, size: Long, partVals: Map[String, Any],
      lower: Map[Int, Array[Byte]] = Map.empty,
      upper: Map[Int, Array[Byte]] = Map.empty,
      nullCounts: Map[Int, Long] = Map.empty,
      nanCounts: Map[Int, Long] = Map.empty)
  private case class DeleteEntry(path: String, seq: Long, content: Int,
      eqIds: Seq[Int], partVals: Map[String, Any])

  /** Read the manifest list and every reachable manifest. Returns live
    * data entries, position-delete entries, equality-delete entries.
    * (v1 manifests simply lack the v2 fields — Avro field-presence
    * defaults handle both versions in one pass.)
    */
  private def readManifests(manifestList: String,
      read: String => Seq[GenericRecord])
      : (Seq[DataEntry], Seq[DeleteEntry], Seq[DeleteEntry]) = {
    val data = Seq.newBuilder[DataEntry]
    val pos = Seq.newBuilder[DeleteEntry]
    val eq = Seq.newBuilder[DeleteEntry]
    read(manifestList).foreach { m =>
      val mPath = m.get("manifest_path").toString
      val mContent = intField(m, "content", 0)
      val mSeq = longField(m, "sequence_number", 0L)
      read(mPath).foreach { e =>
        val status = intField(e, "status", 0)
        if (status != 2) { // 2 = DELETED: not part of the snapshot
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val content = intField(df, "content", 0)
          // explicit entry sequence, else inherited from the manifest
          val seq = Option(e.get("sequence_number"))
            .collect { case l: java.lang.Long => l.longValue() }
            .getOrElse(mSeq)
          val path = df.get("file_path").toString
          // null values stay IN the map: a delete file scoped to the
          // NULL partition must not masquerade as an unscoped (global)
          // delete — the scope check below refuses it loudly
          val partVals = Option(df.get("partition"))
            .collect { case r: GenericRecord =>
              r.getSchema.getFields.asScala.map { f =>
                f.name() -> avroValue(f.schema(), r.get(f.pos()))
              }.toMap
            }.getOrElse(Map.empty[String, Any])
          (mContent, content) match {
            case (0, 0) =>
              data += DataEntry(path, df.get("file_format").toString, seq,
                df.get("record_count").asInstanceOf[java.lang.Long],
                longField(df, "file_size_in_bytes", 0L), partVals,
                lower = bytesMap(df, "lower_bounds"),
                upper = bytesMap(df, "upper_bounds"),
                nullCounts = longMap(df, "null_value_counts"),
                nanCounts = longMap(df, "nan_value_counts"))
            case (_, 1) => pos += DeleteEntry(path, seq, 1, Nil, partVals)
            case (_, 2) =>
              val ids = Option(df.get("equality_ids")).toSeq.flatMap {
                case l: java.util.List[_] =>
                  l.asScala.toSeq.collect { case i: java.lang.Integer => i.intValue() }
                case _ => Nil
              }
              eq += DeleteEntry(path, seq, 2, ids, partVals)
            case (1, 0) => throw new IllegalArgumentException(
              s"delete manifest $mPath carries a data entry: $path")
            case (_, c) => throw new IllegalArgumentException(
              s"unknown content=$c for $path in $mPath")
          }
        }
      }
    }
    (data.result(), pos.result(), eq.result())
  }

  private def readAvro(path: String): Seq[GenericRecord] = {
    val r = new DataFileReader(new java.io.File(stripScheme(path)),
      new GenericDatumReader[GenericRecord]())
    try r.iterator().asScala.toList finally r.close()
  }

  private def intField(r: GenericRecord, name: String, dflt: Int): Int =
    if (r.getSchema.getField(name) == null) dflt
    else Option(r.get(name)).collect {
      case i: java.lang.Integer => i.intValue()
      case l: java.lang.Long => l.intValue()
    }.getOrElse(dflt)

  private def longField(r: GenericRecord, name: String, dflt: Long): Long =
    if (r.getSchema.getField(name) == null) dflt
    else Option(r.get(name)).collect {
      case l: java.lang.Long => l.longValue()
      case i: java.lang.Integer => i.longValue()
    }.getOrElse(dflt)

  /** Iceberg manifest logical MAPs arrive either as a true Avro map or as
    * the spec's array-of-(key,value)-records form — read both.
    */
  private def kvPairs(r: GenericRecord, name: String): Seq[(Int, AnyRef)] =
    if (r.getSchema.getField(name) == null) Nil
    else r.get(name) match {
      case null => Nil
      case m: java.util.Map[_, _] => m.asScala.toSeq.collect {
        case (k: java.lang.Integer, v: AnyRef) => k.intValue() -> v
        case (k: org.apache.avro.util.Utf8, v: AnyRef) => k.toString.toInt -> v
      }
      case l: java.util.List[_] => l.asScala.toSeq.collect {
        case kv: GenericRecord =>
          kv.get("key").asInstanceOf[java.lang.Integer].intValue() ->
            kv.get("value").asInstanceOf[AnyRef]
      }
      case _ => Nil
    }

  private def bytesMap(r: GenericRecord, name: String): Map[Int, Array[Byte]] =
    kvPairs(r, name).collect {
      case (k, b: java.nio.ByteBuffer) =>
        val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr); k -> arr
      case (k, f: org.apache.avro.generic.GenericFixed) => k -> f.bytes()
    }.toMap

  private def longMap(r: GenericRecord, name: String): Map[Int, Long] =
    kvPairs(r, name).collect {
      case (k, l: java.lang.Long) => k -> l.longValue()
      case (k, i: java.lang.Integer) => k -> i.longValue()
    }.toMap

  /** Pruning stats decoded from one manifest entry's bounds (Iceberg
    * single-value serialization, spec Appendix D) — value representations
    * match [[FooterStats]] exactly (raw Long micros for timestamps, Int
    * days for dates, BigDecimal for decimals, UTF-8 Strings). Soundness
    * guards: float/double bounds are used only with an EXPLICIT zero
    * nan count (Iceberg bounds exclude NaN, but Spark ranks NaN above
    * every double — using such bounds would prune files whose NaN rows
    * match); string bounds may be TRUNCATED prefixes, so their columns
    * are marked truncated and MIN/MAX aggregate pushdown declines them;
    * geometry columns carry no value stats, like the write path.
    */
  private def decodeBoundStats(e: DataEntry, statNames: Map[Int, (String, DataType)],
      geomCols: Set[String], abs: String): FileStats = {
    val mins = scala.collection.mutable.Map.empty[String, Any]
    val maxs = scala.collection.mutable.Map.empty[String, Any]
    val trunc = scala.collection.mutable.ArrayBuffer.empty[String]
    statNames.foreach { case (id, (name, dt)) =>
      if (!geomCols.contains(name.split('.').head)) {
        val floaty = dt == FloatType || dt == DoubleType
        val nanOk = !floaty || e.nanCounts.get(id).contains(0L)
        (e.lower.get(id), e.upper.get(id)) match {
          case (Some(lo), Some(hi)) if nanOk =>
            (decodeBound(dt, lo), decodeBound(dt, hi)) match {
              case (Some(l), Some(h)) =>
                mins(name) = l
                maxs(name) = h
                if (dt == StringType) trunc += name
              case _ => ()
            }
          case _ => ()
        }
      }
    }
    val nulls = e.nullCounts.flatMap { case (id, n) =>
      statNames.get(id).map(_._1 -> n)
    }
    FileStats(abs, e.rows, e.size, mins.toMap, maxs.toMap,
      nulls = nulls, truncated = trunc.toSeq)
  }

  private def decodeBound(dt: DataType, b: Array[Byte]): Option[Any] = {
    def le = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    dt match {
      case BooleanType if b.length >= 1 => Some(b(0) != 0)
      case IntegerType | ShortType | ByteType if b.length == 4 => Some(le.getInt)
      case LongType if b.length == 8 => Some(le.getLong)
      case FloatType if b.length == 4 => Some(le.getFloat)
      case DoubleType if b.length == 8 => Some(le.getDouble)
      case DateType if b.length == 4 => Some(le.getInt)
      case TimestampType | TimestampNTZType if b.length == 8 => Some(le.getLong)
      case StringType => Some(new String(b, StandardCharsets.UTF_8))
      case d: DecimalType =>
        Some(BigDecimal(new java.math.BigInteger(b), d.scale))
      case _ => None // binary, nested, unknown: no pruning value
    }
  }

  /** Avro partition value → plain JVM value (logical types decoded). */
  private def avroValue(sch: AvroSchema, v: AnyRef): Any = {
    if (v == null) return null
    val eff = if (sch.getType == AvroSchema.Type.UNION)
      sch.getTypes.asScala.find(_.getType != AvroSchema.Type.NULL).getOrElse(sch)
    else sch
    val logical = Option(eff.getLogicalType).map(_.getName).getOrElse("")
    (v, logical) match {
      case (i: java.lang.Integer, "date") => java.time.LocalDate.ofEpochDay(i.longValue())
      case (l: java.lang.Long, "timestamp-micros") => l.longValue()
      case (b: java.nio.ByteBuffer, "decimal") =>
        val d = eff.getLogicalType.asInstanceOf[org.apache.avro.LogicalTypes.Decimal]
        val bytes = new Array[Byte](b.remaining()); b.duplicate().get(bytes)
        BigDecimal(new java.math.BigInteger(bytes), d.getScale)
      case (f: org.apache.avro.generic.GenericFixed, "decimal") =>
        val d = eff.getLogicalType.asInstanceOf[org.apache.avro.LogicalTypes.Decimal]
        BigDecimal(new java.math.BigInteger(f.bytes()), d.getScale)
      case (u: org.apache.avro.util.Utf8, _) => u.toString
      case (s: java.lang.String, _) => s
      case (other, _) => other
    }
  }

  // ---- partition-value plumbing ---------------------------------------

  /** Does `col=value` in the file's directory names round-trip to the
    * manifest's typed partition value? Exact parses for the losslessly
    * castable types; the session-zone lenient cast for timestamps and
    * decimals (the same seam graft itself serves those dir values
    * through).
    */
  private def dirValueMatches(abs: String, name: String, v: Any, dt: DataType): Boolean = {
    val dirs = PartitionPaths.dirValues(abs)
    val raw = PartitionPaths.value(dirs, name)
    (raw, v) match {
      // dir missing (pre-evolution file) or the null sentinel: graft
      // serves null there, matching an Iceberg null/absent value
      case (None, null) => true
      case (None, _) => false
      case (Some(_), null) => false
      case (Some(s), value) => dt match {
        case IntegerType | LongType => scala.util.Try(s.toLong).toOption
          .contains(value.asInstanceOf[Number].longValue())
        case FloatType | DoubleType => scala.util.Try(s.toDouble).toOption
          .contains(value.asInstanceOf[Number].doubleValue())
        case BooleanType => scala.util.Try(s.toBoolean).toOption.contains(value)
        case StringType => s == value
        case DateType => value match {
          case d: java.time.LocalDate => scala.util.Try(java.time.LocalDate.parse(s))
            .toOption.contains(d)
          case _ => false
        }
        case TimestampType | TimestampNTZType => value match {
          case micros: Long =>
            PartitionPaths.castLenient(s, dt) == micros
          case _ => false
        }
        case d: DecimalType => value match {
          case bd: BigDecimal =>
            Option(PartitionPaths.castLenient(s, d))
              .collect { case dec: org.apache.spark.sql.types.Decimal => dec.toBigDecimal }
              .contains(bd)
          case _ => false
        }
        case _ => false
      }
    }
  }

  /** A partition value as a Spark literal input (for the eq-delete
    * partition-scope constant columns). Timestamps keep MICROSECOND
    * precision — a millis-rounded java.sql.Timestamp would never equal
    * any table value and silently stop the delete from applying.
    */
  private def toSparkLiteral(v: Any, dt: DataType): Any = (v, dt) match {
    case (d: java.time.LocalDate, DateType) => java.sql.Date.valueOf(d)
    case (micros: Long, TimestampType) =>
      java.time.Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L),
        Math.floorMod(micros, 1000000L) * 1000L)
    case (micros: Long, TimestampNTZType) =>
      java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
        (Math.floorMod(micros, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
    case (bd: BigDecimal, _: DecimalType) => bd
    case (other, _) => other
  }

  private def absPath(p: String): String = stripScheme(p)

  private def stripScheme(p: String): String = graft.sources.DeleteFiles.norm(p)

  /** Write MoR delete rows as one parquet file under `_graft_deletes/`,
    * returning the table-relative name ([[Snapshots]] delete-file layout:
    * hidden dir, non-underscore file name).
    */
  private def writeMorFile(spark: SparkSession,
      target: String, df: org.apache.spark.sql.DataFrame, kind: String): String = {
    val name = s"_graft_deletes/$kind-${java.util.UUID.randomUUID().toString.take(12)}.parquet"
    Snapshots.writeSingleParquet(df, Paths.get(target, name))
    name
  }
}
