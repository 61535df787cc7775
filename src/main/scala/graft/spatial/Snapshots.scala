package graft.spatial

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._

/** Snapshot layer over the manifest: versioned manifests give append /
  * logical-overwrite / copy-on-write DELETE plus time travel and a history
  * metadata table — the Spark-native analogue of Iceberg snapshots
  * (`core/.../DataTableScan.java`, `SparkCopyOnWriteOperation.java`,
  * `VERSION AS OF` in /root/reference's surface, SURVEY.md §2.7).
  *
  * Every snapshot is a JSON manifest `_graft_manifest_v{N}.json` listing
  * its data files + stats; the refs pointer names each branch's head, and
  * main's head manifest is the table's metadata (partition spec, spec
  * history, schema).
  * Data files are immutable — append writes new files, overwrite publishes
  * a manifest that simply stops referencing old ones, and DELETE rewrites
  * only the files whose stats say they *might* contain matching rows (the
  * same inclusive evaluation that drives scan pruning). Old versions stay
  * readable until a retention sweep (`expireSnapshots`).
  */
object Snapshots {
  import TableOps.{Head, RefsState, commit, refsState, refsVPath, updateRefs}

  /** A concurrent writer committed the version this writer computed —
    * re-read the table state and retry the operation.
    */
  class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** A CREATE lost the race: another writer committed the table's first
    * snapshot between the catalog's existence pre-check and this commit.
    * Catalogs translate it to Spark's TableAlreadyExistsException.
    */
  class TableCreateConflictException(path: String)
    extends RuntimeException(s"table already created at $path")

  /** Run `f` over a directory listing / walk and CLOSE the underlying
    * DirectoryStream. `Files.list`/`Files.walk` hold an open fd until
    * closed; the metadata paths call these constantly, and relying on GC
    * to close them exhausted the process fd limit under the full suite.
    */
  private[graft] def listDir[T](dir: java.nio.file.Path)(f: Iterator[java.nio.file.Path] => T): T = {
    val s = Files.list(dir)
    try { import scala.jdk.CollectionConverters._; f(s.iterator().asScala) } finally s.close()
  }
  private[graft] def walkDir[T](dir: java.nio.file.Path)(f: Iterator[java.nio.file.Path] => T): T = {
    val s = Files.walk(dir)
    try { import scala.jdk.CollectionConverters._; f(s.iterator().asScala) } finally s.close()
  }

  private[graft] def manifestPath(path: String, v: Int) = Paths.get(path, s"_graft_manifest_v$v.json")

  def currentVersion(path: String): Int = {
    val dir = Paths.get(path)
    if (!Files.exists(dir)) return 0
    listDir(dir)(_.foldLeft(0) { (max, p) =>
      val n = p.getFileName.toString
      if (n.startsWith("_graft_manifest_v") && n.endsWith(".json"))
        math.max(max, n.stripPrefix("_graft_manifest_v").stripSuffix(".json").toInt)
      else max
    })
  }

  // Parsed-manifest memo: a manifest file is immutable once published and
  // version numbers are never reused (rollback republishes FORWARD), so
  // its (path, size, mtime) fully determines the parse product. Planning
  // consults the manifest several times per query (stats report, SPJ key
  // rows, exact-filter claims, aggregate pushdown, input partitions, the
  // three delete lists, the schema) and once per scan BUILD on top — at
  // 100k files that is tens of ms of JSON + string work each; the memo
  // makes it one parse per published version. LRU-bounded so a driver
  // touching many tables keeps the hot set. The stat-key also
  // invalidates on out-of-band manifest edits.
  private[graft] val manifestParseCount = new java.util.concurrent.atomic.AtomicLong

  /** LRU bounded by TOTAL CACHED FILE ENTRIES, not manifest count: a
    * streaming chain of hundreds of tiny manifests stays fully hot
    * (a count-bounded LRU would thrash on every chain walk), while a few
    * 100k-file manifests can't accrete into GBs of driver heap. A
    * secondary entry cap keeps the key set itself bounded.
    */
  private object ManifestCache {
    private val MaxTotalFiles = 262144L
    private val MaxEntries = 512
    private val map =
      new java.util.LinkedHashMap[(String, Long, Long), GeoTable.Manifest](64, 0.75f, true)
    private var totalFiles = 0L
    def get(k: (String, Long, Long)): GeoTable.Manifest = synchronized { map.get(k) }
    def put(k: (String, Long, Long), v: GeoTable.Manifest): Unit = synchronized {
      val prev = map.put(k, v)
      totalFiles += v.files.size.toLong - (if (prev == null) 0L else prev.files.size.toLong)
      val it = map.entrySet().iterator()
      while ((totalFiles > MaxTotalFiles || map.size() > MaxEntries) &&
          map.size() > 1 && it.hasNext) {
        val e = it.next()
        if (e.getKey != k) { totalFiles -= e.getValue.files.size.toLong; it.remove() }
      }
    }
  }

  /** The parsed manifest of a snapshot (default: main head). */
  private[graft] def manifest(path: String, version: Option[Int]): GeoTable.Manifest = {
    val v = version.getOrElse(mainVersion(path))
    require(v > 0, s"no snapshots at $path")
    val p = manifestPath(path, v)
    require(Files.exists(p), s"no snapshot version $v at $path")
    val key = (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)
    val cached = ManifestCache.get(key)
    if (cached != null) return cached
    manifestParseCount.incrementAndGet()
    val parsed = GeoTable.parseManifest(
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    ManifestCache.put(key, parsed)
    parsed
  }

  def readManifest(path: String, version: Option[Int] = None): Seq[FileStats] =
    manifest(path, version).files

  /** Merge-on-read delete predicates of a snapshot. */
  def readDeletes(path: String, version: Option[Int] = None): Seq[String] =
    manifest(path, version).deletes

  /** Positional delete files of a snapshot. */
  def readPosDeletes(path: String, version: Option[Int] = None): Seq[String] =
    manifest(path, version).posDeletes

  /** Equality delete files of a snapshot (with sequence-number scoping). */
  def readEqDeletes(path: String, version: Option[Int] = None): Seq[EqDelete] =
    manifest(path, version).eqDeletes

  /** Persisted schema of a snapshot (None for legacy manifests). The
    * default is main's head, None when there is no snapshot yet.
    */
  def readSchema(path: String, version: Option[Int] = None): Option[org.apache.spark.sql.types.StructType] =
    version.map(v => manifest(path, Some(v))).orElse(headManifest(path)).flatMap(_.schema)

  /** Main head's parsed manifest under refs state `rs` (None: no snapshot
    * yet). It carries the table-level metadata: the partition spec, the
    * spec history and the schema. Branch commits carry main's spec, and
    * time-travel reads plan with it.
    */
  private[graft] def headManifest(path: String): Option[GeoTable.Manifest] =
    headManifest(path, refsState(path))

  private[graft] def headManifest(path: String, rs: RefsState): Option[GeoTable.Manifest] = {
    val v = rs.mainHead(path)
    if (v > 0) Some(manifest(path, Some(v))) else None
  }

  /** Is `path` a graft table? Yes when its refs state names a `main`
    * head. A refs-less directory is a table only if it holds the legacy
    * `_graft_manifest.json` marker, which tables written before the refs
    * pointer existed carry (its existence is checked, never its content):
    * a writer that crashed between linking its first version file and its
    * first refs CAS leaves a lone `_graft_manifest_v1.json`, and that
    * directory is not a table.
    */
  def isTable(path: String): Boolean =
    refsState(path).branches.contains("main") ||
      Files.exists(Paths.get(path, "_graft_manifest.json"))

  /** Snapshot properties (committed stream batch ids, parent pointers).
    * Memoized like the manifest parse: ancestry walks consult props for
    * EVERY chain version per planning, and parseProps re-parses the whole
    * manifest JSON — O(chain × manifest bytes) per walk uncached. Values
    * are tiny, so a plain count-bounded LRU suffices.
    */
  def readProps(path: String, version: Option[Int] = None): Map[String, String] = {
    val v = version.getOrElse(mainVersion(path))
    require(v > 0, s"no snapshots at $path")
    val p = manifestPath(path, v)
    require(Files.exists(p), s"no snapshot version $v at $path")
    val key = (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)
    val cached = PropsCache.get(key)
    if (cached != null) return cached
    propsParses.incrementAndGet()
    val parsed = GeoTable.parseProps(
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    PropsCache.put(key, parsed)
    parsed
  }

  /** Cache-miss parse count — observability for the per-version props
    * memo (a WAP session consults `write.wap.enabled` on every statement;
    * the spec asserts steady-state statements stay at zero parses).
    */
  private[graft] val propsParses = new java.util.concurrent.atomic.AtomicLong()

  private object PropsCache {
    private val MaxEntries = 4096
    private val map = java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long, Long), Map[String, String]](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long, Long), Map[String, String]]): Boolean =
          size() > MaxEntries
      })
    def get(k: (String, Long, Long)): Map[String, String] = map.get(k)
    def put(k: (String, Long, Long), v: Map[String, String]): Unit = map.put(k, v)
  }

  // ---- named refs: branches (movable) and tags (fixed) -------------------
  // the reference's branch/tag surface (`SnapshotRef` + branch DDL in
  // /root/reference). `main` is an implicit branch that every main-line
  // commit moves. Version numbers stay global — a branch commit allocates
  // the next number but only moves its own ref. The versioned refs pointer
  // and its CAS live in [[TableOps]].

  /** Refs-state reads (each one lists the table directory) — the metadata
    * cost one planning pass pays to find main's head.
    */
  private[graft] val refsReads = new java.util.concurrent.atomic.AtomicLong

  /** (branches, tags) → version. */
  def readRefs(path: String): (Map[String, Int], Map[String, Int]) = {
    val rs = refsState(path)
    (rs.branches, rs.tags)
  }

  private[graft] def atomicReplace(target: java.nio.file.Path, body: Array[Byte]): Unit = {
    val tmp = Files.createTempFile(target.getParent, ".tmp_", target.getFileName.toString)
    Files.write(tmp, body)
    Files.move(tmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Head of `main` (falls back to the newest version pre-refs). */
  def mainVersion(path: String): Int = refsState(path).mainHead(path)

  /** Resolve any ref name (branch or tag) to its version. */
  def resolveRef(path: String, name: String): Int = {
    val (bs, ts) = readRefs(path)
    bs.get(name).orElse(ts.get(name)).getOrElse(
      throw new IllegalArgumentException(s"no such branch or tag: $name"))
  }

  def createBranch(path: String, name: String, version: Option[Int] = None): Unit =
    updateRefs(path) { rs =>
      require(!rs.branches.contains(name) && !rs.tags.contains(name), s"ref exists: $name")
      (rs.branches + (name -> version.getOrElse(rs.mainHead(path))), rs.tags)
    }

  def createTag(path: String, name: String, version: Option[Int] = None): Unit =
    updateRefs(path) { rs =>
      require(!rs.branches.contains(name) && !rs.tags.contains(name), s"ref exists: $name")
      (rs.branches, rs.tags + (name -> version.getOrElse(rs.mainHead(path))))
    }

  def dropBranch(path: String, name: String): Unit = {
    require(name != "main", "cannot drop main")
    updateRefs(path) { rs =>
      require(rs.branches.contains(name), s"no such branch: $name")
      (rs.branches - name, rs.tags)
    }
  }

  def dropTag(path: String, name: String): Unit =
    updateRefs(path) { rs =>
      require(rs.tags.contains(name), s"no such tag: $name")
      (rs.branches, rs.tags - name)
    }

  /** `[CREATE OR] REPLACE BRANCH/TAG` — move (or create) the ref in one
    * CAS; a name registered as the OTHER ref kind is rejected, and plain
    * REPLACE (`mustExist`) refuses to create.
    */
  def replaceRef(path: String, name: String, version: Option[Int],
      branch: Boolean, mustExist: Boolean): Unit =
    updateRefs(path) { rs =>
      require(name != "main" || branch, "main is a branch")
      if (branch) {
        require(!rs.tags.contains(name), s"ref is a tag: $name")
        require(!mustExist || rs.branches.contains(name), s"no such branch: $name")
        (rs.branches + (name -> version.getOrElse(rs.mainHead(path))), rs.tags)
      } else {
        require(!rs.branches.contains(name), s"ref is a branch: $name")
        require(!mustExist || rs.tags.contains(name), s"no such tag: $name")
        (rs.branches, rs.tags + (name -> version.getOrElse(rs.mainHead(path))))
      }
    }

  /** Per-ref retention policy (`CREATE BRANCH b RETAIN n DAYS [WITH
    * SNAPSHOT RETENTION k SNAPSHOTS]`, ref `IcebergSqlExtensions.g4:110,118`
    * and `SnapshotRef`'s maxRefAgeMs / minSnapshotsToKeep): stored as
    * `ref.<name>.retain-ms` / `ref.<name>.min-snapshots-keep` snapshot
    * properties next to a `ref.<name>.created-at-ms` birth stamp, honored
    * by [[expireSnapshots]] — an aged-out ref is dropped, a branch keeps
    * only its retained ancestry window.
    */
  def setRefRetention(path: String, name: String, retainMs: Option[Long],
      minSnapshotsKeep: Option[Int], maxSnapshotAgeMs: Option[Long] = None): Unit =
    if (retainMs.isDefined || minSnapshotsKeep.isDefined || maxSnapshotAgeMs.isDefined) {
      updateProperties(path,
        Map(s"ref.$name.created-at-ms" -> System.currentTimeMillis().toString) ++
          retainMs.map(ms => s"ref.$name.retain-ms" -> ms.toString) ++
          minSnapshotsKeep.map(k => s"ref.$name.min-snapshots-keep" -> k.toString) ++
          maxSnapshotAgeMs.map(ms => s"ref.$name.max-snapshot-age-ms" -> ms.toString))
      ()
    }

  /** Move a branch pointer forward (the reference's `fast_forward`). */
  def fastForward(path: String, branch: String, toVersion: Int): Unit = {
    require(Files.exists(manifestPath(path, toVersion)), s"no snapshot v$toVersion")
    updateRefs(path) { rs =>
      require(rs.branches.contains(branch) || branch == "main", s"no such branch: $branch")
      (rs.branches + (branch -> toVersion), rs.tags)
    }
  }

  /** Read a branch or tag head. */
  def readRef(spark: SparkSession, path: String, name: String): DataFrame =
    read(spark, path, Some(resolveRef(path, name)))

  /** Append onto a BRANCH head: allocates the next global version but
    * moves only the branch pointer — main-line readers are isolated.
    * `props` carries a commit's `snapshot-property.*` extras (branch
    * commits record them like main commits — silent loss here would be
    * inconsistent with the WAP path's loud rejection).
    */
  def appendToBranch(df: DataFrame, path: String, branch: String,
      props: Map[String, String] = Map.empty,
      writeOptions: Map[String, String] = Map.empty): Int = {
    val spark = df.sparkSession
    val (added, written) = writeBack(df, path, writeOptions)
    val stats = statsFor(spark, path, added)
    commit(path, branch)(appended(_, stats, written, props))
  }

  /** `h` with `stats` appended, `props` merged and the schema widened to
    * what was `written` — every append-shaped commit's body.
    */
  private def appended(h: Head, stats: Seq[FileStats],
      written: org.apache.spark.sql.types.StructType, props: Map[String, String]): Option[Head] =
    Some(h.copy(m = h.m.copy(files = h.m.files ++ stats, schema = mergeSchema(h.m.schema, written)),
      props = h.props ++ props))

  /** Per-snapshot operation stamp (the reference's snapshot `operation`
    * field, `core/.../SnapshotSummary`): set by commits whose shape is not
    * derivable from the manifest diff alone — today only `replace`
    * (rows-preserving rewrite), which downstream consumers (the vector
    * index's catch-up walk) must distinguish from an overwrite with a
    * coincidentally equal row count. Cleared on every commit that does not
    * restate it, so it never leaks onto later snapshots via prop carry.
    */
  private[graft] val OperationProp = "graft.snapshot.operation"

  /** Pending MoR predicate-delete SQL across EVERY ref head (branches,
    * tags, and main) — the schema-evolution guard's input: a pending
    * predicate on any still-readable head dangles after a rename/drop of
    * a column it references, exactly like main's.
    */
  private[spatial] def pendingPredicateDeleteSql(path: String): Seq[String] = {
    val rs = refsState(path)
    (rs.branches.values.toSeq ++ rs.tags.values.toSeq :+ rs.mainHead(path))
      .filter(_ > 0).distinct
      .flatMap(h => readDeletes(path, Some(h))).distinct
  }

  /** Commit a metadata-only snapshot replacing the table property map with
    * `(current ++ set) -- unset` — ALTER TABLE SET/UNSET TBLPROPERTIES.
    * Files, deletes, and schema carry forward untouched.
    */
  def updateProperties(path: String, set: Map[String, String],
      unset: Seq[String] = Nil): Int = commit(path) { h =>
    require(h.v > 0, s"no snapshots at $path")
    Some(h.copy(props = (h.props ++ set) -- unset))
  }

  // ---- table statistics (NDV): one approx_count_distinct pass over the
  // current snapshot, persisted as snapshot properties and served to the
  // CBO through GraftScan.estimateStatistics columnStats().distinctCount
  // — the role Iceberg's ComputeTableStats/puffin ndv blobs play for
  // SparkScan.estimateStatistics; the reference fork predates that
  // action, so this is a beyond-ref addition using the same property
  // channel as the rest of the table metadata. At 100 TB: one corpus
  // pass (HLL partial-aggregates, no extra shuffle width) per ANALYZE,
  // amortized over every CBO plan until the table changes enough to
  // matter.

  // the stamp key must NOT share the per-column prefix: a table column
  // literally named "version" would collide — its NDV entry clobbered by
  // the stamp and never served to the CBO. Legacy stamps under the old
  // "stats.ndv.version" key read as stale → one recompute, no wrong stats.
  val NdvVersionProp = "stats.ndv-version"
  def ndvProp(col: String): String = s"stats.ndv.$col"

  /** Persisted NDV sketch sidecar (the Puffin-statistics-file analogue:
    * `core/.../puffin/StandardBlobTypes.java` carries
    * apache-datasketches-theta blobs per snapshot; here the blobs are
    * Spark's own DataSketches HLL from `hll_sketch_agg` — mergeable,
    * deterministic, codegen'd): one JSON per stats-computing version under
    * `_graft_stats/`, with a base64 sketch per column plus the scan
    * telemetry the incremental path is judged by.
    */
  private val StatsDir = "_graft_stats"
  private def sketchFile(path: String, v: Int): java.nio.file.Path =
    java.nio.file.Paths.get(path, StatsDir, s"ndv_sketch_v$v.json")

  private def readSketches(path: String, v: Int)
      : Option[(Map[String, Array[Byte]], Int)] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    // newest sketch file at or before v (stats never travel back in time)
    val dir = java.nio.file.Paths.get(path, StatsDir)
    if (!java.nio.file.Files.isDirectory(dir)) return None
    val SketchRe = """ndv_sketch_v(\d+)\.json""".r
    val best = listDir(dir)(_.toSeq).flatMap(_.getFileName.toString match {
      case SketchRe(n) if n.toInt <= v => Some(n.toInt)
      case _ => None
    }).sorted.lastOption
    best.map { bv =>
      val j = JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(sketchFile(path, bv)),
        java.nio.charset.StandardCharsets.UTF_8))
      val cols = (j \ "columns") match {
        case JObject(kv) => kv.collect { case (k, JString(b64)) =>
          k -> java.util.Base64.getDecoder.decode(b64) }.toMap
        case _ => Map.empty[String, Array[Byte]]
      }
      (cols, bv)
    }
  }

  private def writeSketches(path: String, v: Int, sketches: Map[String, Array[Byte]],
      scannedFiles: Int, scannedRows: Long, mode: String,
      ndvs: Map[String, Long]): Unit = {
    val cols = sketches.toSeq.sortBy(_._1).map { case (c, b) =>
      s""""$c":"${java.util.Base64.getEncoder.encodeToString(b)}""""
    }.mkString("{", ",", "}")
    val body = s"""{"version":$v,"mode":"$mode","scanned_files":$scannedFiles,""" +
      s""""scanned_rows":$scannedRows,"columns":$cols}"""
    val f = sketchFile(path, v)
    java.nio.file.Files.createDirectories(f.getParent)
    java.nio.file.Files.write(f, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // Puffin twin of the JSON sidecar (r11 Missing #3): the same sketch
    // bytes framed per the public spec so external DataSketches/Puffin
    // readers can consume graft's NDV stats; blob properties carry the
    // spec-recommended "ndv" estimate plus the sketched column name
    Puffin.write(f.resolveSibling(s"ndv_puffin_v$v.puffin"),
      sketches.toSeq.sortBy(_._1).map { case (c, b) =>
        (Puffin.HllBlobType, b,
          Map("column" -> c) ++ ndvs.get(c).map(n => "ndv" -> n.toString))
      }, snapshotId = v.toLong,
      fileProps = Map("created-by" -> "graft", "mode" -> mode))
    ()
  }

  /** Scan telemetry of the newest sketch refresh at or before `v`:
    * (mode, scanned_files, scanned_rows) — the spec's proof that an
    * append-only refresh read ONLY the delta.
    */
  def ndvRefreshTelemetry(path: String, v: Int): Option[(String, Int, Long)] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    readSketches(path, v).map { case (_, bv) =>
      val j = JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(sketchFile(path, bv)),
        java.nio.charset.StandardCharsets.UTF_8))
      val mode = (j \ "mode") match { case JString(s) => s; case _ => "" }
      val nf = (j \ "scanned_files") match { case JInt(n) => n.toInt; case _ => -1 }
      val nr = (j \ "scanned_rows") match { case JInt(n) => n.toLong; case _ => -1L }
      (mode, nf, nr)
    }
  }

  /** Compute + store per-column NDV for the current snapshot. Geometry
    * and other binary columns are skipped (their NDV never feeds a CBO
    * estimate worth having). Returns (stamped version, column -> ndv).
    *
    * INCREMENTAL on appends: when a sketch sidecar exists for an earlier
    * version and every file of that epoch is still live (nothing
    * rewritten away, no delete state pending), only files ADDED since are
    * scanned and their sketches HLL-union with the persisted ones —
    * metadata + delta instead of a full re-scan, the reason Iceberg
    * persists mergeable sketches in Puffin files. Any row-removing change
    * (overwrite, delete, rewrite) voids the merge precondition and falls
    * back to the full pass (an HLL cannot subtract).
    */
  def computeTableStats(spark: SparkSession, path: String,
      columns: Seq[String] = Nil): (Int, Map[String, Long]) = {
    import org.apache.spark.sql.functions.{col, hll_sketch_agg, hll_sketch_estimate, hll_union, lit}
    val head = mainVersion(path)
    val manifest = readManifest(path, Some(head))
    // read PINNED at `head`: the lazily-planned scan would otherwise
    // resolve a concurrently committed version and persist ITS counts
    // stamped as this head's sketch
    val full = read(spark, path, Some(head))
    val geo = GeometryFields.get(path).keySet
    val targets0 = if (columns.nonEmpty) columns else full.schema.fields.toSeq
      .filterNot(f => f.dataType == org.apache.spark.sql.types.BinaryType ||
        f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
      .map(_.name)
    val targets = targets0.filterNot(geo.contains).filterNot(_ == "geom_bbox")
    require(targets.nonEmpty, "no NDV-eligible columns")
    val missing = targets.filterNot(full.columns.contains)
    require(missing.isEmpty, s"no such columns: ${missing.mkString(", ")}")

    // hll_sketch_agg accepts only int/long/string/binary
    // (HllSketchAgg's ExpectsInputTypes; no implicit cast is inserted) —
    // every other eligible type (double, date, timestamp, boolean,
    // decimal, …) sketches its string form: distinct values stay
    // distinct, and an approximate NDV doesn't care about the codec.
    def sketchCol(c: String): org.apache.spark.sql.Column = {
      import org.apache.spark.sql.types._
      full.schema(c).dataType match {
        case IntegerType | LongType | StringType | BinaryType => col(c)
        case _ => col(c).cast(StringType)
      }
    }
    val prev = readSketches(path, head)
    // merge precondition: previous sketch covers exactly the files that
    // existed then AND all of them are still live (append-only since) AND
    // no delete state trims rows at read time AND the previous sketch has
    // every requested column. The epoch's manifest may itself have been
    // expired (expire_snapshots deletes old manifest files) — that voids
    // the precondition rather than erroring the procedure.
    val incremental = prev.collect {
      case (sketches, pv)
        if targets.forall(sketches.contains) &&
          Files.exists(manifestPath(path, pv)) &&
          // MEMBERSHIP, not counts: a cherrypick adding files stamped
          // <= pv while a CoW delete removes the same number would pass a
          // count check and leave the cherrypicked files out of the union
          manifest.filter(_.addedV <= pv).map(_.path).toSet ==
            readManifest(path, Some(pv)).map(_.path).toSet &&
          readDeletes(path, Some(head)).isEmpty &&
          readEqDeletes(path, Some(head)).isEmpty &&
          readPosDeletes(path, Some(head)).isEmpty =>
        (sketches, pv, manifest.filter(_.addedV > pv))
    }

    val (ndv, sketchesOut, scannedFiles, scannedRows, mode) = incremental match {
      case Some((prevSketches, _, added)) =>
        val fresh: Map[String, Array[Byte]] =
          if (added.isEmpty) Map.empty // nothing new: pure metadata refresh
          else {
            val row = readFilesDecoded(spark, path, added.map(_.path)).agg(
              hll_sketch_agg(sketchCol(targets.head)).as("s0"),
              targets.tail.zipWithIndex.map { case (c, i) =>
                hll_sketch_agg(sketchCol(c)).as(s"s${i + 1}") }: _*).first()
            targets.zipWithIndex.flatMap { case (c, i) =>
              if (row.isNullAt(i)) None else Some(c -> row.getAs[Array[Byte]](i))
            }.toMap
          }
        // union + estimate in ONE 1-row local projection (all operands are
        // tiny binary blobs on the driver; no data motion)
        val unionCols = targets.flatMap { c =>
          val u = fresh.get(c)
            .map(f => hll_union(lit(prevSketches(c)), lit(f)))
            .getOrElse(lit(prevSketches(c)))
          Seq(u.as(s"u_$c"), hll_sketch_estimate(u).as(s"e_$c"))
        }
        val out = spark.range(1).select(unionCols: _*).first()
        val merged = targets.zipWithIndex.map { case (c, i) =>
          c -> out.getAs[Array[Byte]](2 * i) }.toMap
        val est = targets.zipWithIndex.map { case (c, i) =>
          c -> out.getLong(2 * i + 1) }.toMap
        (est, merged, added.size, added.map(_.rows).sum, "incremental")
      case None =>
        val row = full.agg(
          hll_sketch_agg(sketchCol(targets.head)).as("s0"),
          targets.tail.zipWithIndex.map { case (c, i) =>
            hll_sketch_agg(sketchCol(c)).as(s"s${i + 1}") }: _*).first()
        val sketches = targets.zipWithIndex.flatMap { case (c, i) =>
          if (row.isNullAt(i)) None else Some(c -> row.getAs[Array[Byte]](i))
        }.toMap
        val est =
          if (sketches.isEmpty) targets.map(_ -> 0L).toMap
          else {
            val estCols = targets.map(c => sketches.get(c)
              .map(b => hll_sketch_estimate(lit(b))).getOrElse(lit(0L)).as(s"e_$c"))
            val out = spark.range(1).select(estCols: _*).first()
            targets.zipWithIndex.map { case (c, i) => c -> out.getLong(i) }.toMap
          }
        (est, sketches, manifest.size, manifest.map(_.rows).sum, "full")
    }
    writeSketches(path, head, sketchesOut, scannedFiles, scannedRows, mode, ndv)
    updateProperties(path,
      ndv.map { case (c, n) => ndvProp(c) -> n.toString } +
        (NdvVersionProp -> head.toString))
    (head, ndv)
  }

  /** NDV map recorded at or before `version` (None = current). Empty when
    * compute_table_stats never ran or ran only AFTER the read version —
    * stats from the future of a time-travel read are never served.
    */
  def ndvStats(path: String, version: Option[Int]): Map[String, Long] = {
    val props = readProps(path, version)
    props.get(NdvVersionProp) match {
      case Some(_) =>
        props.collect { case (k, v) if k.startsWith("stats.ndv.") && k != NdvVersionProp =>
          k.stripPrefix("stats.ndv.") -> v.toLong }
      case None => Map.empty
    }
  }

  // ---- identifier fields (ref `IcebergSqlExtensions.g4:74-75`,
  // `UpdateSchema.setIdentifierFields` in /root/reference): the declared
  // row-identity columns CDC/upsert tooling reads to derive merge keys.
  // Stored as the `identifier-fields` snapshot property — visible through
  // SHOW TBLPROPERTIES / DESCRIBE EXTENDED like the reference surfaces
  // them, versioned with the snapshot it was declared in.

  val IdentifierFieldsProp = "identifier-fields"

  /** Declared identifier fields of the current snapshot (empty = none). */
  def identifierFields(path: String): Seq[String] =
    readProps(path).get(IdentifierFieldsProp).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  /** `ALTER TABLE … SET IDENTIFIER FIELDS c1 [, c2 …]` — replaces the
    * declared set; every named column must exist in the current schema.
    */
  def setIdentifierFields(spark: SparkSession, path: String, cols: Seq[String]): Int = {
    require(cols.nonEmpty, "SET IDENTIFIER FIELDS needs at least one column")
    val have = schema(spark, path).fieldNames.toSet
    val missing = cols.filterNot(have)
    require(missing.isEmpty,
      s"SET IDENTIFIER FIELDS: no such column(s): ${missing.mkString(", ")}")
    updateProperties(path, Map(IdentifierFieldsProp -> cols.mkString(",")))
  }

  /** `ALTER TABLE … DROP IDENTIFIER FIELDS c1 [, c2 …]` — removes named
    * fields from the declared set; rejects names not currently declared.
    */
  def dropIdentifierFields(spark: SparkSession, path: String, cols: Seq[String]): Int = {
    val cur = identifierFields(path)
    val missing = cols.filterNot(cur.contains)
    require(missing.isEmpty,
      s"DROP IDENTIFIER FIELDS: not identifier field(s): ${missing.mkString(", ")}")
    val remaining = cur.filterNot(cols.contains)
    if (remaining.isEmpty)
      updateProperties(path, Map.empty, unset = Seq(IdentifierFieldsProp))
    else updateProperties(path, Map(IdentifierFieldsProp -> remaining.mkString(",")))
  }

  /** Upsert `source` keyed on the DECLARED identifier fields — the CDC
    * default-key path identifier fields exist for: rows matching on every
    * identifier column update, the rest insert. Single-key tables route
    * through [[mergeUpsert]] (honoring `write.merge.mode`); composite keys
    * lower onto [[mergeInto]] with `UPDATE SET *` / `INSERT *` clauses.
    */
  def upsert(spark: SparkSession, path: String, source: DataFrame,
      ref: String = "main"): Int = {
    val keys = identifierFields(path)
    require(keys.nonEmpty,
      "upsert needs declared identifier fields (ALTER TABLE … SET IDENTIFIER FIELDS …)")
    keys match {
      case Seq(k) => mergeUpsert(spark, path, source, k, ref)
      case ks =>
        val cols = schema(spark, path).fieldNames.toSeq
        mergeInto(spark, path, source,
          ks.map(k => s"t.`$k` = s.`$k`").mkString(" AND "),
          Seq(MergeClause(matched = true, None, "update",
              sets = cols.map(c => c -> s"s.`$c`")),
            MergeClause(matched = false, None, "insert")),
          "t", "s", ref)
    }
  }

  /** Persist an inferred schema onto a legacy manifest (one metadata-only
    * commit); no-op if a schema is already present or the table is empty.
    */
  private[spatial] def backfillSchema(path: String,
      schema: org.apache.spark.sql.types.StructType): Int = commit(path) { h =>
    if (h.v == 0 || h.m.schema.isDefined) None else h.edit(_.copy(schema = Some(schema)))
  }

  /** Commit a staged full replacement (atomic `REPLACE TABLE … AS SELECT`,
    * the reference's `StagingTableCatalog` path): one CAS snapshot makes
    * the staged entries the ENTIRE table — schema, partitioning, and
    * properties replaced, delete state and partition history cleared,
    * prior snapshots retained for time travel. Nothing is visible until
    * this commit lands.
    */
  def commitReplace(spark: SparkSession, path: String, entries: Seq[FileStats],
      schema: org.apache.spark.sql.types.StructType, parts: Seq[String],
      props: Map[String, String]): Int = commit(path) { _ =>
    Some(Head(0, GeoTable.Manifest(entries, Nil, Nil, Nil, parts, Nil, Some(schema)), props))
  }

  /** Partition-spec evolution: `ALTER TABLE … ADD/DROP PARTITION FIELD`
    * (the reference's `IcebergSqlExtensions.g4:69-83` DDL). Iceberg
    * semantics: existing files keep the layout they were written under —
    * dropped specs move to the manifest's `partitionHistory`, which
    * planning keeps using for projection pruning of old files; only files
    * written AFTER the change use the new spec. Metadata-only commit.
    *
    * Identity transforms are rejected: identity partition columns are
    * physically split out of data files, so adding/dropping one would
    * change what old files must contain. Hidden transforms (bucket /
    * truncate / year / month / day) keep the source column in the data,
    * so generations mix freely. A transform whose derived directory name
    * collides with a live or retired one (e.g. `bucket(8,id)` after
    * `bucket(4,id)`) is rejected — same-named dirs with different
    * semantics would poison projection pruning.
    */
  def evolvePartitionSpec(path: String, add: Seq[String] = Nil,
      drop: Seq[String] = Nil): Int = commit(path) { h =>
    require(h.v > 0, s"no table at $path")
    val m = h.m
    val current = m.specs
    val history = m.partitionHistory
    val schema = m.schema
    val adds = add.map(Transforms.parse).map { t0 =>
      require(!t0.isInstanceOf[Transforms.Identity],
        s"ADD PARTITION FIELD ${t0.spec}: identity partitioning cannot be evolved " +
          "(existing data files physically contain the column); use a hidden transform")
      schema.foreach(s => require(s.fieldNames.contains(t0.source),
        s"partition source column not in schema: ${t0.source}"))
      // hour is TIMESTAMP-only (the reference's posture): over a DATE it
      // would fail at the NEXT insert's write derivation — reject at DDL
      t0 match {
        case Transforms.DatePart("hour", src) =>
          schema.foreach(s => require(
            s.fields.find(_.name == src)
              .exists(_.dataType == org.apache.spark.sql.types.TimestampType),
            s"ADD PARTITION FIELD hour($src): hour requires a TIMESTAMP source"))
        case _ => ()
      }
      val taken = (current.map(_.derivedName) ++
        history.map(Transforms.parse(_).derivedName)).toSet
      // a clashing default name auto-disambiguates with the parameter
      // (`bucket(8,id)` after `bucket(4,id)` → dirs `id_bucket8=`): old
      // and new generations keep DISTINCT directory columns, so each
      // file prunes only through the spec that actually laid it out —
      // this is what makes `REPLACE PARTITION FIELD bucket(4,id) WITH
      // bucket(8,id)`, the primary Iceberg REPLACE shape, work at all.
      // Re-activating an identical retired spec keeps its name (same
      // transform ⇒ same projection semantics, dirs are compatible).
      val t =
        if (!taken(t0.derivedName)) t0
        else if (history.map(Transforms.parse(_).spec).contains(t0.spec) &&
            !current.exists(_.derivedName == t0.derivedName)) t0
        else t0 match {
          case b: Transforms.Bucket if b.name.isEmpty =>
            b.copy(name = Some(s"${b.source}_bucket${b.n}"))
          case tr: Transforms.Truncate if tr.name.isEmpty =>
            tr.copy(name = Some(s"${tr.source}_trunc${tr.w}"))
          case x => x
        }
      require(!taken(t.derivedName) ||
        (history.map(Transforms.parse(_).spec).contains(t.spec) &&
          !current.exists(_.derivedName == t.derivedName)),
        s"ADD PARTITION FIELD ${t.spec}: derived name ${t.derivedName} collides with a " +
          "live or retired partition field; name the transform explicitly, e.g. " +
          s"bucket(n,${t.source},<dirname>)")
      t
    }
    // canonicalize via the transform grammar so `bucket(4, id)` matches
    // the stored `bucket(4,id)`; unparseable strings match raw/by-name
    val dropSet = drop.map(_.trim).flatMap { d =>
      Seq(d) ++ (try Seq(Transforms.parse(d).spec) catch { case _: Exception => Nil })
    }.toSet
    val (dropped, kept) = current.partition(t =>
      dropSet(t.spec) || dropSet(t.derivedName) || dropSet(t.source))
    require(drop.isEmpty || dropped.nonEmpty,
      s"DROP PARTITION FIELD: no current partition field matches ${drop.mkString(", ")}")
    dropped.foreach(t => require(!t.isInstanceOf[Transforms.Identity],
      s"DROP PARTITION FIELD ${t.spec}: identity partitioning cannot be evolved"))
    val newParts = kept ++ adds
    val newHistory = (history ++ dropped.map(_.spec)).distinct
    h.edit(_.copy(partitions = newParts.map(_.spec), partitionHistory = newHistory))
  }

  /** Commit one streaming epoch's staged files exactly once (the DSv2
    * `StreamingWrite.commit`): files of a replayed epoch — id at or below
    * the query's durable high-water mark — are deleted, not registered.
    * The property key SHAPE matches [[graft.streaming.GeoStreams.batchKey]],
    * but the tokens differ by construction (this sink hashes the stable
    * query id; foreachBatch hashes the checkpoint path — the only stable
    * handle each surface has), so switching SINK TYPES under one
    * checkpoint replays the last in-flight batch once — stated boundary,
    * not shared state. Empty epochs (watermark-advancement triggers with
    * no rows) commit NOTHING: re-publishing the whole manifest just to
    * bump the mark would grow metadata per idle trigger, and a replayed
    * empty epoch appends nothing anyway.
    */
  def commitStreamEpoch(spark: SparkSession, path: String, token: String,
      epochId: Long, files: Seq[String], overwrite: Boolean = false,
      extraProps: Map[String, String] = Map.empty): Int = {
    // same posture as every other main-ref write: a WAP session stages
    // onto its audit branch, and a streaming epoch cannot — committing
    // to main mid-audit would land unaudited rows there silently
    rejectUnderWap(path, "a streaming epoch commit")
    val key = s"stream.$token.lastCommittedBatchId"
    commit(path) { h =>
      if (epochId <= h.props.get(key).map(_.toLong).getOrElse(-1L)) {
        files.foreach(f => Files.deleteIfExists(Paths.get(path, f)))
        None
      } else if (files.isEmpty && !overwrite) {
        None // empty epoch: nothing to register, no metadata churn
      } else {
        val stats = statsFor(spark, path, files)
        // complete-mode epoch (the reference's `asStreamingOverwrite`,
        // SparkWrite.java:181-186): the epoch's files REPLACE the table —
        // delete state clears with the rows it applied to; the high-water
        // mark still advances in the same snapshot (replay-safe)
        val m = if (overwrite) cleared(h.m, stats) else h.m.copy(files = h.m.files ++ stats)
        Some(h.copy(m = m, props = h.props + (key -> epochId.toString) ++ extraProps))
      }
    }
  }

  /** `m` with `files` as its whole file list and no delete state — the
    * manifest of a commit that replaces every row.
    */
  private def cleared(m: GeoTable.Manifest, files: Seq[FileStats]): GeoTable.Manifest =
    m.copy(files = files, deletes = Nil, posDeletes = Nil, eqDeletes = Nil)

  private def listDataFiles(spark: SparkSession, path: String): Set[String] =
    GeoTable.dataFileNames(spark, path).toSet

  /** Stats for specific files of a table (one distributed agg over them). */
  private def statsFor(spark: SparkSession, path: String, names: Seq[String]): Seq[FileStats] =
    if (names.isEmpty) Nil
    else GeoTable.collectStats(spark, path, names)

  /** Stats for freshly-REWRITTEN files with zero-row outputs dropped (the
    * empty parquet file deleted): a fully-deleted input file must leave
    * NO manifest entry — otherwise every CoW DELETE/UPDATE/MERGE that
    * empties a file accumulates one junk empty file, forever scanned.
    */
  private def liveStatsFor(spark: SparkSession, path: String,
      names: Seq[String]): Seq[FileStats] = {
    val (live, empty) = statsFor(spark, path, names).partition(_.rows > 0L)
    empty.foreach(f => Files.deleteIfExists(Paths.get(path, f.path)))
    live
  }

  /** Read specific files applying pending positional + equality deletes —
    * what a copy-on-write rewrite must read, or it would resurrect rows
    * whose delete entries still name the ORIGINAL file paths (positional)
    * or stop applying to the re-stamped files (equality seq scoping).
    * Pending MoR predicate deletes stay carried — they are path-independent.
    */
  /** The subset of `files` the head's pending MoR delete state can
    * affect — all driver-side metadata, no data pages: predicate deletes
    * scope through the same inclusive stats check DML uses
    * ([[FileStats.mightMatch]], resolved against the table schema;
    * unresolvable predicates conservatively scope everything), positional
    * deletes through the target paths recorded inside the delete parquets
    * themselves (one tiny read, O(delete entries) — the
    * [[validateOverwriteConflicts]] precedent), equality deletes through
    * their sequence stamps ([[EqDelete.appliesTo]]).
    */
  private def morScopedFiles(spark: SparkSession, path: String, head: GeoTable.Manifest,
      files: Seq[FileStats]): Seq[FileStats] = {
    if (files.isEmpty) return Nil
    val preds = head.deletes
    val predExprs: Seq[Option[org.apache.spark.sql.catalyst.expressions.Expression]] =
      if (preds.isEmpty) Nil
      else {
        val empty = spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          GeoTable.ensureSchema(spark, path))
        preds.map(sql => scala.util.Try(
          empty.filter(org.apache.spark.sql.functions.expr(sql))
            .queryExecution.analyzed
            .collectFirst { case Filter(c, _) => c }
            // analysis wraps literals in type-coercion casts
            // (`id >= cast(2500 as bigint)`) that the stats matcher
            // treats as opaque; fold them here — the optimizer would do
            // it, but it also erases a Filter over an empty relation
            .map(_.transformUp {
              case e if e.foldable &&
                  !e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal] =>
                org.apache.spark.sql.catalyst.expressions.Literal
                  .create(e.eval(null), e.dataType)
            })).toOption.flatten)
      }
    val posRel = head.posDeletes
    val posTargets =
      if (posRel.isEmpty) Set.empty[String]
      else spark.read.parquet(posRel.map(f => s"$path/$f"): _*)
        .select(col("file_path")).distinct().collect().map(_.getString(0)).toSet
    val eqs = head.eqDeletes
    files.filter { f =>
      // a predicate that failed to resolve is None: forall says "might
      // match" — conservative keep, never a resurrected row
      predExprs.exists(_.forall(f.mightMatch)) ||
        posTargets.exists(posTargetHits(_, f.path)) ||
        eqs.exists(_.appliesTo(f))
    }
  }

  private def readFilesForRewrite(spark: SparkSession, path: String,
      affected: Seq[FileStats], head: GeoTable.Manifest): DataFrame =
    applyEqDeletes(spark, path,
      applyPosDeletes(spark, path,
        readFilesDecoded(spark, path, affected.map(_.path)), head.posDeletes),
      head.eqDeletes, affected)

  /** Raw read of specific data files with declared encodings decoded to the
    * WKB runtime repr (so user conditions/assignments see the same columns
    * as [[read]]).
    */
  private def readFilesDecoded(spark: SparkSession, path: String, names: Seq[String]): DataFrame = {
    // basePath keeps hive-layout partition columns visible on subset reads.
    // ABSOLUTE entries (Iceberg-imported tables referencing external files
    // in place) can't resolve under the table root: they read directly,
    // with any dir-served partition columns re-attached as typed literals
    // per distinct partition-value group (PartitionPaths is the one seat
    // of dir parsing, so serving matches the scan exactly).
    val (absNames, relNames) = names.partition(_.startsWith("/"))
    val head = headManifest(path)
    val parts = head.map(_.partitionCols).getOrElse(Nil)
    val schemaTypes: Map[String, org.apache.spark.sql.types.DataType] =
      if (absNames.isEmpty || parts.isEmpty) Map.empty
      else GeoTable.ensureSchema(spark, path, head).fields.map(f => f.name -> f.dataType).toMap
    def castParts(df: DataFrame): DataFrame = parts.foldLeft(df) { (d, p) =>
      schemaTypes.get(p).filter(_ => d.columns.contains(p))
        .map(dt => d.withColumn(p, org.apache.spark.sql.functions.col(p).cast(dt)))
        .getOrElse(d)
    }
    val relDf = if (relNames.isEmpty) None
      else Some(castParts(
        spark.read.option("basePath", path).parquet(relNames.map(n => s"$path/${n}"): _*)))
    val absDf = if (absNames.isEmpty) None
      else {
        val groups = absNames.groupBy(n =>
          parts.map(p => p -> PartitionPaths.value(PartitionPaths.dirValues(n), p)))
        Some(groups.map { case (vals, ns) =>
          vals.foldLeft(spark.read.parquet(ns: _*)) { case (df, (p, v)) =>
            if (df.columns.contains(p)) df // stored in-file: already served
            else {
              val dt = schemaTypes.getOrElse(p, org.apache.spark.sql.types.StringType)
              // string literal + catalyst cast = the same session-zone
              // lenient semantics the scan serves these dir values through
              df.withColumn(p,
                org.apache.spark.sql.functions.lit(v.orNull).cast(dt))
            }
          }
          // allowMissingColumns: groups infer their own schemas, and files
          // written before a column was added (schema evolution) must not
          // fail the whole rewrite read
        }.reduce(_.unionByName(_, allowMissingColumns = true)))
      }
    val raw = (relDf, absDf) match {
      case (Some(r), Some(a)) => r.unionByName(a, allowMissingColumns = true)
      case (r, a) => r.orElse(a).get
    }
    val decoded = GeometryFields.get(path).foldLeft(raw) { case (df, (c, e)) =>
      if (raw.columns.contains(c)) df.withColumn(c, GeometryEncoding.decode(org.apache.spark.sql.functions.col(c), e)) else df
    }
    TableSchema.toLogical(decoded, path)
  }

  /** Re-apply declared storage encodings before writing rows back. */
  private def encodeForStorage(df: DataFrame, path: String): DataFrame =
    GeometryFields.get(path).foldLeft(df) { case (d, (c, e)) =>
      if (df.columns.contains(c)) d.withColumn(c, GeometryEncoding.encode(org.apache.spark.sql.functions.col(c), e)) else d
    }

  /** Append rewritten rows, preserving declared encodings and the table's
    * partition layout (CoW rewrites land back in their partition dirs).
    *
    * Files are written to a per-writer STAGING directory
    * (`_graft_staging/<uuid>/`, underscore-hidden) and then moved into the
    * table, so the writer knows EXACTLY which files it added — the
    * round-2 before/after directory diff mis-attributed a concurrent
    * writer's files as this writer's own. Returns (added relative paths,
    * physical schema written) for manifest merge.
    */
  /** Declared write order (`write.order` table property, set by `ALTER
    * TABLE … WRITE ORDERED BY …`): every write path that funnels through
    * [[writeBack]] — INSERT INTO, `Snapshots.append`, CoW rewrites, the
    * DSv2 writer — range-distributes and locally sorts rows by the
    * declared keys before files land, the reference's
    * `RequiresDistributionAndOrdering` surface (`SparkWriteUtil.java:68-92`,
    * `SortOrderToSpark.java:87-104` in /root/reference).
    * `hilbert(col,res,minX,minY,maxX,maxY)` spatially clusters; a comma
    * list of column names sorts lexicographically. Applied BEFORE storage
    * encoding (the hilbert kernel reads runtime WKB).
    */
  private val HilbertOrderRe =
    """(?i)^hilbert\s*\(\s*([\w.]+)\s*,\s*(\d+)\s*,\s*(-?[\d.]+)\s*,\s*(-?[\d.]+)\s*,\s*(-?[\d.]+)\s*,\s*(-?[\d.]+)\s*\)$""".r

  private def applyWriteOrder(df: DataFrame, path: String): DataFrame = {
    val order = if (currentVersion(path) == 0) None else readProps(path).get("write.order")
    order match {
      case None => df
      case Some(spec) =>
        graft.functions.GeoSql.install(df.sparkSession)
        val (tmp, keys) = spec.trim match {
          case HilbertOrderRe(c, res, x1, y1, x2, y2) if df.columns.contains(c) =>
            (Seq("__graft_order"), Seq(graft.functions.GeoSql.hilbert(col(c),
              lit(res.toInt), lit(x1.toDouble), lit(y1.toDouble),
              lit(x2.toDouble), lit(y2.toDouble))))
          case cols =>
            (Nil, cols.split(',').map(_.trim).filter(df.columns.contains).map(col).toSeq)
        }
        if (keys.isEmpty) df
        else if (readProps(path).get("write.order.mode").contains("local")) {
          // WRITE LOCALLY ORDERED BY: sort within the incoming tasks
          // only, no range exchange (the reference's locally-ordered mode)
          val withKey = tmp.zip(keys).foldLeft(df) { case (d, (name, k)) =>
            d.withColumn(name, k) }
          val sortCols = if (tmp.nonEmpty) tmp.map(col) else keys
          withKey.sortWithinPartitions(sortCols: _*).drop(tmp: _*)
        } else {
          // keep the incoming parallelism; the range exchange only
          // re-clusters, it does not decide file count policy
          val n = math.max(1, df.rdd.getNumPartitions)
          val withKey = tmp.zip(keys).foldLeft(df) { case (d, (name, k)) =>
            d.withColumn(name, k) }
          val sortCols = if (tmp.nonEmpty) tmp.map(col) else keys
          withKey.repartitionByRange(n, sortCols: _*)
            .sortWithinPartitions(sortCols: _*)
            .drop(tmp: _*)
        }
    }
  }

  /** Declared write distribution (`write.distribution-mode = hash`, set by
    * `ALTER TABLE … WRITE DISTRIBUTED BY PARTITION`): rows hash-shuffle to
    * their partition transform values before writing, so each partition
    * directory receives files from FEW tasks instead of every task
    * spilling a sliver into every directory — the reference's
    * `SparkWriteUtil` distribution modes, and the difference between
    * #dirs and #tasks×#dirs files at 100 TB. A declared `write.order`
    * then sorts LOCALLY within the shuffled tasks.
    */
  private def writeShape(df: DataFrame, path: String,
      specs: Seq[Transforms.Transform]): DataFrame = {
    val hash = currentVersion(path) > 0 && specs.nonEmpty &&
      readProps(path).get("write.distribution-mode").exists(_.equalsIgnoreCase("hash"))
    if (!hash) applyWriteOrder(df, path)
    else {
      graft.functions.GeoSql.install(df.sparkSession)
      val rep = df.repartition(specs.map(t => Transforms.writeExpr(t, df)): _*)
      val keys: Seq[Column] = readProps(path).get("write.order").toSeq.flatMap { spec =>
        spec.trim match {
          case HilbertOrderRe(c, res, x1, y1, x2, y2) if df.columns.contains(c) =>
            Seq(graft.functions.GeoSql.hilbert(col(c), lit(res.toInt),
              lit(x1.toDouble), lit(y1.toDouble), lit(x2.toDouble), lit(y2.toDouble)))
          case cols =>
            cols.split(',').toSeq.map(_.trim).filter(df.columns.contains).map(col)
        }
      }
      if (keys.isEmpty) rep else rep.sortWithinPartitions(keys: _*)
    }
  }

  /** Parquet compression writer options from (highest wins) the session
    * conf `spark.sql.graft.parquet.compression-codec` / `-level`, then the
    * table properties `write.parquet.compression-codec` / `-level` — the
    * reference's TableProperties.PARQUET_COMPRESSION +
    * SparkSQLProperties.COMPRESSION_CODEC precedence
    * (TestCompressionSettings; SparkWriteConf.parquetCompressionCodec).
    * Delete files read the `write.delete.parquet.*` property family
    * instead, falling back to the data-file properties like the reference.
    * Codec names are Spark's ParquetOptions set (zstd/gzip/snappy/lz4/
    * uncompressed/...); the level is wired to zstd's parquet-mr conf key
    * (`parquet.compression.codec.zstd.level`) — the one codec parquet-mr
    * exposes a level knob for — and is ignored by the rest.
    */
  private[graft] def compressionSpec(spark: SparkSession,
      tableProps: Map[String, String], delete: Boolean): (Option[String], Option[String]) = {
    def prop(base: String): Option[String] =
      if (delete) tableProps.get(s"write.delete.parquet.$base")
        .orElse(tableProps.get(s"write.parquet.$base"))
      else tableProps.get(s"write.parquet.$base")
    val codec = spark.conf.getOption("spark.sql.graft.parquet.compression-codec")
      .orElse(prop("compression-codec"))
    val level = spark.conf.getOption("spark.sql.graft.parquet.compression-level")
      .orElse(prop("compression-level"))
    (codec.map(_.toLowerCase(java.util.Locale.ROOT)), level)
  }

  private def compressionOpts(spark: SparkSession,
      tableProps: Map[String, String], delete: Boolean): Seq[(String, String)] = {
    val (codec, level) = compressionSpec(spark, tableProps, delete)
    codec.map("compression" -> _).toSeq ++
      level.toSeq.map("parquet.compression.codec.zstd.level" -> _)
  }

  private def writeBack(df: DataFrame, path: String,
      writeOptions: Map[String, String] = Map.empty): (Seq[String], org.apache.spark.sql.types.StructType) = {
    val spark = df.sparkSession
    val specs = GeoTable.readPartitionSpecs(path)
    // declared uuid/fixed/time columns validate + canonicalize first
    // (map-only, codegen'd; identity for undeclared tables)
    val physical = TableSchema.toPhysical(
      encodeForStorage(writeShape(ExtendedTypes.validate(df, path), path, specs), path), path)
    // derive missing transform partition columns (appends carry source
    // cols; CoW rewrites already carry the derived ones)
    val withDerived = specs
      .filterNot(t => physical.columns.contains(t.derivedName))
      .foldLeft(physical)((d, t) => d.withColumn(t.derivedName, Transforms.writeExpr(t, d)))
    val stagingRel = s"_graft_staging/${java.util.UUID.randomUUID().toString.take(16)}"
    val staging = new Path(new Path(path), stagingRel)
    // parquet bloom filters on declared columns (the reference inherits
    // Iceberg's `write.parquet.bloom-filter-enabled.column.<col>` /
    // `write.parquet.bloom-filter-max-bytes` table properties,
    // TableProperties.java PARQUET_BLOOM_FILTER_*): the property names
    // the LOGICAL column; the parquet writer needs the PHYSICAL one.
    // Write options land in the per-job hadoop conf
    // (newHadoopConfWithOptions), which is how parquet-mr reads its
    // per-column `parquet.bloom.filter.enabled#<col>` switches. Point
    // lookups on high-cardinality non-sort columns then prune ROW GROUPS
    // the min/max stats can't (a scattered key matches every range).
    // fresh tables (first streaming batch / first write) have no
    // snapshot to read properties from yet
    val tableProps =
      if (currentVersion(path) > 0) readProps(path) else Map.empty[String, String]
    val bloomOpts: Seq[(String, String)] = tableProps.toSeq.collect {
      case (k, v) if k.startsWith("write.parquet.bloom-filter-enabled.column.") =>
        val logical = k.stripPrefix("write.parquet.bloom-filter-enabled.column.")
        val phys = TableSchema.read(path).find(e => !e.dropped && e.logical == logical)
          .map(_.physical).getOrElse(logical)
        s"parquet.bloom.filter.enabled#$phys" -> v
      case (k, v) if k == "write.parquet.bloom-filter-max-bytes" =>
        "parquet.bloom.filter.max.bytes" -> v
    }
    // write-time file sizing (the reference's WRITE_TARGET_FILE_SIZE_BYTES,
    // TableProperties.java:296): Spark's parquet writer rolls by RECORD
    // count only, so the declared byte target converts through the
    // table's own average row size — manifest totals, metadata-only.
    // First writes (no stats yet) skip: nothing to estimate with; the
    // DSv2/streaming writer rolls by actual bytes instead.
    // per-write option wins over the table property (the reference's
    // SparkWriteOptions.TARGET_FILE_SIZE_BYTES > TableProperties order)
    val sizeOpts: Seq[(String, String)] =
      writeOptions.get("target-file-size-bytes")
        .orElse(tableProps.get("write.target-file-size-bytes")).toSeq.flatMap { t =>
        // fail fast with the property name — a malformed value ('512MB')
        // would otherwise surface as a bare NumberFormatException
        val target = try t.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"write.target-file-size-bytes must be a byte count, got '$t'")
        }
        require(target > 0, s"write.target-file-size-bytes must be positive, got $t")
        val entries = if (currentVersion(path) > 0) readManifest(path) else Nil
        val rows = entries.map(_.rows).sum
        val bytes = entries.map(_.sizeBytes).sum
        if (rows <= 0 || bytes <= 0) Nil
        else Seq("maxRecordsPerFile" ->
          math.max(1L, (target * rows) / bytes).toString)
      }
    val w = (bloomOpts ++ compressionOpts(spark, tableProps, delete = false) ++ sizeOpts)
      .foldLeft(withDerived.write.mode("overwrite"))(
        (acc, kv) => acc.option(kv._1, kv._2))
    (if (specs.nonEmpty) w.partitionBy(specs.map(_.derivedName): _*) else w)
      .parquet(staging.toString)
    // move staged data files into the table dir, preserving partition
    // subpaths; Spark part-file names embed a task UUID → no collisions
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(staging)
    val it = fs.listFiles(base, true)
    val moved = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val st = it.next()
      // DECODED relative path, never URI.relativize: URI encoding would
      // stack a second escape layer on Spark's hive-escaped dir names
      // (space→%20, %3A→%253A) and partition values with special chars
      // (timestamps, strings with ':'/'%') would un-escape wrong on read.
      // Hive escaping leaves no ':' or '/' in segment values, so the raw
      // path is safe to carry as the manifest key.
      val rel = st.getPath.toUri.getPath.stripPrefix(base.toUri.getPath).stripPrefix("/")
      if (st.isFile && rel.endsWith(".parquet") && !rel.split('/').exists(_.startsWith("_"))) {
        val dest = new Path(new Path(path), rel)
        fs.mkdirs(dest.getParent)
        fs.rename(st.getPath, dest)
        moved += rel
      }
    }
    fs.delete(base, true)
    // bucketed tables: new files need the `_0000K` bucket-id stamp too
    val stamped = specs.collectFirst { case b: Transforms.Bucket => b } match {
      case Some(b) => GeoTable.stampBucketIds(spark, path, b, moved.toSeq)
      case None => moved.toSeq
    }
    // the written schema reports the INPUT's columns: derived transform
    // columns stay out (hidden partitioning) unless the caller carried
    // them explicitly (CoW rewrites of tables that declare them)
    (stamped.sorted, physical.schema)
  }

  /** Union of the carried schema and a newly-written frame's schema (new
    * columns append; existing columns keep their carried definition).
    */
  /** Recorded schemas are always fully NULLABLE: any column can be
    * missing from some generation of files (added after old files were
    * written, or dropped from a later writer's frame), and the parquet
    * readers refuse a file that lacks a REQUIRED read-schema column
    * instead of serving nulls. The reference adds evolved columns as
    * optional for the same reason (UpdateSchema.addColumn).
    */
  private[graft] def nullableShallow(st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(st.fields.map(_.copy(nullable = true)))

  private def mergeSchema(carried: Option[org.apache.spark.sql.types.StructType],
      written: org.apache.spark.sql.types.StructType): Option[org.apache.spark.sql.types.StructType] =
    carried match {
      case None => Some(nullableShallow(written))
      case Some(c) =>
        Some(nullableShallow(unionByName(c, written)
          .asInstanceOf[org.apache.spark.sql.types.StructType]))
    }

  /** Recursive by-name union (the reference's UpdateSchema.unionByNameWith
    * shape): new fields append — at the top level AND inside structs,
    * struct-in-array elements, and struct map values — as nullable; for
    * fields present on both sides the CARRIED type wins (type widening is
    * the TYPE DDL's job, never an implicit write effect).
    */
  private def unionByName(c: org.apache.spark.sql.types.DataType,
      w: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    (c, w) match {
      case (cs: StructType, ws: StructType) =>
        val have = cs.fieldNames.toSet
        StructType(
          cs.fields.map { f =>
            ws.find(_.name == f.name)
              .map(wf => f.copy(dataType = unionByName(f.dataType, wf.dataType)))
              .getOrElse(f)
          } ++ ws.fields.filterNot(f => have(f.name)).map(_.copy(nullable = true)))
      case (ca: ArrayType, wa: ArrayType) =>
        ca.copy(elementType = unionByName(ca.elementType, wa.elementType))
      case (cm: MapType, wm: MapType) =>
        cm.copy(valueType = unionByName(cm.valueType, wm.valueType))
      case _ => c
    }
  }

  // ---- session-scoped write-audit-publish (the reference's
  // `spark.wap.id` / `spark.wap.branch` confs, gated on the
  // `write.wap.enabled` table property): plain appends to a WAP-enabled
  // table land on the session's audit branch (auto-created at main's
  // head), reads of the table follow the branch while the conf is set,
  // and `CALL graft.system.publish_changes(t, wap_id)` (or
  // `fast_forward`) promotes the staged commits onto main.

  /** Audit branch the session's WAP conf names for `path`, or None.
    * Conf absence short-circuits before any metadata read. */
  private[graft] def wapBranchFor(path: String): Option[String] =
    org.apache.spark.sql.SparkSession.getActiveSession.flatMap { s =>
      s.conf.getOption("spark.wap.branch")
        .orElse(s.conf.getOption("spark.wap.id").map(id => s"wap_$id"))
        .filter(_ => currentVersion(path) > 0 &&
          readProps(path).get("write.wap.enabled").exists(_.equalsIgnoreCase("true")))
    }

  /** Branch head the session's WAP conf points reads of `path` at (only
    * once the branch exists — before the first staged write, reads serve
    * main like the reference).
    */
  private[graft] def wapReadVersion(path: String): Option[Int] =
    wapBranchFor(path).flatMap(b => refsState(path).branches.get(b))

  /** Effective write ref: a main-targeted write under an active WAP conf
    * redirects to the audit branch (auto-created at main's head);
    * explicitly ref-scoped writes keep their ref.
    */
  private def wapRef(path: String, ref: String): String =
    if (ref != "main") ref
    else wapBranchFor(path) match {
      case Some(b) =>
        if (!refsState(path).branches.contains(b))
          try createBranch(path, b)
          catch { case _: IllegalArgumentException => () } // concurrent create
        b
      case None => "main"
    }

  /** Overwrites have no branch-write form: refuse to clobber main while a
    * WAP session is staging (the alternative is silent unaudited data loss).
    */
  /** Does a pos-delete row's recorded `file_path` point at manifest
    * entry `rel`? Relative entries match by SUFFIX (delete rows record
    * scheme-qualified absolutes); ABSOLUTE entries (Iceberg-imported
    * tables) match exactly after normalization — a suffix test against
    * "/" + "/abs/…" can never match and would silently detach the
    * delete from conflict validation, the changelog, and partition
    * stats. ONE seat with the rewrite-compaction keep filter.
    */
  private def posTargetHits(target: String, rel: String): Boolean =
    if (rel.startsWith("/")) graft.sources.DeleteFiles.norm(target) == rel
    else target == rel || target.endsWith("/" + rel)

  private def rejectUnderWap(path: String, op: String): Unit =
    require(wapBranchFor(path).isEmpty,
      s"$op is not supported while a WAP session (spark.wap.id / spark.wap.branch) " +
        "is active; unset the conf or publish the staged changes first")

  /** Append `df` as a new snapshot (new data files; old ones untouched).
    * `props` merge into the snapshot's property map (e.g. the streaming
    * sink's committed batch id — committed atomically WITH the data).
    * Under an active WAP conf the append stages onto the audit branch
    * instead of main (plain appends only: prop-carrying commits like the
    * streaming high-water mark stay on their ref).
    */
  def append(df: DataFrame, path: String, props: Map[String, String] = Map.empty,
      writeOptions: Map[String, String] = Map.empty): Int =
    wapBranchFor(path) match {
      case Some(b) =>
        require(props.isEmpty,
          "snapshot properties cannot be combined with an active WAP session " +
            "(the staged branch commit does not carry them)")
        if (!refsState(path).branches.contains(b))
          try createBranch(path, b)
          catch { case _: IllegalArgumentException => () } // concurrent create: fine
        appendToBranch(df, path, b, writeOptions = writeOptions)
      case None => appendMain(df, path, props, writeOptions)
    }

  /** Append one streaming micro-batch EXACTLY ONCE: the batch-id dedup
    * re-checks the durable high-water mark INSIDE the commit CAS — a
    * zombie driver and its replacement replaying the same batch both pass
    * any outside-the-CAS check, and the loser's commit retry would then
    * re-publish the duplicate on top of the winner (the reference dedups
    * inside the snapshot commit the same way; [[commitStreamEpoch]] is
    * the DSv2 sink's equivalent). Returns true when this call committed
    * the batch; false when it was already committed (the staged data
    * files are deleted).
    */
  private[graft] def appendIfBatchNew(df: DataFrame, path: String,
      batchKey: String, batchId: Long): Boolean = {
    // same posture as append(): the high-water-mark commit stays on its
    // ref and cannot stage onto a WAP audit branch
    rejectUnderWap(path, "a streaming batch commit")
    val spark = df.sparkSession
    // cheap PRE-check before any file lands: the common replay (driver
    // restart re-offering an already-committed batch) writes NOTHING into
    // the live dir — no transient duplicates for raw-parquet compatibility
    // readers, no orphan debris if we crash before the in-CAS check. The
    // authoritative dedup stays INSIDE the CAS below: a zombie driver and
    // its replacement can both pass this pre-check, and only the CAS
    // decides. Residual window (documented, same class as the CTAS race):
    // a crash between writeBack and the in-CAS replay delete leaves the
    // staged files as orphans serving phantom rows ONLY to manifest-less
    // raw-parquet reads until remove_orphan_files; manifest readers never
    // see them.
    val head0 = Some(refsState(path).mainHead(path)).filter(_ > 0)
    val hwm0 = head0.flatMap(v => readProps(path, Some(v)).get(batchKey))
      .map(_.toLong).getOrElse(-1L)
    if (batchId <= hwm0) return false
    val (added, written) = writeBack(df, path)
    val stats = statsFor(spark, path, added)
    var committed = false
    commit(path) { h =>
      committed = batchId > h.props.get(batchKey).map(_.toLong).getOrElse(-1L)
      if (committed) appended(h, stats, written, Map(batchKey -> batchId.toString))
      else { added.foreach(f => Files.deleteIfExists(Paths.get(path, f))); None }
    }
    committed
  }

  private def appendMain(df: DataFrame, path: String, props: Map[String, String],
      writeOptions: Map[String, String]): Int = {
    val spark = df.sparkSession
    val (added, written) = writeBack(df, path, writeOptions) // exact attribution, outside retry
    val stats = statsFor(spark, path, added)
    // commit retry is METADATA-ONLY: the data files are already in place,
    // a conflicting concurrent commit just means re-reading the new head
    // and re-merging the manifest
    commit(path)(appended(_, stats, written, props))
  }

  /** Logical overwrite: new snapshot references only the new files. */
  def overwrite(df: DataFrame, path: String,
      extraProps: Map[String, String] = Map.empty,
      validate: Option[(Int, String)] = None,
      writeOptions: Map[String, String] = Map.empty): Int = {
    rejectUnderWap(path, "overwrite")
    val spark = df.sparkSession
    val (added, written) = writeBack(df, path, writeOptions)
    val stats = statsFor(spark, path, added)
    commit(path) { h =>
      // truncate scope = the whole table: every concurrent change conflicts
      validate.foreach { case (fromV, level) =>
        validateOverwriteConflicts(spark, path, fromV, h.v, level, None, None) }
      // logical overwrite clears deletes and resets the schema; the
      // commit's `snapshot-property.*` extras apply to every overwrite-
      // family commit, as the reference's SparkWrite applies
      // `extraSnapshotMetadata` to EVERY operation, not only appends
      Some(h.copy(m = cleared(h.m, stats).copy(schema = Some(written)),
        props = h.props ++ extraProps))
    }
  }

  /** Partition directory of a manifest-relative file path ("" = root). */
  private def partDir(rel: String): String = {
    val i = rel.lastIndexOf('/')
    if (i < 0) "" else rel.substring(0, i)
  }

  /** Dynamic partition overwrite commit: register `added` (staged files
    * already sitting in their final partition directories) and drop every
    * prior manifest entry sharing a TOUCHED partition directory — one
    * snapshot, the reference's `asDynamicOverwrite`
    * (`spark/v3.5/spark/src/main/java/org/apache/iceberg/spark/source/SparkWrite.java:161-186`
    * in /root/reference). Untouched partitions keep their files
    * byte-identical; an unpartitioned table ("" dir) degrades to full
    * overwrite — Iceberg's documented dynamic-overwrite semantics.
    * Replacement is keyed on the CURRENT layout's directory tuple: files
    * laid out by a retired partition spec live under different directory
    * columns and are not replaced.
    */
  /** Conflict validation for overwrite commits — the reference's
    * `validate-from-snapshot-id` / `isolation-level` write options
    * (`SparkWriteConf` → `OverwriteFiles.validateNoConflicting*`): walk
    * every commit between `fromV` (exclusive, must be an ancestor) and the
    * head the overwrite is about to replace, and fail if a concurrent
    * commit could affect rows in the overwrite's scope.
    *
    *  - `serializable`: concurrently ADDED data files whose stats might
    *    match the scope conflict (the overwrite would silently clobber or
    *    miss them), plus everything `snapshot` checks.
    *  - `snapshot`: only concurrent DELETES conflict — removed data files
    *    in scope, new positional deletes targeting in-scope files, and
    *    (conservatively, like the reference's unresolvable cases) any new
    *    predicate/equality delete state.
    *
    * Stats-level, zero data reads (pos-delete targets come from the delete
    * files themselves — O(delete entries)). Scope = the overwrite
    * condition via `FileStats.mightMatch`, or touched partition dirs for a
    * dynamic overwrite.
    */
  private[graft] def validateOverwriteConflicts(spark: SparkSession, path: String,
      fromV: Int, head: Int, level: String,
      condExpr: Option[org.apache.spark.sql.catalyst.expressions.Expression],
      touchedDirs: Option[Set[String]]): Unit = {
    require(level == "serializable" || level == "snapshot",
      s"isolation-level must be serializable or snapshot, got: $level")
    if (fromV == head) return
    val chain = ancestry(path, head)
    require(chain.contains(fromV),
      s"validate-from-version $fromV is not an ancestor of the current head $head")
    def inScope(f: FileStats): Boolean = touchedDirs match {
      case Some(dirs) => dirs(partDir(f.path))
      case None => condExpr.forall(f.mightMatch)
    }
    var parent = fromV
    chain.dropWhile(_ != fromV).drop(1).foreach { v =>
      val pm = readManifest(path, Some(parent))
      val vm = readManifest(path, Some(v))
      val pn = pm.map(_.path).toSet
      val vn = vm.map(_.path).toSet
      if (level == "serializable") {
        val hit = vm.filterNot(f => pn(f.path)).filter(inScope)
        if (hit.nonEmpty) throw new IllegalStateException(
          s"Found conflicting files added in snapshot $v that can contain records " +
            s"matching the overwrite scope: ${hit.map(_.path).mkString(", ")} " +
            "(isolation-level=serializable, validate-from-version=" + fromV + ")")
      }
      val removedHit = pm.filterNot(f => vn(f.path)).filter(inScope)
      if (removedHit.nonEmpty) throw new IllegalStateException(
        s"Found conflicting files deleted in snapshot $v that can contain records " +
          s"matching the overwrite scope: ${removedHit.map(_.path).mkString(", ")}")
      val predNew = readDeletes(path, Some(v)).diff(readDeletes(path, Some(parent)))
      val eqNew = readEqDeletes(path, Some(v)).diff(readEqDeletes(path, Some(parent)))
      if (predNew.nonEmpty || eqNew.nonEmpty) throw new IllegalStateException(
        s"Found conflicting delete state added in snapshot $v " +
          s"(predicate deletes: ${predNew.size}, equality deletes: ${eqNew.size})")
      val posNew = readPosDeletes(path, Some(v)).diff(readPosDeletes(path, Some(parent)))
      if (posNew.nonEmpty) {
        val targets = spark.read.parquet(posNew.map(f => s"$path/$f"): _*)
          .select(col("file_path")).distinct().collect().map(_.getString(0)).toSet
        val posHit = vm.filter(f => targets.exists(posTargetHits(_, f.path))).filter(inScope)
        if (posHit.nonEmpty) throw new IllegalStateException(
          s"Found new conflicting position-delete files in snapshot $v that can apply " +
            s"to records matching the overwrite scope: ${posHit.map(_.path).mkString(", ")}")
      }
      parent = v
    }
  }

  private[graft] def commitDynamicOverwrite(spark: SparkSession, path: String,
      added: Seq[String], extraProps: Map[String, String] = Map.empty,
      validate: Option[(Int, String)] = None): Int = {
    rejectUnderWap(path, "dynamic partition overwrite")
    if (added.isEmpty) return mainVersion(path) // nothing incoming: no-op
    val stats = statsFor(spark, path, added)
    val touched = added.map(partDir).toSet
    commit(path) { h =>
      validate.foreach { case (fromV, level) =>
        validateOverwriteConflicts(spark, path, fromV, h.v, level, None, Some(touched)) }
      val kept = h.m.files.filterNot(e => touched(partDir(e.path)))
      Some(h.copy(m = h.m.copy(files = kept ++ stats), props = h.props ++ extraProps))
    }
  }

  private def flattenAnd(f: org.apache.spark.sql.sources.Filter): Seq[org.apache.spark.sql.sources.Filter] =
    f match {
      case org.apache.spark.sql.sources.And(l, r) => flattenAnd(l) ++ flattenAnd(r)
      case x => Seq(x)
    }

  /** Filter overwrite (the DSv2 `OverwriteByExpression`, Spark's plan for
    * `INSERT OVERWRITE t PARTITION (p = v, …)` in static mode and for
    * `df.writeTo(t).overwrite(cond)`): ONE snapshot that removes every row
    * matching `cond` and adds `df` — the reference's
    * `SparkWriteBuilder.overwrite(...)`. Files wholly inside the condition
    * (identity-partition dirs decide every row — the same exactness the
    * scan builder claims) drop from the manifest without being read, so a
    * partition-aligned overwrite rewrites nothing; straddling files
    * rewrite copy-on-write like DELETE.
    */
  def overwriteWhere(df: DataFrame, path: String,
      filters: Seq[org.apache.spark.sql.sources.Filter], cond: Column,
      extraProps: Map[String, String] = Map.empty,
      validate: Option[(Int, String)] = None,
      writeOptions: Map[String, String] = Map.empty): Int = {
    rejectUnderWap(path, "filter overwrite")
    import org.apache.spark.sql.{sources => vs}
    val spark = df.sparkSession
    val (added, written) = writeBack(df, path, writeOptions)
    val stats = statsFor(spark, path, added)
    commit(path) { h =>
      val head = h.v
      validate.foreach { case (fromV, level) =>
        val condExpr = read(spark, path, Some(head)).filter(cond)
          .queryExecution.optimizedPlan
          .collectFirst { case Filter(c, _) => c }
        validateOverwriteConflicts(spark, path, fromV, head, level, condExpr, None)
      }
      if (head == 0)
        Some(h.copy(m = h.m.copy(files = stats, schema = Some(written)), props = extraProps))
      else {
        val current = h.m.files
        val identCols = h.m.specs
          .collect { case Transforms.Identity(c) => c }.toSet
        val atomic = filters.flatMap(flattenAnd)
        // identity-partition attribute of an exactly-evaluable conjunct
        def attr(f: vs.Filter): Option[String] = (f match {
          case vs.EqualTo(a, v) if graft.sources.GraftScan.comparableDirLiteral(v) => Some(a)
          case vs.EqualNullSafe(a, v)
            if v == null || graft.sources.GraftScan.comparableDirLiteral(v) => Some(a)
          case vs.In(a, valz) if valz.nonEmpty &&
            valz.forall(graft.sources.GraftScan.comparableDirLiteral) => Some(a)
          case vs.IsNotNull(a) => Some(a)
          case _ => None
        }).filter(identCols)
        val exactable = atomic.nonEmpty && atomic.forall(f => attr(f).isDefined)
        // Some(true) = every row matches (drop unread) · Some(false) = no
        // row can match (keep untouched) · None = undecidable (CoW below).
        // A file's dir value decides its column for EVERY row; a missing
        // segment (pre-evolution file) leaves the column in the data, so
        // stats-based splitting decides it instead.
        def decide(e: FileStats): Option[Boolean] =
          if (!exactable) None
          else {
            val per = atomic.map { f =>
              if (e.dirVals.contains(attr(f).get))
                Some(graft.sources.GraftScan.exactlyMatches(e.dirVals, f))
              else None
            }
            if (per.contains(Some(false))) Some(false)
            else if (per.forall(_ == Some(true))) Some(true)
            else None
          }
        val decided = current.map(e => e -> decide(e))
        val kept = decided.collect { case (e, Some(false)) => e }
        val maybe = decided.collect { case (e, None) => e }
        val table = read(spark, path, Some(head))
        val (affected, untouched) = splitByCond(table, cond, maybe, path)
        val rewritten =
          if (affected.isEmpty) Nil
          else {
            val survivors = readFilesForRewrite(spark, path, affected, h.m)
              .filter(!coalesce(cond, lit(false)))
            writeBack(survivors, path)._1
          }
        Some(h.copy(m = h.m.copy(
          files = kept ++ untouched ++ liveStatsFor(spark, path, rewritten) ++ stats),
          props = h.props ++ extraProps))
      }
    }
  }

  /** Merge-on-read DELETE: publish the predicate instead of rewriting any
    * file — O(manifest) commit latency regardless of table size; readers
    * apply `NOT cond` until a compaction materializes it (the reference's
    * MoR path, `SparkPositionDeltaOperation` in /root/reference, expressed
    * as a predicate delete). Semantics: the predicate is evaluated against
    * current column values at read time.
    */
  def deleteMoR(spark: SparkSession, path: String, condSql: String): Int = {
    rejectUnderWap(path, "a merge-on-read predicate delete")
    // fail fast on unparseable/unresolvable predicates
    read(spark, path).filter(!coalesce(expr(condSql), lit(false))).queryExecution.analyzed
    commit(path)(_.edit(m => m.copy(deletes = m.deletes :+ condSql)))
  }

  /** Merge-on-read POSITIONAL delete: record `(file_path, pos)` rows in a
    * delete file and publish — no data file rewritten (the reference's
    * positional delete files, applied at read by `DeleteFilter` via
    * `RowDataReader.java:95` in /root/reference). `positions` must carry
    * `file_path` (as produced by `_metadata.file_path`) and `pos`
    * (`_metadata.row_index`); a compaction materializes and clears them.
    */
  def deleteByPosition(spark: SparkSession, path: String, positions: DataFrame): Int = {
    rejectUnderWap(path, "a merge-on-read positional delete")
    require(positions.columns.toSet == Set("file_path", "pos"),
      s"positions must have columns (file_path, pos), got ${positions.columns.mkString(",")}")
    val (name, _) = writeDeleteFile(positions, path, "posdel")
    commit(path) { h =>
      require(h.v > 0, s"no snapshots at $path")
      h.edit(m => m.copy(posDeletes = m.posDeletes :+ name))
    }
  }

  /** Merge-on-read EQUALITY delete: `rows` carries a subset of table
    * columns; any table row matching a delete row on ALL those columns is
    * deleted (the reference's equality delete files, `DeleteFilter` /
    * `EqualityDeleteWriter` in /root/reference). Metadata-only commit; a
    * compaction materializes and clears.
    */
  def deleteByEquality(spark: SparkSession, path: String, rows: DataFrame): Int = {
    // like every other main-ref mutation: deletes committed MID-AUDIT
    // would vanish unaudited rows from main while the WAP session
    // believes its writes are staged
    rejectUnderWap(path, "a merge-on-read equality delete")
    val tableCols = schema(spark, path).fieldNames.toSet
    require(rows.columns.nonEmpty && rows.columns.forall(tableCols),
      s"equality columns ${rows.columns.mkString(",")} must exist in the table")
    // record the delete under PHYSICAL column names: physicals are never
    // reused by the evolution log, so later renames (even rename chains)
    // resolve deterministically at apply time — logical names would go
    // stale on the first rename after the delete
    val entries = TableSchema.read(path)
    val phys = rows.columns.map(c => TableSchema.physicalOf(entries, c))
    val (name, _) = writeDeleteFile(rows.toDF(phys.toIndexedSeq: _*), path, "eqdel")
    // seq = 0 here; the commit stamps it with the committed version,
    // scoping the delete to data files that already existed
    // (sequence-number semantics: later appends with matching keys stay
    // visible)
    commit(path)(_.edit(m => m.copy(eqDeletes = m.eqDeletes :+ EqDelete(name, phys.toSeq))))
  }

  /** Write delete rows as a single parquet file under `_graft_deletes/`
    * (hidden from data listings; the file NAME must not be
    * underscore-prefixed or Spark's hidden-file filter would refuse to
    * read it back). Returns the table-relative path.
    */
  private def writeDeleteFile(df: DataFrame, path: String, kind: String): (String, Long) = {
    val name = s"_graft_deletes/$kind-${java.util.UUID.randomUUID().toString.take(12)}.parquet"
    // delete files honor write.delete.parquet.compression-* (falling back
    // to the data-file family) — the reference's DELETE_PARQUET_COMPRESSION
    val delProps =
      if (currentVersion(path) > 0) readProps(path) else Map.empty[String, String]
    val rows = writeSingleParquet(df, Paths.get(path, name),
      compressionOpts(df.sparkSession, delProps, delete = true))
    (name, rows)
  }

  /** Write `df` as exactly ONE parquet file at `target` — the one seat
    * for the temp-dir stage + move + debris cleanup + footer row count
    * dance shared by MoR delete files and the Iceberg-interop rewritten
    * sidecars (all driver-adjacent: tiny next to the data they
    * describe). Returns the row count from the footer, so callers can
    * no-op on empty frames without a second scan.
    */
  private[graft] def writeSingleParquet(df: DataFrame, target: java.nio.file.Path,
      options: Seq[(String, String)] = Nil): Long = {
    val tmp = Files.createTempDirectory("graft_one").toString
    options.foldLeft(df.coalesce(1).write.mode("overwrite"))(
      (acc, kv) => acc.option(kv._1, kv._2)).parquet(tmp)
    val src = listDir(Paths.get(tmp))(
      _.filter(_.getFileName.toString.endsWith(".parquet")).foldLeft(
        null: java.nio.file.Path)((_, p) => p))
    require(src != null, s"no rows written for $target")
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(src.toUri),
      df.sparkSession.sessionState.newHadoopConf())
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val rows = try reader.getRecordCount finally reader.close()
    if (target.getParent != null) Files.createDirectories(target.getParent)
    Files.move(src, target, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // the temp dir still holds _SUCCESS/.crc debris — one leaked dir per
    // statement adds up on a long-lived driver
    walkDir(Paths.get(tmp))(_.toSeq).reverse.foreach(Files.deleteIfExists(_))
    rows
  }

  /** Apply equality delete files: anti-join on each file's equality
    * columns (null keys never match, standard SQL anti-join semantics).
    *
    * Sequence-number scoping: a delete committed at version `seq` applies
    * only to rows from data files with `addedV < seq` — rows appended
    * AFTER the delete (delete-then-reinsert, the canonical CDC upsert) stay
    * visible, matching the reference's sequence-scoped `DeleteFilter`.
    * When every file in `files` predates the delete (the common case), the
    * plain anti-join fast path is used; otherwise the row's source file
    * (via `_metadata.file_path`) gates the delete.
    */
  private[spatial] def applyEqDeletes(spark: SparkSession, path: String,
      df: DataFrame, eqs: Seq[EqDelete], files: Seq[FileStats]): DataFrame = {
    // one evolution-log read per apply, and only when some delete is live
    lazy val schemaEntries = TableSchema.read(path)
    val applied = eqs.foldLeft(df) { case (d, e) =>
      val applicable = files.filter(e.appliesTo)
      // applicability FIRST: a delete all of whose target files were
      // rewritten away is a no-op, and must stay one even when its key
      // column has since been DROPPED — resolving eagerly would turn the
      // stale entry into a table-wide read failure with no way to compact
      // it out (compaction reads through this very path)
      if (applicable.isEmpty) d
      else {
        // delete cols record PHYSICAL names (legacy entries: at-delete-
        // time logical names); ONE resolver seat with the DSv2 path
        val cols = e.cols.map(c =>
          TableSchema.resolveDeleteCol(schemaEntries, c, d.columns.toSet)
            .getOrElse(throw new IllegalStateException(
              s"equality delete ${e.path} keys on column '$c', which resolves " +
                "to no current table column — the delete cannot be applied")))
        val dels = spark.read.parquet(s"$path/${e.path}")
          .select(e.cols.map(col): _*).toDF(cols: _*).dropDuplicates()
        if (applicable.size == files.size) d.join(dels, cols, "left_anti")
      else {
        // exempt paths (files newer than the delete, by addedV sequence):
        // gate via a BROADCAST join on the file path — a long-lived table
        // with many post-delete appends would otherwise inline thousands
        // of path literals into the plan as an `isin`
        import spark.implicits._
        // manifest entries may carry ABSOLUTE paths (Iceberg-imported
        // tables reference external data files in place) — prefixing the
        // table root onto those would build a path that matches nothing
        // and silently un-exempt post-delete appends
        val exempt = files.filterNot(e.appliesTo)
          .map(f => resolveDataPath(path, f.path))
        val exemptDf = broadcast(
          exempt.toDF("__eq_file").withColumn("__eq_exempt", lit(1)))
        val hit = dels.withColumn("__eq_hit", lit(1))
        d.withColumn("__eq_file", normFile(expr("_metadata.file_path")))
          .join(hit, cols, "left")
          .join(exemptDf, Seq("__eq_file"), "left")
          .filter(col("__eq_hit").isNull || col("__eq_exempt").isNotNull)
          .drop("__eq_hit", "__eq_file", "__eq_exempt")
        }
      }
    }
    // a USING join moves its key columns to the front: restore the
    // table's column order, so pending deletes never reshape the schema
    if (applied eq df) df
    else applied.select(df.columns.map(c => col(s"`${c.replace("`", "``")}`")): _*)
  }

  /** Apply positional delete files: anti-join on the scan's
    * `(_metadata.file_path, _metadata.row_index)`. The join is the
    * general scale path (Spark broadcasts when the delete set is small).
    */
  /** `_metadata.file_path` comes back scheme-qualified (`file:///…`) from
    * plain parquet reads but unqualified (`/…`) through the manifest file
    * index — normalize before comparing.
    */
  private[graft] def normFile(c: Column): Column =
    regexp_replace(c, "^[a-zA-Z0-9]+:/+", "/")

  /** Unqualified absolute path of a manifest entry: table-relative
    * entries resolve against the root; absolute entries (Iceberg-imported
    * tables referencing external files in place) stand as-is.
    */
  private[graft] def resolveDataPath(root: String, entry: String): String =
    (if (entry.startsWith("/")) entry else s"$root/$entry")
      .replaceFirst("^[a-zA-Z0-9]+:/+", "/")

  private[spatial] def applyPosDeletes(spark: SparkSession, path: String,
      df: DataFrame, posFiles: Seq[String]): DataFrame =
    if (posFiles.isEmpty) df
    else {
      val dels = spark.read.parquet(posFiles.map(f => s"$path/$f"): _*)
        .select(normFile(col("file_path")).as("__del_file"), col("pos").as("__del_pos"))
      df.withColumn("__file", normFile(expr("_metadata.file_path")))
        .withColumn("__pos", expr("_metadata.row_index"))
        .join(dels, col("__file") === col("__del_file") && col("__pos") === col("__del_pos"),
          "left_anti")
        .drop("__file", "__pos")
    }

  /** Affected/untouched file split for a row-level condition, resolved by
    * optimizing `Filter(cond)` over the table — the OPTIMIZED plan so
    * literal casts are folded away (`id < 10` analyzes as `id < cast(10)`
    * which stats can't evaluate). A surviving Filter partitions by file
    * stats; a filter folded to an empty LocalRelation (always-FALSE cond)
    * matches nothing; a filter folded AWAY (always-TRUE cond — `WHERE
    * 1=1`, TRUNCATE via deleteWhere) matches every file.
    */
  private def splitByCond(table: DataFrame, cond: Column,
      current: Seq[FileStats], path: String): (Seq[FileStats], Seq[FileStats]) = {
    val plan = table.filter(cond).queryExecution.optimizedPlan
    plan.collectFirst { case Filter(c, _) => c } match {
      case Some(c) =>
        // explicit transform-function conjuncts (`system.bucket(4,id)=1`)
        // prune via the derived partition dirs in row-level ops too (ref
        // TestSystemFunctionPushDownInRowLevelOperations) — stats can't
        // see through the function call, the dir value IS its result
        val fnFilters =
          if (path == null) Nil
          else {
            val specs = GeoTable.readPartitionSpecs(path)
            if (specs.isEmpty) Nil
            else {
              def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
                  : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
                case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
                  conjuncts(l) ++ conjuncts(r)
                case x => Seq(x)
              }
              conjuncts(c).flatMap(
                graft.sources.GraftScan.transformFunctionFilter(_, specs))
            }
          }
        current.partition(f => f.mightMatch(c) &&
          fnFilters.forall(graft.sources.GraftScan.dirMightMatch(f.dirVals, _)))
      case None =>
        val provablyEmpty = plan.collectFirst {
          case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
        }.exists(_.data.isEmpty)
        if (provablyEmpty) (Nil, current) else (current, Nil)
    }
  }

  /** True when the table property `key` (e.g. `write.delete.mode`)
    * declares merge-on-read — the reference honors the same properties to
    * pick `SparkPositionDeltaOperation` over `SparkCopyOnWriteOperation`.
    */
  private def morMode(path: String, key: String): Boolean =
    currentVersion(path) > 0 &&
      readProps(path).get(key).exists(_.equalsIgnoreCase("merge-on-read"))

  /** Row-level DELETE, honoring `write.delete.mode`: copy-on-write
    * rewrites the affected files; merge-on-read records a positional
    * delete file and rewrites NOTHING — a 100 TB table with frequent
    * small deletes pays O(matched rows) delete-file writes instead of
    * full file rewrites, until a compaction materializes them.
    */
  def delete(spark: SparkSession, path: String, cond: Column,
      ref: String = "main"): Int = {
    val r = wapRef(path, ref) // a WAP session stages row-level ops too
    if (morMode(path, "write.delete.mode")) deleteMoRPositions(spark, path, cond, r)
    else deleteCoW(spark, path, cond, r)
  }

  /** Live rows WITH their `(file, pos)` provenance — the input every
    * position-delta DML needs. `_metadata` only binds directly above the
    * file scan, so provenance materializes FIRST and the snapshot's delete
    * state applies on top (already-deleted rows never re-enter).
    */
  private def readWithPositions(spark: SparkSession, path: String,
      version: Option[Int]): DataFrame = {
    val m = readManifest(path, version)
    val base = GeoTable.readWithStats(spark, path, m)
      .withColumn("__mor_file", expr("_metadata.file_path"))
      .withColumn("__mor_pos", expr("_metadata.row_index"))
    GeoTable.applyDeletes(
      applyEqDeletes(spark, path,
        applyPosDeletes(spark, path, base, readPosDeletes(path, version)),
        readEqDeletes(path, version), m),
      readDeletes(path, version))
  }

  private def positionsOf(df: DataFrame): DataFrame =
    df.select(col("__mor_file").as("file_path"), col("__mor_pos").as("pos"))

  /** MoR DELETE: ONE scan finds matching `(file, pos)` rows and writes the
    * delete file; the footer row count decides the empty no-op (a take(1)
    * pre-check would execute the identical matched-rows scan twice).
    */
  private def deleteMoRPositions(spark: SparkSession, path: String,
      cond: Column, ref: String): Int = commit(path, ref) { h =>
    val positions = positionsOf(
      readWithPositions(spark, path, Some(h.v)).filter(coalesce(cond, lit(false))))
    val (name, matchedRows) = writeDeleteFile(positions, path, "posdel")
    if (matchedRows == 0) { // nothing matches: no-op snapshotless
      Files.deleteIfExists(Paths.get(path, name)); None
    } else h.edit(m => m.copy(posDeletes = m.posDeletes :+ name))
  }

  /** Copy-on-write DELETE: rewrite only files whose stats might match.
    * On a commit conflict the whole rewrite is retried against the new
    * head (the failed attempt's files become orphans, cleaned by
    * `removeOrphanFiles` — Iceberg's failed-commit debris semantics).
    */
  private def deleteCoW(spark: SparkSession, path: String, cond: Column,
      ref: String): Int =
    commit(path, ref) { h =>
      val table = read(spark, path, Some(h.v))
      val (affected, untouched) = splitByCond(table, cond, h.m.files, path)
      if (affected.isEmpty) None // nothing can match
      else {
        val survivors = readFilesForRewrite(spark, path, affected, h.m)
          .filter(!coalesce(cond, lit(false))) // DELETE keeps rows where cond is false or null
        val (added, _) = writeBack(survivors, path)
        h.edit(_.copy(files = untouched ++ liveStatsFor(spark, path, added)))
      }
    }

  /** Row-level UPDATE, honoring `write.update.mode`: copy-on-write
    * rewrites affected files in place; merge-on-read deletes the matched
    * rows by position and appends their updated copies — one commit, no
    * data file rewritten (the reference's position-delta UPDATE).
    */
  def update(spark: SparkSession, path: String, cond: Column,
      assignments: Map[String, Column], ref: String = "main"): Int = {
    val r = wapRef(path, ref)
    if (morMode(path, "write.update.mode")) updateMoR(spark, path, cond, assignments, r)
    else updateCoW(spark, path, cond, assignments, r)
  }

  /** Apply one SET assignment, supporting DOT-PATH nested struct fields
    * (`UPDATE t SET pt.x = …` — the reference supports nested assignment
    * through Spark's row-level frameworks, `TestUpdate`/`UpdateSchema`).
    * A literal top-level column whose name contains a dot wins over
    * nesting. `gate` keeps non-matching rows at their current value
    * (CoW rewrites whole files; only `hit` rows change).
    */
  private def applyAssignment(df: DataFrame, name: String, value: Column,
      gate: Option[Column]): DataFrame =
    if (df.columns.contains(name) || !name.contains('.')) {
      val v = gate.map(h => when(h, value).otherwise(col(name))).getOrElse(value)
      df.withColumn(name, v)
    } else {
      val top = name.takeWhile(_ != '.')
      require(df.columns.contains(top), s"UPDATE: no such column: $name")
      val nested = col(top).withField(name.drop(top.length + 1), value)
      val v = gate.map(h => when(h, nested).otherwise(col(top))).getOrElse(nested)
      df.withColumn(top, v)
    }

  private def updateMoR(spark: SparkSession, path: String, cond: Column,
      assignments: Map[String, Column], ref: String): Int = commit(path, ref) { h =>
    val hit = coalesce(cond, lit(false))
    // the matched frame feeds BOTH the position-delete file and the
    // updated-copy writeback — persist so the (expensive, delete-joined)
    // matched-rows scan runs once, spilling to disk if large
    val matched = readWithPositions(spark, path, Some(h.v)).filter(hit)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (name, matchedRows) = writeDeleteFile(positionsOf(matched), path, "posdel")
      if (matchedRows == 0) { Files.deleteIfExists(Paths.get(path, name)); None }
      else {
        val updated = assignments.foldLeft(matched.drop("__mor_file", "__mor_pos")) {
          case (df, (c, v)) => applyAssignment(df, c, v, gate = None)
        }
        // assigned geometry columns must refresh their bbox shadow (same
        // invariant as the CoW path)
        val bboxed = assignments.keys.foldLeft(updated) { case (df, c) =>
          if (df.columns.contains(s"${c}_bbox"))
            df.withColumn(s"${c}_bbox", graft.functions.GeoSql.st_bbox(col(c)))
          else df
        }
        val (added, _) = writeBack(bboxed, path)
        h.edit(m => m.copy(files = m.files ++ statsFor(spark, path, added),
          posDeletes = m.posDeletes :+ name))
      }
    } finally matched.unpersist(blocking = false)
  }

  /** Copy-on-write UPDATE: rewrite only files whose stats might match,
    * applying `assignments` to rows where `cond` holds (the reference's
    * `SparkCopyOnWriteOperation` shape).
    */
  private def updateCoW(spark: SparkSession, path: String, cond: Column,
      assignments: Map[String, Column], ref: String): Int = commit(path, ref) { h =>
    val table = read(spark, path, Some(h.v))
    val (affected, untouched) = splitByCond(table, cond, h.m.files, path)
    if (affected.isEmpty) None
    else {
      val hit = coalesce(cond, lit(false))
      val base = readFilesForRewrite(spark, path, affected, h.m)
      val rewritten = assignments.foldLeft(base) {
        case (df, (c, v)) => applyAssignment(df, c, v, gate = Some(hit))
      }
      // assigned geometry columns must refresh their bbox shadow, or later
      // spatial pruning would evaluate against stale bounds
      val bboxed = assignments.keys.foldLeft(rewritten) { case (df, c) =>
        if (df.columns.contains(s"${c}_bbox"))
          df.withColumn(s"${c}_bbox", graft.functions.GeoSql.st_bbox(col(c)))
        else df
      }
      val (added, _) = writeBack(bboxed, path)
      h.edit(_.copy(files = untouched ++ liveStatsFor(spark, path, added)))
    }
  }

  /** MERGE (upsert), honoring `write.merge.mode`: target rows whose key
    * appears in `source` are replaced by the source row; unmatched source
    * rows are inserted. Copy-on-write rewrites overlapping files;
    * merge-on-read deletes the matched rows by position and appends all
    * source rows — one commit, zero data files rewritten (the reference's
    * position-delta MERGE). Source keys must be unique.
    */
  def mergeUpsert(spark: SparkSession, path: String, source: DataFrame,
      keyCol: String, ref0: String = "main"): Int = {
    val ref = wapRef(path, ref0)
    if (morMode(path, "write.merge.mode")) mergeUpsertMoR(spark, path, source, keyCol, ref)
    else mergeUpsertCoW(spark, path, source, keyCol, ref)
  }

  private def mergeUpsertMoR(spark: SparkSession, path: String, source: DataFrame,
      keyCol: String, ref: String): Int = commit(path, ref) { h =>
    val table = read(spark, path, Some(h.v))
    val src = source.select(table.columns.map(col): _*)
    val positions = positionsOf(
      readWithPositions(spark, path, Some(h.v))
        .join(src.select(col(keyCol)), Seq(keyCol), "left_semi"))
    // one scan: write the delete file, footer count decides the no-match case
    val (delName, matchedRows) = writeDeleteFile(positions, path, "posdel")
    val delFile =
      if (matchedRows == 0) { Files.deleteIfExists(Paths.get(path, delName)); None }
      else Some(delName)
    val (added, _) = writeBack(src, path)
    val stats = statsFor(spark, path, added)
    if (matchedRows == 0 && stats.forall(_.rows == 0L)) {
      // empty MERGE source: no-op snapshotless, mirroring the
      // delete/update paths — never churn a version or register the
      // writer's empty part files
      added.foreach(r => Files.deleteIfExists(Paths.get(path, r)))
      None
    } else h.edit(m => m.copy(files = m.files ++ stats, posDeletes = m.posDeletes ++ delFile))
  }

  /** Copy-on-write MERGE: only target files whose key-range stats overlap
    * the source's key range are rewritten (`SparkCopyOnWriteOperation` +
    * the reference's MoR/CoW MERGE surface, SURVEY.md §2.7).
    */
  private def mergeUpsertCoW(spark: SparkSession, path: String, source: DataFrame,
      keyCol: String, ref: String): Int = commit(path, ref) { h =>
    val current = h.m.files
    val table = read(spark, path, Some(h.v))
    val src = source.select(table.columns.map(col): _*) // align schema/order
    val Array(kMin, kMax) = src.agg(min(col(keyCol)), max(col(keyCol))).collect()
      .flatMap(r => Array(r.get(0), r.get(1)))
    if (kMin == null) None // empty source
    else {
      // a file is affected iff its key range overlaps [kMin, kMax]
      val resolved = table.filter(col(keyCol).between(kMin, kMax))
        .queryExecution.optimizedPlan
        .collectFirst { case Filter(c, _) => c }
      val (affected, untouched) = resolved match {
        case Some(c) => current.partition(_.mightMatch(c))
        case None => (current, Nil) // couldn't derive → rewrite everything (safe)
      }
      val survivors =
        if (affected.isEmpty) spark.emptyDataFrame.limit(0)
        else readFilesForRewrite(spark, path, affected, h.m)
          .join(src.select(col(keyCol)), Seq(keyCol), "left_anti")
          .select(table.columns.map(col): _*)
      val out = if (affected.isEmpty) src else survivors.unionByName(src)
      val (added, _) = writeBack(out, path)
      h.edit(_.copy(files = untouched ++ liveStatsFor(spark, path, added)))
    }
  }

  /** One WHEN clause of a full MERGE, in source order. `action` is
    * "update" (with `sets`), "delete", or "insert" (with optional column
    * list + value expressions; both None = INSERT *). `bySource` marks a
    * `WHEN NOT MATCHED BY SOURCE` clause (the mirror-sync shape — target
    * rows with no source partner; UPDATE/DELETE only, per the reference's
    * Spark 3.5 row-level MERGE, TestMerge.java:116-118).
    */
  case class MergeClause(matched: Boolean, cond: Option[String], action: String,
      sets: Seq[(String, String)] = Nil,
      insertCols: Option[Seq[String]] = None, insertVals: Option[Seq[String]] = None,
      bySource: Boolean = false)

  /** Full copy-on-write MERGE (the reference's `SparkCopyOnWriteOperation`
    * MERGE surface): arbitrary multi-column ON condition, ordered WHEN
    * MATCHED [AND cond] THEN UPDATE/DELETE clauses, WHEN NOT MATCHED
    * [AND cond] THEN INSERT. Target rows pair with source rows on the ON
    * condition (a target row is assumed to match at most one source row,
    * as in Iceberg); only target files whose stats overlap the source's
    * equality-key bounds are rewritten — a non-equality ON falls back to
    * rewriting every file (correct, not pruned).
    *
    * `targetAlias`/`sourceAlias` are the names clause expressions may
    * qualify columns with (default `t`/`s`).
    */
  def mergeInto(spark: SparkSession, path: String, source: DataFrame, onSql: String,
      clauses: Seq[MergeClause], targetAlias: String = "t",
      sourceAlias: String = "s", ref0: String = "main",
      catalogIdent: Option[String] = None): Int = {
    val ref = wapRef(path, ref0) // a WAP session stages row-level ops too
    // SPJ needs the CATALOG read face — only a catalog relation can
    // resolve the bucket transform through the V2 function registry
    val ident = catalogIdent.filter(_ => ref == "main")
    if (morMode(path, "write.merge.mode"))
      mergeIntoMoR(spark, path, source, onSql, clauses, targetAlias, sourceAlias, ref, ident)
    else mergeIntoRef(spark, path, source, onSql, clauses, targetAlias, sourceAlias, ref, ident)
  }

  /** SQL MERGE cardinality rule: a target row matching MORE THAN ONE
    * source row is an error whenever a WHEN MATCHED clause exists — the
    * duplicate matches would update/delete the same row twice (the
    * reference raises the same error through Spark's row-level MERGE
    * framework, `MergeRowsExec`; SQL:2016 14.12 GR 6). Enforced inline on
    * the merge frame: a window count over the target row identity
    * (`__tid`, a per-row id stamped before the join; source-only rows get
    * unique negative keys so the null-identity partition can't skew),
    * raising from the executor on the first violation — no second pass
    * over the data. Insert-only merges skip the check and its exchange,
    * matching Spark.
    */
  private def cardinalityChecked(joined: DataFrame, check: Boolean): DataFrame =
    if (!check) joined
    else {
      import org.apache.spark.sql.expressions.Window
      val matched = col("__t").isNotNull && col("__s").isNotNull
      val w = Window.partitionBy(coalesce(col("__tid"), -col("__sid") - 1))
      joined
        .withColumn("__nmatch", sum(when(matched, 1L).otherwise(0L)).over(w))
        .filter(assert_true(!(matched && col("__nmatch") > 1),
          lit("MERGE cardinality violation: a single target row matched " +
            "multiple source rows while a WHEN MATCHED clause is present")).isNull)
        .drop("__nmatch")
    }

  /** First-matching-clause action tag over the full-outer merge frame
    * (SQL MERGE: clauses apply in source order; a row matching none keeps
    * its prior state). Tags are `<action><clause-index>`, plus "keep" for
    * untouched target rows and "dropSrc" for source rows no clause
    * inserts.
    */
  private def mergeActionCol(clauses: Seq[MergeClause]): Column = {
    val isMatched = col("__t").isNotNull && col("__s").isNotNull
    val sOnly = col("__t").isNull
    val tOnly = col("__s").isNull && col("__t").isNotNull
    def clauseCond(c: MergeClause): Column = {
      val base =
        if (c.matched) isMatched
        else if (c.bySource) tOnly
        else sOnly
      c.cond.map(x => base && coalesce(expr(x), lit(false))).getOrElse(base)
    }
    clauses.zipWithIndex.foldLeft(when(lit(false), lit(""))) {
      case (acc, (c, i)) => acc.when(clauseCond(c), lit(s"${c.action}$i"))
    }.otherwise(when(sOnly, lit("dropSrc")).otherwise(lit("keep")))
  }

  /** Output value of `colName` for a tagged merge row: the matching
    * update/insert clause's expression, else the target's current value.
    */
  private def mergeOutputCol(clauses: Seq[MergeClause], source: DataFrame,
      schema: org.apache.spark.sql.types.StructType, targetAlias: String,
      sourceAlias: String)(colName: String): Column = {
    def insertExpr(c: MergeClause): Column = c match {
      case MergeClause(_, _, _, _, None, None, _) => // INSERT *
        if (source.columns.contains(colName)) col(s"$sourceAlias.$colName")
        else lit(null).cast(schema(colName).dataType)
      case MergeClause(_, _, _, _, Some(cols), Some(vals), _) =>
        cols.indexOf(colName) match {
          case -1 => lit(null).cast(schema(colName).dataType)
          case i => expr(vals(i)).cast(schema(colName).dataType)
        }
      case _ => throw new IllegalArgumentException("INSERT needs (cols) VALUES (...) or *")
    }
    // SET keys may be alias-qualified (`t.id = …`) and may address NESTED
    // struct fields by dot path (`pt.x = …` / `t.pt.x = …`) — both forms
    // the reference accepts through Spark's MERGE framework
    def updateExpr(c: MergeClause): Column = {
      val norm = c.sets.map { case (k, v) =>
        (if (k.startsWith(s"$targetAlias.")) k.stripPrefix(s"$targetAlias.") else k) -> v }
      norm.toMap.get(colName) match {
        case Some(v) => expr(v).cast(schema(colName).dataType)
        case None =>
          val nested = norm.filter(_._1.startsWith(s"$colName."))
          nested.foldLeft(col(s"$targetAlias.$colName")) { case (acc, (k, v)) =>
            acc.withField(k.stripPrefix(s"$colName."), expr(v)) }
      }
    }
    clauses.zipWithIndex.foldLeft(when(lit(false), lit(null))) {
      case (acc, (c, i)) =>
        val tag = s"${c.action}$i"
        c.action match {
          case "update" => acc.when(col("__action") === tag, updateExpr(c))
          case "insert" => acc.when(col("__action") === tag, insertExpr(c))
          case _ => acc
        }
    }.otherwise(col(s"$targetAlias.$colName")).as(colName)
  }

  /** `(target column, source column)` for every `t.c = s.c` equality
    * conjunct of the ON condition (resolved through a probe analysis, so
    * aliases and qualification follow Spark's own rules).
    */
  private def onEqualityPairs(table: DataFrame, source: DataFrame, onSql: String,
      targetAlias: String, sourceAlias: String): Seq[(String, String)] = {
    val probe = table.alias(targetAlias)
      .join(source.alias(sourceAlias), expr(onSql)).queryExecution.analyzed
    val tgtOut = probe.children.headOption.map(_.output.map(_.exprId).toSet).getOrElse(Set.empty)
    probe.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.condition
    }.flatten.toSeq.flatMap { cond =>
      def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
          : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
        case org.apache.spark.sql.catalyst.expressions.And(l, r) => conjuncts(l) ++ conjuncts(r)
        case x => Seq(x)
      }
      conjuncts(cond).collect {
        case org.apache.spark.sql.catalyst.expressions.EqualTo(
            a: org.apache.spark.sql.catalyst.expressions.AttributeReference,
            b: org.apache.spark.sql.catalyst.expressions.AttributeReference) =>
          if (tgtOut(a.exprId)) Some(a.name -> b.name)
          else if (tgtOut(b.exprId)) Some(b.name -> a.name)
          else None
      }.flatten
    }
  }

  /** Is the storage-partitioned-join read face worth taking for a
    * row-level op? Yes when V2 bucketing is on and every bucket
    * transform's source column is an ON equality key — then the catalog
    * scan's KeyGroupedPartitioning lines up with the merge join keys.
    */
  private def spjMergeCapable(spark: SparkSession, path: String,
      eqPairs: Seq[(String, String)]): Boolean =
    spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled").contains("true") && {
      val buckets = GeoTable.readPartitionSpecs(path)
        .collect { case b: Transforms.Bucket => b }
      buckets.nonEmpty && buckets.forall(b => eqPairs.exists(_._1 == b.source))
    }

  private def mergeIntoRef(spark: SparkSession, path: String, source: DataFrame, onSql: String,
      clauses: Seq[MergeClause], targetAlias: String,
      sourceAlias: String, ref: String,
      catalogIdent: Option[String]): Int = commit(path, ref) { h =>
    require(clauses.nonEmpty, "MERGE needs at least one WHEN clause")
    val head = h.v
    val current = h.m.files
    val table = read(spark, path, Some(head))
    val tableCols = table.columns.toSeq

    // file pruning from equality conjuncts `t.c = s.c` in the ON condition:
    // the affected files are those whose stats overlap the source's bounds
    // on every such key (the mergeUpsert strategy, generalized)
    val eqPairs = onEqualityPairs(table, source, onSql, targetAlias, sourceAlias)
    // a NOT MATCHED BY SOURCE clause touches target rows REGARDLESS of the
    // source's key bounds — no file can be skipped on source stats
    val hasBySource = clauses.exists(_.bySource)
    val (affected, untouched) =
      if (hasBySource) (current, Seq.empty[FileStats])
      else if (eqPairs.isEmpty) (current, Seq.empty[FileStats])
      else {
        val aggs = eqPairs.flatMap(p => Seq(min(col(p._2)), max(col(p._2))))
        val bounds = source.agg(aggs.head, aggs.tail: _*).collect().head
        if (bounds.isNullAt(0)) (Nil, current) // empty source: nothing matches
        else {
          val rangeCond = eqPairs.zipWithIndex.map { case ((tc, _), i) =>
            col(tc).between(bounds.get(2 * i), bounds.get(2 * i + 1))
          }.reduce(_ && _)
          val resolved = table.filter(rangeCond).queryExecution.optimizedPlan
            .collectFirst { case Filter(c, _) => c }
          resolved match {
            case Some(c) => current.partition(_.mightMatch(c))
            case None => (current, Seq.empty[FileStats])
          }
        }
      }

    val hasInsert = clauses.exists(!_.matched)
    if (affected.isEmpty && !hasInsert) None
    else {
      // storage-partitioned MERGE (the reference's
      // TestStoragePartitionedJoinsInRowLevelOperations): when every
      // bucket transform's source column is an ON equality key and V2
      // bucketing is on, read the affected files through the DSv2 scan —
      // it reports KeyGroupedPartitioning over exactly those files (the
      // `__files` option), so a co-bucketed source joins with ZERO
      // exchanges on the join. Semantics are identical to the V1 rewrite
      // read (same delete state, decodings, evolved schema); if the
      // source isn't compatibly partitioned Spark just inserts the same
      // exchanges the V1 read would have needed.
      val spjCapable = affected.nonEmpty && catalogIdent.isDefined &&
        spjMergeCapable(spark, path, eqPairs)
      val tgt = (if (affected.isEmpty) {
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), table.schema)
      } else if (spjCapable) {
        // end-version pins the scan to this commit's head; the catalog
        // face (not the path) resolves bucket() through the V2 function
        // registry — without that the reported KeyGroupedPartitioning
        // can't translate to TransformExpressions and SPJ never plans
        spark.read.option("end-version", head)
          .option("__files", affected.map(_.path).mkString(","))
          .table(catalogIdent.get)
      } else readFilesForRewrite(spark, path, affected, h.m))
        .withColumn("__t", lit(1))
        .withColumn("__tid", monotonically_increasing_id()).alias(targetAlias)
      val src = source.withColumn("__s", lit(1))
        .withColumn("__sid", monotonically_increasing_id()).alias(sourceAlias)
      val joined = cardinalityChecked(tgt.join(src, expr(onSql), "full_outer"),
        clauses.exists(_.matched))
      val withAction = joined.withColumn("__action", mergeActionCol(clauses))
        .filter(!col("__action").startsWith("delete") && col("__action") =!= "dropSrc")
      val out = withAction.select(tableCols.map(
        mergeOutputCol(clauses, source, table.schema, targetAlias, sourceAlias)): _*)
      val (added, _) = writeBack(out, path)
      h.edit(_.copy(files = untouched ++ liveStatsFor(spark, path, added)))
    }
  }

  /** Merge-on-read full MERGE (`write.merge.mode = merge-on-read`): the
    * position-delta lowering — matched UPDATE/DELETE rows (and NOT MATCHED
    * BY SOURCE ones) become positional delete entries, updated copies and
    * NOT MATCHED inserts append as new files; zero data files rewritten,
    * one snapshot (the reference's position-delta MERGE,
    * `SparkPositionDeltaOperation`). The target is scanned once with
    * `(file, pos)` provenance; no file-level pruning is attempted — MoR
    * trades the CoW path's stats pruning for never rewriting, and a
    * BY SOURCE clause needs every target row anyway.
    */
  private def mergeIntoMoR(spark: SparkSession, path: String, source: DataFrame,
      onSql: String, clauses: Seq[MergeClause], targetAlias: String,
      sourceAlias: String, ref: String,
      catalogIdent: Option[String]): Int = commit(path, ref) { h =>
    require(clauses.nonEmpty, "MERGE needs at least one WHEN clause")
    val head = h.v
    val table = read(spark, path, Some(head))
    val tableCols = table.columns.toSeq
    // storage-partitioned MoR MERGE: the `_file`/`_pos` metadata columns
    // ARE the staged-scan provenance (the reference reads its row-level
    // targets through the metadata-column scan the same way), so a
    // co-bucketed merge can take the catalog scan face and join with zero
    // exchanges — identical delete-state/decoding semantics either way
    val spjCapable = catalogIdent.isDefined && spjMergeCapable(spark, path,
      onEqualityPairs(table, source, onSql, targetAlias, sourceAlias))
    val tgt0 =
      if (spjCapable)
        spark.read.option("end-version", head).table(catalogIdent.get)
          .withColumn("__mor_file", col("_file"))
          .withColumn("__mor_pos", col("_pos"))
      else readWithPositions(spark, path, Some(head))
    val tgt = tgt0
      .withColumn("__t", lit(1))
      .withColumn("__tid", monotonically_increasing_id()).alias(targetAlias)
    val src = source.withColumn("__s", lit(1))
      .withColumn("__sid", monotonically_increasing_id()).alias(sourceAlias)
    // resolve the alias-qualified clause expressions BEFORE materializing:
    // one scan then feeds both outputs (blocks, not re-scans), and the
    // checkpointed frame no longer depends on join-side qualifiers
    val prepared = cardinalityChecked(tgt.join(src, expr(onSql), "full_outer"),
        clauses.exists(_.matched))
      .withColumn("__action", mergeActionCol(clauses))
      .filter(col("__action") =!= "keep" && col("__action") =!= "dropSrc")
      .select(col("__action") +: col("__mor_file") +: col("__mor_pos") +:
        tableCols.map(
          mergeOutputCol(clauses, source, table.schema, targetAlias, sourceAlias)): _*)
      .localCheckpoint(true)
    // old versions of updated rows + deleted rows → positional deletes
    val positions = positionsOf(prepared.filter(
      col("__action").startsWith("delete") || col("__action").startsWith("update")))
    val (delName, deletedRows) = writeDeleteFile(positions, path, "posdel")
    val delFile =
      if (deletedRows == 0) { Files.deleteIfExists(Paths.get(path, delName)); None }
      else Some(delName)
    // new versions of updated rows + inserted rows → appended files
    val out = prepared.filter(
        col("__action").startsWith("update") || col("__action").startsWith("insert"))
      .select(tableCols.map(col): _*)
    val (added, _) = writeBack(out, path)
    val (live, empty) = statsFor(spark, path, added).partition(_.rows > 0L)
    empty.foreach(f => Files.deleteIfExists(Paths.get(path, f.path)))
    if (deletedRows == 0 && live.isEmpty) None // no clause fired: no-op, snapshotless
    else h.edit(m => m.copy(files = m.files ++ live, posDeletes = m.posDeletes ++ delFile))
  }

  /** Pair changelog delete+insert rows sharing the identifier columns
    * into `update_before` / `update_after` — the reference's
    * `create_changelog_view(identifier_columns => …)` /
    * `ChangelogIterator.computeUpdates`. One hash shuffle on the
    * identifier; unpaired rows keep their insert/delete tags.
    */
  def computeUpdates(changesDf: DataFrame, idCols: Seq[String]): DataFrame = {
    require(idCols.nonEmpty, "computeUpdates needs identifier columns")
    val missing = idCols.filterNot(changesDf.columns.contains)
    require(missing.isEmpty, s"identifier column(s) not in changelog: ${missing.mkString(", ")}")
    import org.apache.spark.sql.expressions.Window
    // PAIRWISE, like the reference's ChangelogIterator.computeUpdates: the
    // k-th delete of an identifier group pairs with its k-th insert; only
    // min(#deletes, #inserts) pairs relabel, surplus rows keep their
    // original tags (an unbalanced group — two deletes, one insert —
    // previously relabeled EVERY row, inventing an update_before with no
    // partner). Ordinals are deterministic: rows order by a hash of their
    // non-identifier columns. One exchange on the identifier (the group
    // window's subset-clustering reuses it), two local sorts.
    // per-commit changelogs pair WITHIN each commit: the reference's
    // procedure repartitions by (identifier columns, _change_ordinal)
    // before running ComputeUpdateIterator
    // (CreateChangelogViewProcedure.java:169-176)
    val keyCols = idCols ++ ChangelogMetaCols.filter(changesDf.columns.contains)
    val others = changesDf.columns
      .filterNot(c => keyCols.contains(c) || c == "_change_type").toSeq
    val ord = if (others.isEmpty) lit(0L) else xxhash64(others.map(col): _*)
    val wKey = Window.partitionBy(keyCols.map(col): _*)
    val wType = Window.partitionBy((keyCols :+ "_change_type").map(col): _*).orderBy(ord)
    changesDf
      .withColumn("__rn", row_number().over(wType))
      .withColumn("__del",
        sum(when(col("_change_type") === "delete", 1).otherwise(0)).over(wKey))
      .withColumn("__ins",
        sum(when(col("_change_type") === "insert", 1).otherwise(0)).over(wKey))
      .withColumn("__pairs", least(col("__del"), col("__ins")))
      .withColumn("_change_type",
        when(col("_change_type") === "delete" && col("__rn") <= col("__pairs"),
          lit("update_before"))
          .when(col("_change_type") === "insert" && col("__rn") <= col("__pairs"),
            lit("update_after"))
          .otherwise(col("_change_type")))
      .drop("__rn", "__del", "__ins", "__pairs")
  }

  /** The reference's changelog metadata columns beyond `_change_type`
    * (`core/src/main/java/org/apache/iceberg/ChangelogUtil.java:32`).
    */
  private val ChangelogMetaCols = Seq("_change_ordinal", "_commit_snapshot_id")

  /** Per-commit changelog over the ancestry range `(fromV, toV]` — the
    * reference's changelog table scan (`ChangelogUtil.changelogSchema`):
    * one row-level diff PER COMMIT, tagged `_change_ordinal` (0-based
    * commit position within the range) and `_commit_snapshot_id`. Unlike
    * the endpoint diff [[changes]] (which nets by construction), a row
    * inserted mid-range and deleted later shows BOTH events here —
    * `net_changes => true` is what collapses them.
    */
  def changelog(spark: SparkSession, path: String, fromV: Int, toV: Int): DataFrame = {
    val chain = ancestry(path, toV)
    require(fromV == 0 || chain.contains(fromV) || fromV == toV,
      s"from_version $fromV is not an ancestor of to_version $toV")
    val inRange = chain.filter(v => v > fromV && v <= toV)
    val parts = (fromV +: inRange).zip(inRange).zipWithIndex.map {
      case ((parent, v), i) =>
        // parent 0 = before the first retained snapshot: every visible row
        // of the oldest commit is an insert (full-history changelog)
        val d = if (parent == 0)
          read(spark, path, Some(v)).withColumn("_change_type", lit("insert"))
        else changes(spark, path, parent, v)
        d.withColumn("_change_ordinal", lit(i))
          .withColumn("_commit_snapshot_id", lit(v.toLong))
    }
    parts.reduceOption(_.unionAll(_)).getOrElse {
      val schema = this.schema(spark, path, Some(toV))
        .add("_change_type", org.apache.spark.sql.types.StringType)
        .add("_change_ordinal", org.apache.spark.sql.types.IntegerType)
        .add("_commit_snapshot_id", org.apache.spark.sql.types.LongType)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    }
  }

  /** Collapse a changelog to net row effects — the reference's
    * `create_changelog_view(net_changes => true)` /
    * `ChangelogIterator.removeNetCarryovers`. Per identical row content
    * (metadata columns excluded), the reference's iterator walks rows
    * sorted by (ordinal, change type) keeping a single greedy run: an
    * opposite-type row cancels one from the run, a cancellation to zero
    * drops the run and starts fresh at the next row, and only the FINAL
    * run survives — emitted as `count` copies of the run's first row
    * (`RemoveNetCarryoverIterator.java:66-100`). Reproduced exactly with a
    * sorted collect_list + aggregate fold per value group (group sizes are
    * the number of changes to ONE row content across the range — tiny by
    * construction). Plain frames without ordinal columns keep the simpler
    * net-count semantics (sign of the insert−delete balance).
    */
  def removeNetCarryovers(changesDf: DataFrame): DataFrame = {
    val metaCols = "_change_type" +: ChangelogMetaCols
    val valueCols = changesDf.columns.filterNot(metaCols.contains).toSeq
    if (!changesDf.columns.contains("_change_ordinal")) {
      changesDf
        .groupBy(valueCols.map(col): _*)
        .agg(sum(when(col("_change_type") === "insert", 1L)
          .when(col("_change_type") === "delete", -1L).otherwise(0L)).as("__net"))
        .filter(col("__net") =!= 0L)
        .withColumn("_change_type",
          when(col("__net") > 0, lit("insert")).otherwise(lit("delete")))
        .withColumn("__dup", explode(expr("sequence(1, abs(__net))")))
        .drop("__net", "__dup")
        .select(changesDf.columns.map(col): _*)
    } else {
      val grouped = changesDf
        .groupBy(valueCols.map(col): _*)
        .agg(sort_array(collect_list(struct(
          col("_change_ordinal").as("o"),
          col("_commit_snapshot_id").as("c"),
          col("_change_type").as("t")))).as("__rows"))
      // greedy-run fold: state = (first row of the live run, its count)
      val folded = grouped.withColumn("__run", expr(
        """aggregate(__rows,
          |  struct(CAST(NULL AS STRUCT<o: INT, c: BIGINT, t: STRING>) AS first,
          |         0 AS cnt),
          |  (acc, r) -> CASE
          |    WHEN acc.cnt = 0 THEN struct(r AS first, 1 AS cnt)
          |    WHEN r.t = acc.first.t THEN struct(acc.first AS first, acc.cnt + 1 AS cnt)
          |    ELSE struct(acc.first AS first, acc.cnt - 1 AS cnt) END)""".stripMargin))
        .filter(col("__run.cnt") > 0)
      folded
        .withColumn("__dup", explode(expr("sequence(1, __run.cnt)")))
        .withColumn("_change_type", col("__run.first.t"))
        .withColumn("_change_ordinal", col("__run.first.o"))
        .withColumn("_commit_snapshot_id", col("__run.first.c"))
        .select(changesDf.columns.map(col): _*)
    }
  }

  /** Read a snapshot (default: current) through the pruning file index,
    * applying that snapshot's positional, equality and merge-on-read
    * predicate deletes — THE DataFrame-API snapshot reader.
    */
  def read(spark: SparkSession, path: String, version: Option[Int] = None): DataFrame = {
    // an unpinned read under an active WAP conf follows the audit branch.
    // PIN the head ONCE: resolving it per sub-read (manifest, pos/eq/
    // predicate deletes) would tear the view under a concurrent commit —
    // serving one version's files with ANOTHER version's (possibly
    // cleared) delete state resurrects deleted rows. One refs read serves
    // the head and main's table-level metadata.
    val rs = refsState(path)
    val head = headManifest(path, rs)
    val v = Some(version.orElse(wapBranchFor(path).flatMap(rs.branches.get))
      .getOrElse(rs.mainHead(path)))
    val m = readManifest(path, v)
    GeoTable.applyDeletes(
      applyEqDeletes(spark, path,
        applyPosDeletes(spark, path,
          GeoTable.readWithStats(spark, path, m, head),
          readPosDeletes(path, v)),
        readEqDeletes(path, v), m),
      readDeletes(path, v))
  }

  /** The logical schema of a snapshot (default: main head) — exactly
    * `read(spark, path, version).schema`, derived from metadata alone
    * ([[GeoTable.logicalSchema]]: the stored physical schema, declared
    * geometry encodings, the evolution log's renames, promotions, nested
    * fields and comments). Builds no relation and applies no delete.
    * Deletes never reshape the schema and every snapshot reads under the
    * table's current schema, so the version only has to exist.
    */
  def schema(spark: SparkSession, path: String,
      version: Option[Int] = None): org.apache.spark.sql.types.StructType = {
    val head = headManifest(path)
    // a missing snapshot fails like read does
    if (version.isDefined || head.isEmpty) manifest(path, version)
    GeoTable.logicalSchema(spark, path, head)
  }

  /** Changelog between two snapshots: row-level inserts/deletes with a
    * `_change_type` column (the reference's `create_changelog_view`
    * procedure / `SparkChangelogTable`, which also diffs at the manifest
    * level). Data files are immutable, so the diff is computed from the two
    * manifests' file lists: only files that ENTERED or LEFT the snapshot are
    * read (copy-on-write rewrites re-materialize surviving rows, which the
    * small `exceptAll` across just those files cancels out). Rows in
    * unchanged files can only flip visibility when the MoR delete-predicate
    * set changed — those files are included only if their stats might match
    * a changed predicate. At 100 TB an append/CoW commit diff therefore
    * scans O(changed files), not 2× the table.
    */
  def changes(spark: SparkSession, path: String, fromVersion: Int, toVersion: Int): DataFrame = {
    val fromM = readManifest(path, Some(fromVersion))
    val toM = readManifest(path, Some(toVersion))
    val fromNames = fromM.map(_.path).toSet
    val toNames = toM.map(_.path).toSet
    val entered = toM.filterNot(f => fromNames(f.path))
    val left = fromM.filterNot(f => toNames(f.path))
    val delsFrom = readDeletes(path, Some(fromVersion))
    val delsTo = readDeletes(path, Some(toVersion))

    // common files whose rows may have flipped visibility via MoR predicates
    val changedPreds = delsTo.diff(delsFrom) ++ delsFrom.diff(delsTo)
    val common = toM.filter(f => fromNames(f.path))
    val touchedByPred =
      if (changedPreds.isEmpty) Nil
      else {
        val conds = changedPreds.flatMap { p =>
          GeoTable.readWithStats(spark, path, toM).filter(expr(p))
            .queryExecution.optimizedPlan
            .collectFirst { case Filter(c, _) => c }
        }
        if (conds.size < changedPreds.size) common // unresolvable → read all common (safe)
        else common.filter(f => conds.exists(f.mightMatch))
      }

    // ... or via positional delete files (they name their target files)
    val posFrom = readPosDeletes(path, Some(fromVersion))
    val posTo = readPosDeletes(path, Some(toVersion))
    val changedPos = posTo.diff(posFrom) ++ posFrom.diff(posTo)
    val touchedByPos =
      if (changedPos.isEmpty) Nil
      else {
        val targets = spark.read.parquet(changedPos.map(f => s"$path/$f"): _*)
          .select(col("file_path")).distinct().collect().map(_.getString(0)).toSet
        common.filter(f => targets.exists(posTargetHits(_, f.path)))
      }
    // ... or via equality delete files (their rows may hit any file —
    // conservative: all common files when the eq-delete set changed)
    val eqFrom = readEqDeletes(path, Some(fromVersion))
    val eqTo = readEqDeletes(path, Some(toVersion))
    val touchedByEq = if (eqTo.diff(eqFrom).isEmpty && eqFrom.diff(eqTo).isEmpty) Nil else common
    val touched = (touchedByPred ++ touchedByPos ++ touchedByEq).distinct

    def visible(files: Seq[FileStats], dels: Seq[String], posDels: Seq[String],
        eqDels: Seq[EqDelete]): Option[DataFrame] =
      if (files.isEmpty) None
      else Some(GeoTable.applyDeletes(
        applyEqDeletes(spark, path,
          applyPosDeletes(spark, path,
            readFilesDecoded(spark, path, files.map(_.path)), posDels), eqDels, files), dels))

    // an empty side must be a LocalRelation, not a limit(0) over the
    // snapshot — the latter would still register every file as a scan input
    def emptyLike(d: DataFrame): DataFrame =
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), d.schema)

    (visible(left ++ touched, delsFrom, posFrom, eqFrom),
      visible(entered ++ touched, delsTo, posTo, eqTo)) match {
      case (None, None) =>
        val schema = this.schema(spark, path, Some(toVersion))
          .add("_change_type", org.apache.spark.sql.types.StringType)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      case (f, t) =>
        val fromSide = f.getOrElse(emptyLike(t.get))
        val toSide = t.getOrElse(emptyLike(f.get))
        val inserted = toSide.exceptAll(fromSide).withColumn("_change_type", lit("insert"))
        val deleted = fromSide.exceptAll(toSide).withColumn("_change_type", lit("delete"))
        inserted.unionAll(deleted)
    }
  }

  /** History metadata table: one row per snapshot. */
  def history(spark: SparkSession, path: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    // retained versions only: expire_snapshots deletes old manifest files
    val rows = retainedVersions(path).map { v =>
      val m = readManifest(path, Some(v))
      org.apache.spark.sql.Row(v, m.size, m.map(_.rows).sum, m.map(_.sizeBytes).sum)
    }
    spark.createDataFrame(rows.asJava, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("version", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("n_files", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("record_count", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("total_bytes", org.apache.spark.sql.types.LongType))))
  }

  // ---- metadata tables (the reference's MetadataTableType surface,
  // `core/src/main/java/org/apache/iceberg/MetadataTableType.java:23-38`) --

  private def mkDf(spark: SparkSession, rows: Seq[org.apache.spark.sql.Row],
      fields: (String, org.apache.spark.sql.types.DataType)*): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, org.apache.spark.sql.types.StructType(
      fields.map { case (n, t) => org.apache.spark.sql.types.StructField(n, t) }))
  }

  private def retainedVersions(path: String): Seq[Int] =
    (1 to currentVersion(path)).filter(v => Files.exists(manifestPath(path, v)))

  /** Retained versions up to `upto`, in order — the committed snapshot
    * chain the streaming source walks.
    */
  private[graft] def chainVersions(path: String, upto: Int): Seq[Int] =
    (1 to upto).filter(v => Files.exists(manifestPath(path, v)))

  /** A ref head's ancestry, oldest first, via the stamped
    * `graft.parentVersion` pointers (numeric predecessor for legacy
    * manifests without a stamp). Version numbers interleave across refs
    * under branch writes, so `1..head` is NOT a ref's history — an
    * unpublished branch WAP commit must never enter main's ancestry.
    * The walk ends at the first expired (missing) manifest.
    */
  private[graft] def ancestry(path: String, head: Int): Seq[Int] = {
    val acc = scala.collection.mutable.ListBuffer.empty[Int]
    val seen = scala.collection.mutable.Set.empty[Int]
    var v = head
    while (v > 0 && !seen(v) && Files.exists(manifestPath(path, v))) {
      seen += v
      acc.prepend(v)
      v = readProps(path, Some(v)).get("graft.parentVersion").map(_.toInt).getOrElse(v - 1)
    }
    acc.toList
  }

  /** Commit time of a snapshot = its manifest's mtime (the same clock
    * `rollback_to_timestamp` resolves against).
    */
  private[graft] def commitTimeMillis(path: String, v: Int): Long =
    Files.getLastModifiedTime(manifestPath(path, v)).toMillis

  /** `snapshots`: one row per retained snapshot with commit time and
    * file/row deltas vs its parent.
    */
  def snapshotsTable(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val rows = retainedVersions(path).map { v =>
      val m = readManifest(path, Some(v))
      val names = m.map(_.path).toSet
      // diff against the STAMPED parent (refs interleave version numbers,
      // so v-1 may belong to another ref's history); numeric for legacy
      val parentV = readProps(path, Some(v))
        .get("graft.parentVersion").map(_.toInt).getOrElse(v - 1)
      val parent = if (parentV >= 1 && Files.exists(manifestPath(path, parentV)))
        readManifest(path, Some(parentV)).map(_.path).toSet else Set.empty[String]
      val op =
        if (parent.isEmpty) "append"
        else if ((parent -- names).isEmpty && (names -- parent).nonEmpty) "append"
        else if ((parent -- names).nonEmpty && (names -- parent).nonEmpty) "overwrite"
        else if ((parent -- names).nonEmpty) "delete"
        else "metadata" // same file set (MoR delete / rollback no-op)
      // parent_version: the stamped ancestry pointer (null for roots) —
      // the reference's snapshots.parent_id
      val parentOut: Any =
        if (parentV >= 1 && Files.exists(manifestPath(path, parentV))) parentV else null
      org.apache.spark.sql.Row(v, parentOut,
        new java.sql.Timestamp(Files.getLastModifiedTime(manifestPath(path, v)).toMillis),
        op, m.size, (names -- parent).size, (parent -- names).size,
        m.map(_.rows).sum, m.map(_.sizeBytes).sum)
    }
    mkDf(spark, rows,
      "version" -> IntegerType, "parent_version" -> IntegerType,
      "committed_at" -> TimestampType,
      "operation" -> StringType, "n_files" -> IntegerType,
      "added_files" -> IntegerType, "removed_files" -> IntegerType,
      "record_count" -> LongType, "total_bytes" -> LongType)
  }

  /** `manifests`: one row per retained manifest file. */
  def manifestsTable(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val rows = retainedVersions(path).map { v =>
      val p = manifestPath(path, v)
      val m = readManifest(path, Some(v))
      org.apache.spark.sql.Row(p.getFileName.toString, v, Files.size(p),
        m.size, m.map(_.rows).sum, readDeletes(path, Some(v)).size)
    }
    mkDf(spark, rows,
      "manifest_path" -> StringType, "version" -> IntegerType,
      "manifest_length" -> LongType, "n_data_files" -> IntegerType,
      "total_rows" -> LongType, "n_delete_predicates" -> IntegerType)
  }

  /** `partitions`: current snapshot grouped by partition directory (one
    * `partition=""` row for unpartitioned tables).
    */
  def partitionsTable(spark: SparkSession, path: String,
      version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.types._
    val rows = readManifest(path, version)
      .groupBy(f => f.path.split('/').dropRight(1).mkString("/"))
      .toSeq.sortBy(_._1)
      .map { case (part, fs) =>
        org.apache.spark.sql.Row(part, fs.size, fs.map(_.rows).sum, fs.map(_.sizeBytes).sum)
      }
    mkDf(spark, rows,
      "partition" -> StringType, "n_files" -> IntegerType,
      "record_count" -> LongType, "total_bytes" -> LongType)
  }

  /** Partition statistics FILES — the reference's registered per-snapshot
    * partition-stats artifact (`core/.../GenericPartitionStatisticsFile
    * .java`, `SetPartitionStatistics.java`, `PartitionStatsUtil`): a
    * persisted parquet file of per-partition aggregates, stamped with the
    * snapshot it describes. Computed ENTIRELY from the manifest + delete
    * state — zero data-file reads (every number below is already in
    * table metadata), which is the 100 TB point: refreshing partition
    * stats costs O(#files) manifest work, not a corpus scan. Readers take
    * the newest stats file at or before their snapshot (same
    * never-travel-forward rule as the NDV sketches).
    */
  private val PartitionStatsDir = "_graft_partition_stats"

  /** Compute + persist partition stats for the current main snapshot.
    * Returns (described version, partition count).
    */
  def computePartitionStats(spark: SparkSession, path: String): (Int, Int) = {
    import org.apache.spark.sql.types._
    val v = mainVersion(path)
    val files = readManifest(path)
    // pending positional deletes, attributed to the deleted data file's
    // partition (delete files are metadata artifacts, footprint bounded
    // by delete volume; the aggregate is distributed, only the
    // #partitions-bounded result lands on the driver). Equality deletes
    // are predicate-scoped, not partition-attributable without
    // evaluation — out of scope here, matching what manifests alone can
    // answer in the reference.
    val posByPart: Map[String, Long] = {
      val pos = readPosDeletes(path)
      if (pos.isEmpty) Map.empty[String, Long]
      else {
        // delete rows record `_metadata.file_path` (scheme-qualified);
        // normalize to the manifest's table-relative key by suffix match,
        // the same rule DeleteState applies when planning reads
        val rel = files.map(_.path)
        def toRel(fp: String): Option[String] =
          rel.find(p => posTargetHits(fp, p))
        spark.read.parquet(pos.map(f => s"$path/$f"): _*)
          .groupBy(org.apache.spark.sql.functions.col("file_path")).count()
          .collect()
          .flatMap(r => toRel(r.getString(0)).map(p =>
            (p.split('/').dropRight(1).mkString("/"), r.getLong(1))))
          .groupBy(_._1)
          .map { case (p, cs) => (p, cs.map(_._2).sum) }
      }
    }
    val byPart = files.groupBy(f => f.path.split('/').dropRight(1).mkString("/"))
    val rows = byPart.toSeq.sortBy(_._1).map { case (part, fs) =>
      org.apache.spark.sql.Row(part, fs.size.toLong, fs.map(_.rows).sum,
        fs.map(_.sizeBytes).sum,
        posByPart.getOrElse(part, 0L),
        v.toLong)
    }
    val df = mkDf(spark, rows,
      "partition" -> StringType, "data_file_count" -> LongType,
      "record_count" -> LongType, "total_size_bytes" -> LongType,
      "position_delete_count" -> LongType, "last_updated_snapshot" -> LongType)
    val out = java.nio.file.Paths.get(path, PartitionStatsDir, s"v$v")
    df.coalesce(1).write.mode("overwrite").parquet(out.toString)
    (v, rows.size)
  }

  /** `partition_stats` metadata table: the newest REGISTERED stats file at
    * or before the main snapshot; empty (with the declared schema) when
    * compute_partition_stats has never run.
    */
  def partitionStatsTable(spark: SparkSession, path: String,
      version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(mainVersion(path))
    val dir = java.nio.file.Paths.get(path, PartitionStatsDir)
    val VRe = """v(\d+)""".r
    val best =
      if (!java.nio.file.Files.isDirectory(dir)) None
      else listDir(dir)(_.toSeq).flatMap(_.getFileName.toString match {
        case VRe(n) if n.toInt <= v => Some(n.toInt)
        case _ => None
      }).sorted.lastOption
    best match {
      case Some(bv) =>
        spark.read.parquet(dir.resolve(s"v$bv").toString)
          .orderBy(org.apache.spark.sql.functions.col("partition"))
      case None =>
        import org.apache.spark.sql.types._
        mkDf(spark, Nil,
          "partition" -> StringType, "data_file_count" -> LongType,
          "record_count" -> LongType, "total_size_bytes" -> LongType,
          "position_delete_count" -> LongType, "last_updated_snapshot" -> LongType)
    }
  }

  /** `entries`: per-file membership of the current snapshot with status
    * relative to the parent (added/existing).
    */
  def entriesTable(spark: SparkSession, path: String,
      version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val v = version.getOrElse(currentVersion(path))
    // diff against the STAMPED parent like snapshotsTable: version numbers
    // interleave across refs, so the numeric predecessor can be ANOTHER
    // ref's manifest — mislabeling its files "existing" and this ref's
    // pre-existing files "added"
    val parentV = readProps(path, Some(v))
      .get("graft.parentVersion").map(_.toInt).getOrElse(v - 1)
    val parent = if (parentV >= 1 && Files.exists(manifestPath(path, parentV)))
      readManifest(path, Some(parentV)).map(_.path).toSet else Set.empty[String]
    val stats = readManifest(path, Some(v))
    val rm = GeoTable.readableMetrics(path, stats)
    val rows = stats.map { f =>
      org.apache.spark.sql.Row.fromSeq(Seq(
        if (parent(f.path)) "existing" else "added", f.path, f.rows, f.sizeBytes) ++
        rm.map(_._2(f.path)).toSeq)
    }
    val schema = StructType(Seq(
      StructField("status", StringType), StructField("file_path", StringType),
      StructField("record_count", LongType),
      StructField("file_size_in_bytes", LongType)) ++ rm.map(_._1).toSeq)
    spark.createDataFrame(rows.asJava, schema)
  }

  /** `refs`: one row per branch/tag with its target version (the
    * reference's REFS metadata table).
    */
  def refsTable(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val (bs, ts) = readRefs(path)
    val branches = if (bs.contains("main")) bs else bs + ("main" -> mainVersion(path))
    val rows = branches.toSeq.sortBy(_._1).map { case (n, v) =>
      org.apache.spark.sql.Row(n, "BRANCH", v)
    } ++ ts.toSeq.sortBy(_._1).map { case (n, v) => org.apache.spark.sql.Row(n, "TAG", v) }
    mkDf(spark, rows, "name" -> StringType, "type" -> StringType, "version" -> IntegerType)
  }

  /** `delete_files`: positional + equality delete files of a snapshot
    * (content kind, path, equality columns, sequence number).
    */
  def deleteFilesTable(spark: SparkSession, path: String,
      version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.types._
    val rows =
      readPosDeletes(path, version).map { f =>
        org.apache.spark.sql.Row("POSITION_DELETES", f, null, null,
          sizeOf(path, f), null)
      } ++ readEqDeletes(path, version).map { e =>
        org.apache.spark.sql.Row("EQUALITY_DELETES", e.path, e.cols.mkString(","), e.seq,
          sizeOf(path, e.path), null)
      } ++ readDeletes(path, version).map { p =>
        org.apache.spark.sql.Row("PREDICATE_DELETES", null, null, null, null, p)
      }
    mkDf(spark, rows, "content" -> StringType, "file_path" -> StringType,
      "equality_columns" -> StringType, "sequence_number" -> IntegerType,
      "file_size_in_bytes" -> LongType, "predicate" -> StringType)
  }

  private def sizeOf(path: String, rel: String): Any = {
    val p = Paths.get(path, rel)
    if (Files.exists(p)) Files.size(p) else null
  }

  /** `position_deletes`: the delete ROWS themselves (file_path, pos). */
  def positionDeletesTable(spark: SparkSession, path: String,
      version: Option[Int] = None): DataFrame = {
    val pos = readPosDeletes(path, version)
    if (pos.isEmpty)
      mkDf(spark, Nil, "file_path" -> org.apache.spark.sql.types.StringType,
        "pos" -> org.apache.spark.sql.types.LongType)
    else spark.read.parquet(pos.map(f => s"$path/$f"): _*)
  }

  /** `metadata_log_entries`: every retained metadata file (manifest
    * versions + refs generations) with its commit time.
    */
  def metadataLogTable(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val manifests = retainedVersions(path).map { v =>
      val p = manifestPath(path, v)
      org.apache.spark.sql.Row(
        new java.sql.Timestamp(Files.getLastModifiedTime(p).toMillis),
        p.getFileName.toString, "manifest", v)
    }
    val gen = refsState(path).gen
    val refs = (1 to gen).filter(k => Files.exists(refsVPath(path, k))).map { k =>
      org.apache.spark.sql.Row(
        new java.sql.Timestamp(Files.getLastModifiedTime(refsVPath(path, k)).toMillis),
        refsVPath(path, k).getFileName.toString, "refs", k)
    }
    mkDf(spark, manifests ++ refs, "timestamp" -> TimestampType, "file" -> StringType,
      "kind" -> StringType, "version" -> IntegerType)
  }

  /** `all_entries` / `all_files`: per (retained version, file) rows — the
    * reference's ALL_* tables scan every snapshot, not just the head.
    */
  def allEntriesTable(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    // ONE directory listing: retainedVersions is a Files.list, and per-
    // version re-listing would make this O(versions²) directory scans
    val retained = retainedVersions(path)
    val retainedSet = retained.toSet
    val rows = retained.flatMap { v =>
      // stamped-parent diff (snapshotsTable posture): the largest retained
      // LOWER version can be another ref's manifest when refs interleave
      val parentV = readProps(path, Some(v))
        .get("graft.parentVersion").map(_.toInt).getOrElse(v - 1)
      val parent = Some(parentV).filter(p => p >= 1 && retainedSet(p))
        .map(pv => readManifest(path, Some(pv)).map(_.path).toSet)
        .getOrElse(Set.empty[String])
      readManifest(path, Some(v)).map { f =>
        org.apache.spark.sql.Row(v, if (parent(f.path)) "existing" else "added",
          f.path, f.rows, f.sizeBytes)
      }
    }
    mkDf(spark, rows, "version" -> IntegerType, "status" -> StringType,
      "file_path" -> StringType, "record_count" -> LongType,
      "file_size_in_bytes" -> LongType)
  }

  def allFilesTable(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val rows = retainedVersions(path).flatMap { v =>
      readManifest(path, Some(v)).map(f =>
        org.apache.spark.sql.Row(v, f.path, f.rows, f.sizeBytes, f.addedV))
    }
    mkDf(spark, rows, "version" -> IntegerType, "file_path" -> StringType,
      "record_count" -> LongType, "file_size_in_bytes" -> LongType,
      "added_version" -> IntegerType)
  }

  def allDeleteFilesTable(spark: SparkSession, path: String): DataFrame = {
    val frames = retainedVersions(path).map(v =>
      deleteFilesTable(spark, path, Some(v))
        .withColumn("version", org.apache.spark.sql.functions.lit(v)))
    frames.reduceOption(_ unionAll _).getOrElse(
      deleteFilesTable(spark, path)
        .withColumn("version", org.apache.spark.sql.functions.lit(0)).limit(0))
  }

  /** Unified metadata-table accessor — the reference's MetadataTableType
    * surface (`core/src/main/java/org/apache/iceberg/MetadataTableType.java:24-38`).
    *
    * `version` snapshot-scopes the SNAPSHOT-SHAPED tables (`SELECT *
    * FROM cat.db.t.files VERSION AS OF n` — the reference time-travels
    * metadata tables like data tables). Tables that are whole-history by
    * construction (history, snapshots, manifests, refs, the all_ family,
    * changes) reject a version scope instead of silently ignoring it.
    */
  def metadataTable(spark: SparkSession, path: String, name: String,
      version: Option[Int] = None): DataFrame = {
    version.foreach { v =>
      val snapshotScoped = Set("files", "data_files", "partitions",
        "partition_stats", "entries", "delete_files", "position_deletes")
      val wholeHistory = Set("history", "snapshots", "manifests", "all_manifests",
        "refs", "metadata_log_entries", "all_entries", "all_files",
        "all_data_files", "all_delete_files", "changes")
      // an UNKNOWN name falls through to the unknown-metadata-table error
      // below (which the catalog converts to NoSuchTableException) — the
      // scope check applies only to names that are real metadata tables
      require(snapshotScoped(name) || !wholeHistory(name),
        s"VERSION AS OF does not apply to the whole-history metadata table '$name'")
      if (snapshotScoped(name))
        require(Files.exists(manifestPath(path, v)), s"no such snapshot version: $v")
    }
    name match {
    case "files" | "data_files" => GeoTable.filesTable(spark, path, version)
    case "history" => history(spark, path)
    case "snapshots" => snapshotsTable(spark, path)
    case "manifests" | "all_manifests" => manifestsTable(spark, path)
    case "partitions" => partitionsTable(spark, path, version)
    case "partition_stats" => partitionStatsTable(spark, path, version)
    case "entries" => entriesTable(spark, path, version)
    case "refs" => refsTable(spark, path)
    case "delete_files" => deleteFilesTable(spark, path, version)
    case "position_deletes" => positionDeletesTable(spark, path, version)
    case "metadata_log_entries" => metadataLogTable(spark, path)
    case "all_entries" => allEntriesTable(spark, path)
    case "all_files" | "all_data_files" => allFilesTable(spark, path)
    case "all_delete_files" => allDeleteFilesTable(spark, path)
    // full-history changelog (the reference's `t.changes` table); a
    // bounded window goes through format("graft").option("metadata",
    // "changes") with start-version / end-version read options
    case "changes" => changelog(spark, path, 0, mainVersion(path))
    case other => throw new IllegalArgumentException(
      s"unknown metadata table: $other (files|data_files|history|snapshots|manifests|" +
        "all_manifests|partitions|partition_stats|entries|refs|delete_files|" +
        "position_deletes|metadata_log_entries|all_entries|all_files|" +
        "all_data_files|all_delete_files|changes)")
    }
  }

  /** Data files ENTERING the table in `(fromV, toV]` along the same
    * ancestry chain — the reference's incremental append scan
    * (`core/src/main/java/org/apache/iceberg/BaseIncrementalAppendScan.java`
    * in /root/reference): each APPEND-shaped snapshot contributes the
    * files it added; snapshots that removed files (CoW rewrites,
    * compactions, row-level deletes) are skipped, because their
    * additions rematerialize already-consumed rows. Walks the STAMPED
    * parent chain, so interleaved branch commits never contribute.
    */
  // Per-edge append-delta memo for incremental scans: manifests are
  // immutable and version numbers never reused, so the delta of a
  // (parent → child) ancestry edge — files added, whether anything was
  // removed — is computed from the two manifests ONCE ever and replayed
  // from the memo after. A long-chain incremental scan is then
  // O(versions in range) after first touch, not O(versions × files) of
  // path-set building on every planning. Keyed with the child manifest's
  // (size, mtime) like the parse memo, so out-of-band edits invalidate.
  private object DeltaCache {
    private val MaxEntries = 4096
    private val map =
      new java.util.LinkedHashMap[(String, Int, Int, Long, Long), (Seq[FileStats], Boolean)](
        64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Int, Int, Long, Long), (Seq[FileStats], Boolean)]) =
          size() > MaxEntries
      }
    def get(k: (String, Int, Int, Long, Long)): (Seq[FileStats], Boolean) =
      synchronized { map.get(k) }
    def put(k: (String, Int, Int, Long, Long), v: (Seq[FileStats], Boolean)): Unit =
      synchronized { map.put(k, v); () }
  }

  /** (files `v` added vs `prevV`, did `v` remove anything) — memoized. */
  private def appendDelta(path: String, prevV: Int, v: Int): (Seq[FileStats], Boolean) = {
    val mp = manifestPath(path, v)
    val key = try {
      (path, prevV, v, Files.size(mp), Files.getLastModifiedTime(mp).toMillis)
    } catch { case _: java.io.IOException => (path, prevV, v, -1L, -1L) }
    val cached = DeltaCache.get(key)
    if (cached != null) return cached
    val prev = readManifest(path, Some(prevV)).map(_.path).toSet
    val m = readManifest(path, Some(v))
    val removedAny = {
      var missing = false
      val names = m.map(_.path).toSet
      val it = prev.iterator
      while (!missing && it.hasNext) missing = !names(it.next())
      missing
    }
    val out = (m.filterNot(f => prev(f.path)), removedAny)
    DeltaCache.put(key, out)
    out
  }

  def enteredBetween(path: String, fromV: Int, toV: Int): Seq[FileStats] = {
    require(fromV <= toV, s"start version $fromV is after end version $toV")
    if (fromV == toV) return Nil
    val anc = ancestry(path, toV)
    require(anc.contains(fromV),
      s"version $fromV is not an ancestor of version $toV (expired, or another ref's history)")
    val out = Seq.newBuilder[FileStats]
    val range = anc.dropWhile(_ != fromV)
    range.lazyZip(range.tail).foreach { (prevV, v) =>
      val (added, removedAny) = appendDelta(path, prevV, v)
      if (!removedAny) out ++= added
    }
    out.result()
  }

  /** Rows appended between two snapshots — [[enteredBetween]]'s files
    * read directly, with the target snapshot's deletes applied. The
    * cheap append-only incremental-consumption path (no `exceptAll`);
    * copy-on-write rewrites surface through [[changes]] instead (the
    * reference's incremental append scan, `BaseIncrementalAppendScan`).
    * The DSv2 option surface (`start-version`/`start-snapshot-id` on
    * `format("graft")` and catalog reads) serves the same file set
    * through the full pushdown/pruning scan machinery.
    */
  def incrementalRead(spark: SparkSession, path: String,
      fromVersion: Int, toVersion: Int): DataFrame = {
    val entered = enteredBetween(path, fromVersion, toVersion)
    if (entered.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        schema(spark, path, Some(toVersion)))
    else GeoTable.applyDeletes(
      applyEqDeletes(spark, path,
        applyPosDeletes(spark, path,
          readFilesDecoded(spark, path, entered.map(_.path)),
          readPosDeletes(path, Some(toVersion))),
        readEqDeletes(path, Some(toVersion)), entered),
      readDeletes(path, Some(toVersion)))
  }

  /** Binpack compaction — the reference's default `rewrite_data_files`
    * strategy: merge only files smaller than `smallBytes` into `numFiles`
    * outputs, leaving well-sized files byte-identical. Pending MoR deletes
    * are materialized into the rewritten rows (re-applying the carried
    * predicates to them later is idempotent; stale positional entries
    * reference files that left the manifest).
    */
  def binPack(spark: SparkSession, path: String, smallBytes: Long,
      numFiles: Int = 1): Int = commit(path) { h =>
    val (small, big) = h.m.files.partition(_.sizeBytes < smallBytes)
    if (small.size <= 1) None
    else {
      val rows = GeoTable.applyDeletes(readFilesForRewrite(spark, path, small, h.m), h.m.deletes)
      val (added, _) = writeBack(rows.repartition(numFiles), path)
      // all files rewritten → deletes fully materialized; carrying the
      // vacuous state would block Iceberg export (see rewriteDataFiles)
      replaced(h, big, statsFor(spark, path, added), full = big.isEmpty)
    }
  }

  /** `h` after a rows-preserving rewrite: `kept` plus `added` files, the
    * delete state cleared when the rewrite was `full` (it materialized
    * every pending delete), stamped as a `replace`.
    */
  private def replaced(h: Head, kept: Seq[FileStats], added: Seq[FileStats],
      full: Boolean): Option[Head] = {
    val m = if (full) cleared(h.m, kept ++ added) else h.m.copy(files = kept ++ added)
    Some(h.copy(m = m, operation = Some("replace")))
  }

  /** Hilbert sort compaction — the reference's `rewrite_data_files` with a
    * sort order containing the hilbert term (`IcebergSortCompactionBenchmark`
    * / SURVEY.md §2.7 maintenance actions): rewrites the current snapshot
    * into `numFiles` spatially-clustered files and publishes it as a new
    * snapshot (old files stay for time travel until expiry).
    */
  def rewriteCompact(spark: SparkSession, path: String, geomCol: String,
      numFiles: Int, res: Int = GeoTable.DefaultResolution,
      bounds: (Double, Double, Double, Double) = GeoTable.WorldBounds): Int = commit(path) { head =>
    val current = read(spark, path, Some(head.v))
    val h = GeoTable.hilbertCol(geomCol, res, bounds)
    val clustered = current.withColumn("__hilbert", h)
      .repartitionByRange(numFiles, org.apache.spark.sql.functions.col("__hilbert"))
      .sortWithinPartitions(org.apache.spark.sql.functions.col("__hilbert"))
      .drop("__hilbert")
    val (added, _) = writeBack(clustered, path)
    // read() applied pending MoR deletes → the rewrite materializes them
    replaced(head, Nil, statsFor(spark, path, added), full = true)
  }

  /** Iceberg's default target output size for compaction
    * (`write.target-file-size-bytes`, 512 MB) — overridable per call or
    * via the table property of the same name.
    */
  val DefaultTargetFileSize: Long = 512L << 20

  /** The reference's full `rewrite_data_files` surface
    * (`spark/v3.5/spark/src/main/java/org/apache/iceberg/spark/procedures/RewriteDataFilesProcedure.java`
    * in /root/reference; strategies `core/src/main/java/org/apache/iceberg/actions/
    * BinPackStrategy.java:44-56` 0.75×/1.8× thresholds, `SortStrategy.java`):
    *
    *  - `binpack` (default) normalizes the file-size distribution — files
    *    below 0.75× or above 1.8× of the target size are rewritten into
    *    target-sized outputs; well-sized files stay byte-identical.
    *  - `sort` rewrites every selected file range-clustered on `sortOrder`,
    *    so post-rewrite per-file min/max stats prune on those columns.
    *  - `where` scopes the candidate set through the same inclusive
    *    file-stats check DML uses ([[FileStats.mightMatch]]) — compacting
    *    one partition of a 100 TB table reads only that partition's files.
    *
    * Pending MoR deletes are materialized into the rewritten rows (same
    * contract as [[binPack]]); untouched files keep their delete state.
    * Returns (new version, number of files rewritten) — (head, 0) when
    * nothing qualifies, with no commit.
    */
  def rewriteDataFiles(spark: SparkSession, path: String,
      strategy: String = "binpack",
      sortOrder: Seq[(String, Boolean)] = Nil,
      where: Option[Column] = None,
      targetFileSize: Option[Long] = None,
      zorderCols: Seq[String] = Nil): (Int, Int) = {
    require(Set("binpack", "sort")(strategy), s"unknown rewrite strategy: $strategy")
    require(strategy != "sort" || sortOrder.nonEmpty || zorderCols.nonEmpty,
      "sort strategy requires sort_order")
    require(zorderCols.isEmpty || sortOrder.isEmpty,
      "zorder(...) and a column sort order are mutually exclusive")
    var rewrote = 0
    val v = commit(path) { h =>
      val head = h.v
      require(head > 0, s"no snapshots to rewrite at $path")
      val current = h.m.files
      val candidates = where match {
        case Some(c) => splitByCond(read(spark, path, Some(head)), c, current, path)._1
        case None => current
      }
      val target = math.max(1L, targetFileSize
        .orElse(h.props.get("write.target-file-size-bytes").map(_.toLong))
        .getOrElse(DefaultTargetFileSize))
      val picked = strategy match {
        case "sort" => candidates
        case _ =>
          val lo = target * 3 / 4
          val hi = target * 9 / 5
          val (over, under) = candidates.filter(f => f.sizeBytes < lo || f.sizeBytes > hi)
            .partition(_.sizeBytes > hi)
          // a lone small file with no sibling to merge into is already
          // optimal — UNLESS MoR delete state is pending: materializing it
          // is this procedure's other contract (and the Iceberg export's
          // documented unblock), so the rewrite must still happen
          val pendingMor = h.m.deletes.nonEmpty || h.m.posDeletes.nonEmpty || h.m.eqDeletes.nonEmpty
          val sized =
            over ++ (if (under.size >= 2 || (under.nonEmpty && pendingMor)) under else Nil)
          // a fully in-band candidate set (every file inside [0.75x, 1.8x])
          // can still carry pending MoR state; size selection alone would
          // return (head, 0) and the delete state would never materialize.
          // Rewrite exactly the files the state scopes — not all candidates:
          // on a well-compacted 100 TB table with one partition's deletes,
          // only that partition's files move
          if (sized.nonEmpty || !pendingMor) sized
          else morScopedFiles(spark, path, h.m, candidates)
      }
      rewrote = picked.size
      if (picked.isEmpty) None
      else {
        val pickedPaths = picked.map(_.path).toSet
        val untouched = current.filterNot(f => pickedPaths(f.path))
        val rows = GeoTable.applyDeletes(
          readFilesForRewrite(spark, path, picked, h.m), h.m.deletes)
        val n = math.max(1, math.ceil(picked.map(_.sizeBytes).sum.toDouble / target).toInt)
        // zorder(c1,…,cN): range-distribute + sort by ONE interleaved key —
        // the reference's SparkZOrderDataRewriter (byte-interleave UDF +
        // range distribution); rows close on every dimension cluster, so
        // min/max on EACH column tightens per file
        val sortCols =
          if (zorderCols.nonEmpty) {
            graft.functions.GeoSql.install(spark)
            Seq(graft.functions.GeoSql.zorder_key(
              zorderCols.map(org.apache.spark.sql.functions.col): _*).asc)
          } else sortOrder.map { case (c, asc) =>
            val col = org.apache.spark.sql.functions.col(c); if (asc) col.asc else col.desc
          }
        // partitioned tables shape by the partition derivation, or a random
        // repartition would scatter each dir's rows over all n tasks and the
        // per-(task, dir) file writer would emit n small files per dir —
        // the opposite of compaction
        val partKeys = h.m.specs.map(t => Transforms.writeExpr(t, rows))
        val shaped =
          if (strategy == "sort")
            rows.repartitionByRange(n, (partKeys ++ sortCols): _*)
              .sortWithinPartitions((partKeys ++ sortCols): _*)
          else if (partKeys.nonEmpty) rows.repartition(n, partKeys: _*)
          else rows.repartition(n)
        val (added, _) = writeBack(shaped, path)
        // a FULL rewrite materializes every pending delete: the rewritten
        // rows already exclude them, and carrying the (now-vacuous) delete
        // state forward would block Iceberg export forever — the export's
        // "run rewrite_data_files, then export" recipe depends on this.
        // The same holds for a PARTIAL rewrite whose untouched files are
        // outside everything the state scopes (the MoR-scoped pick above
        // produces exactly that shape): predicate deletes can't match the
        // survivors' stats, positional targets are gone from the manifest,
        // and equality sequences don't reach the survivors — carrying the
        // state would be vacuous for reads yet still block export. With any
        // untouched file still in scope the state must carry.
        replaced(h, untouched, liveStatsFor(spark, path, added),
          full = untouched.isEmpty || morScopedFiles(spark, path, h.m, untouched).isEmpty)
      }
    }
    (v, rewrote)
  }

  /** Roll the table back to an earlier snapshot by republishing its
    * manifest as the new current version (the reference's
    * `rollback_to_snapshot` procedure) — data files are untouched.
    */
  def rollback(spark: SparkSession, path: String, toVersion: Int): Int = commit(path) { h =>
    val to = manifest(path, Some(toVersion))
    h.edit(_.copy(files = to.files, deletes = to.deletes, posDeletes = to.posDeletes,
      eqDeletes = to.eqDeletes, schema = to.schema.orElse(h.m.schema)))
  }

  /** `set_current_snapshot`: same mechanics as rollback but allowed to move
    * forward as well (any still-retained version).
    */
  def setCurrentSnapshot(spark: SparkSession, path: String, toVersion: Int): Int =
    rollback(spark, path, toVersion)

  /** Newest version whose manifest was committed at or before `tsMillis`
    * (commit time = manifest file mtime).
    */
  def versionAsOfTimestamp(path: String, tsMillis: Long): Int = {
    // resolve within MAIN's ancestry only: version numbers and mtimes
    // interleave across refs, so the newest manifest at-or-before a
    // timestamp may be an unpublished branch WAP commit — serving it to a
    // main-ref reader would leak unaudited data
    val vs = ancestry(path, mainVersion(path))
    val ok = vs.filter(v => commitTimeMillis(path, v) <= tsMillis)
    require(ok.nonEmpty, s"no snapshot committed at or before $tsMillis")
    ok.last
  }

  /** The reference's `rollback_to_timestamp` procedure. */
  def rollbackToTimestamp(spark: SparkSession, path: String, tsMillis: Long): Int =
    rollback(spark, path, versionAsOfTimestamp(path, tsMillis))

  /** Cherry-pick an APPEND snapshot onto the current one: the files `v`
    * added relative to its parent join the current manifest (the
    * reference's `cherrypick_snapshot`, restricted like Iceberg to
    * append-shaped snapshots — a snapshot that removed files is rejected).
    */
  def cherrypick(spark: SparkSession, path: String, v: Int): Int = {
    require(v > 1, "cannot cherry-pick the initial snapshot")
    // "what v added" is relative to v's STAMPED parent — v-1 may belong
    // to another ref's interleaved history (legacy numeric fallback)
    val parentV = readProps(path, Some(v))
      .get("graft.parentVersion").map(_.toInt).getOrElse(v - 1)
    val parent =
      if (parentV >= 1 && Files.exists(manifestPath(path, parentV)))
        readManifest(path, Some(parentV)).map(_.path).toSet
      else Set.empty[String]
    val snap = readManifest(path, Some(v))
    val removed = parent -- snap.map(_.path).toSet
    require(removed.isEmpty,
      s"cherrypick supports append snapshots only; v$v removed ${removed.size} file(s)")
    val added = snap.filterNot(f => parent(f.path))
    // MoR DML snapshots add DELETE state, not data files — transfer v's
    // delta of predicate / positional / equality delete entries relative
    // to its stamped parent, or a WAP-staged MoR DELETE/UPDATE would
    // silently vanish on publish whenever main had advanced (rows the
    // audited branch deleted would resurrect). Entries naming files main
    // doesn't carry are harmless (never read); eq-delete `seq` scoping is
    // consistent because versions draw from one global counter.
    val hasParent = parentV >= 1 && Files.exists(manifestPath(path, parentV))
    def delta[T](at: Int => Seq[T]): Seq[T] = {
      val before = if (hasParent) at(parentV).toSet else Set.empty[T]
      at(v).filterNot(before)
    }
    val addedDels = delta(pv => readDeletes(path, Some(pv)))
    val addedPos = delta(pv => readPosDeletes(path, Some(pv)))
    val addedEq = delta(pv => readEqDeletes(path, Some(pv)))
    commit(path)(_.edit { m =>
      val currentNames = m.files.map(_.path).toSet
      m.copy(files = m.files ++ added.filterNot(f => currentNames(f.path)),
        deletes = m.deletes ++ addedDels.filterNot(m.deletes.toSet),
        posDeletes = m.posDeletes ++ addedPos.filterNot(m.posDeletes.toSet),
        eqDeletes = m.eqDeletes ++ addedEq.filterNot(m.eqDeletes.toSet))
    })
  }

  /** Register data files present in the table directory but referenced by
    * no snapshot (the reference's `add_files` import procedure for
    * path-based tables). Returns (newVersion, filesAdded).
    */
  def addFiles(spark: SparkSession, path: String): (Int, Int) = {
    val known = readManifest(path).map(_.path).toSet
    val unregistered = (listDataFiles(spark, path) -- known).toSeq.sorted
    if (unregistered.isEmpty) (mainVersion(path), 0)
    else (commit(path)(_.edit(m => m.copy(files = m.files ++ statsFor(spark, path, unregistered)))),
      unregistered.size)
  }

  /** Drop all but the newest `keep` snapshots and remove data files no
    * surviving snapshot references (the reference's expire_snapshots
    * procedure). Returns the number of data files deleted.
    */
  def expireSnapshots(spark: SparkSession, path: String, keep: Int = 1,
      olderThanMillis: Option[Long] = None): Int = {
    // a non-positive keep would empty the keep set and delete the table's
    // whole history — always an argument error, never an intent
    require(keep >= 1, s"expire_snapshots: keep must be >= 1, got $keep")
    // per-ref retention FIRST (CREATE BRANCH/TAG … RETAIN): an aged-out
    // ref is dropped — with its policy properties — before the keep set
    // is computed, so its targets stop pinning snapshots
    locally {
      val (bs0, ts0) = readRefs(path)
      val props0 = if (currentVersion(path) > 0) readProps(path) else Map.empty[String, String]
      val now = System.currentTimeMillis()
      val expired = ((bs0.keySet - "main") ++ ts0.keySet).filter { r =>
        props0.get(s"ref.$r.retain-ms").map(_.toLong).exists(ms =>
          props0.get(s"ref.$r.created-at-ms").map(_.toLong).exists(_ + ms <= now))
      }
      if (expired.nonEmpty) {
        updateRefs(path)(rs => (rs.branches -- expired, rs.tags -- expired))
        updateProperties(path, Map.empty,
          unset = expired.toSeq.flatMap(r => Seq(s"ref.$r.retain-ms",
            s"ref.$r.min-snapshots-keep", s"ref.$r.created-at-ms",
            // must go too, or a later branch recreated under the same name
            // silently inherits the stale age window in the keep set
            s"ref.$r.max-snapshot-age-ms")))
      }
    }
    val cur = currentVersion(path)
    // keep the newest `keep` snapshots of MAIN'S ANCESTRY (numeric recency
    // can be another ref's interleaved commits, expiring main's own recent
    // history) plus anything committed at/after `older_than` (the
    // reference's timestamp form — `keep` then plays retain_last) plus
    // anything a branch or tag targets
    val (bs, ts) = readRefs(path)
    val mainAnc = ancestry(path, mainVersion(path))
    val byAge = olderThanMillis
      .map(cut => mainAnc.filter(v => commitTimeMillis(path, v) >= cut))
      .getOrElse(Nil)
    val mainKeep = mainAnc.takeRight(keep) ++ byAge
    // branches with a declared snapshot-retention window keep that many
    // ancestry snapshots (and/or everything younger than the declared
    // max snapshot age), not just their head
    val props = if (cur > 0) readProps(path) else Map.empty[String, String]
    val nowMs = System.currentTimeMillis()
    val branchAnc = bs.filterNot(_._1 == "main").flatMap { case (b, v) =>
      val k = props.get(s"ref.$b.min-snapshots-keep").map(_.toInt)
      val age = props.get(s"ref.$b.max-snapshot-age-ms").map(_.toLong)
      if (k.forall(_ <= 1) && age.isEmpty) Nil
      else {
        val chain = ancestry(path, v)
        chain.takeRight(k.getOrElse(1)) ++
          age.map(ms => chain.filter(x => commitTimeMillis(path, x) >= nowMs - ms))
            .getOrElse(Nil)
      }
    }
    val keepVersions = (mainKeep.toSet ++ bs.values ++ ts.values ++ branchAnc)
      .toSeq.sorted.filter(v => Files.exists(manifestPath(path, v)))
    val referenced = keepVersions.flatMap(v => readManifest(path, Some(v)).map(_.path)).toSet
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // data-file deletion is a REACHABILITY DIFF (files some EXPIRED
    // manifest references minus files any kept one does), never a
    // directory listing: a concurrent writer's moved-but-uncommitted
    // files are referenced by no manifest yet, and a listing-based sweep
    // would delete them out from under the in-flight commit (the race
    // removeOrphanFiles guards with its age cutoff — failed-commit debris
    // stays ITS job, with that guard). Expired manifests are read for
    // their references BEFORE the manifest files are deleted.
    val expiredVersions = (1 to cur).filterNot(keepVersions.contains)
      .filter(v => Files.exists(manifestPath(path, v)))
    val expiredRefs = expiredVersions.flatMap(v => readManifest(path, Some(v)).map(_.path)).toSet
    val expiredDel = expiredVersions.flatMap(v =>
      readPosDeletes(path, Some(v)) ++ readEqDeletes(path, Some(v)).map(_.path)).toSet
    expiredVersions.foreach(v => Files.deleteIfExists(manifestPath(path, v)))
    val orphans = expiredRefs
      .filterNot(f => referenced(f) || isReferencedLenient(f, referenced))
    orphans.foreach { orphan =>
      fs.delete(new Path(new Path(path), orphan), false)
    }
    // delete files (positional + equality) referenced only by expired snapshots
    val keptPos = keepVersions.flatMap(v => readPosDeletes(path, Some(v))).toSet ++
      keepVersions.flatMap(v => readEqDeletes(path, Some(v)).map(_.path))
    (expiredDel -- keptPos).foreach { rel =>
      Files.deleteIfExists(Paths.get(path, rel))
    }
    // superseded refs generations — keep the same reader window casRefs
    // preserves: a reader that LISTED generation K before our own commits
    // bumped past it still reads K; deleting everything but the newest
    // would crash that reader on a vanished refs file
    val gen = refsState(path).gen
    (1 until gen - 8).foreach(k => Files.deleteIfExists(refsVPath(path, k)))
    // statistics sidecars (NDV sketches, partition stats): a file stamped
    // at version N serves every kept version K >= N with no newer file in
    // between — keep exactly the files some kept version still reads
    // (the reference's RemoveSnapshots cleans statistics files the same
    // way), delete the rest
    def reachable(stamps: Seq[Int]): Set[Int] = {
      val sorted = stamps.sorted
      keepVersions.flatMap(k => sorted.takeWhile(_ <= k).lastOption).toSet ++
        sorted.filter(n => keepVersions.forall(_ < n)) // future-of-all-kept: defensive keep
    }
    locally {
      val dir = Paths.get(path, "_graft_stats")
      if (Files.isDirectory(dir)) {
        // the Puffin twin shares its sketch version's lifetime
        val SketchRe = """ndv_(?:sketch_v(\d+)\.json|puffin_v(\d+)\.puffin)""".r
        val stamped = listDir(dir)(_.toSeq).flatMap(p => p.getFileName.toString match {
          case SketchRe(j, pf) => Some(Option(j).getOrElse(pf).toInt -> p)
          case _ => None
        })
        val keep = reachable(stamped.map(_._1))
        stamped.filterNot(s => keep(s._1)).foreach(s => Files.deleteIfExists(s._2))
      }
    }
    locally {
      val dir = Paths.get(path, "_graft_partition_stats")
      if (Files.isDirectory(dir)) {
        val VRe = """v(\d+)""".r
        val stamped = listDir(dir)(_.toSeq).flatMap(p => p.getFileName.toString match {
          case VRe(n) => Some(n.toInt -> p)
          case _ => None
        })
        val keep = reachable(stamped.map(_._1))
        stamped.filterNot(s => keep(s._1)).foreach { s =>
          // stats files are parquet DIRECTORIES
          fs.delete(new Path(s._2.toUri), true)
        }
      }
    }
    orphans.size
  }

  /** Rewrite the manifest of the current snapshot: re-collect footer
    * stats for every live file and republish (the reference's
    * `rewrite_manifests` — metadata maintenance, zero data movement).
    * `addedV` stamps are preserved so equality-delete sequence scoping is
    * unaffected.
    */
  def rewriteManifests(spark: SparkSession, path: String): Int = commit(path) { h =>
    require(h.v > 0, s"no snapshots at $path")
    val byPath = h.m.files.map(f => f.path -> f).toMap
    h.edit(_.copy(files = statsFor(spark, path, h.m.files.map(_.path))
      .map(s => s.copy(addedV = byPath(s.path).addedV))))
  }

  /** Version chain at or below `v` (the reference's `ancestors_of`). */
  def ancestorsOf(path: String, v: Int): Seq[Int] = ancestry(path, v).reverse

  /** Adopt a plain parquet directory as a graft table (the reference's
    * `migrate` / `register_table` import path): collect footer stats for
    * every data file and commit snapshot v1. Returns the version.
    */
  def registerTable(spark: SparkSession, path: String): Int = {
    require(currentVersion(path) == 0, s"already a graft table: $path")
    GeoTable.writeManifest(spark, path)
    mainVersion(path)
  }

  /** Zero-copy clone (the reference's `snapshot` procedure): hard-link the
    * source's current data + delete files into `target` and republish its
    * metadata there. The clone evolves independently; data files are
    * shared until either side rewrites them (files are immutable, so
    * sharing is safe).
    */
  def snapshotClone(spark: SparkSession, source: String, target: String): Int = {
    require(currentVersion(target) == 0, s"target exists: $target")
    Files.createDirectories(Paths.get(target))
    val head = mainVersion(source)
    val srcHead = manifest(source, Some(head))
    val m = srcHead.files
    val toLink = m.map(_.path) ++ srcHead.posDeletes ++ srcHead.eqDeletes.map(_.path)
    toLink.foreach { rel =>
      val dst = Paths.get(target, rel)
      Files.createDirectories(dst.getParent)
      if (!Files.exists(dst)) Files.createLink(dst, Paths.get(source, rel))
    }
    // table-level metadata carries over (schema mapping, geometry props)
    Seq(TableSchema.SchemaName, GeometryFields.PropsName).foreach { n =>
      val src = Paths.get(source, n)
      if (Files.exists(src)) Files.copy(src, Paths.get(target, n))
    }
    // pin the clone's first version AT the source head: entries keep
    // their source addedV stamps and eq-deletes their seq stamps, so the
    // clone's version counter must start past all of them — a clone
    // restarting at v1 would let cloned seq=8 deletes hide fresh v2
    // appends, and fresh deletes (seq=2) exempt cloned addedV=5 files. The
    // partition spec comes along too: the clone has no head of its own to
    // carry it from, and a dropped identity spec would read its column as
    // nulls
    commit(target, minVersion = head)(h =>
      Some(h.copy(m = srcHead, props = readProps(source, Some(head)))))
  }

  /** Compact positional delete files: merge all pending entries, drop
    * those naming files no longer in the manifest, and republish as one
    * file (the reference's `rewrite_position_delete_files`). Returns the
    * new version (or the head if there was nothing to compact).
    */
  def rewritePositionDeleteFiles(spark: SparkSession, path: String): Int = commit(path) { h =>
    val pos = h.m.posDeletes
    if (pos.size <= 1) None
    else {
      val live = h.m.files.map(_.path)
      // absolute entries (Iceberg-imported): exact match on the
      // normalized path — an endsWith against "/" + "/abs/…" would drop
      // every live entry and resurface its deleted rows after compaction
      val keep =
        if (live.isEmpty) lit(false)
        else live.map { l =>
          if (l.startsWith("/")) normFile(col("file_path")) === l
          else col("file_path").endsWith("/" + l)
        }.reduce(_ || _)
      val rows = spark.read.parquet(pos.map(f => s"$path/$f"): _*)
        .filter(keep).dropDuplicates()
      val (name, _) = writeDeleteFile(rows, path, "posdel")
      h.edit(_.copy(posDeletes = Seq(name)))
    }
  }

  /** Delete data files referenced by NO retained snapshot (the reference's
    * `remove_orphan_files`): files left behind by failed writes. Returns
    * the number deleted.
    */
  /** The reference's 3-day default for `remove_orphan_files`'s age guard
    * (`DeleteOrphanFilesSparkAction`): files younger than this are NEVER
    * deleted, because a concurrent writer moves its staged files into the
    * table directory BEFORE its manifest publishes — in that window the
    * files are unreferenced but about to be committed. Deleting them would
    * let the writer publish a manifest naming vanished files.
    */
  val DefaultOrphanAgeMillis: Long = 3L * 24 * 60 * 60 * 1000

  /** Delete data files no retained manifest references, skipping files
    * modified after `olderThanMillis` (see [[DefaultOrphanAgeMillis]] for
    * why the guard exists; pass a future timestamp in tests to disable).
    */
  def removeOrphanFiles(spark: SparkSession, path: String,
      olderThanMillis: Option[Long] = None): Int = {
    val cutoff = olderThanMillis.getOrElse(System.currentTimeMillis() - DefaultOrphanAgeMillis)
    val versions = (1 to currentVersion(path)).filter(v => Files.exists(manifestPath(path, v)))
    val referenced = versions.flatMap(v => readManifest(path, Some(v)).map(_.path)).toSet
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphans = listDataFiles(spark, path)
      .filterNot(f => referenced(f) || isReferencedLenient(f, referenced))
      .filter { f =>
        val st = fs.getFileStatus(new Path(new Path(path), f))
        st.getModificationTime < cutoff
      }
    orphans.foreach(o => fs.delete(new Path(new Path(path), o), false))
    orphans.size
  }

  /** Deletion-safety net for manifests written under a different escape
    * layering (the pre-round-6 URI-encoded relative paths): a listed file
    * counts as referenced if ITS decoded form matches a decoded manifest
    * entry. Over-matching only makes orphan deletion more conservative —
    * a live file is never deleted for an encoding mismatch.
    */
  private def isReferencedLenient(file: String, referenced: Set[String]): Boolean = {
    def decode(s: String): String =
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(s)
    val d = decode(file)
    // The listed name is usually already decoded (`x=a b/f.parquet`) while a
    // legacy manifest stores the encoded form (`x=a%20b/f.parquet`) — so the
    // decoded manifest entry must be compared against the listed name itself,
    // not only against its (identical) decoded form.
    referenced.exists { r =>
      val dr = decode(r)
      dr == file || dr == d
    }
  }
}
