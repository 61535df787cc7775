package graft.spatial

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.spatial.Snapshots.{CommitConflictException, OperationProp, currentVersion,
  listDir, manifest, manifestPath, readProps}

/** The table's one commit point — the reference's
  * `TableOperations.commit(base, metadata)`: read one immutable base, edit
  * a copy, and publish it with one compare-and-swap.
  *
  * Every snapshot commit is [[commit]]. Each attempt reads the refs state
  * once, resolves the ref's head, hands the body that head as a [[Head]],
  * writes the copy the body returns as the next version file and CASes the
  * refs pointer onto it. The refs CAS is the only commit point: a version
  * file is just name allocation, and a lost CAS deletes it and reruns the
  * attempt — body included — against the new state.
  *
  * What a commit keeps unless its body changes it:
  *  - data files, the three delete lists (predicate, positional, equality),
  *    schema and props carry from the ref's OWN head;
  *  - the partition spec and its history carry from MAIN's head. They are
  *    table-level: a branch commit keeps main's spec, and a concurrent spec
  *    evolution fails the CAS instead of being reverted.
  *
  * What every commit stamps: `graft.parentVersion` is the ref head (per-ref
  * ancestry — version numbers interleave across refs); the operation stamp
  * [[Snapshots.OperationProp]] is cleared unless the body restates it in
  * [[Head.operation]]; new file entries take the committed version as
  * `addedV` and new equality deletes take it as `seq` (entries already
  * stamped keep their stamp).
  *
  * Commits that clear state say so in their bodies: a full overwrite, a
  * replace (which also resets the spec and its history), a complete-mode
  * stream epoch, a full binPack or rewriteDataFiles and rewriteCompact drop
  * the delete lists with the rows they applied to;
  * rewritePositionDeleteFiles replaces the positional list; rollback takes
  * files, deletes and schema from the target version and props from the
  * current head; snapshotClone and Iceberg import write a whole head onto a
  * fresh table, above a version floor.
  *
  * Table creation ([[commitCreate]]) and branch/tag surgery
  * ([[updateRefs]]) go through the same CAS.
  */
private[graft] object TableOps {

  /** A ref head as a commit body sees it: version `v` (0 = no snapshot
    * yet), its manifest (spec and spec history from main's head) and its
    * props. A body returns an edited copy; `operation` restates the
    * snapshot's operation stamp.
    */
  final case class Head(v: Int, m: GeoTable.Manifest, props: Map[String, String],
      operation: Option[String] = None) {
    /** This head with its manifest edited by `f` — the usual body result. */
    def edit(f: GeoTable.Manifest => GeoTable.Manifest): Option[Head] = Some(copy(m = f(m)))
  }

  private val Empty = GeoTable.Manifest(Nil, Nil, Nil, Nil, Nil, Nil, None)

  /** Commit one snapshot onto `ref`: `body` gets the ref head and returns
    * the edited copy to commit, or None for no commit (the head version is
    * returned). Returns the committed version. `minVersion` floors the
    * version number (a clone's first version must sit above every stamp it
    * carries, or sequence-number scoping inverts).
    */
  def commit(path: String, ref: String = "main", minVersion: Int = 0)(
      body: Head => Option[Head]): Int =
    withCommitRetry {
      val rs = refsState(path)
      val v = refHead(rs, path, ref)
      val main = Snapshots.headManifest(path, rs).getOrElse(Empty)
      val base = (if (v > 0) manifest(path, Some(v)) else Empty)
        .copy(partitions = main.partitions, partitionHistory = main.partitionHistory)
      body(Head(v, base, if (v > 0) readProps(path, Some(v)) else Map.empty)) match {
        case None => v
        case Some(Head(_, m, props, operation)) =>
          val stamped = (props - OperationProp) + ("graft.parentVersion" -> v.toString) ++
            operation.map(OperationProp -> _)
          commitManifest(path, rs, ref, n =>
            GeoTable.manifestJson(m.files.map(_.withAddedV(n)), m.deletes, m.partitions,
              m.posDeletes, stamped, m.eqDeletes.map(_.withSeq(n)), m.schema,
              m.partitionHistory), minVersion)
      }
    }

  /** Writable head of a ref: main's head, or a branch head — never a tag.
    * Branch-scoped DML (`DELETE FROM cat.db.t.branch_x ...`) computes
    * against the branch head and commits onto the branch pointer only
    * (write-audit-publish; `fast_forward` promotes the delta).
    */
  private def refHead(rs: RefsState, path: String, ref: String): Int =
    if (ref == "main") rs.mainHead(path)
    else if (rs.tags.contains(ref))
      throw new IllegalArgumentException(s"cannot write to tag: $ref (tags are immutable)")
    else rs.branches.getOrElse(ref,
      throw new IllegalArgumentException(s"no such branch: $ref"))

  /** Creation commit: `mkBody(v)` is written as-is as the table's next
    * version. `failIfExists` re-checks INSIDE the retry that no main head
    * exists yet — two racing CREATE TABLEs both pass the catalog's
    * tableExists pre-check, and without this the loser's retry would
    * silently commit an empty v2 over the winner's table.
    */
  def commitCreate(path: String, mkBody: Int => String,
      failIfExists: Boolean = false): Int =
    withCommitRetry {
      val rs = refsState(path)
      if (failIfExists && rs.mainHead(path) > 0)
        throw new Snapshots.TableCreateConflictException(path)
      commitManifest(path, rs, "main", mkBody)
    }

  /** Apply a refs-only transition (branch/tag surgery) under the CAS. */
  def updateRefs(path: String)(f: RefsState => (Map[String, Int], Map[String, Int])): Unit =
    withCommitRetry {
      val rs = refsState(path)
      val (bs, ts) = f(rs)
      casRefs(path, rs.gen, bs, ts)
    }

  /** Retry an attempt on CommitConflictException; each attempt re-reads
    * the table state, so a retry commits on top of the concurrent winner.
    */
  private def withCommitRetry[T](op: => T): T = {
    var i = 0
    var last: CommitConflictException = null
    while (i < 5) {
      try return op
      catch { case e: CommitConflictException => last = e; i += 1 }
    }
    throw last
  }

  /** One attempt: allocate the next free version, write `mkBody(v)` as its
    * manifest, and CAS ref `ref` onto it (`rs.gen → rs.gen + 1`). ANY
    * commit that interleaved after `rs` was read — a version file landing,
    * a ref moving, in this process or another — fails the CAS instead of
    * silently resurrecting rewritten rows, dropping delete predicates, or
    * losing a concurrent append.
    */
  private[graft] def commitManifest(path: String, rs: RefsState, ref: String,
      mkBody: Int => String, minVersion: Int = 0): Int = {
    // legacy-main fallback must be read BEFORE our version file lands
    val legacyMain = rs.mainHead(path)
    // allocate the next free version number; a collision here is another
    // in-flight writer's allocation, not a conflict — bump and re-stamp
    var v = math.max(math.max(currentVersion(path), rs.branches.getOrElse(ref, 0)),
      minVersion - 1) + 1
    var placed = false
    while (!placed) {
      val body = mkBody(v).getBytes(StandardCharsets.UTF_8)
      try { atomicWriteManifest(path, v, body); placed = true }
      catch { case _: CommitConflictException => v += 1 }
    }
    // THE commit: CAS the refs pointer. Losing the CAS abandons the
    // allocated version file (deleted below) and retries from fresh state,
    // so committed version numbers may have gaps under contention — like
    // Iceberg snapshot ids, density is not a commit invariant. `main` is
    // pinned on first contact with a legacy refs-less table so a side
    // branch allocating a higher number cannot float main to the max.
    val pinned = if (rs.branches.contains("main")) rs.branches
      else rs.branches + ("main" -> (if (ref == "main") v else legacyMain))
    try casRefs(path, rs.gen, pinned + (ref -> v), rs.tags)
    catch {
      case e: CommitConflictException =>
        Files.deleteIfExists(manifestPath(path, v))
        throw e
    }
    v
  }

  /** Write a version file with create-if-absent semantics (atomic
    * hard-link publish — full content or nothing, never torn). Under the
    * refs-CAS protocol this is NAME ALLOCATION, not the commit point:
    * [[commitManifest]] treats a collision as "number taken, bump and
    * retry the write". Direct callers still get the conflict exception.
    */
  def atomicWriteManifest(path: String, v: Int, body: Array[Byte]): Unit = {
    val target = manifestPath(path, v)
    val tmp = Files.createTempFile(target.getParent, ".tmp_manifest_", ".json")
    try {
      Files.write(tmp, body)
      try Files.createLink(target, tmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new CommitConflictException(
            s"snapshot v$v at $path was committed concurrently; re-read and retry")
      }
    } finally Files.deleteIfExists(tmp)
  }

  // ---- the refs pointer: branches (movable) and tags (fixed) -------------
  // The refs pointer is VERSIONED and compare-and-swapped: state K lives in
  // `_graft_refs_v{K}.json`, and a transition writes `_graft_refs_v{K+1}
  // .json` with create-if-absent semantics (atomic hard-link publish). The
  // CAS is the SINGLE commit point of the table — a writer whose refs state
  // went stale anywhere between its state read and its CAS gets a
  // CommitConflictException, never a silent lost update. Because the CAS is
  // a filesystem primitive it also holds ACROSS processes (two driver JVMs
  // cannot both win the same transition), which a JVM lock cannot give.

  private def refsPath(path: String) = Paths.get(path, "_graft_refs.json") // legacy (read-only)
  private[spatial] def refsVPath(path: String, k: Int) = Paths.get(path, s"_graft_refs_v$k.json")

  /** Immutable view of the refs pointer: CAS generation `gen` plus the
    * branch/tag maps it held. Every commit validates against `gen`.
    */
  case class RefsState(gen: Int, branches: Map[String, Int], tags: Map[String, Int]) {
    /** Head of `main` under this state (legacy refs-less tables fall back
      * to the newest version file, which for them is always committed).
      */
    def mainHead(path: String): Int = branches.getOrElse("main", currentVersion(path))
  }

  private def parseRefs(txt: String): (Map[String, Int], Map[String, Int]) = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val j = JsonMethods.parse(txt)
    def m(field: String): Map[String, Int] = (j \ field) match {
      case JObject(kv) => kv.collect { case (k, JInt(v)) => k -> v.toInt }.toMap
      case _ => Map.empty
    }
    (m("branches"), m("tags"))
  }

  /** Current refs state: newest `_graft_refs_v{K}` file, falling back to a
    * legacy unversioned `_graft_refs.json` (gen 0 — the first CAS upgrades
    * it), then to empty for refs-less tables. Counted in
    * [[Snapshots.refsReads]].
    */
  def refsState(path: String): RefsState = {
    Snapshots.refsReads.incrementAndGet()
    val dir = Paths.get(path)
    var max = 0
    if (Files.isDirectory(dir)) {
      max = listDir(dir)(_.foldLeft(0) { (m, p) =>
        val n = p.getFileName.toString
        if (n.startsWith("_graft_refs_v") && n.endsWith(".json"))
          math.max(m, n.stripPrefix("_graft_refs_v").stripSuffix(".json").toInt)
        else m
      })
    }
    if (max > 0) {
      val (bs, ts) = parseRefs(new String(Files.readAllBytes(refsVPath(path, max)),
        StandardCharsets.UTF_8))
      RefsState(max, bs, ts)
    } else if (Files.exists(refsPath(path))) {
      val (bs, ts) = parseRefs(new String(Files.readAllBytes(refsPath(path)),
        StandardCharsets.UTF_8))
      RefsState(0, bs, ts)
    } else RefsState(0, Map.empty, Map.empty)
  }

  /** Compare-and-swap the refs pointer from generation `expectGen` to
    * `expectGen + 1`. The new state is staged to a temp file and published
    * by hard-link creation — atomic, full-content, and FAILS if the target
    * generation already exists (unlike rename, which silently replaces).
    * Exactly one contender wins a given transition, in- or cross-process.
    */
  private def casRefs(path: String, expectGen: Int, branches: Map[String, Int],
      tags: Map[String, Int]): Unit = {
    def obj(m: Map[String, Int]) = m.toSeq.sorted
      .map { case (k, v) => "\"" + k.replace("\"", "\\\"") + "\":" + v }
      .mkString("{", ",", "}")
    val body = s"""{"branches":${obj(branches)},"tags":${obj(tags)}}"""
      .getBytes(StandardCharsets.UTF_8)
    val target = refsVPath(path, expectGen + 1)
    val tmp = Files.createTempFile(target.getParent, ".tmp_refs_", ".json")
    try {
      Files.write(tmp, body)
      try Files.createLink(target, tmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new CommitConflictException(
            s"refs generation ${expectGen + 1} at $path was committed concurrently; " +
              "re-read and retry")
      }
    } finally Files.deleteIfExists(tmp)
    // generations are immutable once superseded; keep a window for readers
    // mid-listing and let expireSnapshots remove the rest
    ((expectGen - 16) to (expectGen - 8)).filter(_ > 0)
      .foreach(k => Files.deleteIfExists(refsVPath(path, k)))
  }
}
