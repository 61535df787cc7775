package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.Identifier

/** The catalog's identifier-resolution seam: everything `GraftCatalog`
  * needs to know about WHERE tables live and WHICH namespaces/tables
  * exist, extracted so the storage of that mapping is pluggable — the
  * reference's `SparkCatalog` accepts `catalog-impl` / Hive / REST
  * backends the same way (`SparkCatalog.java:101-104,148-154` in
  * /root/reference). Two backends ship:
  *
  *  - [[FilesystemBackend]] (default): layout IS the metadata —
  *    `<warehouse>/<ns…>/<table>`, namespaces are directories, listing
  *    walks the tree. Zero extra state; the mapping can never drift.
  *  - [[RegistryBackend]] (`backend=registry`): a properties-file
  *    "metastore" (`<warehouse>/_graft_registry_v<N>.properties`) records
  *    `table.<ns.name>=<absolute location>` and `namespace.<ns>=` keys.
  *    Locations are decoupled from layout (a table can live anywhere),
  *    listing reads the registry instead of the filesystem, and RENAME
  *    is metadata-only — the data directory never moves, exactly the
  *    semantic a Hive/REST metastore provides. This is the in-sandbox
  *    stand-in for those services (no network services here); a Hive or
  *    REST implementation would plug into this same trait.
  *
  * Mutating registry ops serialize through the generation hard-link CAS
  * (see [[RegistryBackend]]) — the same lost-update-safe discipline the
  * snapshot refs pointer uses, valid in- and cross-process.
  */
trait CatalogBackend {
  /** Where `ident`'s table lives — the registered location, or the
    * default layout position for a table about to be created.
    */
  def tableLocation(ident: Identifier): Path

  /** Where `ident`'s table lives IF the backend considers it to exist —
    * the authoritative existence check. For the filesystem backend the
    * layout IS the registration, so this is always the layout path (the
    * caller still checks for a manifest); for the registry backend an
    * unregistered identifier is nonexistent, full stop. Without this
    * distinction a metadata-only RENAME leaves the OLD name resolving to
    * the renamed table's data dir (reads/writes succeed, and DROP TABLE
    * old-name deletes the NEW name's data — data loss).
    */
  def registeredLocation(ident: Identifier): Option[Path]

  /** A table was created at `location` (after its first commit). */
  def recordTable(ident: Identifier, location: Path): Unit

  /** A table was dropped. */
  def forgetTable(ident: Identifier): Unit

  /** RENAME: returns the NEW location (filesystem: moved dir; registry:
    * the unchanged old location under the new name).
    */
  def renameTable(oldIdent: Identifier, newIdent: Identifier): Path

  /** Identifiers of tables in `ns` (existence of ns already checked). */
  def listTables(ns: Array[String], isTable: Path => Boolean): Seq[Identifier]

  def listNamespaces(isTable: Path => Boolean): Seq[Array[String]]
  def namespaceExists(ns: Array[String]): Boolean
  def createNamespace(ns: Array[String]): Unit

  /** Drop `ns`; `false` when it doesn't exist. `contents` = the table
    * identifiers still in it (for the non-cascade error / cascade wipe).
    */
  def dropNamespace(ns: Array[String], cascade: Boolean,
      dropTable: Identifier => Unit): Boolean

  /** Whether this backend decouples table identity from directory layout
    * (a metastore: locations are recorded, not derived), which is what
    * makes `CREATE TABLE … LOCATION` honorable and RENAME metadata-only.
    * The filesystem backend's layout IS its identity, so `false` there.
    */
  def locationDecoupled: Boolean = false

  /** Identifier parts of the table REGISTERED at `path`, when this
    * backend can answer (location-uniqueness guard for explicit LOCATION
    * clauses — two idents sharing a directory destroy each other on DROP
    * PURGE). None = unknown/unsupported; the caller stays permissive.
    */
  def locationOwner(path: String): Option[Seq[String]] = None
}

/** Convention-over-layout backend: `<warehouse>/<ns…>/<table>`. */
class FilesystemBackend(warehouse: String) extends CatalogBackend {
  override def tableLocation(ident: Identifier): Path =
    Paths.get(warehouse, (ident.namespace() :+ ident.name()): _*)

  override def registeredLocation(ident: Identifier): Option[Path] =
    Some(tableLocation(ident)) // layout IS the registration

  override def recordTable(ident: Identifier, location: Path): Unit = ()
  override def forgetTable(ident: Identifier): Unit = ()

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Path = {
    val to = tableLocation(newIdent)
    Files.createDirectories(to.getParent)
    Files.move(tableLocation(oldIdent), to)
    to
  }

  override def listTables(ns: Array[String], isTable: Path => Boolean): Seq[Identifier] = {
    val dir = Paths.get(warehouse, ns: _*)
    graft.spatial.Snapshots.listDir(dir)(_.toSeq)
      .filter(p => isTable(p) && !p.getFileName.toString.startsWith("."))
      .map(p => Identifier.of(ns, p.getFileName.toString))
  }

  override def listNamespaces(isTable: Path => Boolean): Seq[Array[String]] = {
    val root = Paths.get(warehouse)
    if (!Files.isDirectory(root)) return Nil
    graft.spatial.Snapshots.listDir(root)(_.toSeq)
      .filter(p => Files.isDirectory(p) && !isTable(p))
      .map(p => Array(p.getFileName.toString))
  }

  override def namespaceExists(ns: Array[String]): Boolean =
    Files.isDirectory(Paths.get(warehouse, ns: _*))

  override def createNamespace(ns: Array[String]): Unit = {
    Files.createDirectories(Paths.get(warehouse, ns: _*)); ()
  }

  override def dropNamespace(ns: Array[String], cascade: Boolean,
      dropTable: Identifier => Unit): Boolean = {
    val p = Paths.get(warehouse, ns: _*)
    if (!Files.isDirectory(p)) false
    else {
      val entries = graft.spatial.Snapshots.listDir(p)(_.toSeq)
      if (entries.nonEmpty && !cascade)
        throw new IllegalStateException(s"namespace not empty: ${ns.mkString(".")}")
      graft.spatial.Snapshots.walkDir(p)(_.toSeq).reverse.foreach(Files.deleteIfExists(_))
      true
    }
  }
}

/** Properties-file registry "metastore": identifiers resolve through
  * recorded keys, not directory layout. State lives in GENERATION files
  * (`_graft_registry_v<N>.properties`) advanced by the same hard-link CAS
  * the snapshot refs pointer uses — a registry update stages the full
  * next state and publishes it as generation N+1, which FAILS if another
  * writer (in- or cross-process) already took that generation; the loser
  * re-reads and retries. Lost read-modify-write updates are impossible.
  */
class RegistryBackend(warehouse: String) extends CatalogBackend {
  import RegistryBackend._

  override def locationDecoupled: Boolean = true

  // identifier parts are dot-ESCAPED in keys: without it a table named
  // `a.b` in ns `db` and a table `b` in ns `db.a` collide on the same
  // key — wrong-table reads, drops, and phantom namespaces
  private def key(ident: Identifier): String =
    "table." + escJoin(ident.namespace() :+ ident.name())
  private def nsKey(ns: Array[String]): String = "namespace." + escJoin(ns)

  override def tableLocation(ident: Identifier): Path =
    read(warehouse).get(key(ident)).map(Paths.get(_)).getOrElse(
      // default layout for a to-be-created table; becomes authoritative
      // only once recordTable writes it
      Paths.get(warehouse, (ident.namespace() :+ ident.name()): _*))

  override def registeredLocation(ident: Identifier): Option[Path] =
    read(warehouse).get(key(ident)).map(Paths.get(_)) // registry-only: no layout fallback

  override def recordTable(ident: Identifier, location: Path): Unit = {
    // existence re-checked INSIDE the CAS (same discipline as rename):
    // two CREATE … LOCATION racers both pass the catalog's pre-check, and
    // an unconditional put would let the second silently overwrite the
    // first registration, permanently orphaning its table. The SAME
    // location stays idempotent (REPLACE TABLE re-records its own dir).
    val loc = location.toAbsolutePath.toString
    update(warehouse) { m =>
      m.get(key(ident)) match {
        case Some(existing) if existing != loc =>
          throw new TableAlreadyExistsException(ident)
        case _ => m + (key(ident) -> loc)
      }
    }
  }

  override def forgetTable(ident: Identifier): Unit =
    update(warehouse)(_ - key(ident))

  override def locationOwner(path: String): Option[Seq[String]] = {
    val want = Paths.get(path).toAbsolutePath.normalize
    read(warehouse).collectFirst {
      case (k, v) if k.startsWith("table.") &&
          Paths.get(v).toAbsolutePath.normalize == want =>
        unescSplit(k.stripPrefix("table."))
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Path = {
    // metadata-only: the data directory stays where it is. BOTH identity
    // checks re-run INSIDE the CAS update — the catalog's pre-checks are
    // outside it, so a concurrent rename/create to the same target (or a
    // concurrent drop of the source) would otherwise silently overwrite
    // a live registration / orphan a table.
    var loc: Path = null
    update(warehouse) { m =>
      if (m.contains(key(newIdent))) throw new TableAlreadyExistsException(newIdent)
      loc = m.get(key(oldIdent)).map(Paths.get(_)).getOrElse(
        throw new NoSuchTableException(oldIdent))
      m - key(oldIdent) + (key(newIdent) -> loc.toString)
    }
    loc
  }

  override def listTables(ns: Array[String], isTable: Path => Boolean): Seq[Identifier] = {
    read(warehouse).keys.toSeq.sorted
      .filter(_.startsWith("table."))
      .map(k => unescSplit(k.stripPrefix("table.")))
      .collect {
        case parts if parts.length == ns.length + 1 && parts.init == ns.toSeq =>
          Identifier.of(ns, parts.last)
      }
  }

  override def listNamespaces(isTable: Path => Boolean): Seq[Array[String]] = {
    val m = read(warehouse)
    val declared = m.keys.toSeq.collect {
      case k if k.startsWith("namespace.") => unescSplit(k.stripPrefix("namespace."))
    }
    val implied = m.keys.toSeq
      .filter(_.startsWith("table."))
      .map(k => unescSplit(k.stripPrefix("table.")))
      .collect { case parts if parts.length > 1 => parts.dropRight(1) }
    (declared ++ implied).distinct.sortBy(_.mkString("\u0000")).map(_.toArray)
  }

  override def namespaceExists(ns: Array[String]): Boolean =
    // the ROOT namespace always exists (it cannot be declared or implied
    // by table keys, yet `SHOW TABLES` against the catalog's default
    // namespace [] must not throw NoSuchNamespace — the filesystem
    // backend's warehouse-dir check says true for the same reason)
    ns.isEmpty || listNamespaces(_ => false).exists(_.sameElements(ns))

  override def createNamespace(ns: Array[String]): Unit = {
    // record the namespace AND materialize its default-layout dir, so
    // staged CTAS (which stages next to the final path) has a parent
    Files.createDirectories(Paths.get(warehouse, ns: _*))
    update(warehouse)(_ + (nsKey(ns) -> ""))
  }

  override def dropNamespace(ns: Array[String], cascade: Boolean,
      dropTable: Identifier => Unit): Boolean = {
    if (!namespaceExists(ns)) return false
    val tables = listTables(ns, _ => true)
    if (tables.nonEmpty && !cascade)
      throw new IllegalStateException(s"namespace not empty: ${ns.mkString(".")}")
    tables.foreach(dropTable)
    update(warehouse)(_ - nsKey(ns))
    true
  }
}

object RegistryBackend {
  private val GenRe = """_graft_registry_v(\d+)\.properties""".r

  /** Keys join identifier parts with '.'; a literal '.' (or '\') inside a
    * part is escaped so `db` + `a.b` can never collide with `db.a` + `b`.
    */
  private[sources] def escJoin(parts: Seq[String]): String =
    parts.map(_.replace("\\", "\\\\").replace(".", "\\.")).mkString(".")

  private[sources] def unescSplit(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' if i + 1 < s.length => sb.append(s.charAt(i + 1)); i += 2
        case '.' => out += sb.toString; sb.clear(); i += 1
        case c => sb.append(c); i += 1
      }
    }
    out += sb.toString
    out.result()
  }

  private def fileFor(warehouse: String, gen: Int): Path =
    Paths.get(warehouse, s"_graft_registry_v$gen.properties")

  private def currentGen(warehouse: String): Int = {
    val wh = Paths.get(warehouse)
    if (!Files.isDirectory(wh)) return 0
    graft.spatial.Snapshots.listDir(wh)(_.foldLeft(0) { (acc, p) =>
      p.getFileName.toString match {
        case GenRe(n) => math.max(acc, n.toInt)
        case _ => acc
      }
    })
  }

  /** Registry lookup for out-of-catalog resolvers (the DML parser): the
    * recorded location of the table identified by `parts` (namespace …,
    * name) under a registry-backed catalog's warehouse, if any.
    */
  def lookup(warehouse: String, parts: Seq[String]): Option[String] =
    read(warehouse).get("table." + escJoin(parts))

  private def read(warehouse: String): Map[String, String] = snapshot(warehouse)._2

  /** The newest generation and ITS state, read as one pair, so a writer
    * derives the next state from exactly the generation it CASes
    * against. A generation a faster writer pruned between listing and
    * opening is re-listed instead of failing the caller.
    */
  private def snapshot(warehouse: String): (Int, Map[String, String]) = {
    while (true) {
      val g = currentGen(warehouse)
      if (g == 0) return (0, Map.empty)
      val props = new java.util.Properties()
      try {
        val in = Files.newInputStream(fileFor(warehouse, g))
        try props.load(in) finally in.close()
        import scala.jdk.CollectionConverters._
        return (g, props.asScala.toMap)
      } catch { case _: java.nio.file.NoSuchFileException => () }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Writer tokens of the last generations, oldest first — how a writer
    * learns whether the newest state descends from its own publish.
    */
  private val LineageKey = "__lineage"

  /** Read-modify-write under the generation CAS: stage the full next
    * state, publish as gen+1 via hard-link create (fails if taken),
    * retry on contention. Superseded generations older than a reader
    * window are pruned by the winner — which frees their NAMES: a writer
    * stalled past the window links into a pruned number below the newest
    * generation, and its change would vanish. A publish therefore counts
    * only once the newest state's lineage carries its token.
    */
  private def update(warehouse: String)(
      f: Map[String, String] => Map[String, String]): Unit = {
    var attempts = 0
    while (true) {
      val (g, cur) = snapshot(warehouse)
      val token = java.util.UUID.randomUUID().toString
      val lineage = (cur.get(LineageKey).toSeq.flatMap(_.split(',')) :+ token).takeRight(32)
      val next = f(cur - LineageKey) + (LineageKey -> lineage.mkString(","))
      val props = new java.util.Properties()
      next.foreach { case (k, v) => props.setProperty(k, v) }
      val target = fileFor(warehouse, g + 1)
      Files.createDirectories(target.getParent)
      val tmp = Files.createTempFile(target.getParent, ".tmp_registry_", ".properties")
      try {
        val out = Files.newOutputStream(tmp)
        try props.store(out, "graft catalog registry") finally out.close()
        val linked =
          try { Files.createLink(target, tmp); true }
          catch { case _: java.nio.file.FileAlreadyExistsException => false }
        if (linked && snapshot(warehouse)._2.get(LineageKey)
            .exists(_.split(',').contains(token))) {
          // winner prunes a superseded window (readers mid-listing keep a few)
          ((g - 16) to (g - 8)).filter(_ > 0)
            .foreach(k => Files.deleteIfExists(fileFor(warehouse, k)))
          return
        }
        if (linked) Files.deleteIfExists(target) // a stale publish into a pruned slot
        attempts += 1
        if (attempts > 50) throw new IllegalStateException(
          s"registry CAS at $warehouse lost ${attempts} races; giving up")
      } finally Files.deleteIfExists(tmp)
    }
  }
}
