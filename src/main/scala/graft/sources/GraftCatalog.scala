package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, NoSuchViewException, TableAlreadyExistsException, ViewAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, NamespaceChange, StagedTable, StagingTableCatalog, SupportsNamespaces, SupportsWrite, Table, TableCapability, TableCatalog, TableChange, View, ViewCatalog, ViewChange, ViewInfo}
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, WriteBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.spatial.{GeoTable, Snapshots, TableOps, TableSchema, Transforms}

/** Path-backed `TableCatalog`: `SET spark.sql.catalog.graft = …GraftCatalog`
  * (+ `…graft.warehouse = /data`) makes every graft table addressable as
  * `graft.<db>.<table>` in plain SQL — the reference's `SparkCatalog`
  * surface (`spark/v3.5/spark/src/main/java/org/apache/iceberg/spark/SparkCatalog.java`)
  * over the filesystem layout `<warehouse>/<db>/<table>`.
  *
  * Loaded lazily by Spark's CatalogManager on first reference, so runtime
  * `spark.conf.set` is enough — no session rebuild. Time travel:
  * `SELECT … FROM graft.db.t VERSION AS OF 3` resolves through
  * `loadTable(ident, version)`.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with StagingTableCatalog
    with ViewCatalog with FunctionCatalog {

  private var catalogName: String = "graft"
  private var warehouse: String = _
  private var backend: CatalogBackend = _

  // Table-instance cache — the reference's CachingCatalog seam
  // (`SparkCatalog.java` wraps the Iceberg catalog in CachingCatalog when
  // `cache-enabled`, with `cache.expiration-interval-ms`; ref
  // TestSparkCatalogCacheExpiration): caches ident → Table resolution,
  // saving a registry read / REST round-trip per reference. Deviation,
  // stated: default OFF (the reference defaults on) — the default
  // filesystem backend's layout IS its metadata, so resolution is one
  // local stat and always-fresh beats cached; metastore-backed catalogs
  // opt in. DDL through this catalog invalidates; `REFRESH TABLE` (Spark
  // calls invalidateTable) invalidates; changes made by OTHER processes
  // become visible when the entry expires — the reference's documented
  // tradeoff. Expiration `-1` caches forever, `0` disables caching
  // (CatalogProperties.CACHE_EXPIRATION_INTERVAL_MS semantics).
  private var cacheEnabled = false
  private var cacheExpirationMs: Long = -1L
  private val tableCache =
    new java.util.concurrent.ConcurrentHashMap[Identifier, (Table, Long)]()

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    def requiredWarehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.warehouse"))
    // identifier-resolution backend (the reference's catalog-impl seam,
    // `SparkCatalog.java:101-104,148-154`): layout-convention filesystem
    // (default), the properties-file registry "metastore", or an external
    // REST catalog service — see [[CatalogBackend]] / [[RestBackend]]
    backend = Option(options.get("backend")).getOrElse("filesystem") match {
      case "filesystem" => new FilesystemBackend(requiredWarehouse)
      case "registry" => new RegistryBackend(requiredWarehouse)
      case "rest" => new RestBackend(Option(options.get("uri")).getOrElse(
        throw new IllegalArgumentException(
          s"catalog $name: backend=rest requires spark.sql.catalog.$name.uri")))
      case other => throw new IllegalArgumentException(
        s"catalog $name: unknown backend '$other' (filesystem | registry | rest)")
    }
    // a REST catalog advertises its warehouse in /v1/config (the client
    // needs no local warehouse conf, like the reference's REST client)
    warehouse = backend match {
      case r: RestBackend => r.warehouse
      case _ => requiredWarehouse
    }
    cacheExpirationMs = Option(options.get("cache.expiration-interval-ms"))
      .map(_.toLong).getOrElse(-1L)
    cacheEnabled = Option(options.get("cache-enabled")).exists(_.toBoolean) &&
      cacheExpirationMs != 0L
    graft.spatial.Geo.install(SparkSession.active)
  }

  override def name(): String = catalogName

  private def tablePath(ident: Identifier): java.nio.file.Path =
    backend.tableLocation(ident)

  private def isTable(p: java.nio.file.Path): Boolean = Snapshots.isTable(p.toString)

  /** Authoritative resolution of an EXISTING table: the backend must know
    * the identifier (under `backend=registry` an unregistered name is
    * nonexistent even when the conventional layout dir holds a table —
    * after a metadata-only RENAME that dir belongs to the NEW name) and
    * the location must hold a manifest.
    */
  private def existingTablePath(ident: Identifier): Option[java.nio.file.Path] =
    backend.registeredLocation(ident).filter(isTable)

  override def tableExists(ident: Identifier): Boolean = existingTablePath(ident).isDefined

  override def loadTable(ident: Identifier): Table =
    if (!cacheEnabled) loadTableFresh(ident)
    else {
      val now = System.currentTimeMillis()
      Option(tableCache.get(ident)).collect {
        case (t, at) if cacheExpirationMs < 0 || now - at < cacheExpirationMs => t
      }.getOrElse {
        val t = loadTableFresh(ident)
        // cache only plain-table resolutions: branch/tag/metadata suffix
        // identifiers resolve through their parent and stay dynamic — a
        // branch-suffix load is a GraftTable too, but with a PINNED head
        // version, so caching it would freeze the branch at first read
        t match {
          case g: GraftTable
              if g.snapshotVersion.isEmpty && g.branch.isEmpty && g.tag.isEmpty =>
            tableCache.put(ident, (t, now)); ()
          case _ => ()
        }
        t
      }
    }

  override def invalidateTable(ident: Identifier): Unit = {
    tableCache.remove(ident)
    ()
  }

  private def loadTableFresh(ident: Identifier): Table = existingTablePath(ident) match {
    case Some(p) => new GraftTable(p.toString, None)
    case None =>
      // Iceberg-style suffix identifiers on a parent table — branch/tag
      // scoping (`SELECT … FROM cat.db.t.branch_x`, `INSERT INTO
      // cat.db.t.branch_x`; ref SparkTable.java:123-136) and metadata
      // tables (`cat.db.t.files`, ref SparkCatalog.java's
      // MetadataTableType lookup) — namespace [db, t], name = suffix.
      if (ident.namespace().isEmpty) throw new NoSuchTableException(ident)
      val parent = existingTablePath(Identifier.of(
          ident.namespace().dropRight(1), ident.namespace().last))
        .getOrElse(throw new NoSuchTableException(ident))
      val n = ident.name()
      lazy val (branches, tags) = Snapshots.readRefs(parent.toString)
      if (n.startsWith("branch_")) {
        val b = n.stripPrefix("branch_")
        val head = branches.getOrElse(b, throw new NoSuchTableException(ident))
        new GraftTable(parent.toString, Some(head), branch = Some(b))
      } else if (n.startsWith("tag_")) {
        val t = n.stripPrefix("tag_")
        val head = tags.getOrElse(t, throw new NoSuchTableException(ident))
        new GraftTable(parent.toString, Some(head), tag = Some(t))
      } else try new GraftMetadataTable(
        Snapshots.metadataTable(SparkSession.active, parent.toString,
          ident.name().toLowerCase),
        s"$catalogName.${(ident.namespace() :+ ident.name()).mkString(".")}")
      catch { case _: IllegalArgumentException => throw new NoSuchTableException(ident) }
  }

  /** `VERSION AS OF x` — a snapshot version number, or a branch / tag
    * NAME (the reference's SparkCatalog.loadTable(ident, version) tries
    * snapshot id, then branch, then tag, SparkCatalog.java).
    */
  override def loadTable(ident: Identifier, version: String): Table =
    existingTablePath(ident) match {
      case Some(p) =>
        version.toIntOption match {
          case Some(v) => new GraftTable(p.toString, Some(v))
          case None =>
            val (branches, tags) = Snapshots.readRefs(p.toString)
            val v = branches.get(version).orElse(tags.get(version)).getOrElse(
              throw new IllegalArgumentException(
                s"VERSION AS OF '$version': no such snapshot version, branch, or tag"))
            new GraftTable(p.toString, Some(v))
        }
      case None =>
        // metadata-suffix identifiers time-travel too — the reference's
        // `SELECT * FROM cat.db.t.files VERSION AS OF n`; branch/tag
        // names resolve like on the data table
        val (parent, v) = metadataSuffixVersion(ident, version)
        versionedMetadataTable(ident, parent, v)
    }

  /** `TIMESTAMP AS OF` — micros since epoch per the DSv2 contract. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    existingTablePath(ident) match {
      case Some(p) =>
        new GraftTable(p.toString,
          Some(Snapshots.versionAsOfTimestamp(p.toString, timestampMicros / 1000L)))
      case None =>
        val parent = metadataSuffixParent(ident)
        versionedMetadataTable(ident, parent,
          Snapshots.versionAsOfTimestamp(parent, timestampMicros / 1000L))
    }

  private def metadataSuffixParent(ident: Identifier): String = {
    if (ident.namespace().isEmpty) throw new NoSuchTableException(ident)
    existingTablePath(Identifier.of(
        ident.namespace().dropRight(1), ident.namespace().last))
      .getOrElse(throw new NoSuchTableException(ident)).toString
  }

  private def metadataSuffixVersion(ident: Identifier, version: String): (String, Int) = {
    val parent = metadataSuffixParent(ident)
    val v = version.toIntOption.getOrElse {
      val (branches, tags) = Snapshots.readRefs(parent)
      branches.get(version).orElse(tags.get(version)).getOrElse(
        throw new IllegalArgumentException(
          s"VERSION AS OF '$version': no such snapshot version, branch, or tag"))
    }
    (parent, v)
  }

  private def versionedMetadataTable(ident: Identifier, parent: String, v: Int): Table =
    try new GraftMetadataTable(
      Snapshots.metadataTable(SparkSession.active, parent,
        ident.name().toLowerCase, Some(v)),
      s"$catalogName.${(ident.namespace() :+ ident.name()).mkString(".")}")
    catch {
      case e: IllegalArgumentException if e.getMessage != null &&
          e.getMessage.startsWith("unknown metadata table") =>
        throw new NoSuchTableException(ident)
    }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!backend.namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    // dot-dirs are in-flight staged CTAS/REPLACE work, not tables
    backend.listTables(namespace, isTable).toArray
  }

  /** DSv2 partition `Transform` → graft transform spec (the manifest's
    * `partitions` strings, [[graft.spatial.Transforms.parse]] grammar).
    * The write path derives the partition columns from these specs on
    * every INSERT, so `PARTITIONED BY (bucket(8, id), years(ts))` in
    * CREATE TABLE SQL lays files out exactly like `GeoTable.write`.
    */
  private def toSpec(t: Transform, schema: StructType): String = {
    import org.apache.spark.sql.connector.expressions.{Expression, Literal, NamedReference}
    def ref(e: Expression): Option[String] = e match {
      case n: NamedReference => Some(n.fieldNames.mkString("."))
      case _ => None
    }
    def intLit(e: Expression): Option[Int] = e match {
      case l: Literal[_] => Some(l.value.asInstanceOf[Number].intValue)
      case _ => None
    }
    val args = t.arguments.toSeq
    def col: String = {
      val c = args.flatMap(ref(_)).headOption.getOrElse(
        throw new UnsupportedOperationException(s"unsupported partition transform: $t"))
      // honor the session's resolution mode: under the default
      // case-insensitive analysis, PARTITIONED BY (years(TS)) must find
      // column `ts` — and the canonical SCHEMA casing names the dirs.
      // SQLConf.get, NOT SparkSession.active: the thread-local conf falls
      // back correctly on a thread without an active session (the same
      // multi-session/no-session hazard StatsAggregatePushdown fixed)
      val cs = org.apache.spark.sql.internal.SQLConf.get.caseSensitiveAnalysis
      schema.fields.find(f => if (cs) f.name == c else f.name.equalsIgnoreCase(c))
        .getOrElse(throw new IllegalArgumentException(
          s"partition source column not in schema: $c")).name
    }
    t.name.toLowerCase match {
      case "identity" => col
      case "bucket" => s"bucket(${args.flatMap(intLit).head},$col)"
      case "truncate" => s"truncate(${args.flatMap(intLit).head},$col)"
      case "years" | "year" => s"year($col)"
      case "months" | "month" => s"month($col)"
      case "days" | "day" => s"day($col)"
      case "hours" | "hour" =>
        // TIMESTAMP-only: over a DATE the write derivation would fail at
        // the first INSERT — reject at CREATE like the evolution DDL does
        val c = col // already resolved to the canonical schema name
        require(schema.fields.find(_.name == c)
          .exists(_.dataType == org.apache.spark.sql.types.TimestampType),
          s"PARTITIONED BY hours($c): hour requires a TIMESTAMP source")
        s"hour($c)"
      case _ => throw new UnsupportedOperationException(s"unsupported partition transform: $t")
    }
  }

  /** Spark-reserved CREATE TABLE properties that are not table props. */
  private val ReservedProps = Set("provider", "location", "owner", "comment", "external")

  /** Where a table being created should live: a metastore-style backend
    * (registry, REST) decouples identity from layout, so CREATE TABLE …
    * LOCATION '/x' (plain or AS SELECT) registers the table wherever the
    * user pointed it; the filesystem backend's layout IS its identity,
    * so there LOCATION is not honored.
    */
  private def createLocation(ident: Identifier,
      properties: util.Map[String, String]): java.nio.file.Path =
    Option(properties.get("location"))
      .filter(_ => backend.locationDecoupled)
      // Spark qualifies LOCATION into a URI (file:/…) — back to a path.
      // Refuse what a bare getPath would SILENTLY corrupt: an
      // authority-bearing URI (s3a://bucket/t would lose its bucket) or
      // an opaque one (getPath null → NPE)
      .map { loc =>
        val p =
          if (loc.contains(":")) {
            val u = new java.net.URI(loc)
            require(u.getScheme == null || u.getScheme == "file",
              s"LOCATION '$loc': this catalog backend stores local paths; " +
                "an authority-bearing URI would silently drop its authority")
            require(u.getPath != null && u.getPath.nonEmpty,
              s"LOCATION '$loc' has no path component")
            java.nio.file.Paths.get(u.getPath)
          } else java.nio.file.Paths.get(loc)
        // another registered table already owning this location would be
        // silently replaced (and a later DROP PURGE of either ident would
        // destroy the other's data)
        backend.locationOwner(p.toString)
          .filterNot(_ == ident.namespace.toSeq :+ ident.name)
          .foreach(owner => throw new IllegalArgumentException(
            s"LOCATION '$loc' is already the location of table " +
              s"${owner.mkString(".")}"))
        p
      }
      .getOrElse {
        val base = tablePath(ident)
        // metastore backends: a non-purging DROP leaves the old data in
        // place, so a re-CREATE at the default layout position would
        // resurrect the dropped rows — take a fresh unique location
        // instead (what a metastore does for every table)
        if (backend.locationDecoupled && isTable(base))
          base.resolveSibling(base.getFileName.toString + "_" +
            java.util.UUID.randomUUID().toString.take(8))
        else base
      }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // the converse of createView's guard: a table committed into an
    // existing VIEW's directory would make the ident resolve as both,
    // and DROP TABLE on the filesystem backend would destroy the view
    if (viewExists(ident)) throw new TableAlreadyExistsException(ident)
    val p = createLocation(ident, properties)
    val specs = partitions.map(t => Transforms.parse(toSpec(t, schema))).toSeq
    val props = {
      import scala.jdk.CollectionConverters._
      properties.asScala.toMap.filterNot { case (k, _) => ReservedProps(k) }
    }
    // validate graft.xtypes BEFORE committing any metadata: a bad property
    // must fail the CREATE without leaving a half-created (and under the
    // filesystem backend, fully-registered) table behind
    val xtypeDecls = Option(properties.get(graft.spatial.ExtendedTypes.PropertyKey))
      .map(s => graft.spatial.ExtendedTypes.parseProperty(schema, s))
    java.nio.file.Files.createDirectories(p)
    // an empty v1 snapshot carrying the declared schema + partition specs.
    // Hidden partitioning, like the reference: derived transform columns
    // (`id_bucket`, `ts_year`) never enter the logical schema — they live
    // in directory names, written by the append path and used for
    // planning-time projection pruning by GraftFileIndex's pruneSchema.
    try TableOps.commitCreate(p.toString,
      _ => GeoTable.manifestJson(Nil, Nil, specs.map(_.spec), props = props,
        schema = Some(schema)), failIfExists = true)
    catch { case _: Snapshots.TableCreateConflictException =>
      throw new TableAlreadyExistsException(ident) }
    xtypeDecls.foreach(_.foreach { case (c, x) =>
      graft.spatial.ExtendedTypes.declare(p.toString, c, x) })
    backend.recordTable(ident, p)
    new GraftTable(p.toString, None)
  }

  /** ADD/RENAME/DROP COLUMN lower onto the table's schema-evolution log
    * (the same machinery behind the graft DDL extensions); SET/UNSET
    * TBLPROPERTIES commit a new snapshot with the merged property map.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    invalidateTable(ident)
    val p = existingTablePath(ident).getOrElse(throw new NoSuchTableException(ident))
    val spark = SparkSession.active
    // statement-atomicity over the per-change sidecar writes: a failing
    // change (e.g. the second of ADD COLUMNS (a, b) colliding) must not
    // leave the earlier changes applied — capture the schema-evolution
    // and extended-type sidecars and restore them on ANY failure
    // (property changes already batch into one commit at the end)
    def sidecar(name: String) = java.nio.file.Paths.get(p.toString, name)
    val sidecars = Seq(TableSchema.SchemaName, graft.spatial.ExtendedTypes.FileName)
      .map { n =>
        val f = sidecar(n)
        n -> (if (java.nio.file.Files.exists(f))
          Some(java.nio.file.Files.readAllBytes(f)) else None)
      }
    def restoreSidecars(): Unit = sidecars.foreach {
      case (n, Some(bytes)) => java.nio.file.Files.write(sidecar(n), bytes); ()
      case (n, None) => java.nio.file.Files.deleteIfExists(sidecar(n)); ()
    }
    try applyChanges(ident, p, spark, changes)
    catch { case e: Throwable => restoreSidecars(); invalidateTable(ident); throw e }
    // invalidate AGAIN after the mutation: a concurrent load during the
    // alter can re-cache the PRE-alter table; with no expiry it would
    // serve the stale schema forever
    invalidateTable(ident)
    loadTable(ident)
  }

  private def applyChanges(ident: Identifier, p: java.nio.file.Path,
      spark: SparkSession, changes: Seq[TableChange]): Unit = {
    // ADD/RENAME/DROP/COMMENT/TYPE take full dot-paths (nested struct
    // fields, incl. struct-in-array `a.element.f` / struct-in-map-value
    // `m.value.f`, and `arr.element` / `m.value` themselves for type
    // widening — ref UpdateSchema.java:56-84); nullability tightening
    // stays rejected at any depth.
    val setProps = Map.newBuilder[String, String]
    val unsetProps = Seq.newBuilder[String]
    changes.foreach {
      case a: TableChange.AddColumn =>
        TableSchema.addColumn(spark, p.toString, a.fieldNames().toSeq, a.dataType())
      case r: TableChange.RenameColumn =>
        TableSchema.renameColumn(spark, p.toString, r.fieldNames().toSeq, r.newName())
        // keep the extended-type sidecar keyed to the live name (nested
        // paths can't carry xtypes — declarations are top-level only)
        if (r.fieldNames().length == 1)
          graft.spatial.ExtendedTypes.onRename(p.toString, r.fieldNames()(0), r.newName())
      case d: TableChange.DeleteColumn =>
        TableSchema.dropColumn(spark, p.toString, d.fieldNames().toSeq)
        if (d.fieldNames().length == 1)
          graft.spatial.ExtendedTypes.onDrop(p.toString, d.fieldNames()(0))
      case t: TableChange.UpdateColumnType =>
        TableSchema.updateColumnType(spark, p.toString, t.fieldNames().toSeq, t.newDataType())
      case n: TableChange.UpdateColumnNullability =>
        // relaxing to nullable is a no-op (graft columns are nullable by
        // construction); required-ness cannot be added after the fact
        // without re-validating every file — reject, like the reference's
        // UpdateSchema (optional -> required is not allowed)
        if (!n.nullable())
          throw new UnsupportedOperationException(
            s"cannot add NOT NULL to existing column ${n.fieldNames().mkString(".")}")
        else // no-op, but direct TableChange callers (no analyzer in
          // front) must still get an error for a nonexistent column
          TableSchema.requireColumn(spark, p.toString, n.fieldNames().toSeq)
      case c: TableChange.UpdateColumnComment =>
        TableSchema.setColumnComment(spark, p.toString, c.fieldNames().toSeq,
          Option(c.newComment()).filter(_.nonEmpty))
      case s: TableChange.SetProperty => setProps += s.property() -> s.value()
      case u: TableChange.RemoveProperty => unsetProps += u.property()
      case other => throw new UnsupportedOperationException(s"unsupported table change: $other")
    }
    val (set, unset) = (setProps.result(), unsetProps.result())
    if (set.nonEmpty || unset.nonEmpty) {
      Snapshots.updateProperties(p.toString, set, unset)
      ()
    }
  }

  // ---- atomic CTAS / REPLACE TABLE (the reference's StagingTableCatalog,
  // SparkCatalog.java stageCreate/stageReplace): writes land in a hidden
  // sibling dir through the NORMAL table machinery (partition layout,
  // encodings, stats); commitStagedChanges moves the UUID-named data files
  // into the real dir and publishes ONE snapshot through the refs CAS.
  // A failed query aborts the staged dir — the target is never touched.

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    mkStaged(ident, schema, partitions, properties, replace = false, orCreate = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    mkStaged(ident, schema, partitions, properties, replace = true, orCreate = false)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    mkStaged(ident, schema, partitions, properties, replace = true, orCreate = true)

  private def mkStaged(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String],
      replace: Boolean, orCreate: Boolean): StagedTable = {
    // same both-kinds guard as createTable: CTAS/REPLACE TABLE over an
    // existing view must not shadow (or later destroy) it
    if (viewExists(ident)) throw new TableAlreadyExistsException(ident)
    val specs = partitions.map(t => Transforms.parse(toSpec(t, schema))).toSeq
    val props = {
      import scala.jdk.CollectionConverters._
      properties.asScala.toMap.filterNot { case (k, _) => ReservedProps(k) }
    }
    // CTAS/REPLACE honors LOCATION the same way plain createTable does
    // (registry backend only); REPLACE of an existing registered table
    // keeps its current location
    val finalPath = existingTablePath(ident).getOrElse(createLocation(ident, properties))
    val tmp = finalPath.getParent.resolve(
      s".staging-${ident.name}-${java.util.UUID.randomUUID().toString.take(12)}")
    java.nio.file.Files.createDirectories(tmp)
    // the staged dir IS a graft table: the insert uses the standard append
    // path (transform layout, write order, encodings, footer stats).
    // WAP props are WITHHELD from the staging manifest: with spark.wap.id
    // active, `write.wap.enabled` here would route the CTAS insert onto a
    // WAP branch of the STAGING dir — commit would then read the empty
    // staging main and publish an empty table while abort deletes the only
    // copy of the rows. The staging dir is already the isolation boundary;
    // the withheld props re-attach at commit (commitStagedChanges).
    TableOps.commitCreate(tmp.toString,
      _ => GeoTable.manifestJson(Nil, Nil, specs.map(_.spec),
        props = props - "write.wap.enabled",
        schema = Some(schema)))
    // declared on the staging dir so the CTAS insert itself validates +
    // canonicalizes; the sidecar travels with the dir move on commit
    Option(properties.get(graft.spatial.ExtendedTypes.PropertyKey))
      .foreach(s => graft.spatial.ExtendedTypes.declareFromProperty(tmp.toString, schema, s))
    new StagedGraftTable(ident, finalPath.toString, tmp.toString, schema,
      specs.map(_.spec), props, replace, orCreate,
      onCommit = () => { invalidateTable(ident); backend.recordTable(ident, finalPath) })
  }

  /** DROP TABLE never purges data under a metastore-style backend — the
    * reference's posture (`SparkCatalog.java:354-356` routes DROP to
    * dropTableWithoutPurging; data deletion needs `DROP TABLE … PURGE`).
    * The filesystem backend drops the directory with the entry because
    * the directory IS the entry — the reference notes the same for
    * HadoopCatalog/HadoopTables (`SparkCatalog.java:372-374`).
    * Also: unregistered names (e.g. a renamed-away identifier under a
    * metastore backend) must NOT fall back to the layout dir — that dir
    * is another table's data.
    */
  override def dropTable(ident: Identifier): Boolean = { invalidateTable(ident); existingTablePath(ident) } match {
    case None => false
    case Some(p) =>
      if (!backend.locationDecoupled)
        Snapshots.walkDir(p)(_.toSeq).reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      backend.forgetTable(ident)
      true
  }

  /** DROP TABLE … PURGE: deletes the data too, refused when the table
    * disables GC (`gc.enabled=false`) — deleting files may corrupt tables
    * sharing them (zero-copy `snapshot` clones), the reference's exact
    * guard (`SparkCatalog.java:359-366`).
    */
  override def purgeTable(ident: Identifier): Boolean = { invalidateTable(ident); existingTablePath(ident) } match {
    case None => false
    case Some(p) =>
      val gcEnabled = Snapshots.readProps(p.toString)
        .getOrElse("gc.enabled", "true").toBoolean
      if (!gcEnabled) throw new UnsupportedOperationException(
        "Cannot purge table: GC is disabled (deleting files may corrupt other tables)")
      Snapshots.walkDir(p)(_.toSeq).reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      backend.forgetTable(ident)
      true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    backend.renameTable(oldIdent, newIdent)
    invalidateTable(oldIdent)
    invalidateTable(newIdent)
    ()
  }

  // ---- catalog-level views (the reference's ResolveViews path in
  // IcebergSparkSessionExtensions.scala:41-43): a view is a dir holding
  // `_graft_view.json` with the SQL text + context + declared schema.
  // Spark's analyzer resolves `SELECT … FROM cat.db.v` through loadView
  // and parses the stored query in the stored catalog/namespace context.

  private val ViewFileName = "_graft_view.json"

  private def viewPath(ident: Identifier): java.nio.file.Path =
    tablePath(ident).resolve(ViewFileName)

  override def viewExists(ident: Identifier): Boolean =
    java.nio.file.Files.exists(viewPath(ident))

  override def listViews(namespace: String*): Array[Identifier] = {
    // same strictness as listTables/listNamespaces: a typo'd namespace is
    // an ERROR, not an empty listing
    if (!namespaceExists(namespace.toArray))
      throw new NoSuchNamespaceException(namespace.toArray)
    val ns = java.nio.file.Paths.get(warehouse, namespace: _*)
    if (!java.nio.file.Files.isDirectory(ns)) return Array.empty
    val listed = Snapshots.listDir(ns)(_.toSeq)
    val out = Array.newBuilder[Identifier]
    for (p <- listed) {
      if (java.nio.file.Files.exists(p.resolve(ViewFileName)))
        out += Identifier.of(namespace.toArray, p.getFileName.toString)
    }
    out.result()
  }

  override def loadView(ident: Identifier): View = {
    if (!viewExists(ident)) throw new NoSuchViewException(ident)
    GraftView.read(ident, viewPath(ident))
  }

  override def createView(info: ViewInfo): View = {
    val ident = info.ident
    if (viewExists(ident)) throw new ViewAlreadyExistsException(ident)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    java.nio.file.Files.createDirectories(tablePath(ident))
    GraftView.write(viewPath(ident), info.sql, info.currentCatalog,
      info.currentNamespace, info.schema, info.queryColumnNames,
      info.columnAliases, info.columnComments, {
        import scala.jdk.CollectionConverters._
        info.properties.asScala.toMap
      })
    loadView(ident)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val v = loadView(ident)
    var props = {
      import scala.jdk.CollectionConverters._
      v.properties.asScala.toMap
    }
    changes.foreach {
      case s: ViewChange.SetProperty => props += s.property() -> s.value()
      case r: ViewChange.RemoveProperty => props -= r.property()
      case other => throw new UnsupportedOperationException(s"unsupported view change: $other")
    }
    GraftView.write(viewPath(ident), v.query, v.currentCatalog, v.currentNamespace,
      v.schema, v.queryColumnNames, v.columnAliases, v.columnComments, props)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean = {
    if (!viewExists(ident)) false
    else {
      Snapshots.walkDir(tablePath(ident))(_.toSeq).reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      true
    }
  }

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!viewExists(oldIdent)) throw new NoSuchViewException(oldIdent)
    if (viewExists(newIdent) || tableExists(newIdent))
      throw new ViewAlreadyExistsException(newIdent)
    java.nio.file.Files.createDirectories(tablePath(newIdent).getParent)
    java.nio.file.Files.move(tablePath(oldIdent), tablePath(newIdent))
  }

  // ---- V2 functions: the partition-transform registry (the reference's
  // SparkFunctionCatalog on SparkCatalog, spark/v3.5/spark/src/main/java/
  // org/apache/iceberg/spark/functions/SparkFunctions.java). Spark's
  // V2ExpressionUtils resolves a scan's reported KeyGroupedPartitioning
  // through loadFunction(Identifier.of(Array.empty, name)) — without this
  // a bucket/truncate/date-part partitioning can never become a
  // storage-partitioned join. Served in the root and `system` namespaces.

  private def isFunctionNs(namespace: Array[String]): Boolean =
    namespace.isEmpty || namespace.sameElements(Array("system"))

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (isFunctionNs(namespace))
      GraftFunctions.names.map(Identifier.of(namespace, _)).toArray
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (isFunctionNs(ident.namespace()))
      GraftFunctions.load(ident.name())
        .getOrElse(throw new NoSuchFunctionException(ident))
    else throw new NoSuchFunctionException(ident)

  override def functionExists(ident: Identifier): Boolean =
    isFunctionNs(ident.namespace()) && GraftFunctions.load(ident.name()).isDefined

  // ---- namespaces = directories under the warehouse -----------------------

  override def listNamespaces(): Array[Array[String]] =
    backend.listNamespaces(isTable).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (!namespaceExists(namespace)) // SupportsNamespaces contract:
      throw new NoSuchNamespaceException(namespace) // a typo is an error, not []
    else Array.empty

  override def namespaceExists(namespace: Array[String]): Boolean =
    backend.namespaceExists(namespace)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    backend.createNamespace(namespace)

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("namespace properties are not supported")

  // (StagedGraftTable lives below, outside the catalog class)

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    // the filesystem backend wipes the tree DIRECTLY (never invoking the
    // per-table callback) — invalidate the dropped tables' cache entries
    // first, or a later re-create serves the stale pre-drop Table forever
    if (cascade && namespaceExists(namespace))
      try listTables(namespace).foreach(invalidateTable)
      catch { case _: NoSuchNamespaceException => () }
    // metastore backends count only REGISTERED tables as contents — a
    // namespace still holding catalog VIEWS must refuse a non-cascade
    // drop (the filesystem backend refuses on the non-empty directory;
    // dropping would orphan views in a namespace that no longer exists)
    if (!cascade && namespaceExists(namespace) &&
        scala.util.Try(listViews(namespace.toIndexedSeq: _*).nonEmpty).getOrElse(false))
      throw new IllegalStateException(
        s"namespace not empty (views): ${namespace.mkString(".")}")
    backend.dropNamespace(namespace, cascade, ident => { dropTable(ident); () })
  }
}

/** An in-flight atomic CTAS / REPLACE: a real graft table in a hidden
  * sibling dir. `commitStagedChanges` moves the staged data files (names
  * are UUID-unique — no collisions) into the target dir and publishes one
  * snapshot: `TableOps.commitCreate` for a new table, [[Snapshots.commitReplace]]
  * (full-replacement CAS, history retained) for REPLACE. Until that
  * commit the target table is untouched; abort deletes the staged dir.
  */
class StagedGraftTable(ident: Identifier, finalPath: String, tmpPath: String,
    declaredSchema: StructType, parts: Seq[String], props: Map[String, String],
    replace: Boolean, orCreate: Boolean,
    onCommit: () => Unit = () => ()) extends StagedTable with SupportsWrite {

  override def name(): String = ident.toString
  override def schema(): StructType = declaredSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      // REPLACE plans an overwrite-by-true write; the staged dir starts
      // empty, so truncation is inherently satisfied
      override def truncate(): WriteBuilder = this
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
          (data: org.apache.spark.sql.DataFrame, _: Boolean) => {
            graft.spatial.Geo.install(data.sparkSession)
            Snapshots.append(data, tmpPath)
            ()
          }
      }
    }

  override def commitStagedChanges(): Unit = {
    val spark = SparkSession.active
    val entries = Snapshots.readManifest(tmpPath)
    val schema = Snapshots.readSchema(tmpPath).getOrElse(declaredSchema)
    // re-attach the WAP props withheld from the staging manifest (mkStaged)
    val finalProps = Snapshots.readProps(tmpPath) ++
      props.view.filterKeys(_ == "write.wap.enabled").toMap
    val exists = Snapshots.isTable(finalPath)
    if (exists && !replace) throw new TableAlreadyExistsException(ident)
    if (!exists && replace && !orCreate) throw new NoSuchTableException(ident)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(finalPath))
    entries.foreach { e =>
      val src = java.nio.file.Paths.get(tmpPath, e.path)
      val dst = java.nio.file.Paths.get(finalPath, e.path)
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.move(src, dst)
    }
    // REPLACE is a NEW DEFINITION: after the commit lands, the replaced
    // table's table-level sidecars (they describe the OLD definition)
    // reset to the staged dir's — a stale evolution log would remap the
    // new physical columns onto old names (every read of a
    // renamed-then-replaced column comes back NULL), and stale
    // geometry/xtype declarations would decode columns the new definition
    // never declared. Ordered AFTER the commit: resetting first would
    // corrupt the OLD table if the commit then failed.
    def resetSidecars(): Unit = Seq(graft.spatial.TableSchema.SchemaName,
        graft.spatial.GeometryFields.PropsName,
        graft.spatial.ExtendedTypes.FileName).foreach { n =>
      val staged = java.nio.file.Paths.get(tmpPath, n)
      val fin = java.nio.file.Paths.get(finalPath, n)
      if (java.nio.file.Files.exists(staged))
        java.nio.file.Files.copy(staged, fin,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      else java.nio.file.Files.deleteIfExists(fin)
    }
    // RE-STAMP addedV to the published version: the staging dir's own
    // commit stamped these entries with STAGING version numbers (the empty
    // staged create is v1, the CTAS insert v2), and keeping them would
    // desync equality-delete sequence scoping — the first delete on the
    // new table (seq=2) would exempt files stamped addedV=2
    if (exists) {
      // a failed replace commit must not strand the already-moved staged
      // files as phantom rows in the live dir (the CTAS-conflict branch's
      // own posture; UUID names — only ours)
      try Snapshots.commitReplace(spark, finalPath, entries.map(_.copy(addedV = 0)),
        schema, parts, finalProps)
      catch { case e: Throwable =>
        entries.foreach(en => java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(finalPath, en.path)))
        throw e
      }
      resetSidecars()
    } else {
      try TableOps.commitCreate(finalPath,
        v => GeoTable.manifestJson(entries.map(_.copy(addedV = v)), Nil, parts,
          props = finalProps, schema = Some(schema)), failIfExists = true)
      catch { case _: Snapshots.TableCreateConflictException =>
        // a concurrent creator won between the exists-check and the commit:
        // CREATE OR REPLACE degrades to the replace path; plain CTAS fails —
        // but its data files were already MOVED into what is now the
        // winner's live dir: remove them (UUID names — only ours) before
        // surfacing the conflict, or they linger as phantom rows for raw
        // compatibility reads until remove_orphan_files
        if (replace) Snapshots.commitReplace(spark, finalPath,
          entries.map(_.copy(addedV = 0)), schema, parts, finalProps)
        else {
          entries.foreach(e => java.nio.file.Files.deleteIfExists(
            java.nio.file.Paths.get(finalPath, e.path)))
          throw new TableAlreadyExistsException(ident)
        }
      }
      // the fresh dir has no stale sidecars; this just carries the staged
      // xtype/geometry declarations over (the replace-degrade path above
      // needs the full reset)
      resetSidecars()
    }
    onCommit() // registry backends record the (ident -> location) mapping
    abortStagedChanges() // staged dir is spent either way
  }

  override def abortStagedChanges(): Unit = {
    // A failed CTAS job's KILLED tasks can still be flushing files into
    // the staging dir while this abort runs (task kill is asynchronous;
    // Spark's job failure does not await killed tasks) — a single-pass
    // recursive delete then hits DirectoryNotEmptyException and leaves
    // debris. Re-walk and retry briefly until the root is gone; anything
    // that outlives the retries is plain unreferenced staging data that
    // remove_orphan_files collects, so best-effort is the right contract.
    val p = java.nio.file.Paths.get(tmpPath)
    var attempt = 0
    while (java.nio.file.Files.exists(p) && attempt < 20) {
      if (attempt > 0) Thread.sleep(100)
      try Snapshots.walkDir(p)(_.toSeq).reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      catch {
        case _: java.nio.file.DirectoryNotEmptyException => ()
        case _: java.nio.file.NoSuchFileException => ()
        // Files.walk's LAZY iteration wraps a mid-walk vanished file in
        // UncheckedIOException — the very race this retry loop exists
        // for; letting it escape would fail a CTAS whose table already
        // committed
        case _: java.io.UncheckedIOException => ()
      }
      attempt += 1
    }
  }
}

/** Persisted catalog view: SQL text + resolution context + declared
  * schema, stored as `_graft_view.json` inside the view's dir.
  */
case class GraftView(ident: Identifier, sql: String, cat: String, ns: Array[String],
    viewSchema: StructType, queryCols: Array[String], aliases: Array[String],
    comments: Array[String], props: Map[String, String]) extends View {
  override def name(): String = ident.toString
  override def query(): String = sql
  override def currentCatalog(): String = cat
  override def currentNamespace(): Array[String] = ns
  override def schema(): StructType = viewSchema
  override def queryColumnNames(): Array[String] = queryCols
  override def columnAliases(): Array[String] = aliases
  override def columnComments(): Array[String] = comments
  override def properties(): util.Map[String, String] = {
    import scala.jdk.CollectionConverters._
    props.asJava
  }
}

object GraftView {
  import org.json4s._
  import org.json4s.jackson.JsonMethods
  import org.json4s.JsonDSL._

  def write(p: java.nio.file.Path, sql: String, cat: String, ns: Array[String],
      schema: StructType, queryCols: Array[String], aliases: Array[String],
      comments: Array[String], props: Map[String, String]): Unit = {
    val json: JObject =
      ("sql" -> sql) ~
      ("currentCatalog" -> cat) ~
      ("currentNamespace" -> ns.toList) ~
      ("schema" -> JsonMethods.parse(schema.json)) ~
      ("queryColumnNames" -> Option(queryCols).map(_.toList).getOrElse(Nil)) ~
      ("columnAliases" -> Option(aliases).map(_.toList).getOrElse(Nil)) ~
      ("columnComments" -> Option(comments).map(_.toList.map(Option(_).getOrElse(""))).getOrElse(Nil)) ~
      ("properties" -> props)
    // ATOMIC like every other metadata write (temp + move): a crash
    // midway through a plain write leaves a truncated JSON that bricks
    // every later loadView of an otherwise healthy view
    graft.spatial.Snapshots.atomicReplace(p,
      JsonMethods.compact(JsonMethods.render(json))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  def read(ident: Identifier, p: java.nio.file.Path): GraftView = {
    val txt = new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8)
    val j = JsonMethods.parse(txt)
    def str(field: String): String = (j \ field) match {
      case JString(s) => s
      case _ => ""
    }
    def arr(field: String): Array[String] = (j \ field) match {
      case JArray(xs) => xs.collect { case JString(s) => s }.toArray
      case _ => Array.empty
    }
    val schema = org.apache.spark.sql.types.DataType.fromJson(
      JsonMethods.compact(JsonMethods.render(j \ "schema"))).asInstanceOf[StructType]
    val props = (j \ "properties") match {
      case JObject(kv) => kv.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty[String, String]
    }
    GraftView(ident, str("sql"), str("currentCatalog"), arr("currentNamespace"),
      schema, arr("queryColumnNames"), arr("columnAliases"), arr("columnComments"), props)
  }
}
