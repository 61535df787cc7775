package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The catalog's identifier-resolution seam run through the THIRD
  * backend: an external REST catalog service (`backend=rest`), the
  * network counterpart of the reference's catalog-impl / REST seam
  * (`SparkCatalog.java:101-104,148-154`). An in-process
  * [[graft.sources.RestCatalogServer]] on an ephemeral localhost port
  * plays the service (JDK HttpServer; no external network), and the
  * client is configured with NOTHING but the service URI — the warehouse
  * root arrives via `GET /v1/config`, like the Iceberg REST client's
  * config overrides. Same DDL/DML matrix as the registry backend, plus
  * the property that makes an external catalog worth having: a second
  * client against the same service sees the first client's tables.
  */
class RestBackendSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val server = {
    graft.spatial.Geo.install(spark)
    val wh = Files.createTempDirectory("graft_rest_wh").toString
    val srv = new graft.sources.RestCatalogServer(wh)
    val uri = srv.start()
    spark.conf.set("spark.sql.catalog.restcat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.restcat.backend", "rest")
    spark.conf.set("spark.sql.catalog.restcat.uri", uri)
    // deliberately NO spark.sql.catalog.restcat.warehouse: it must come
    // from the service's /v1/config
    (srv, uri, wh)
  }
  private def uri = server._2
  private def warehouse = server._3

  test("DDL basics over REST: create namespace/table, list, insert, select — " +
      "warehouse comes from /v1/config, not local conf") {
    assert(uri.nonEmpty) // forces server start + catalog conf registration
    spark.sql("CREATE NAMESPACE restcat.db")
    spark.sql("CREATE TABLE restcat.db.t (id BIGINT, v DOUBLE) USING graft")
    spark.sql("INSERT INTO restcat.db.t SELECT id, CAST(id AS DOUBLE) FROM range(100)")
    assert(spark.sql("SELECT * FROM restcat.db.t").count() == 100)
    assert(spark.sql("SHOW TABLES IN restcat.db").collect().map(_.getString(1)).contains("t"))
    assert(spark.sql("SHOW NAMESPACES IN restcat").collect().map(_.getString(0)).contains("db"))
    // the service records the table; data landed under the advertised root
    assert(graft.sources.RestBackend.lookup(uri, Seq("db", "t")).exists(_.startsWith(warehouse)))
  }

  test("row-level DML resolves through the REST service") {
    assert(uri.nonEmpty)
    spark.sql("CREATE TABLE restcat.db.dml (id BIGINT, v DOUBLE) USING graft")
    spark.sql("INSERT INTO restcat.db.dml SELECT id, CAST(id AS DOUBLE) FROM range(50)")
    spark.sql("DELETE FROM restcat.db.dml WHERE id >= 40")
    assert(spark.sql("SELECT count(*) AS n FROM restcat.db.dml").collect().head.getLong(0) == 40)
    spark.sql("UPDATE restcat.db.dml SET v = v + 1000 WHERE id < 5")
    assert(spark.sql("SELECT count(*) AS n FROM restcat.db.dml WHERE v >= 1000")
      .collect().head.getLong(0) == 5)
    spark.range(5).selectExpr("id + 45 AS id", "CAST(0 AS DOUBLE) AS v")
      .createOrReplaceTempView("rest_merge_src")
    spark.sql(
      """MERGE INTO restcat.db.dml AS t USING (SELECT * FROM rest_merge_src) AS s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    assert(spark.sql("SELECT count(*) AS n FROM restcat.db.dml").collect().head.getLong(0) == 45)
  }

  test("rename over REST is metadata-only; the old identifier stops resolving " +
      "and cannot drop the new name's data") {
    assert(uri.nonEmpty)
    spark.sql("CREATE TABLE restcat.db.auth (id BIGINT) USING graft")
    spark.sql("INSERT INTO restcat.db.auth SELECT id FROM range(25)")
    val locBefore = graft.sources.RestBackend.lookup(uri, Seq("db", "auth")).get
    spark.sql("ALTER TABLE restcat.db.auth RENAME TO db.auth2")
    // mapping moved, data directory did not
    assert(graft.sources.RestBackend.lookup(uri, Seq("db", "auth")).isEmpty)
    assert(graft.sources.RestBackend.lookup(uri, Seq("db", "auth2")).contains(locBefore))
    assert(!spark.catalog.tableExists("restcat.db.auth"))
    val e = intercept[Exception] { spark.sql("SELECT * FROM restcat.db.auth").collect() }
    assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      e.getMessage.toLowerCase.contains("not found"), e.getMessage)
    // DML through the graft parser must not fall back to the layout path
    val eDml = intercept[Exception] { spark.sql("DELETE FROM restcat.db.auth WHERE id < 5") }
    assert(eDml.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      eDml.getMessage.toLowerCase.contains("not found"), eDml.getMessage)
    intercept[Exception] { spark.sql("DROP TABLE restcat.db.auth") }
    assert(spark.sql("SELECT * FROM restcat.db.auth2").count() == 25,
      "dropping the unregistered old name must not destroy the renamed table's data")
  }

  test("CREATE TABLE … LOCATION and CTAS LOCATION are honored (metastore semantics)") {
    assert(uri.nonEmpty)
    val elsewhere = Files.createTempDirectory("graft_rest_elsewhere").toString
    spark.sql(s"CREATE TABLE restcat.db.away (id BIGINT) USING graft " +
      s"LOCATION '$elsewhere/awaydata'")
    spark.sql("INSERT INTO restcat.db.away SELECT id FROM range(30)")
    assert(graft.sources.RestBackend.lookup(uri, Seq("db", "away")).exists(_.startsWith(elsewhere)))
    assert(graft.spatial.Snapshots.isTable(s"$elsewhere/awaydata"))
    assert(!Files.exists(java.nio.file.Paths.get(warehouse, "db", "away")))
    assert(spark.sql("SELECT * FROM restcat.db.away").count() == 30)
    spark.sql(s"CREATE TABLE restcat.db.ctl USING graft LOCATION '$elsewhere/ctldata' " +
      "AS SELECT id, id * 3 AS v FROM range(15)")
    assert(graft.sources.RestBackend.lookup(uri, Seq("db", "ctl")).exists(_.startsWith(elsewhere)))
    assert(spark.sql("SELECT * FROM restcat.db.ctl").count() == 15)
    spark.sql("DROP TABLE restcat.db.away")
    spark.sql("DROP TABLE restcat.db.ctl")
  }

  test("a second client against the same service sees the first client's tables") {
    assert(uri.nonEmpty)
    spark.sql("CREATE TABLE restcat.db.shared (id BIGINT) USING graft")
    spark.sql("INSERT INTO restcat.db.shared SELECT id FROM range(10)")
    // an independent RestBackend (as another Spark driver would build)
    val other = new graft.sources.RestBackend(uri)
    assert(other.warehouse == warehouse, "config must advertise the same warehouse")
    import org.apache.spark.sql.connector.catalog.Identifier
    val ident = Identifier.of(Array("db"), "shared")
    assert(other.registeredLocation(ident).isDefined)
    assert(other.listTables(Array("db"), _ => true).map(_.name()).contains("shared"))
    // and a table the OTHER client registers is visible to the session's
    // catalog immediately (shared-metastore semantics, no local caching)
    val extraLoc = java.nio.file.Paths.get(warehouse, "db", "made_elsewhere")
    // build a real one-row graft table at that location (parquet data +
    // graft manifest), then register it through the OTHER client
    spark.range(1).selectExpr("id").coalesce(1)
      .write.mode("overwrite").parquet(extraLoc.toString)
    graft.spatial.GeoTable.writeManifest(spark, extraLoc.toString)
    other.recordTable(Identifier.of(Array("db"), "made_elsewhere"), extraLoc)
    assert(spark.sql("SELECT * FROM restcat.db.made_elsewhere").count() == 1)
  }

  test("time travel, ALTER TABLE, and metadata tables through the REST catalog") {
    assert(uri.nonEmpty)
    spark.sql("CREATE TABLE restcat.db.tt (id BIGINT) USING graft")
    spark.sql("INSERT INTO restcat.db.tt SELECT id FROM range(10)")
    spark.sql("INSERT INTO restcat.db.tt SELECT id + 10 FROM range(10)")
    assert(spark.sql("SELECT * FROM restcat.db.tt VERSION AS OF 2").count() == 10)
    spark.sql("ALTER TABLE restcat.db.tt ADD COLUMN tag STRING")
    assert(spark.table("restcat.db.tt").columns.contains("tag"))
    assert(spark.sql("SELECT * FROM restcat.db.tt.snapshots").count() >= 2)
  }

  test("dropNamespace over REST: non-empty refuses without cascade, cascade " +
      "deregisters every table (non-purging, metastore semantics)") {
    assert(uri.nonEmpty)
    spark.sql("CREATE NAMESPACE restcat.tmpns")
    spark.sql("CREATE TABLE restcat.tmpns.x (id BIGINT) USING graft")
    spark.sql("INSERT INTO restcat.tmpns.x SELECT id FROM range(5)")
    val dataDir = java.nio.file.Paths.get(
      graft.sources.RestBackend.lookup(uri, Seq("tmpns", "x")).get)
    val e = intercept[Exception] { spark.sql("DROP NAMESPACE restcat.tmpns") }
    assert(e.getMessage.toLowerCase.contains("not empty") ||
      e.getMessage.contains("NON_EMPTY"), e.getMessage)
    spark.sql("DROP NAMESPACE restcat.tmpns CASCADE")
    assert(graft.sources.RestBackend.lookup(uri, Seq("tmpns", "x")).isEmpty)
    // cascade drops through non-purging dropTable: data files remain
    // (the reference's DROP-without-PURGE posture, SparkCatalog.java:354)
    assert(graft.spatial.Snapshots.isTable(dataDir.toString),
      "cascade must deregister, not purge")
    assert(!spark.sql("SHOW NAMESPACES IN restcat").collect()
      .map(_.getString(0)).contains("tmpns"))
  }

  test("DROP TABLE deregisters without purging; re-CREATE gets a fresh location; " +
      "DROP TABLE PURGE deletes data unless gc.enabled=false") {
    assert(uri.nonEmpty)
    spark.sql("CREATE TABLE restcat.db.dp (id BIGINT) USING graft")
    spark.sql("INSERT INTO restcat.db.dp SELECT id FROM range(9)")
    val loc1 = java.nio.file.Paths.get(graft.sources.RestBackend.lookup(uri, Seq("db", "dp")).get)
    spark.sql("DROP TABLE restcat.db.dp")
    assert(graft.sources.RestBackend.lookup(uri, Seq("db", "dp")).isEmpty)
    assert(graft.spatial.Snapshots.isTable(loc1.toString),
      "plain DROP must not delete data")
    // re-CREATE must NOT resurrect the dropped rows: fresh unique location
    spark.sql("CREATE TABLE restcat.db.dp (id BIGINT) USING graft")
    val loc2 = java.nio.file.Paths.get(graft.sources.RestBackend.lookup(uri, Seq("db", "dp")).get)
    assert(loc2 != loc1, "re-CREATE over leftover data must take a fresh location")
    assert(spark.sql("SELECT * FROM restcat.db.dp").count() == 0)
    spark.sql("INSERT INTO restcat.db.dp SELECT id FROM range(3)")
    // PURGE deletes the data directory and deregisters
    spark.sql("DROP TABLE restcat.db.dp PURGE")
    assert(graft.sources.RestBackend.lookup(uri, Seq("db", "dp")).isEmpty)
    assert(!Files.exists(loc2), "PURGE must delete the data")
    // gc.enabled=false refuses the purge (zero-copy clones may share files)
    spark.sql("CREATE TABLE restcat.db.nogc (id BIGINT) USING graft " +
      "TBLPROPERTIES ('gc.enabled' = 'false')")
    val eGc = intercept[Exception] { spark.sql("DROP TABLE restcat.db.nogc PURGE") }
    assert(eGc.getMessage.contains("GC is disabled"), eGc.getMessage)
    assert(spark.catalog.tableExists("restcat.db.nogc"),
      "a refused purge must leave the table intact")
    spark.sql("DROP TABLE restcat.db.nogc")
  }

  test("GraftSessionCatalog activates its graft side from backend=rest + uri alone " +
      "(no local warehouse conf)") {
    assert(uri.nonEmpty)
    val sc = new graft.sources.GraftSessionCatalog
    val opts = new java.util.HashMap[String, String]()
    opts.put("backend", "rest")
    opts.put("uri", uri)
    sc.initialize("spark_catalog",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts))
    import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog}
    import org.apache.spark.sql.connector.expressions.Transform
    import org.apache.spark.sql.types.StructType
    // minimal knows-nothing delegate (the built-in session catalog's role)
    sc.setDelegateCatalog(new TableCatalog {
      override def name(): String = "stub"
      override def initialize(n: String,
          o: org.apache.spark.sql.util.CaseInsensitiveStringMap): Unit = ()
      override def listTables(ns: Array[String]): Array[Identifier] = Array.empty
      override def loadTable(ident: Identifier): Table =
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
      override def createTable(ident: Identifier, schema: StructType,
          partitions: Array[Transform], props: java.util.Map[String, String]): Table =
        throw new UnsupportedOperationException
      override def alterTable(ident: Identifier,
          changes: org.apache.spark.sql.connector.catalog.TableChange*): Table =
        throw new UnsupportedOperationException
      override def dropTable(ident: Identifier): Boolean = false
      override def renameTable(o: Identifier, n: Identifier): Unit =
        throw new UnsupportedOperationException
      override def tableExists(ident: Identifier): Boolean = false
    })
    // graft side is live: an earlier test's REST-registered table resolves
    assert(sc.tableExists(Identifier.of(Array("db"), "t")))
    assert(!sc.tableExists(Identifier.of(Array("db"), "definitely_absent")))
  }

  test("CALL procedures resolve identifier table args through the REST service") {
    assert(uri.nonEmpty)
    spark.sql("CREATE TABLE restcat.db.proc (id BIGINT) USING graft")
    spark.sql("INSERT INTO restcat.db.proc SELECT id FROM range(12)")
    val r = spark.sql("CALL restcat.system.compute_table_stats('db.proc')").collect()
    assert(r.nonEmpty)
    val loc = graft.sources.RestBackend.lookup(uri, Seq("db", "proc")).get
    assert(graft.spatial.Snapshots.readProps(loc).contains("stats.ndv.id"),
      "stats must land on the service-resolved location")
  }

  test("concurrent clients never lose a record (server-side generation CAS)") {
    assert(uri.nonEmpty)
    import org.apache.spark.sql.connector.catalog.Identifier
    // 4 independent clients × 10 registrations race through HTTP; the
    // server serializes them through the registry CAS — read-modify-write
    // races would drop keys
    val threads = (0 until 4).map { t =>
      new Thread(() => {
        val c = new graft.sources.RestBackend(uri)
        (0 until 10).foreach { i =>
          c.recordTable(Identifier.of(Array("racedb"), s"t${t}_$i"),
            java.nio.file.Paths.get(warehouse, "racedb", s"t${t}_$i"))
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val listed = new graft.sources.RestBackend(uri)
      .listTables(Array("racedb"), _ => true).map(_.name()).toSet
    assert(listed.size == 40, s"lost ${40 - listed.size} records to the race")
  }

  test("a 5xx service error surfaces as an error, never as 'table absent' " +
      "(absence during an outage would let CREATE re-register a live table)") {
    // a degraded service: /v1/config answers, everything else is 500
    val broken = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    broken.createContext("/v1", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body =
        if (ex.getRequestURI.getPath == "/v1/config")
          s"""{"defaults":{},"overrides":{"warehouse":"$warehouse"}}"""
        else """{"error":"internal"}"""
      val code = if (ex.getRequestURI.getPath == "/v1/config") 200 else 500
      val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ex.sendResponseHeaders(code, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    broken.start()
    try {
      val b = new graft.sources.RestBackend(
        s"http://127.0.0.1:${broken.getAddress.getPort}")
      val e = intercept[IllegalStateException] {
        b.registeredLocation(org.apache.spark.sql.connector.catalog.Identifier.of(
          Array("db"), "t"))
      }
      assert(e.getMessage.contains("500"), e.getMessage)
    } finally broken.stop(0)
  }

  test("register of an already-registered identifier at a DIFFERENT location is " +
      "409 — a lost CREATE race cannot silently orphan the winner's registration") {
    assert(uri.nonEmpty)
    import org.apache.spark.sql.connector.catalog.Identifier
    val b = new graft.sources.RestBackend(uri)
    val ident = Identifier.of(Array("db"), "race409")
    val loc1 = java.nio.file.Paths.get(warehouse, "db", "race409_first")
    val loc2 = java.nio.file.Paths.get(warehouse, "db", "race409_second")
    b.recordTable(ident, loc1)
    // the loser of the CREATE race (different location) must see the
    // same exception a lost local CREATE raises, and the winner's
    // registration must survive untouched
    intercept[org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException] {
      b.recordTable(ident, loc2)
    }
    assert(b.registeredLocation(ident).contains(loc1))
    // re-registering the SAME location stays idempotent (REPLACE TABLE
    // commits re-register their own location)
    b.recordTable(ident, loc1)
    assert(b.registeredLocation(ident).contains(loc1))
    b.forgetTable(ident)
  }

  test("the service persists across restarts (state lives in the registry file)") {
    assert(uri.nonEmpty)
    spark.sql("CREATE TABLE restcat.db.durable (id BIGINT) USING graft")
    spark.sql("INSERT INTO restcat.db.durable SELECT id FROM range(7)")
    // a NEW server over the same warehouse (as after a service restart)
    val srv2 = new graft.sources.RestCatalogServer(warehouse)
    val uri2 = srv2.start()
    try {
      assert(graft.sources.RestBackend.lookup(uri2, Seq("db", "durable")).isDefined)
      val b2 = new graft.sources.RestBackend(uri2)
      assert(b2.listTables(Array("db"), _ => true).map(_.name()).contains("durable"))
    } finally srv2.stop()
  }

  test("register/rename conflicts surface as the catalog contract's analysis " +
      "exceptions ACROSS THE WIRE; the empty namespace routes") {
    import java.nio.file.Paths
    import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
    import org.apache.spark.sql.connector.catalog.Identifier
    assert(uri.nonEmpty)
    val b = new graft.sources.RestBackend(uri)
    val ns = Array("racedb")
    b.createNamespace(ns)
    val id = Identifier.of(ns, "t1")
    val loc = Paths.get(warehouse, "racedb", "t1")
    b.recordTable(id, loc)
    b.recordTable(id, loc) // same location: idempotent
    // a raced register to a DIFFERENT location = ALREADY_EXISTS, not a
    // silent overwrite and not a generic HTTP 500
    intercept[TableAlreadyExistsException] {
      b.recordTable(id, Paths.get(warehouse, "racedb", "other"))
    }
    assert(b.registeredLocation(id).contains(loc.toAbsolutePath))
    // rename conflicts map 409/404 back to the proper exceptions
    val id2 = Identifier.of(ns, "t2")
    b.recordTable(id2, Paths.get(warehouse, "racedb", "t2"))
    intercept[TableAlreadyExistsException] { b.renameTable(id, id2) }
    intercept[NoSuchTableException] {
      b.renameTable(Identifier.of(ns, "ghost"), Identifier.of(ns, "t3"))
    }
    // the EMPTY namespace (top-level tables) is routable: an empty URL
    // segment would collapse in the server's path split and 404 all of it
    val top = Identifier.of(Array.empty[String], "toplevel")
    b.recordTable(top, Paths.get(warehouse, "toplevel"))
    assert(b.registeredLocation(top).isDefined)
    assert(b.listTables(Array.empty[String], _ => true).contains(top))
    b.forgetTable(top)
    assert(b.registeredLocation(top).isEmpty)
  }
}
