package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The catalog's identifier-resolution seam ([[graft.sources.CatalogBackend]])
  * run through the SECOND backend: a registry "metastore"
  * (`backend=registry`) where the (identifier -> location) mapping lives
  * in a properties file instead of the directory layout — the in-sandbox
  * stand-in for the reference's catalog-impl / Hive / REST seam
  * (`SparkCatalog.java:101-104,148-154`). The whole DDL/DML surface must
  * behave identically to the filesystem backend, plus the two behaviors
  * only a metastore can offer: custom table locations and metadata-only
  * rename.
  */
class RegistryBackendSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val warehouse: String = {
    graft.spatial.Geo.install(spark)
    val wh = Files.createTempDirectory("graft_reg_wh").toString
    spark.conf.set("spark.sql.catalog.rcat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.rcat.warehouse", wh)
    spark.conf.set("spark.sql.catalog.rcat.backend", "registry")
    wh
  }

  test("DDL basics through the registry: create namespace/table, list, insert, select") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE NAMESPACE rcat.db")
    spark.sql("CREATE TABLE rcat.db.t (id BIGINT, v DOUBLE) USING graft")
    spark.sql("INSERT INTO rcat.db.t SELECT id, CAST(id AS DOUBLE) FROM range(100)")
    assert(spark.sql("SELECT * FROM rcat.db.t").count() == 100)
    assert(spark.sql("SHOW TABLES IN rcat.db").collect().map(_.getString(1)).contains("t"))
    assert(spark.sql("SHOW NAMESPACES IN rcat").collect().map(_.getString(0)).contains("db"))
    // the registry file exists and records the table
    assert(graft.sources.RegistryBackend.lookup(warehouse, Seq("db", "t")).isDefined)
  }

  test("row-level DML resolves through the registry mapping") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE rcat.db.dml (id BIGINT, v DOUBLE) USING graft")
    spark.sql("INSERT INTO rcat.db.dml SELECT id, CAST(id AS DOUBLE) FROM range(50)")
    spark.sql("DELETE FROM rcat.db.dml WHERE id >= 40")
    assert(spark.sql("SELECT count(*) AS n FROM rcat.db.dml").collect().head.getLong(0) == 40)
    spark.sql("UPDATE rcat.db.dml SET v = v + 1000 WHERE id < 5")
    assert(spark.sql("SELECT count(*) AS n FROM rcat.db.dml WHERE v >= 1000")
      .collect().head.getLong(0) == 5)
    spark.range(5).selectExpr("id + 45 AS id", "CAST(0 AS DOUBLE) AS v")
      .createOrReplaceTempView("reg_merge_src")
    spark.sql(
      """MERGE INTO rcat.db.dml AS t USING (SELECT * FROM reg_merge_src) AS s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    assert(spark.sql("SELECT count(*) AS n FROM rcat.db.dml").collect().head.getLong(0) == 45)
  }

  test("time travel, ALTER TABLE, and metadata tables through the registry") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE rcat.db.tt (id BIGINT) USING graft")
    spark.sql("INSERT INTO rcat.db.tt SELECT id FROM range(10)")
    spark.sql("INSERT INTO rcat.db.tt SELECT id + 10 FROM range(10)")
    assert(spark.sql("SELECT * FROM rcat.db.tt VERSION AS OF 2").count() == 10)
    assert(spark.sql("SELECT * FROM rcat.db.tt").count() == 20)
    spark.sql("ALTER TABLE rcat.db.tt ADD COLUMN tag STRING")
    assert(spark.table("rcat.db.tt").columns.contains("tag"))
    assert(spark.sql("SELECT * FROM rcat.db.tt.snapshots").count() >= 2)
  }

  test("CTAS commits through the registry; rename is metadata-only; drop deregisters") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE rcat.db.ct USING graft AS SELECT id, id * 2 AS d FROM range(20)")
    assert(spark.sql("SELECT * FROM rcat.db.ct").count() == 20)
    val locBefore = graft.sources.RegistryBackend.lookup(warehouse, Seq("db", "ct")).get
    spark.sql("ALTER TABLE rcat.db.ct RENAME TO db.ct2")
    // metastore rename: mapping moves, the data directory does not
    assert(graft.sources.RegistryBackend.lookup(warehouse, Seq("db", "ct")).isEmpty)
    assert(graft.sources.RegistryBackend.lookup(warehouse, Seq("db", "ct2")).contains(locBefore))
    assert(spark.sql("SELECT * FROM rcat.db.ct2").count() == 20)
    spark.sql("DROP TABLE rcat.db.ct2")
    assert(graft.sources.RegistryBackend.lookup(warehouse, Seq("db", "ct2")).isEmpty)
    assert(!spark.catalog.tableExists("rcat.db.ct2"))
  }

  test("custom LOCATION: the table lives outside the layout, DQL and DML still resolve") {
    assert(warehouse.nonEmpty)
    val elsewhere = Files.createTempDirectory("graft_reg_elsewhere").toString
    spark.sql(s"CREATE TABLE rcat.db.away (id BIGINT, v DOUBLE) USING graft " +
      s"LOCATION '$elsewhere/awaydata'")
    spark.sql("INSERT INTO rcat.db.away SELECT id, CAST(id AS DOUBLE) FROM range(30)")
    assert(graft.sources.RegistryBackend.lookup(warehouse, Seq("db", "away"))
      .exists(_.startsWith(elsewhere)), "location must be the custom one")
    // data really lives there, not under the warehouse
    assert(graft.spatial.Snapshots.isTable(s"$elsewhere/awaydata"))
    assert(!Files.exists(java.nio.file.Paths.get(warehouse, "db", "away")))
    assert(spark.sql("SELECT * FROM rcat.db.away").count() == 30)
    // DML through the custom parser resolves via the registry too
    spark.sql("DELETE FROM rcat.db.away WHERE id < 10")
    assert(spark.sql("SELECT * FROM rcat.db.away").count() == 20)
  }

  test("the registry is authoritative: a renamed-away identifier stops resolving " +
      "and cannot drop the new name's data") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE rcat.db.auth (id BIGINT) USING graft")
    spark.sql("INSERT INTO rcat.db.auth SELECT id FROM range(25)")
    spark.sql("ALTER TABLE rcat.db.auth RENAME TO db.auth2")
    // the old identifier is gone — even though the data dir still sits at
    // its conventional layout position (metadata-only rename)
    assert(!spark.catalog.tableExists("rcat.db.auth"))
    val e = intercept[Exception] { spark.sql("SELECT * FROM rcat.db.auth").collect() }
    assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      e.getMessage.toLowerCase.contains("not found"), e.getMessage)
    // DML through the graft parser must not fall back to the layout path
    val eDml = intercept[Exception] { spark.sql("DELETE FROM rcat.db.auth WHERE id < 5") }
    assert(eDml.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      eDml.getMessage.toLowerCase.contains("not found"), eDml.getMessage)
    // DROP TABLE on the old name is a no-op/failure, NOT a delete of the
    // directory the new name is registered to
    intercept[Exception] { spark.sql("DROP TABLE rcat.db.auth") }
    assert(spark.sql("SELECT * FROM rcat.db.auth2").count() == 25,
      "dropping the unregistered old name must not destroy the renamed table's data")
    spark.sql("DROP TABLE rcat.db.auth2")
  }

  test("concurrent registry updates never lose a record (generation CAS)") {
    assert(warehouse.nonEmpty)
    val wh = java.nio.file.Files.createTempDirectory("graft_reg_cas").toString
    val backend = new graft.sources.RegistryBackend(wh)
    import org.apache.spark.sql.connector.catalog.Identifier
    // 8 threads each record 10 tables concurrently: a read-modify-write
    // race would drop some keys; the CAS must keep all 80
    val threads = (0 until 8).map { t =>
      new Thread(() => (0 until 10).foreach { i =>
        backend.recordTable(Identifier.of(Array("db"), s"t${t}_$i"),
          java.nio.file.Paths.get(wh, "db", s"t${t}_$i"))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val listed = backend.listTables(Array("db"), _ => true).map(_.name()).toSet
    assert(listed.size == 80, s"lost ${80 - listed.size} records to the race")
  }

  test("CTAS honors LOCATION under the registry backend (same as plain CREATE)") {
    assert(warehouse.nonEmpty)
    val elsewhere = Files.createTempDirectory("graft_reg_ctas_loc").toString
    spark.sql(s"CREATE TABLE rcat.db.ctl USING graft LOCATION '$elsewhere/ctldata' " +
      "AS SELECT id, id * 3 AS v FROM range(15)")
    assert(graft.sources.RegistryBackend.lookup(warehouse, Seq("db", "ctl"))
      .exists(_.startsWith(elsewhere)), "CTAS must register the custom location")
    assert(graft.spatial.Snapshots.isTable(s"$elsewhere/ctldata"))
    assert(!Files.exists(java.nio.file.Paths.get(warehouse, "db", "ctl")))
    assert(spark.sql("SELECT * FROM rcat.db.ctl").count() == 15)
    spark.sql("DROP TABLE rcat.db.ctl")
  }

  test("rename re-validates INSIDE the CAS: an occupied target fails, a " +
      "vanished source fails — no silent overwrite of a live registration") {
    import org.apache.spark.sql.connector.catalog.Identifier
    val wh = java.nio.file.Files.createTempDirectory("graft_reg_rename").toString
    val backend = new graft.sources.RegistryBackend(wh)
    val x = Identifier.of(Array("db"), "x")
    val y = Identifier.of(Array("db"), "y")
    val z = Identifier.of(Array("db"), "z")
    backend.recordTable(x, java.nio.file.Paths.get(wh, "db", "x"))
    backend.recordTable(y, java.nio.file.Paths.get(wh, "db", "y"))
    backend.renameTable(x, z)
    // the catalog's pre-check is OUTSIDE the CAS; a concurrent rename to
    // the same target must be rejected by the update itself
    intercept[org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException] {
      backend.renameTable(y, z)
    }
    assert(backend.registeredLocation(y).isDefined, "loser keeps its registration")
    assert(backend.registeredLocation(z).get.endsWith(java.nio.file.Paths.get("db", "x")),
      "winner's mapping untouched")
    // source dropped concurrently → NoSuchTable, not a phantom re-create
    intercept[org.apache.spark.sql.catalyst.analysis.NoSuchTableException] {
      backend.renameTable(x, Identifier.of(Array("db"), "w"))
    }
  }

  test("table names containing dots never collide with nested namespaces " +
      "(registry keys escape identifier parts)") {
    import org.apache.spark.sql.connector.catalog.Identifier
    val wh = java.nio.file.Files.createTempDirectory("graft_reg_dots").toString
    val backend = new graft.sources.RegistryBackend(wh)
    val dotted = Identifier.of(Array("db"), "a.b") // table `a.b` in ns db
    val nested = Identifier.of(Array("db", "a"), "b") // table b in ns db.a
    backend.recordTable(dotted, java.nio.file.Paths.get(wh, "loc1"))
    backend.recordTable(nested, java.nio.file.Paths.get(wh, "loc2"))
    assert(backend.registeredLocation(dotted).get.endsWith("loc1"))
    assert(backend.registeredLocation(nested).get.endsWith("loc2"))
    // listings keep them apart
    assert(backend.listTables(Array("db"), _ => true).map(_.name()).toSet == Set("a.b"))
    assert(backend.listTables(Array("db", "a"), _ => true).map(_.name()).toSet == Set("b"))
    // dropping one never touches the other
    backend.forgetTable(dotted)
    assert(backend.registeredLocation(dotted).isEmpty)
    assert(backend.registeredLocation(nested).get.endsWith("loc2"))
  }

  test("dropNamespace: non-empty refuses without cascade, cascade wipes and deregisters") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE NAMESPACE rcat.tmpns")
    spark.sql("CREATE TABLE rcat.tmpns.x (id BIGINT) USING graft")
    val e = intercept[Exception] { spark.sql("DROP NAMESPACE rcat.tmpns") }
    assert(e.getMessage.toLowerCase.contains("not empty") ||
      e.getMessage.contains("NON_EMPTY"), e.getMessage)
    spark.sql("DROP NAMESPACE rcat.tmpns CASCADE")
    assert(graft.sources.RegistryBackend.lookup(warehouse, Seq("tmpns", "x")).isEmpty)
    assert(!spark.sql("SHOW NAMESPACES IN rcat").collect()
      .map(_.getString(0)).contains("tmpns"))
  }

  test("recordTable re-checks INSIDE the CAS: a raced register to a DIFFERENT " +
      "location fails ALREADY_EXISTS (never silently orphans the first " +
      "table); the same location stays idempotent") {
    import java.nio.file.Paths
    val wh = Files.createTempDirectory("graft_reg_race").toString
    val b = new graft.sources.RegistryBackend(wh)
    val id = org.apache.spark.sql.connector.catalog.Identifier.of(Array("db"), "t")
    val loc = Paths.get(wh, "db", "t")
    b.recordTable(id, loc)
    b.recordTable(id, loc) // same location: idempotent (REPLACE TABLE)
    intercept[org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException] {
      b.recordTable(id, Paths.get(wh, "elsewhere"))
    }
    assert(b.registeredLocation(id).contains(loc.toAbsolutePath),
      "the FIRST registration must survive the lost race")
  }
}
