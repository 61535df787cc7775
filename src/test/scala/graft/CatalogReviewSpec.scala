package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.spatial.Snapshots

/** Round-17 review findings over the catalog / delete-state surface, each
  * pinned: REPLACE resets stale table sidecars, binary-keyed equality
  * deletes match, suffix-collision coverage merges, registry root
  * namespace exists, explicit LOCATION cannot hijack another table,
  * view/namespace strictness.
  */
class CatalogReviewSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def mkCat(name: String): String = {
    val wh = Files.createTempDirectory(s"graft_rev_$name").toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    wh
  }

  test("REPLACE TABLE resets the evolution log: a renamed-then-replaced " +
      "column reads its real values, not NULLs through the stale mapping") {
    val wh = mkCat("revrep")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS revrep.db")
    spark.sql("CREATE TABLE revrep.db.r (a BIGINT)")
    spark.sql("INSERT INTO revrep.db.r SELECT id FROM range(3)")
    // rename a -> b: the evolution log now maps logical b -> physical a
    graft.spatial.TableSchema.renameColumn(spark, s"$wh/db/r", "a", "b")
    assert(spark.table("revrep.db.r").columns.toSeq == Seq("b"))
    // REPLACE with a column PHYSICALLY named b: the stale log must not
    // remap it back onto the dead physical name (every read NULL)
    spark.sql("CREATE OR REPLACE TABLE revrep.db.r AS SELECT 'x' AS b")
    val got = spark.table("revrep.db.r").collect().map(_.getString(0))
    assert(got.toSeq == Seq("x"),
      s"replaced column must serve its real values, got ${got.mkString(",")}")
    assert(!Files.exists(java.nio.file.Paths.get(s"$wh/db/r",
      graft.spatial.TableSchema.SchemaName)),
      "the replaced table's stale evolution log must be gone")
  }

  test("BINARY-keyed equality deletes match rows (value equality, not " +
      "array reference identity) on the DSv2 read path") {
    val wh = mkCat("revbin")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS revbin.db")
    spark.sql("CREATE TABLE revbin.db.b (id BIGINT, k BINARY)")
    spark.sql("INSERT INTO revbin.db.b SELECT id, " +
      "CAST(concat('v', id) AS BINARY) FROM range(6)")
    val keys = spark.sql(
      "SELECT CAST(concat('v', id) AS BINARY) AS k FROM range(6) WHERE id IN (1, 4)")
    Snapshots.deleteByEquality(spark, s"$wh/db/b", keys)
    // catalog (DSv2 executor-side MoR) read
    val ids = spark.table("revbin.db.b").select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(0L, 2L, 3L, 5L),
      s"binary-keyed equality delete must filter rows, got $ids")
    // and the V1 path agrees
    assert(Snapshots.read(spark, s"$wh/db/b").count() == 4)
  }

  test("suffix-collision positional coverage MERGES instead of keeping an " +
      "arbitrary first entry") {
    import graft.sources.{DeleteFiles, DeleteFileRef}
    val r1 = DeleteFileRef("/d/del1.parquet", 1L)
    val r2 = DeleteFileRef("/d/del2.parquet", 2L)
    val idx = DeleteFiles.suffixIndex(Map(
      "/mnt/old/tbl/p.parquet" -> Seq(r1),
      "/data/tbl/p.parquet" -> Seq(r2)))
    assert(idx("p.parquet").toSet == Set(r1, r2),
      s"both roots' delete files must attach: ${idx("p.parquet")}")
    assert(idx("tbl/p.parquet").toSet == Set(r1, r2))
  }

  test("registry backend: the ROOT namespace exists (SHOW TABLES against " +
      "the default namespace works), and explicit LOCATION cannot hijack " +
      "another registered table's directory") {
    val wh = mkCat("revreg")
    spark.conf.set("spark.sql.catalog.revreg.backend", "registry")
    // root namespace: must not throw NoSuchNamespace
    assert(spark.sql("SHOW TABLES IN revreg").collect() != null)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS revreg.db")
    spark.sql("CREATE TABLE revreg.db.t1 (id BIGINT)")
    spark.sql("INSERT INTO revreg.db.t1 SELECT id FROM range(4)")
    val t1loc = java.nio.file.Paths.get(wh, "db", "t1")
    assert(graft.spatial.Snapshots.isTable(t1loc.toString))
    // a second ident pointed at t1's directory would silently replace its
    // data and make either DROP PURGE destroy the other table
    val e = intercept[Exception] {
      spark.sql(s"CREATE OR REPLACE TABLE revreg.db.t2 LOCATION '$t1loc' " +
        "AS SELECT 1 AS x")
    }
    assert(e.getMessage.contains("already the location"), e.getMessage)
    assert(spark.table("revreg.db.t1").count() == 4,
      "t1's data must be untouched by the refused hijack")
    // authority-bearing LOCATION refuses instead of silently dropping the
    // authority
    val e2 = intercept[Exception] {
      spark.sql("CREATE TABLE revreg.db.t3 (id BIGINT) LOCATION 's3a://bucket/t3'")
    }
    assert(e2.getMessage.contains("authority"), e2.getMessage)
  }

  test("view strictness: SHOW VIEWS in a missing namespace errors; a " +
      "namespace holding views refuses a non-cascade drop under the " +
      "registry backend") {
    mkCat("revview")
    spark.conf.set("spark.sql.catalog.revview.backend", "registry")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS revview.ns")
    spark.sql("CREATE VIEW revview.ns.v AS SELECT 1 AS one")
    // straight at the ViewCatalog surface: SHOW VIEWS may normalize the
    // error away, but the catalog contract is NoSuchNamespaceException
    val vc = spark.sessionState.catalogManager.catalog("revview")
      .asInstanceOf[graft.sources.GraftCatalog]
    intercept[org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException] {
      vc.listViews("nosuch")
    }
    val e = intercept[Exception] { spark.sql("DROP NAMESPACE revview.ns") }
    assert(e.getMessage.toLowerCase.contains("not empty"), e.getMessage)
    assert(spark.sql("SELECT * FROM revview.ns.v").count() == 1,
      "the refused drop must leave the view intact")
    spark.sql("DROP VIEW revview.ns.v")
    spark.sql("DROP NAMESPACE revview.ns")
  }
}
