package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.spatial.{GeoTable, Views}

/** Edge semantics pinned by the round-14 operator review: the as-of
  * join's NULL-value purchases and stored-view resolution isolation.
  */
class OperatorEdgeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("ev_asof_join pairs the LATEST purchase's id with ITS value — a " +
      "NULL-valued latest purchase returns NULL (ASOF semantics), never " +
      "an earlier purchase's value") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_asof").toString
    // P1(ts=1, value=3.0), P2(ts=2, value=NULL), click at ts=3: the
    // correct answer pairs P2's id with P2's NULL value
    Seq(
      (1L, 1L, 10L, "purchase", Some(3.0), ""),
      (2L, 2L, 10L, "purchase", None, ""),
      (3L, 3L, 10L, "click", Some(0.0), ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = graft.operators.Events.queries("ev_asof_join")(spark, dir)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 3L && r.getLong(2) == 2L,
      s"the click must see purchase 2: $r")
    assert(r.isNullAt(3),
      s"the NULL-valued latest purchase must yield NULL, not an earlier " +
        s"purchase's value: $r")
  }

  test("stored-view resolution binds per call: a user's own `graft_table` " +
      "temp view survives, and views over two different tables answer " +
      "from their own table") {
    val base = Files.createTempDirectory("graft_views_iso").toString
    val tA = s"$base/a"; val tB = s"$base/b"
    spark.range(3).toDF("id").write.parquet(tA)
    spark.range(7).toDF("id").write.parquet(tB)
    GeoTable.writeManifest(spark, tA)
    GeoTable.writeManifest(spark, tB)
    // the user's own temp view of the convention name must not be touched
    spark.range(99).toDF("id").createOrReplaceTempView("graft_table")
    Views.createOrReplace(spark, tA, "v", "SELECT count(*) AS c FROM graft_table")
    Views.createOrReplace(spark, tB, "v", "SELECT count(*) AS c FROM graft_table")
    assert(Views.read(spark, tA, "v").collect().head.getLong(0) == 3L)
    assert(Views.read(spark, tB, "v").collect().head.getLong(0) == 7L)
    assert(spark.sql("SELECT count(*) FROM graft_table").collect().head.getLong(0) == 99L,
      "the user's graft_table temp view must survive view resolution")
    spark.catalog.dropTempView("graft_table")
    // installed views keep answering after the per-call binding is dropped
    val names = Views.installAll(spark, tB)
    assert(names == Seq("v"))
    assert(spark.sql("SELECT * FROM v").collect().head.getLong(0) == 7L)
    // digit-leading names are rejected at CREATE (Spark can't register them)
    val e = intercept[IllegalArgumentException] {
      Views.createOrReplace(spark, tA, "1v", "SELECT 1 AS one")
    }
    assert(e.getMessage.contains("bad view name"))
    spark.catalog.dropTempView("v")
  }

  test("equality deletes survive a later column RENAME on BOTH read paths " +
      "(delete cols record the at-delete-time physical name; silently " +
      "dropping the spec would resurrect deleted rows)") {
    import spark.implicits._
    import graft.spatial.{Snapshots, TableSchema}
    val dir = Files.createTempDirectory("graft_eq_rn").toString + "/t"
    spark.range(20).selectExpr("id", "id % 5 AS k").write.parquet(dir)
    GeoTable.writeManifest(spark, dir)
    Snapshots.deleteByEquality(spark, dir, Seq(2L).toDF("k"))
    assert(Snapshots.read(spark, dir).count() == 16)
    TableSchema.renameColumn(spark, dir, "k", "kind")
    // V1 path: remaps k -> kind through the evolution log
    val v1 = Snapshots.read(spark, dir)
    assert(v1.columns.contains("kind"))
    assert(v1.count() == 16,
      "the equality delete must keep applying after the rename (V1)")
    // DSv2 path: same remap through resolveEqCol/bindEqSpec
    val v2 = spark.read.format("graft").load(dir)
    assert(v2.count() == 16,
      "the equality delete must keep applying after the rename (DSv2)")
    assert(v2.filter("kind = 2").count() == 0)
  }

  test("LEGACY seq=0 equality deletes (manifests without a seq stamp) " +
      "apply on the DSv2 path like the V1 path: seq 0 means every file") {
    import spark.implicits._
    import graft.spatial.Snapshots
    val dir = Files.createTempDirectory("graft_eq_legacy").toString + "/t"
    spark.range(20).selectExpr("id", "id % 5 AS k").write.parquet(dir)
    GeoTable.writeManifest(spark, dir)
    Snapshots.deleteByEquality(spark, dir, Seq(3L).toDF("k"))
    // surgically strip the seq stamp from the committed manifest — the
    // legacy-manifest shape parseEqDeletes defaults to seq = 0
    val v = Snapshots.mainVersion(dir)
    val mp = java.nio.file.Paths.get(dir, s"_graft_manifest_v$v.json")
    val txt = new String(Files.readAllBytes(mp), "UTF-8")
    val stripped = txt.replaceAll("""("cols":\[[^\]]*\]),"seq":\d+""", "$1")
    assert(stripped != txt, "fixture must strip a seq stamp")
    Files.write(mp, stripped.getBytes("UTF-8"))
    assert(Snapshots.readEqDeletes(dir).exists(_.seq == 0), "fixture is legacy")
    assert(Snapshots.read(spark, dir).count() == 16, "V1 applies seq=0")
    assert(spark.read.format("graft").load(dir).count() == 16,
      "DSv2 must apply a legacy seq=0 equality delete (applies to every file)")
  }

  test("GeoTable.write OVERWRITE clears a previously declared geometry " +
      "encoding: the props sidecar survives the data overwrite and a stale " +
      "entry would decode fresh WKB through the wrong codec") {
    import graft.spatial.GeometryFields
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_enc_clear").toString + "/t"
    val df = spark.range(5).selectExpr("id",
      "st_point(CAST(id AS DOUBLE), CAST(id AS DOUBLE)) AS g")
    GeoTable.write(df, dir, "g", storageEncoding = Some("wkt"))
    assert(GeometryFields.get(dir) == Map("g" -> "wkt"))
    GeoTable.write(df, dir, "g") // overwrite, no declared encoding
    assert(GeometryFields.get(dir).isEmpty,
      "the stale wkt declaration must clear on an encoding-less overwrite")
    assert(GeoTable.read(spark, dir).count() == 5)
  }

  test("a RE-ADDED column under a renamed-away name must not shadow an " +
      "equality delete: physical-first resolution targets the renamed " +
      "column, not the new all-NULL one") {
    import spark.implicits._
    import graft.spatial.{Snapshots, TableSchema}
    val dir = Files.createTempDirectory("graft_eq_shadow").toString + "/t"
    spark.range(20).selectExpr("id", "id % 5 AS k").write.parquet(dir)
    GeoTable.writeManifest(spark, dir)
    Snapshots.deleteByEquality(spark, dir, Seq(2L).toDF("k"))
    TableSchema.renameColumn(spark, dir, "k", "kind")
    // a brand-new column re-using the OLD logical name (fresh physical)
    TableSchema.addColumn(spark, dir, "k",
      org.apache.spark.sql.types.LongType)
    val v1 = Snapshots.read(spark, dir)
    assert(v1.count() == 16,
      "the delete must keep targeting 'kind' (the renamed original), " +
        "not the new all-NULL 'k' — NULL keys never match an anti-join")
    assert(v1.filter("kind = 2").count() == 0)
    val v2 = spark.read.format("graft").load(dir)
    assert(v2.count() == 16 && v2.filter("kind = 2").count() == 0,
      "same physical-first resolution on the DSv2 path")
  }

  test("CREATE TABLE over an existing catalog VIEW refuses (a committed " +
      "table would make the ident resolve as both, and DROP TABLE on the " +
      "filesystem backend would destroy the view)") {
    val wh = Files.createTempDirectory("graft_tv_wh").toString
    spark.conf.set("spark.sql.catalog.tvcat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.tvcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS tvcat.db")
    spark.sql("CREATE VIEW tvcat.db.vx AS SELECT 1 AS one")
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE tvcat.db.vx (id BIGINT)")
    }
    assert(e.getMessage.toLowerCase.contains("already exists"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("CREATE TABLE tvcat.db.vx AS SELECT id FROM range(3)")
    }
    assert(e2.getMessage.toLowerCase.contains("already exists"), e2.getMessage)
    assert(spark.sql("SELECT * FROM tvcat.db.vx").head.getInt(0) == 1,
      "the view must survive both refused creates")
  }

  test("expire_snapshots keeps the refs-generation reader window (a " +
      "mid-listing reader must not crash on a vanished refs file) and a " +
      "column literally named 'version' gets CBO stats (no stamp collision)") {
    import graft.spatial.Snapshots
    val dir = Files.createTempDirectory("graft_refs_win").toString + "/t"
    spark.range(10).selectExpr("id", "id % 3 AS version").write.parquet(dir)
    GeoTable.writeManifest(spark, dir)
    (1 to 12).foreach(i =>
      Snapshots.updateProperties(dir, Map(s"k$i" -> "v")))
    Snapshots.expireSnapshots(spark, dir, keep = 1,
      olderThanMillis = Some(System.currentTimeMillis() + 1000000))
    val refsFiles = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .toArray.map(_.toString.split('/').last)
      .count(n => n.startsWith("_graft_refs_v"))
    assert(refsFiles >= 8,
      s"expire must keep the casRefs reader window, kept $refsFiles")
    val (_, ndv) = Snapshots.computeTableStats(spark, dir)
    assert(ndv.get("version").exists(_ >= 2),
      s"a column named 'version' must get an NDV entry: $ndv")
    assert(Snapshots.ndvStats(dir, None).get("version").exists(_ >= 2))
  }
}
