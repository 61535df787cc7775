package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.spatial.Snapshots

/** `spark_catalog` override through [[graft.sources.GraftSessionCatalog]]:
  * graft tables served natively, everything else delegated to the built-in
  * session catalog (the reference's `SparkSessionCatalog` contract).
  */
class SessionCatalogSpec extends AnyFunSuite {
  private lazy val base = SparkTestSession.spark

  // a FRESH session: the catalog conf must be in place before the session's
  // CatalogManager materializes spark_catalog
  private lazy val (spark, wh) = {
    val wh = Files.createTempDirectory("graft_sess_wh").toString
    val s = base.newSession()
    s.conf.set("spark.sql.catalog.spark_catalog",
      classOf[graft.sources.GraftSessionCatalog].getName)
    s.conf.set("spark.sql.catalog.spark_catalog.warehouse", wh)
    graft.spatial.Geo.install(s)
    (s, wh)
  }

  // unique per-run namespaces: the delegate's managed-table locations live
  // under spark-warehouse/ and survive failed runs
  private def freshDb(tag: String): String =
    s"${tag}_${java.util.UUID.randomUUID().toString.take(8)}"

  /** A GraftSessionCatalog instance wired exactly like the SQL-path one
    * (same warehouse, the session's own V2SessionCatalog as delegate) —
    * for driving catalog-API seams the analyzer rewrites before they
    * would reach the extension through SQL.
    */
  private def directCatalog(): graft.sources.GraftSessionCatalog = {
    val c = new graft.sources.GraftSessionCatalog
    c.initialize("spark_catalog",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("warehouse", wh)))
    c.setDelegateCatalog(spark.sessionState.catalogManager.catalog("spark_catalog"))
    c
  }

  test("one session serves plain session-catalog tables AND graft tables") {
    val sdb = freshDb("sdb")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $sdb")
    // plain table -> delegate (nothing lands in the graft warehouse)
    spark.range(0, 10).toDF("id").write.format("parquet").saveAsTable(s"$sdb.plain")
    assert(spark.sql(s"SELECT count(*) FROM $sdb.plain").head.getLong(0) == 10)
    assert(!Snapshots.isTable(Paths.get(wh, sdb, "plain").toString))
    // CTAS routes by provider: USING graft -> warehouse-backed graft table
    spark.sql(
      s"CREATE TABLE $sdb.g USING graft AS SELECT id, CAST(id AS DOUBLE) AS x FROM $sdb.plain")
    assert(Snapshots.isTable(Paths.get(wh, sdb, "g").toString),
      "graft CTAS must land in the warehouse")
    assert(spark.sql(s"SELECT count(*) FROM $sdb.g").head.getLong(0) == 10)
    // writes + snapshots work through the default catalog name
    spark.sql(s"INSERT INTO $sdb.g SELECT 100L, 1.0D")
    assert(spark.sql(s"SELECT count(*) FROM $sdb.g").head.getLong(0) == 11)
    assert(spark.sql(s"SELECT max(version) FROM $sdb.g.snapshots")
      .head.getAs[Number](0).longValue() >= 2L)
    // SHOW TABLES unions both sides
    val names = spark.sql(s"SHOW TABLES IN $sdb").collect().map(_.getString(1)).toSet
    assert(names.contains("plain") && names.contains("g"), s"got: $names")
    // temp views keep resolving through the delegate
    spark.range(5).createOrReplaceTempView("tv")
    assert(spark.table("tv").count() == 5)
    // the plain table is untouched by graft-side DDL
    spark.sql(s"DROP TABLE $sdb.g")
    assert(spark.sql(s"SELECT count(*) FROM $sdb.plain").head.getLong(0) == 10)
    assert(!Files.exists(Paths.get(wh, sdb, "g")))
  }

  test("non-graft CTAS degrades to the delegate's non-atomic create") {
    val sdb2 = freshDb("sdb2")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $sdb2")
    spark.sql(s"CREATE TABLE $sdb2.p USING parquet AS SELECT 1 AS a")
    assert(spark.sql(s"SELECT a FROM $sdb2.p").head.getInt(0) == 1)
    assert(!Snapshots.isTable(Paths.get(wh, sdb2, "p").toString))
  }

  test("pure delegation without a warehouse conf") {
    val s2 = base.newSession()
    s2.conf.set("spark.sql.catalog.spark_catalog",
      classOf[graft.sources.GraftSessionCatalog].getName)
    // no warehouse: plain tables still work, graft DDL fails loudly
    val ddb = freshDb("ddb")
    s2.sql(s"CREATE DATABASE IF NOT EXISTS $ddb")
    s2.range(3).toDF("id").write.format("parquet").saveAsTable(s"$ddb.t")
    assert(s2.sql(s"SELECT count(*) FROM $ddb.t").head.getLong(0) == 3)
    val e = intercept[Exception] {
      s2.sql(s"CREATE TABLE $ddb.g (id BIGINT) USING graft")
    }
    assert(e.getMessage.contains("warehouse"), e.getMessage)
  }

  test("REPLACE with a NON-graft provider over a graft table drops the graft " +
      "side — the old graft table must not shadow the replacement") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.connector.catalog.{Identifier, StagingTableCatalog, TableCatalog}
    val db = freshDb("repl")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"CREATE TABLE $db.t USING graft AS SELECT id FROM range(5)")
    assert(Snapshots.isTable(Paths.get(wh, db, "t").toString))
    // drive the staging seam directly (Spark's analyzer rejects RTAS for
    // V1 session-catalog providers before reaching it, but V2 providers
    // and direct API users land here)
    val cat = directCatalog()
    val ident = Identifier.of(Array(db), "t")
    val staged = cat.stageCreateOrReplace(ident,
      new org.apache.spark.sql.types.StructType()
        .add("id", org.apache.spark.sql.types.LongType),
      Array.empty,
      Map(TableCatalog.PROP_PROVIDER -> "parquet").asJava)
    staged.commitStagedChanges()
    assert(!Snapshots.isTable(Paths.get(wh, db, "t").toString),
      "the graft side must be dropped by the replace, not shadow the delegate")
    // loadTable now serves the DELEGATE table (the empty replacement)
    assert(spark.sql(s"SELECT count(*) FROM $db.t").head.getLong(0) == 0,
      "reads must serve the replacement, not the old graft data")
  }

  test("rename refuses to shadow a live table on the OTHER side of the " +
      "session catalog; SHOW TABLES in a namespace neither side knows errors") {
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
    val db = freshDb("ren")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.range(3).toDF("id").write.format("parquet").saveAsTable(s"$db.plain")
    spark.sql(s"CREATE TABLE $db.g USING graft AS SELECT id FROM range(5)")
    val cat = directCatalog()
    // graft → delegate-occupied name: each side alone sees no conflict
    intercept[org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException] {
      cat.renameTable(Identifier.of(Array(db), "g"), Identifier.of(Array(db), "plain"))
    }
    assert(spark.sql(s"SELECT count(*) FROM $db.plain").head.getLong(0) == 3,
      "the delegate table must stay reachable")
    // delegate → graft-occupied name
    intercept[org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException] {
      cat.renameTable(Identifier.of(Array(db), "plain"), Identifier.of(Array(db), "g"))
    }
    assert(spark.sql(s"SELECT count(*) FROM $db.g").head.getLong(0) == 5)
    // a namespace NEITHER side knows errors instead of listing empty
    intercept[org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException] {
      cat.listTables(Array(s"no_such_ns_${freshDb("x")}"))
    }
  }
}
