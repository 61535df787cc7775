package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GeoCodec, GeoSql}
import graft.spatial.{GeometryEncoding, GeometryFields, GeoTable, SpatialJoin}

class SpatialJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import GeoSql._

  private def pointDf(n: Int, prefix: String) = {
    val rows = (0 until n).map { i =>
      val x = (i * 37 % 200) - 100 + 0.25
      val y = (i * 61 % 160) - 80 + 0.25
      Row(i.toLong, GeoCodec.writeWkb(GeoCodec.point(x, y)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField(s"${prefix}_id", LongType),
        StructField(s"${prefix}_geom", BinaryType))))
  }

  private def polyDf(n: Int) = {
    val rows = (0 until n).map { i =>
      val x = (i * 53 % 180) - 90.0
      val y = (i * 29 % 140) - 70.0
      Row(i.toLong + 1000, GeoCodec.writeWkb(GeoCodec.envelope(x, y, x + 12, y + 9)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("poly_id", LongType), StructField("poly_geom", BinaryType))))
  }

  test("grid-bucketed spatial join equals brute-force cross join") {
    graft.spatial.Geo.install(spark)
    val pts = pointDf(300, "p")
    val polys = polyDf(40)
    val grid = SpatialJoin.intersects(pts, "p_geom", polys, "poly_geom", cellDeg = 10.0)
      .select("p_id", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pts.crossJoin(polys)
      .filter(st_intersects(col("p_geom"), col("poly_geom")))
      .select("p_id", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(grid == brute, s"missing=${(brute -- grid).take(5)} extra=${(grid -- brute).take(5)}")
    assert(brute.nonEmpty)
  }

  test("degenerate rows drop cleanly from every join face: NULL and EMPTY " +
      "geometries produce no pairs, no errors, and never perturb others") {
    graft.spatial.Geo.install(spark)
    import org.apache.spark.sql.functions._
    // 3 normal points + 1 NULL + 1 POINT EMPTY on the left
    val l = spark.sql("""
      SELECT * FROM VALUES
        (1L, st_point(1D, 1D)), (2L, st_point(5D, 5D)), (3L, st_point(2D, 8D)),
        (4L, CAST(NULL AS BINARY)), (5L, st_geomfromtext('POINT EMPTY'))
      AS t(lid, lg)""")
    val r = spark.sql("""
      SELECT * FROM VALUES
        (10L, st_makeenvelope(0D, 0D, 6D, 6D)),
        (11L, st_geomfromtext('POLYGON EMPTY')),
        (12L, CAST(NULL AS BINARY))
      AS t(rid, rg)""")
    // nothing intersects (or is within any distance of) NULL/EMPTY — the
    // PBSM explode drops them map-side (st_bbox = NULL ⇒ no cells), which
    // IS the ST semantics, and normal pairs are unaffected
    val ix = SpatialJoin.intersects(l, "lg", r, "rg", cellDeg = 10.0)
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(ix == Set((1L, 10L), (2L, 10L)), s"got $ix")
    val dw = SpatialJoin.dwithin(l, "lg", r, "rg", dist = 3.5, cellDeg = 10.0)
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(dw == Set((1L, 10L), (2L, 10L), (3L, 10L)), s"got $dw")
    // the gridded storage face: degenerate rows simply produce no stored
    // cells (they can never match), normal rows grid as usual
    val gl = SpatialJoin.gridded(l, "lg", cellDeg = 10.0)
    assert(gl.select("lid").distinct().collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L))
    val gr = SpatialJoin.gridded(r, "rg", cellDeg = 10.0, expand = 3.5)
    val gdw = SpatialJoin.dwithinGridded(gl, "lg", gr, "rg",
        dist = 3.5, cellDeg = 10.0)
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(gdw == dw, s"gridded face must agree: $gdw vs $dw")
  }

  test("AQE actually splits the skewed mega-cell partition in the shuffled join " +
      "(the 100 TB urban-skew claim, pinned on the post-AQE plan)") {
    graft.spatial.Geo.install(spark)
    // urban-skew shape: ~99% of the left points land in ONE grid cell
    // (cell (0,0) at cellDeg=1), a thin spread fills other cells so the
    // skewed partition towers over the median
    val rows = (0 until 40000).map { i =>
      val (x, y) =
        if (i % 100 == 0) ((((i / 100) * 7) % 50) + 10.5, 0.5)
        else (0.2 + (i % 997) * 5e-4, 0.3 + (i % 991) * 4e-4)
      Row(i.toLong, GeoCodec.writeWkb(GeoCodec.point(x, y)))
    }
    val pts = spark.createDataFrame(spark.sparkContext.parallelize(rows, 8),
      StructType(Seq(StructField("p_id", LongType), StructField("p_geom", BinaryType))))
    val polys = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(1L, GeoCodec.writeWkb(GeoCodec.envelope(0.05, 0.05, 0.95, 0.95))),
        Row(2L, GeoCodec.writeWkb(GeoCodec.envelope(10.0, 0.0, 20.0, 1.0))),
        Row(3L, GeoCodec.writeWkb(GeoCodec.envelope(30.0, 0.0, 45.0, 1.0)))), 2),
      StructType(Seq(StructField("poly_id", LongType), StructField("poly_geom", BinaryType))))
    val saved = Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // scale the production thresholds down to the fixture: skewed =
      // size > max(64 KB, 2x median), split chunks of ~32 KB
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32768")
      // no broadcast: the claim under test is the SHUFFLED join's skew path
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = SpatialJoin.intersects(pts, "p_geom", polys, "poly_geom", cellDeg = 1.0)
        .select(col("p_id"), col("poly_id"))
      // execute THIS DataFrame so ITS adaptive plan finalizes (a .count()
      // would execute a different QueryExecution)
      val n = joined.collect().length.toLong
      val brute = pts.crossJoin(polys)
        .filter(st_intersects(col("p_geom"), col("poly_geom"))).count()
      assert(n == brute && n > 39000L, s"skew split changed the answer: $n vs $brute")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), s"AQE plan did not finalize:\n$plan")
      // regression: with broadcast disabled the tiny-side gate is off, and
      // SpatialJoinRewrite must still recognize the API construction as
      // its own machinery (marker prefix) — not re-explode it
      assert(!plan.contains("__graft_spj_lcx"),
        s"the rewrite rule re-exploded an API-built spatial join:\n$plan")
      assert(plan.contains("skew=true"),
        s"the post-AQE plan must split the skewed partition (no skew=true):\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("no cross product in the grid join plan") {
    val plan = SpatialJoin.intersects(pointDf(50, "p"), "p_geom", polyDf(10), "poly_geom")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"spatial join fell back to cross product:\n$plan")
  }

  // ---- encoding promote/demote (F2, TestGeospatialTable.java:46-110) -----

  test("geometry field promote/demote across all four encodings") {
    val dir = Files.createTempDirectory("graft_enc").toString
    graft.spatial.Geo.install(spark)
    val g = GeoCodec.readWkt("POINT (3 4)")
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(
      1L, GeoCodec.writeWkt(g), GeoCodec.writeGeoJson(g),
      GeoCodec.writeWkb(g), GeoCodec.writeEwkb(g))), 1),
      StructType(Seq(StructField("id", LongType),
        StructField("g_wkt", StringType), StructField("g_geojson", StringType),
        StructField("g_wkb", BinaryType), StructField("g_ewkb", BinaryType))))
    df.write.mode("overwrite").parquet(dir)

    Seq("g_wkt" -> "wkt", "g_geojson" -> "geojson", "g_wkb" -> "wkb", "g_ewkb" -> "ewkb")
      .foreach { case (c, e) => GeometryFields.setGeometryField(spark, dir, c, e) }
    assert(GeometryFields.get(dir) == Map(
      "g_wkt" -> "wkt", "g_geojson" -> "geojson", "g_wkb" -> "wkb", "g_ewkb" -> "ewkb"))

    // every declared geometry column decodes to the same WKB geometry
    val got = GeometryFields.readGeo(spark, dir)
      .select(st_astext(col("g_wkt")), st_astext(col("g_geojson")),
        st_astext(col("g_wkb")), st_astext(col("g_ewkb")))
      .collect().head
    (0 until 4).foreach(i => assert(got.getString(i) == "POINT (3 4)"))

    // demote
    GeometryFields.setGeometryField(spark, dir, "g_wkt", "none")
    assert(!GeometryFields.get(dir).contains("g_wkt"))

    // physical-type mismatch is rejected (string col can't be wkb)
    intercept[IllegalArgumentException] {
      GeometryFields.setGeometryField(spark, dir, "g_geojson", "wkb")
    }
    intercept[IllegalArgumentException] {
      GeometryEncoding.physicalType("nope")
    }
  }

  test("writeGeo round-trips every encoding with intact pruning stats") {
    graft.spatial.Geo.install(spark)
    GeometryEncoding.All.foreach { enc =>
      val dir = Files.createTempDirectory(s"graft_we_$enc").toString
      val pts = pointDf(40, "p").withColumnRenamed("p_geom", "geom")
      GeometryFields.writeGeo(pts, dir, "geom", enc, res = 8, numFiles = 2)
      assert(GeometryFields.get(dir) == Map("geom" -> enc))
      val back = GeoTable.read(spark, dir) // pruning read decodes declared encodings
      assert(back.count() == 40)
      // decoded column is WKB again: exact geometry round-trip
      val one = back.filter(col("p_id") === 0)
        .select(st_astext(col("geom"))).collect().head.getString(0)
      assert(one == "POINT (-99.75 -79.75)", s"got $one for $enc")
      // spatial predicate + pruning compose with the encoded storage
      val hits = back.filter(st_intersects(col("geom"),
        st_makeenvelope(lit(-100.0), lit(-80.0), lit(-99.0), lit(-79.0)))).count()
      assert(hits >= 1, s"pruned spatial query on $enc table")
      // bbox manifest unaffected by the storage encoding; geometry column
      // itself excluded from value stats (no WKT blobs in the manifest)
      val stats = graft.spatial.Snapshots.readManifest(dir)
      assert(stats.size == 2 && stats.forall(_.mins.contains("geom_bbox.xmin")))
      assert(stats.forall(f => !f.mins.contains("geom")))
      // vectorized scan stays on: geometry is a plain physical column (the
      // reference must fall back to row reads, SparkBatch.java:154-161 —
      // plain-binary storage keeps columnar batches)
      val scan = spark.read.parquet(dir).queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scan.head.toString.contains("Batched: true"))
    }
  }

  test("files metadata table exposes per-file bbox bounds") {
    val dir = Files.createTempDirectory("graft_meta").toString
    val pts = pointDf(100, "p").withColumnRenamed("p_geom", "geom")
    GeoTable.write(pts, dir, "geom", res = 8, numFiles = 4)
    val files = GeoTable.filesTable(spark, dir)
    assert(files.count() == 4)
    val cols = files.columns.toSet
    assert(cols.contains("record_count") && cols.contains("min_geom_bbox_xmin") &&
      cols.contains("max_geom_bbox_xmax"))
    assert(files.agg(sum("record_count")).collect().head.getLong(0) == 100L)
  }
}
