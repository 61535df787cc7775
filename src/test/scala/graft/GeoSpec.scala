package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GeoCodec, GeoSql}
import graft.spatial.{Geo, GeoTable, HilbertCurve2D}

/** Replicates the reference's canonical spatial fixture and assertion matrix
  * (`data/src/test/java/org/apache/iceberg/havasu/TestGeometryReadersAndWriters.java:90-263`
  * in /root/reference, summarized in FIXTURES.md F1): 4 data files, one per
  * quadrant, 20 rows each (point + 0.5-buffer per id); every query asserts
  * BOTH scanned-file count (file pruning) and exact row count.
  */
class GeoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import GeoSql._

  private lazy val tableDir: String = {
    Geo.install(spark)
    val dir = Files.createTempDirectory("graft_quadrant").toString
    val rows = for {
      quadrant <- 0 until 4
      k <- 1 to 10
      (cx, cy) = quadrant match {
        case 0 => (k.toDouble, k.toDouble)
        case 1 => (-k.toDouble, k.toDouble)
        case 2 => (-k.toDouble, -k.toDouble)
        case 3 => (k.toDouble, -k.toDouble)
      }
      geom <- Seq(
        GeoCodec.writeWkb(GeoCodec.point(cx, cy)),
        GeoCodec.writeWkb(GeoCodec.point(cx, cy).buffer(0.5)))
    } yield Row((quadrant * 10 + k - 1).toLong, quadrant, geom)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("part", IntegerType, nullable = false),
      StructField("geom", BinaryType)))
    // one data file per quadrant, exactly like the reference fixture
    (0 until 4).foreach { q =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.filter(_.getInt(1) == q), 1), schema)
      GeoTable.withBbox(df, "geom").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    GeoTable.writeManifest(spark, dir)
    dir
  }

  private def table: DataFrame = GeoTable.read(spark, tableDir)

  /** (scannedFiles, rows) after executing the filtered scan. */
  private def validateScan(df: DataFrame): (Long, Long) = {
    val n = df.collect().length.toLong
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val files = plan.collect { case f: FileSourceScanExec => f }
      .map(_.metrics("numFiles").value).sum
    (files, n)
  }

  private def env(minX: Double, minY: Double, maxX: Double, maxY: Double) =
    st_makeenvelope(lit(minX), lit(minY), lit(maxX), lit(maxY))
  private def pt(x: Double, y: Double) = st_point(lit(x), lit(y))

  test("ST_ expressions run inside WholeStageCodegen (no interpreted fallback)") {
    // fallback=false makes Spark THROW if any doGenCode is broken instead
    // of silently reverting to interpreted eval
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val filtered = table.filter(st_intersects(col("geom"), env(0.0, 0.0, 12.0, 12.0)))
      val plan = filtered.queryExecution.executedPlan.toString
      assert(plan.contains("*("), s"geo filter should be whole-stage-codegen'd:\n$plan")
      val filterLines = plan.linesIterator
        .filter(l => l.contains("Filter (") && !l.contains("FileScan")).toSeq
      assert(filterLines.nonEmpty && filterLines.forall(_.trim.startsWith("*")),
        s"every Filter must be inside a codegen stage:\n$plan")
      assert(filtered.count() == 20) // quadrant 0: 10 points + 10 buffers
      // a projection spanning the whole kernel surface compiles and agrees
      // with interpreted eval (foldable constants exercise eval; the column
      // path exercises doGenCode)
      val proj = table.select(
        st_astext(col("geom")).as("wkt"),
        st_x(st_centroid(col("geom"))).as("cx"),
        call_function("st_area", st_buffer(col("geom"), lit(0.1))).as("a"),
        st_distance(col("geom"), pt(0.0, 0.0)).as("d"),
        st_dwithin(col("geom"), pt(1.0, 1.0), lit(2.0)).as("near"),
        st_covers(st_envelope(col("geom")), col("geom")).as("cov"),
        call_function("st_geometrytype", col("geom")).as("t"),
        call_function("st_isvalid", col("geom")).as("ok"),
        call_function("hilbert", col("geom"), lit(8),
          lit(-20.0), lit(-20.0), lit(20.0), lit(20.0)).as("h"))
      assert(proj.queryExecution.executedPlan.toString.contains("*("))
      val r = proj.collect()
      assert(r.length == 80 && r.forall(_.getBoolean(5))) // envelope covers its geometry
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("manifest records one bbox per file (writer metrics)") {
    val stats = graft.spatial.Snapshots.readManifest(tableDir)
    assert(stats.length == 4)
    stats.foreach { f =>
      assert(f.rows == 20)
      assert(f.mins.contains("geom_bbox.xmin") && f.maxs.contains("geom_bbox.xmax"))
    }
  }

  // assertion matrix from TestGeometryReadersAndWriters.java:229-263
  private val intersectsMatrix = Seq(
    (pt(1, 1), 1L, 2L),
    (pt(0, 0), 0L, 0L),
    (pt(1.5, 1.5), 1L, 0L),
    (env(0.5, -1.1, 1.1, 1.1), 2L, 4L),
    (env(0, 0, 0.75, 0.75), 1L, 1L),
    (env(0.75, 0.75, 1.25, 1.25), 1L, 2L))

  test("stIntersects pruning + results match the reference matrix") {
    intersectsMatrix.zipWithIndex.foreach { case ((q, files, rows), i) =>
      val (f, r) = validateScan(table.filter(st_intersects(col("geom"), q)))
      assert((f, r) == ((files, rows)), s"intersects case $i: got ($f,$r) want ($files,$rows)")
    }
  }

  test("stCovers pruning + results match the reference matrix") {
    val coversMatrix = Seq(
      (pt(1, 1), 1L, 2L),
      (pt(0, 0), 0L, 0L),
      (pt(1.5, 1.5), 1L, 0L),
      (env(0, 0, 0.75, 0.75), 0L, 0L),
      (env(0.75, 0.75, 1.25, 1.25), 1L, 1L))
    coversMatrix.zipWithIndex.foreach { case ((q, files, rows), i) =>
      val (f, r) = validateScan(table.filter(st_covers(col("geom"), q)))
      assert((f, r) == ((files, rows)), s"covers case $i: got ($f,$r) want ($files,$rows)")
    }
  }

  test("mixed attribute + spatial predicate prunes on both stats") {
    val (f, r) = validateScan(table.filter(
      col("id") <= 10 && st_intersects(col("geom"), env(0.5, -1.1, 1.1, 1.1))))
    assert((f, r) == ((1L, 2L)))
  }

  test("partition-style attribute + spatial predicate") {
    val (f, r) = validateScan(table.filter(
      col("part") === 3 && st_intersects(col("geom"), env(0.5, -1.1, 1.1, 1.1))))
    assert((f, r) == ((1L, 2L)))
  }

  test("swapped argument order prunes identically (intersects symmetric)") {
    val (f1, r1) = validateScan(table.filter(
      st_intersects(env(0.5, -1.1, 1.1, 1.1), col("geom"))))
    assert((f1, r1) == ((2L, 4L)))
    // covers(lit, geom): only geometries inside the window
    val (f2, r2) = validateScan(table.filter(
      st_covers(env(0.0, 0.0, 2.0, 2.0), col("geom"))))
    assert(f2 <= 1, s"covered-by should prune to quadrant 0, scanned $f2")
    assert(r2 == 3L) // point(1,1), buffer(1,1), point covered? ids k=1 rows + point(2? no)
  }

  test("a user struct named <g>_bbox with the wrong shape is never rewritten " +
      "into ordinal reads; a right-shaped struct resolves leaves BY NAME") {
    import spark.implicits._
    // wrong shape: struct<_1:int,_2:int> — the session-wide rewrite must
    // decline (ordinal 2/3 would be out of bounds at runtime)
    val bad = Seq(
      (GeoCodec.writeWkb(GeoCodec.point(1, 1)), (1, 2)),
      (GeoCodec.writeWkb(GeoCodec.point(50, 50)), (3, 4)))
      .toDF("g", "g_bbox")
    assert(bad.filter(st_intersects(col("g"), env(0, 0, 10, 10))).count() == 1)
    // right shape but PERMUTED field order: the rewrite must bind xmin/…
    // by field name, not by position
    val permuted = Seq(
      (GeoCodec.writeWkb(GeoCodec.point(1, 1)), (1.1, 1.1, 0.9, 0.9)),
      (GeoCodec.writeWkb(GeoCodec.point(50, 50)), (50.1, 50.1, 49.9, 49.9)))
      .toDF("g", "bb")
      .select(col("g"), struct(
        col("bb._1").as("ymax"), col("bb._2").as("xmax"),
        col("bb._3").as("ymin"), col("bb._4").as("xmin")).as("g_bbox"))
    assert(permuted.filter(st_intersects(col("g"), env(0, 0, 10, 10)))
      .count() == 1, "permuted shadow fields must still filter correctly")
  }

  test("NOT st_intersects produces no bbox pruning (non-negatable)") {
    val (f, r) = validateScan(table.filter(
      !st_intersects(col("geom"), env(0.5, -1.1, 1.1, 1.1))))
    assert(f == 4L, "NOT must scan all files")
    assert(r == 76L)
  }

  test("OR of spatial predicates prunes to the union of windows") {
    val (f, r) = validateScan(table.filter(
      st_intersects(col("geom"), pt(1, 1)) || st_intersects(col("geom"), pt(-1, 1))))
    assert((f, r) == ((2L, 4L)))
  }

  test("bbox predicates are pushed to the parquet scan") {
    val df = table.filter(st_intersects(col("geom"), env(0.5, -1.1, 1.1, 1.1)))
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = plan.collect { case s: FileSourceScanExec => s }.head
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("geom_bbox.xmin") || pushed.contains("xmin"),
      s"bbox filters not pushed: $pushed")
  }

  test("hilbert clustering write round-trips and clusters quadrants") {
    val dir = Files.createTempDirectory("graft_hilbert_write").toString
    val df = table.select("id", "part", "geom")
    GeoTable.write(df, dir, "geom", res = 8, numFiles = 4)
    val back = GeoTable.read(spark, dir)
    assert(back.count() == 80)
    // spatial locality: a point query must not touch every file
    val (f, _) = validateScan(back.filter(st_intersects(col("geom"), pt(1, 1))))
    assert(f < 4, s"hilbert clustering should allow pruning, scanned $f files")
  }

  test("count/min/max answered from the manifest without scanning files") {
    val agg = table.agg(
      count(lit(1)).as("n"), min(col("id")).as("min_id"), max(col("id")).as("max_id"),
      min(col("geom_bbox.xmin")).as("w"), max(col("geom_bbox.xmax")).as("e"))
    val row = agg.collect().head
    assert(row.getLong(0) == 80L && row.getLong(1) == 0L && row.getLong(2) == 39L)
    assert(row.getDouble(3) == -10.5 && row.getDouble(4) == 10.5)
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan") && !plan.contains("HashAggregate"),
      s"aggregate should come from manifest stats:\n$plan")
    // COUNT(col) from per-file null counts (no nulls here: equals count(*))
    val cc = table.agg(count(col("id")).as("ni"))
    assert(cc.collect().head.getLong(0) == 80L)
    val ccPlan = cc.queryExecution.executedPlan.toString
    assert(!ccPlan.contains("FileScan") && !ccPlan.contains("HashAggregate"),
      s"COUNT(col) should come from manifest null counts:\n$ccPlan")
  }

  test("stats aggregate pushdown leaves grouped/filtered aggregates alone") {
    val grouped = table.groupBy(col("part")).agg(count(lit(1)))
    assert(grouped.queryExecution.executedPlan.toString.contains("FileScan"))
    assert(grouped.count() == 4)
    val filtered = table.filter(col("id") > 5).agg(count(lit(1)).as("n"))
    assert(filtered.queryExecution.executedPlan.toString.contains("FileScan"))
    assert(filtered.collect().head.getLong(0) == 68L)
  }

  // ---- Hilbert transform semantics (TestHilbert.java:33-114 / F3) --------

  test("hilbert locality ordering property") {
    def h(x: Double, y: Double): Long =
      HilbertCurve2D.index(10, -180, -90, 180, 90)(x, y).get
    val h0 = h(10, 10); val h1 = h(15, 15); val h2 = h(30, 30)
    val h3 = h(-60, -30); val h4 = h(-61, -31)
    assert(math.abs(h3 - h4) < math.abs(h0 - h1))
    assert(math.abs(h0 - h1) < math.abs(h1 - h2))
    assert(math.abs(h1 - h2) < math.abs(h0 - h3))
  }

  test("hilbert null semantics: out-of-bounds, empty, null") {
    assert(HilbertCurve2D.index(10, -180, -90, 180, 90)(200, 10).isEmpty)
    assert(HilbertCurve2D.index(10, 0, 0, 1000, 1000)(-10, -10).isEmpty)
    Geo.install(spark)
    val df = spark.sql(
      """SELECT hilbert(st_geomfromtext('POINT EMPTY'), 10,
        | -180D, -90D, 180D, 90D) AS h""".stripMargin)
    assert(df.collect().head.isNullAt(0))
    val df2 = spark.sql(
      "SELECT hilbert(CAST(NULL AS BINARY), 10, -180D, -90D, 180D, 90D) AS h")
    assert(df2.collect().head.isNullAt(0))
  }

  test("hilbert indexes polygons by envelope center") {
    Geo.install(spark)
    val r = spark.sql(
      """SELECT hilbert(st_buffer(st_point(10D, 10D), 0.5D), 10, -180D, -90D, 180D, 90D) AS hp,
        |       hilbert(st_point(10D, 10D), 10, -180D, -90D, 180D, 90D) AS hc""".stripMargin)
      .collect().head
    assert(r.getLong(0) == r.getLong(1))
  }

  test("set-theoretic functions and st_extent aggregate") {
    graft.spatial.Geo.install(spark)
    val r = spark.sql(
      """SELECT
        | st_astext(st_union(st_point(0D,0D), st_point(1D,1D))) AS u,
        | st_area(st_intersection(
        |   st_makeenvelope(0D,0D,2D,2D), st_makeenvelope(1D,1D,3D,3D))) AS ia,
        | st_area(st_difference(
        |   st_makeenvelope(0D,0D,2D,2D), st_makeenvelope(1D,1D,3D,3D))) AS da,
        | st_geometrytype(st_convexhull(st_geomfromtext('MULTIPOINT((0 0),(1 0),(0 1),(1 1))'))) AS hull_t,
        | st_numpoints(st_simplify(st_geomfromtext('LINESTRING(0 0, 1 0.0001, 2 0)'), 0.01D)) AS np,
        | st_numgeometries(st_geomfromtext('MULTIPOINT((0 0),(1 1))')) AS ng""".stripMargin)
      .collect().head
    assert(r.getString(0) == "MULTIPOINT ((0 0), (1 1))")
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(2) - 3.0) < 1e-12)
    assert(r.getString(3) == "Polygon")
    assert(r.getInt(4) == 2)
    assert(r.getInt(5) == 2)

    // st_extent over the quadrant table: global bbox matches the manifest
    val t = table
    t.createOrReplaceTempView("quadrants")
    val ext = spark.sql("SELECT st_extent(geom) AS e FROM quadrants")
      .selectExpr("e.xmin", "e.ymin", "e.xmax", "e.ymax").collect().head
    assert(ext.getDouble(0) == -10.5 && ext.getDouble(1) == -10.5)
    assert(ext.getDouble(2) == 10.5 && ext.getDouble(3) == 10.5)
    // grouped extents
    val per = spark.sql(
      "SELECT part, st_extent(geom) AS e FROM quadrants GROUP BY part ORDER BY part")
      .selectExpr("part", "e.xmax").collect()
    assert(per.length == 4 && per.head.getDouble(1) == 10.5)
  }

  // ---- encodings (GeometryEncoding.java:26-32 / F2) ----------------------

  test("wkt / geojson / ewkb round-trips") {
    Geo.install(spark)
    val wkts = Seq(
      "POINT (1 2)",
      "LINESTRING (0 0, 1 1, 2 0)",
      "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
      "MULTIPOINT ((1 1), (2 2))",
      "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))")
    wkts.foreach { w =>
      val g = GeoCodec.readWkt(w)
      assert(GeoCodec.readWkb(GeoCodec.writeWkb(g)).equalsExact(g), s"wkb: $w")
      assert(GeoCodec.readWkb(GeoCodec.writeEwkb(g)).equalsExact(g), s"ewkb: $w")
      assert(GeoCodec.readGeoJson(GeoCodec.writeGeoJson(g)).equalsExact(g), s"geojson: $w")
      assert(GeoCodec.readWkt(GeoCodec.writeWkt(g)).equalsExact(g), s"wkt: $w")
    }
    val viaSql = spark.sql(
      "SELECT st_astext(st_geomfromgeojson(st_asgeojson(st_geomfromtext('POINT (3 4)')))) AS w")
      .collect().head.getString(0)
    assert(viaSql == "POINT (3 4)")
    // POINT EMPTY: accessors return SQL NULL (JTS throws on getX/getY),
    // geojson serializes the empty-coordinates form instead of NPE-ing
    val empt = spark.sql(
      "SELECT st_x(g), st_y(g), st_asgeojson(g) FROM " +
        "(SELECT st_geomfromtext('POINT EMPTY') AS g)").collect().head
    assert(empt.isNullAt(0) && empt.isNullAt(1))
    assert(empt.getString(2) == """{"type":"Point","coordinates":[]}""")
    // st_extent over a non-binary column: analysis error, not a runtime CCE
    val e = intercept[Exception] {
      spark.sql("SELECT st_extent(w) FROM (SELECT 'not-geom' AS w)").collect()
    }
    assert(e.getMessage.toUpperCase.contains("BINARY") ||
      e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
  }

  test("every geo query builder installs ST_ functions before first use") {
    // a fresh session has an EMPTY FunctionRegistry: a builder that
    // constructs an ST_ column before its first pts()/Geo.install call
    // dies here with UNRESOLVED_ROUTINE (query-map iteration order hid
    // exactly that in geo_knn_join/geo_quadrant_join once)
    operators.GeoQueries.queries.keys.toSeq.sorted.foreach { q =>
      val fresh = SparkTestSession.spark.newSession()
      val df = operators.GeoQueries.queries(q)(fresh, "/root/testdata/sf0.001")
      assert(df.columns.nonEmpty, q) // analysis succeeded on the fresh registry
    }
  }

  test("bbox pushdown is NULL-SAFE: rows whose shadow is NULL (add_files-" +
      "imported parquet) fall through to the exact predicate, never dropped") {
    import graft.spatial.{GeoTable, Snapshots}
    graft.spatial.Geo.install(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_nullbbox").toString + "/tbl"
    GeoTable.write(spark.range(5).selectExpr("id",
      "st_point(CAST(id AS DOUBLE), CAST(id AS DOUBLE)) AS g"), dir, "g")
    // a stray parquet file WITHOUT the shadow column lands in the dir and
    // registers via add_files — its rows read g_bbox = NULL
    spark.range(100, 103).selectExpr("id",
      "st_point(CAST(id - 100 AS DOUBLE), CAST(id - 100 AS DOUBLE)) AS g")
      .coalesce(1).write.mode("append").parquet(dir)
    // remove the shadow from the stray file only: rewrite it without g_bbox
    val (_, added) = Snapshots.addFiles(spark, dir)
    assert(added > 0, "fixture must register a shadow-less stray file")
    val got = GeoTable.read(spark, dir)
      .where("st_intersects(g, st_makeenvelope(CAST(-0.5 AS DOUBLE), CAST(-0.5 AS DOUBLE), CAST(1.5 AS DOUBLE), CAST(1.5 AS DOUBLE)))")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(0L, 1L, 100L, 101L),
      s"NULL-shadow rows matching the exact predicate must surface: $got")
  }

  test("bbox pushdown declines on AMBIGUOUS shadow bindings (self-join OR " +
      "references both sides) instead of filtering on the wrong bbox") {
    import graft.spatial.GeoTable
    graft.spatial.Geo.install(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_sjbbox").toString + "/tbl"
    GeoTable.write(spark.range(4).selectExpr("id",
      "st_point(CAST(id * 10 AS DOUBLE), CAST(0 AS DOUBLE)) AS g"), dir, "g")
    val t = GeoTable.read(spark, dir)
    val j = t.as("a").join(t.as("b"),
      org.apache.spark.sql.functions.expr("a.id = b.id"))
      .where("st_intersects(a.g, st_makeenvelope(CAST(-1 AS DOUBLE), CAST(-1 AS DOUBLE), CAST(1 AS DOUBLE), CAST(1 AS DOUBLE))) OR " +
        "st_intersects(b.g, st_makeenvelope(CAST(29 AS DOUBLE), CAST(-1 AS DOUBLE), CAST(31 AS DOUBLE), CAST(1 AS DOUBLE)))")
    val got = j.selectExpr("a.id").collect().map(_.getLong(0)).toSet
    assert(got == Set(0L, 3L),
      s"the OR across both sides must keep both matches: $got")
  }

  test("spatial predicate in a JOIN condition: shadow-vs-shadow bbox " +
      "conjuncts join the condition (per-pair prefilter) and a window-" +
      "bounded side propagates FILE pruning to the OTHER side") {
    import graft.spatial.GeoTable
    graft.spatial.Geo.install(spark)
    val base = java.nio.file.Files.createTempDirectory("graft_joinbbox").toString
    // two tables, one data file per quadrant each (the tableDir layout)
    def quadrantTable(dir: String): Unit = {
      (0 until 4).foreach { q =>
        val (sx, sy) = q match {
          case 0 => (1, 1); case 1 => (-1, 1); case 2 => (-1, -1); case _ => (1, -1)
        }
        GeoTable.withBbox(spark.range(10).selectExpr(
          s"id + ${q * 10} AS id",
          s"st_point(CAST(${sx} * (id + 1) AS DOUBLE), CAST(${sy} * (id + 1) AS DOUBLE)) AS g"),
          "g").coalesce(1).write.mode("append").parquet(dir)
      }
      GeoTable.writeManifest(spark, dir)
    }
    quadrantTable(s"$base/ta")
    quadrantTable(s"$base/tb")
    val a = GeoTable.read(spark, s"$base/ta")
    val b = GeoTable.read(spark, s"$base/tb")
    // a bounded inside the (+,+) quadrant window joins b on intersects:
    // point-point intersects iff equal, so matches are b's quadrant-0 rows
    val j = a.as("a")
      .where("st_covers(st_makeenvelope(CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), " +
        "CAST(20 AS DOUBLE), CAST(20 AS DOUBLE)), a.g)")
      .join(b.as("b"), org.apache.spark.sql.functions.expr("st_intersects(a.g, b.g)"))
      .selectExpr("a.id AS aid", "b.id AS bid")
    val rows = j.collect()
    assert(rows.length == 10 && rows.forall(r => r.getLong(0) == r.getLong(1)),
      s"quadrant-0 twins must match: ${rows.toSeq}")
    val plan = j.queryExecution.executedPlan match {
      case ad: AdaptiveSparkPlanExec => ad.executedPlan
      case p => p
    }
    // AQE wraps exchanges in QueryStageExec LEAVES — descend into them
    def deep(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.collect {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => deep(q.plan)
        case n => Seq(n)
      }.flatten
    val all = deep(plan)
    val files = all.collect { case f: FileSourceScanExec => f.metrics("numFiles").value }
    assert(files.sorted == Seq(1L, 1L),
      s"the window must prune BOTH sides' files (a directly, b via the " +
        s"propagated join bound): scanned $files of 4+4")
    // the join condition carries the shadow-vs-shadow prefilter
    val joinConds = all.collect {
      case e: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        e.condition.map(_.toString).getOrElse("")
    }.mkString(" ")
    assert(joinConds.contains("xmax") && joinConds.contains("ymin"),
      s"the pairwise bbox conjunct must ride the join condition: $joinConds")
  }

  test("SpatialJoin.dwithin equals the brute-force distance filter: every " +
      "pair exactly once, including pairs whose expanded bboxes span " +
      "multiple cells") {
    graft.spatial.Geo.install(spark)
    import org.apache.spark.sql.functions._
    val l = spark.range(60).toDF("lid")
      .withColumn("lg", expr("st_point(CAST(lid * 0.7 AS DOUBLE), CAST(lid * 0.3 AS DOUBLE))"))
    val r = spark.range(40).toDF("rid")
      .withColumn("rg", expr("st_point(CAST(rid * 1.1 + 0.05 AS DOUBLE), CAST(rid * 0.4 AS DOUBLE))"))
    // dist > cellDeg: candidate expansion must cross several cell borders
    val got = graft.spatial.SpatialJoin.dwithin(l, "lg", r, "rg",
        dist = 2.5, cellDeg = 1.0)
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1)))
    val want = l.crossJoin(r)
      .filter(expr("st_dwithin(lg, rg, CAST(2.5 AS DOUBLE))"))
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(want.nonEmpty, "fixture must produce matches")
    assert(got.length == got.toSet.size, "pairs must emit exactly once")
    assert(got.toSet == want,
      s"grid distance join must equal brute force (${got.length} vs ${want.size})")
  }

  test("st_transform: 4326<->3857 round-trips, matches the published " +
      "spherical-Mercator closed form, and off-menu CRS pairs refuse at " +
      "analysis naming the EPSG codes") {
    graft.spatial.Geo.install(spark)
    import org.apache.spark.sql.functions._
    val df = spark.range(50).toDF("id")
      .withColumn("lon", (col("id") % 10).cast("double") * 36 - 180 + 0.25)
      .withColumn("lat", (col("id") / 10).cast("double") * 33 - 82.5 + 0.125)
      .withColumn("g", expr("st_point(lon, lat)"))
    val proj = df.selectExpr("id", "lon", "lat",
      "st_x(st_transform(g, 4326, 3857)) AS mx",
      "st_y(st_transform(g, 4326, 3857)) AS my")
    proj.collect().foreach { r =>
      val (lon, lat) = (r.getDouble(1), r.getDouble(2))
      val R = 6378137.0
      assert(math.abs(r.getDouble(3) - R * math.toRadians(lon)) < 1e-6)
      assert(math.abs(r.getDouble(4) -
        R * math.log(math.tan(math.Pi / 4 + math.toRadians(lat) / 2))) < 1e-6)
    }
    // a known anchor: (180, 0) -> (20037508.342789244, 0)
    val a = spark.sql(
      "SELECT st_x(st_transform(st_point(180D, 0D), 4326, 3857)) AS x").first()
    assert(math.abs(a.getDouble(0) - 20037508.342789244) < 1e-6)
    // round-trip back to degrees
    val rt = proj.selectExpr("id", "lon", "lat",
      "st_x(st_transform(st_point(mx, my), 3857, 4326)) AS rlon",
      "st_y(st_transform(st_point(mx, my), 3857, 4326)) AS rlat")
    rt.collect().foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(3)) < 1e-9, "lon round-trip")
      assert(math.abs(r.getDouble(2) - r.getDouble(4)) < 1e-9, "lat round-trip")
    }
    // same-code identity, any code
    val idp = spark.sql(
      "SELECT st_astext(st_transform(st_point(3D, 4D), 32633, 32633)) AS t").first()
    assert(idp.getString(0).contains("POINT (3 4)"))
    // NULL geometry stays NULL
    assert(spark.sql(
      "SELECT st_transform(CAST(NULL AS BINARY), 4326, 3857) AS t").first().isNullAt(0))
    // unsupported pair: analysis-time refusal naming both EPSG codes
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT st_transform(st_point(1D, 2D), 4326, 32633)").collect()
    }
    assert(e.getMessage.contains("EPSG:4326") && e.getMessage.contains("EPSG:32633"),
      e.getMessage)
    // non-foldable SRID: refused (SRIDs are configuration, not data)
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      df.selectExpr("st_transform(g, CAST(id AS INT), 3857)").collect()
    }
    assert(e2.getMessage.toLowerCase.contains("foldable"), e2.getMessage)
  }

  test("SELF-join through two aliases with a spatial join condition: shadow " +
      "binding stays per-side and the window bound still propagates FILE " +
      "pruning across the alias boundary") {
    import graft.spatial.GeoTable
    graft.spatial.Geo.install(spark)
    val base = java.nio.file.Files.createTempDirectory("graft_selfjoin").toString
    val dir = s"$base/t"
    (0 until 4).foreach { q =>
      val (sx, sy) = q match {
        case 0 => (1, 1); case 1 => (-1, 1); case 2 => (-1, -1); case _ => (1, -1)
      }
      GeoTable.withBbox(spark.range(10).selectExpr(
        s"id + ${q * 10} AS id",
        s"st_point(CAST(${sx} * (id + 1) AS DOUBLE), CAST(${sy} * (id + 1) AS DOUBLE)) AS g"),
        "g").coalesce(1).write.mode("append").parquet(dir)
    }
    GeoTable.writeManifest(spark, dir)
    val t = GeoTable.read(spark, dir)
    // SAME relation on both sides: Spark deduplicates the right side's
    // exprIds, so two same-named shadows are in scope — binding must stay
    // per-side (a wrong-side bind would compare the wrong row's envelope)
    val j = t.as("a")
      .where("st_covers(st_makeenvelope(CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), " +
        "CAST(20 AS DOUBLE), CAST(20 AS DOUBLE)), g)")
      .join(t.as("b"), org.apache.spark.sql.functions.expr("st_intersects(a.g, b.g)"))
      .selectExpr("a.id AS aid", "b.id AS bid")
    val rows = j.collect()
    assert(rows.length == 10 && rows.forall(r => r.getLong(0) == r.getLong(1)),
      s"self-join quadrant-0 twins must match exactly: ${rows.toSeq}")
    val plan = j.queryExecution.executedPlan match {
      case ad: AdaptiveSparkPlanExec => ad.executedPlan
      case p => p
    }
    def deep(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.collect {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => deep(q.plan)
        case n => Seq(n)
      }.flatten
    val files = deep(plan).collect {
      case f: FileSourceScanExec => f.metrics("numFiles").value }
    assert(files.sorted == Seq(1L, 1L),
      s"the bound must prune the bounded alias AND propagate to the other " +
        s"alias of the SAME table: scanned $files of 4+4")
  }

  test("boundEnvOf INTERSECTS multiple covering envelopes: with the loose " +
      "bound first, the propagated conjunct still prunes the other side " +
      "to the tight intersection") {
    import graft.spatial.GeoTable
    graft.spatial.Geo.install(spark)
    val base = java.nio.file.Files.createTempDirectory("graft_multibound").toString
    def quadrantTable(dir: String): Unit = {
      (0 until 4).foreach { q =>
        val (sx, sy) = q match {
          case 0 => (1, 1); case 1 => (-1, 1); case 2 => (-1, -1); case _ => (1, -1)
        }
        GeoTable.withBbox(spark.range(10).selectExpr(
          s"id + ${q * 10} AS id",
          s"st_point(CAST(${sx} * (id + 1) AS DOUBLE), CAST(${sy} * (id + 1) AS DOUBLE)) AS g"),
          "g").coalesce(1).write.mode("append").parquet(dir)
      }
      GeoTable.writeManifest(spark, dir)
    }
    quadrantTable(s"$base/ta")
    quadrantTable(s"$base/tb")
    val a = GeoTable.read(spark, s"$base/ta")
    val b = GeoTable.read(spark, s"$base/tb")
    // LOOSE bound first (covers all four quadrants), tight quadrant-0
    // bound second: first-bound-wins would propagate the loose envelope
    // and prune NOTHING on b — the intersection prunes b to one file
    val j = a.as("a")
      .where("st_covers(st_makeenvelope(CAST(-20 AS DOUBLE), CAST(-20 AS DOUBLE), " +
        "CAST(20 AS DOUBLE), CAST(20 AS DOUBLE)), a.g) AND " +
        "st_covers(st_makeenvelope(CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), " +
        "CAST(20 AS DOUBLE), CAST(20 AS DOUBLE)), a.g)")
      .join(b.as("b"), org.apache.spark.sql.functions.expr("st_intersects(a.g, b.g)"))
      .selectExpr("a.id AS aid", "b.id AS bid")
    val rows = j.collect()
    assert(rows.length == 10 && rows.forall(r => r.getLong(0) == r.getLong(1)),
      s"quadrant-0 twins must match: ${rows.toSeq}")
    val plan = j.queryExecution.executedPlan match {
      case ad: AdaptiveSparkPlanExec => ad.executedPlan
      case p => p
    }
    def deep(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.collect {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => deep(q.plan)
        case n => Seq(n)
      }.flatten
    val files = deep(plan).collect {
      case f: FileSourceScanExec => f.metrics("numFiles").value }
    assert(files.sorted == Seq(1L, 1L),
      s"the INTERSECTION of both bounds must propagate (loose-first must " +
        s"not win): scanned $files of 4+4")
  }

  test("spatial JOIN bbox derivation declines where unsound: FULL OUTER " +
      "keeps both sides unfiltered and unmatched rows survive") {
    import graft.spatial.GeoTable
    graft.spatial.Geo.install(spark)
    val base = java.nio.file.Files.createTempDirectory("graft_joinfull").toString
    def mk(dir: String, off: Int): Unit = {
      GeoTable.withBbox(spark.range(4).selectExpr("id",
        s"st_point(CAST(id + $off AS DOUBLE), CAST(0 AS DOUBLE)) AS g"), "g")
        .coalesce(1).write.mode("append").parquet(dir)
      GeoTable.writeManifest(spark, dir)
    }
    mk(s"$base/ta", 0) // points x = 0..3
    mk(s"$base/tb", 2) // points x = 2..5 → overlap at 2, 3
    val a = GeoTable.read(spark, s"$base/ta")
    val b = GeoTable.read(spark, s"$base/tb")
    val j = a.as("a")
      .where("st_covers(st_makeenvelope(CAST(-1 AS DOUBLE), CAST(-1 AS DOUBLE), " +
        "CAST(10 AS DOUBLE), CAST(1 AS DOUBLE)), a.g)")
      .join(b.as("b"), org.apache.spark.sql.functions.expr("st_intersects(a.g, b.g)"),
        "full_outer")
      .selectExpr("a.id AS aid", "b.id AS bid")
    val got = j.collect().map(r =>
      (if (r.isNullAt(0)) -1L else r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    // matches (2,0), (3,1); unmatched a: 0,1; unmatched b: 2,3 (x=4,5)
    assert(got == Set((2L, 0L), (3L, 1L), (0L, -1L), (1L, -1L), (-1L, 2L), (-1L, 3L)),
      s"full outer must keep unmatched rows on both sides: $got")
  }

  // NOTE: the wrong-relation single-candidate bind is believed
  // UNREACHABLE today — deterministic above-join predicates fold into
  // the JOIN condition (no Filter node, the rule never fires; verified
  // against the optimized plan) — so this is a correctness regression
  // test for the OR-above-join shape plus defense-in-depth for the
  // qualifier-checked single-candidate arm, not a bug pin.
  test("cross-table OR with one side's shadow pruned keeps matching rows " +
      "(wrong-relation shadow must never bind — single candidates are " +
      "qualifier-checked too)") {
    import graft.spatial.GeoTable
    graft.spatial.Geo.install(spark)
    val base = java.nio.file.Files.createTempDirectory("graft_1cbbox").toString
    val dirA = s"$base/a"
    val dirB = s"$base/b"
    GeoTable.write(spark.range(4).selectExpr("id",
      "st_point(CAST(id * 10 AS DOUBLE), CAST(0 AS DOUBLE)) AS g"), dirA, "g")
    GeoTable.write(spark.range(4).selectExpr("id",
      "st_point(CAST(1000 + id AS DOUBLE), CAST(0 AS DOUBLE)) AS g"), dirB, "g")
    val a = GeoTable.read(spark, dirA)
    val b = GeoTable.read(spark, dirB)
    // the OR across both sides pins the filter ABOVE the join; selecting
    // only b's shadow lets column pruning drop a.g_bbox below it — the
    // a-side translate then sees exactly ONE g_bbox, the WRONG relation's
    // (x≈1000, misses the query box) — and a.id=0 matches the original
    // predicate but neither injected bbox arm
    val j = a.as("a").join(b.as("b"),
        org.apache.spark.sql.functions.expr("a.id = b.id"))
      .where("st_intersects(a.g, st_makeenvelope(CAST(-1 AS DOUBLE), " +
        "CAST(-1 AS DOUBLE), CAST(1 AS DOUBLE), CAST(1 AS DOUBLE))) OR " +
        "st_intersects(b.g, st_makeenvelope(CAST(500 AS DOUBLE), " +
        "CAST(-1 AS DOUBLE), CAST(501 AS DOUBLE), CAST(1 AS DOUBLE)))")
      .selectExpr("a.id", "b.g_bbox")
    val got = j.collect().map(_.getLong(0)).toSet
    assert(got == Set(0L),
      s"binding the other relation's bbox must decline, not drop rows: $got")
  }
}
