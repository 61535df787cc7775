package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GeoCodec
import graft.sources.GraftScan
import graft.spatial.GeoTable

/** File pruning that reaches both read paths: a `VALUES` table joined by
  * `ST_Intersects` bounds the table side by its rows' envelopes, and an OR
  * of spatial predicates prunes the catalog scan as it prunes the V1 one.
  * Results always equal the unpruned ones.
  */
class LiteralJoinBoundSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val TotalFiles = 8

  /** A Hilbert-clustered table of points and small boxes over 25 x 20,
    * one NULL geometry among them, reachable as `lj.db.geo` and by path. */
  private lazy val path: String = {
    graft.spatial.Geo.install(spark)
    val wh = Files.createTempDirectory("graft_lj_wh").toString
    spark.conf.set("spark.sql.catalog.lj", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.lj.warehouse", wh)
    val rows = (0 until 2000).map { i =>
      val (x, y) = (i % 50 * 0.5 + 0.25, i / 50 * 0.5 + 0.25)
      val g =
        if (i == 7) null
        else if (i % 5 == 0) GeoCodec.writeWkb(GeoCodec.envelope(x, y, x + 0.2, y + 0.2))
        else GeoCodec.writeWkb(GeoCodec.point(x, y))
      Row(i.toLong, g)
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("id", LongType), StructField("geom", BinaryType))))
    val p = s"$wh/db/geo"
    GeoTable.write(df, p, "geom", res = 8, numFiles = TotalFiles)
    p
  }

  private def withoutPushdown[T](body: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, graft.spatial.SpatialPredicatePushdown.ruleName)
    try body finally spark.conf.unset(key)
  }

  /** Data files the executed plan's graft scans read, V1 and DSv2. */
  private def filesRead(df: DataFrame): Long = {
    def scans(p: SparkPlan): Seq[Long] = p.collect {
      case q: QueryStageExec => scans(q.plan)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case f: FileSourceScanExec => Seq(f.metrics("numFiles").value)
      case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] =>
        Seq(b.scan.asInstanceOf[GraftScan].reportDriverMetrics()
          .find(_.name() == "resultDataFiles").get.value())
    }.flatten
    scans(df.queryExecution.executedPlan).sum
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.mkString(",")).toSeq.sorted

  private val values = "SELECT * FROM VALUES " +
    "(1, ST_MakeEnvelope(1.1D, 1.1D, 3.3D, 2.6D)), (2, ST_Point(20.25D, 8.25D)), " +
    "(3, CAST(NULL AS BINARY)), (4, ST_GeomFromText('POLYGON EMPTY')) AS r(rid, geom)"

  private def catalogJoin: DataFrame = spark.sql(
    s"SELECT r.rid, g.id FROM ($values) r JOIN lj.db.geo g ON ST_Intersects(g.geom, r.geom)")
  private def v1Join: DataFrame = spark.sql(values).as("r")
    .join(GeoTable.read(spark, path).as("g"), expr("ST_Intersects(g.geom, r.geom)"))
    .selectExpr("r.rid", "g.id")

  /** Runs `q` with and without the spatial rewrite: same rows, and the
    * files each run read. */
  private def compare(q: => DataFrame): (Long, Long) = {
    val pruned = q
    val got = rows(pruned)
    val (plain, plainFiles) = withoutPushdown { val d = q; (rows(d), filesRead(d)) }
    assert(got.nonEmpty && got == plain)
    (filesRead(pruned), plainFiles)
  }

  test("a VALUES join bounds the table side on both paths, NULL and empty rows included") {
    assert(path.nonEmpty)
    for ((name, q) <- Seq("catalog" -> (() => catalogJoin), "V1" -> (() => v1Join))) {
      val (read, unbounded) = compare(q())
      assert(unbounded == TotalFiles, s"$name: without the rewrite every file is read")
      assert(read < TotalFiles, s"$name: the VALUES bound must prune files, read $read")
    }
  }

  test("a LEFT OUTER join with the VALUES side on the right gets no bound") {
    assert(path.nonEmpty)
    val q = spark.sql(s"SELECT g.id, r.rid FROM lj.db.geo g LEFT OUTER JOIN ($values) r " +
      "ON ST_Intersects(g.geom, r.geom)")
    val (read, _) = compare(q)
    assert(read == TotalFiles, s"every outer-side row must survive, read $read files")
  }

  test("a VALUES list past the envelope cap joins unbounded") {
    assert(path.nonEmpty)
    // n small boxes in one corner of the table: bounded, they prune files
    def join(n: Int): DataFrame = {
      val boxes = (0 until n).map { k =>
        val x = 1.0 + k * 0.05
        s"($k, ST_MakeEnvelope(${x}D, 1.0D, ${x + 0.1}D, 1.3D))"
      }.mkString(", ")
      spark.sql(s"SELECT r.rid, g.id FROM (SELECT * FROM VALUES $boxes AS r(rid, geom)) r " +
        "JOIN lj.db.geo g ON ST_Intersects(g.geom, r.geom)")
    }
    val cap = graft.spatial.SpatialPredicatePushdown.MaxLiteralEnvs
    val (atCap, _) = compare(join(cap))
    assert(atCap < TotalFiles, s"$cap envelopes are ORed and prune, read $atCap")
    val (pastCap, _) = compare(join(cap + 1))
    assert(pastCap == TotalFiles, s"${cap + 1} envelopes decline the bound, read $pastCap")
  }

  test("an OR of spatial predicates prunes the catalog scan as the V1 scan") {
    assert(path.nonEmpty)
    val p = "ST_Intersects(geom, ST_MakeEnvelope(0.5D, 0.5D, 2.5D, 1.5D)) OR " +
      "ST_Intersects(geom, ST_MakeEnvelope(21.5D, 8.5D, 24.5D, 9.5D))"
    val catalog = spark.sql(s"SELECT id FROM lj.db.geo WHERE $p")
    val v1 = GeoTable.read(spark, path).where(expr(p)).select("id")
    // one execution each: a re-run resets the scans' driver metrics
    val (catalogRows, v1Rows) = (rows(catalog), rows(v1))
    assert(catalogRows == v1Rows && v1Rows.nonEmpty)
    val (dsv2Files, v1Files) = (filesRead(catalog), filesRead(v1))
    assert(dsv2Files == v1Files && v1Files < TotalFiles,
      s"catalog read $dsv2Files files, V1 read $v1Files of $TotalFiles")
  }
}
