package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GeoCodec
import graft.spatial.GeoTable

/** A spatial lookup compiles its generated code once per query SHAPE: a
  * second lookup with a different window reuses the compiled classes on
  * both read paths. The window's bbox bounds would otherwise be inlined
  * into the generated source as double constants and force a compile for
  * every new window.
  */
class CodegenReuseSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val (warehouse, path) = {
    graft.spatial.Geo.install(spark)
    val wh = Files.createTempDirectory("graft_cg_wh").toString
    spark.conf.set("spark.sql.catalog.cg", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.cg.warehouse", wh)
    val rows = (0 until 2000).map { i =>
      Row(i.toLong, GeoCodec.writeWkb(GeoCodec.point(i % 50 * 0.5 + 0.25, i / 50 * 0.5 + 0.25)))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("id", LongType), StructField("geom", BinaryType))))
    val p = s"$wh/db/pts"
    GeoTable.write(df, p, "geom", res = 8, numFiles = 4)
    (wh, p)
  }

  private def window(x0: Double, y0: Double, x1: Double, y1: Double) =
    s"ST_Intersects(geom, ST_MakeEnvelope(${x0}D, ${y0}D, ${x1}D, ${y1}D))"

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Compiles the second lookup adds after the first has run. */
  private def secondLookupCompiles(run: String => Seq[Long]): Long = {
    val first = run(window(1.1, 1.2, 4.3, 3.4))
    assert(first.nonEmpty)
    val before = compiles()
    val second = run(window(7.6, 2.7, 9.8, 5.9))
    assert(second.nonEmpty && second.toSet != first.toSet)
    compiles() - before
  }

  test("a second lookup with a new window compiles nothing on the catalog path") {
    assert(warehouse.nonEmpty)
    val added = secondLookupCompiles(p =>
      spark.sql(s"SELECT id FROM cg.db.pts WHERE $p").collect().map(_.getLong(0)).toSeq)
    assert(added == 0, s"the second catalog lookup compiled $added classes")
  }

  test("a second lookup with a new window compiles nothing on the V1 path") {
    val added = secondLookupCompiles(p =>
      GeoTable.read(spark, path).where(expr(p)).select("id").collect().map(_.getLong(0)).toSeq)
    assert(added == 0, s"the second V1 lookup compiled $added classes")
  }
}
