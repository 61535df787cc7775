package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GeoCodec
import graft.sources.GraftTable
import graft.spatial.{GeoTable, GeometryFields, Snapshots, TableSchema}

/** One snapshot, one answer: every read face serves the rows
  * [[Snapshots.read]] serves, and the schema the DSv2 table derives from
  * metadata is exactly the schema that read produces.
  */
class ReadPathSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val warehouse: String = {
    graft.spatial.Geo.install(spark)
    val wh = Files.createTempDirectory("graft_rp_wh").toString
    spark.conf.set("spark.sql.catalog.rp", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.rp.warehouse", wh)
    wh
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select(col("id").cast("long")).collect().map(_.getLong(0)).toSet

  /** `(file_path, pos)` rows addressing the given ids in the current snapshot. */
  private def positionsOf(path: String, cond: String): DataFrame =
    Snapshots.read(spark, path)
      .filter(expr(cond))
      .select(expr("_metadata.file_path").as("file_path"), expr("_metadata.row_index").as("pos"))

  /** A geo table at a fresh path: id, category, geom (+ bbox shadow). */
  private def geoTable(n: Int, encoding: Option[String] = None,
      partitionBy: Seq[String] = Nil): String = {
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_rp").toString
    val rows = (0 until n).map { i =>
      Row(i.toLong, s"cat${i % 3}", GeoCodec.writeWkb(GeoCodec.point(i % 50 + 1.0, i % 40 + 1.0)))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("id", LongType), StructField("category", StringType),
        StructField("geom", BinaryType))))
    encoding match {
      case Some(e) => GeometryFields.writeGeo(df, dir, "geom", e, res = 8, numFiles = 2)
      case None => GeoTable.write(df, dir, "geom", res = 8, numFiles = 2, partitionBy = partitionBy)
    }
    dir
  }

  /** The metadata-derived schema equals the read's, field metadata included,
    * and the DSv2 table serves it too.
    */
  private def assertSchemaEquivalent(path: String, version: Option[Int] = None): Unit = {
    val expected = Snapshots.read(spark, path, version).schema
    assert(Snapshots.schema(spark, path, version) == expected,
      s"\nderived:  ${Snapshots.schema(spark, path, version).json}\nread:     ${expected.json}")
    assert(new GraftTable(path, version).schema == expected)
    val viaFormat = version.map(v => spark.read.format("graft").option("version", v.toLong))
      .getOrElse(spark.read.format("graft")).load(path)
    assert(viaFormat.schema == expected)
  }

  test("every read face applies all three delete kinds: GeoTable.read, " +
      "Snapshots.read, format(\"graft\") and catalog SQL return the same rows") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE rp.db.dels (id BIGINT, v DOUBLE) USING graft")
    spark.sql("INSERT INTO rp.db.dels SELECT /*+ REPARTITION(4) */ id, CAST(id AS DOUBLE) " +
      "FROM range(1000)")
    val path = s"$warehouse/db/dels"
    val positions = positionsOf(path, "id >= 500 AND id < 550").collect()
    assert(positions.length == 50)
    import spark.implicits._
    Snapshots.deleteByEquality(spark, path, (0L until 100L).toDF("id"))
    Snapshots.deleteByPosition(spark, path,
      positions.map(r => (r.getString(0), r.getLong(1))).toSeq.toDF("file_path", "pos"))
    val expected = ((100L until 1000L).toSet -- (500L until 550L))
    assert(expected.size == 850)
    assert(ids(GeoTable.read(spark, path)) == expected)
    assert(ids(Snapshots.read(spark, path)) == expected)
    assert(ids(spark.read.format("graft").load(path)) == expected)
    assert(ids(spark.sql("SELECT id FROM rp.db.dels")) == expected)
    // the files metadata table of the current snapshot lists its live files
    assert(GeoTable.filesTable(spark, path).count() == Snapshots.readManifest(path).size)
  }

  test("format(\"graft\") has no V1 relation: forcing the V1 source list fails loudly") {
    val dir = geoTable(10)
    spark.conf.set("spark.sql.sources.useV1SourceList", "graft")
    try intercept[Exception](spark.read.format("graft").load(dir).collect())
    finally spark.conf.unset("spark.sql.sources.useV1SourceList")
    assert(spark.read.format("graft").load(dir).count() == 10)
  }

  test("derived schema == read schema: rename, drop, promotion, nested evolution, comments") {
    val dir = Files.createTempDirectory("graft_rp_evo").toString
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("label", StringType),
      StructField("gone", StringType),
      StructField("pt", StructType(Seq(StructField("x", DoubleType), StructField("y", DoubleType)))),
      StructField("geom", BinaryType)))
    val rows = (0 until 20).map(i => Row(i, s"l$i", "x", Row(i * 1.0, i * 2.0),
      GeoCodec.writeWkb(GeoCodec.point(i + 1.0, i + 1.0))))
    GeoTable.write(spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema),
      dir, "geom", res = 8, numFiles = 2)
    assertSchemaEquivalent(dir)
    TableSchema.renameColumn(spark, dir, "label", "name")
    TableSchema.dropColumn(spark, dir, "gone")
    TableSchema.updateColumnType(spark, dir, "id", LongType)
    TableSchema.addColumn(spark, dir, "pt.z", DoubleType)
    TableSchema.renameColumn(spark, dir, "pt.x", "px")
    TableSchema.setColumnComment(spark, dir, "name", Some("display name"))
    TableSchema.setColumnComment(spark, dir, "pt.y", Some("northing"))
    TableSchema.addColumn(spark, dir, "score", DoubleType)
    val evolved = Snapshots.schema(spark, dir)
    assert(evolved.fieldNames.toSeq == Seq("id", "name", "pt", "geom", "geom_bbox", "score"))
    assert(evolved("id").dataType == LongType)
    assert(evolved("name").metadata.getString("comment") == "display name")
    assert(evolved("pt").dataType.asInstanceOf[StructType].fieldNames.toSeq == Seq("px", "y", "z"))
    assertSchemaEquivalent(dir)
  }

  test("derived schema == read schema for every declared geometry encoding") {
    Seq("wkb", "ewkb", "wkt", "geojson").foreach { enc =>
      val dir = geoTable(12, encoding = Some(enc))
      assert(Snapshots.schema(spark, dir)("geom").dataType == BinaryType, enc)
      assertSchemaEquivalent(dir)
    }
  }

  test("derived schema == read schema for identity and transform partitions") {
    assertSchemaEquivalent(geoTable(30, partitionBy = Seq("category")))
    assertSchemaEquivalent(geoTable(30, partitionBy = Seq("bucket(4,id)")))
  }

  test("derived schema == read schema at a time-travel version and with all " +
      "three delete kinds pending") {
    val dir = geoTable(40)
    val v1 = Snapshots.mainVersion(dir)
    TableSchema.addColumn(spark, dir, "score", DoubleType)
    Snapshots.append(GeoTable.withBbox(spark.createDataFrame(spark.sparkContext.parallelize(
      (100 until 110).map(i => Row(i.toLong, "new",
        GeoCodec.writeWkb(GeoCodec.point(1.0, 2.0)), i * 0.5)), 1),
      StructType(Seq(StructField("id", LongType), StructField("category", StringType),
        StructField("geom", BinaryType), StructField("score", DoubleType)))), "geom"), dir)
    assertSchemaEquivalent(dir, Some(v1))
    import spark.implicits._
    val positions = positionsOf(dir, "id < 5")
    Snapshots.deleteMoR(spark, dir, "id >= 30 AND id < 35")
    Snapshots.deleteByPosition(spark, dir, positions)
    // a key that is NOT the first column: the read keeps the table's order
    Snapshots.deleteByEquality(spark, dir, Seq("cat1").toDF("category"))
    assert(Snapshots.readDeletes(dir).nonEmpty && Snapshots.readPosDeletes(dir).nonEmpty &&
      Snapshots.readEqDeletes(dir).nonEmpty)
    assertSchemaEquivalent(dir)
    assert(Snapshots.read(spark, dir).columns.head == "id")
  }

  test("planning a catalog query again re-parses no manifest and no delete list") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE rp.db.parse (id BIGINT, v DOUBLE) USING graft")
    spark.sql("INSERT INTO rp.db.parse SELECT /*+ REPARTITION(2) */ id, CAST(id AS DOUBLE) " +
      "FROM range(200)")
    val path = s"$warehouse/db/parse"
    val positions = positionsOf(path, "id < 10")
    import spark.implicits._
    Snapshots.deleteMoR(spark, path, "id >= 100 AND id < 110")
    Snapshots.deleteByPosition(spark, path, positions)
    Snapshots.deleteByEquality(spark, path, Seq(150L, 151L).toDF("id"))
    val sql = "SELECT id, v FROM rp.db.parse WHERE id > 5"
    def plan(): Unit = { spark.sql(sql).queryExecution.executedPlan; () }
    plan() // warm
    val before = Snapshots.manifestParseCount.get()
    val deletes = (Snapshots.readDeletes(path), Snapshots.readPosDeletes(path),
      Snapshots.readEqDeletes(path))
    plan()
    assert(Snapshots.manifestParseCount.get() == before,
      "a second planning of one version must reuse the parsed manifest")
    // the delete lists come out of that one memoized parse: the very same
    // objects, never a fresh json4s pass over cached text
    assert(Snapshots.readDeletes(path) eq deletes._1)
    assert(Snapshots.readPosDeletes(path) eq deletes._2)
    assert(Snapshots.readEqDeletes(path) eq deletes._3)
    // id > 5 keeps 194; positions drop 6..9, the predicate 100..109, equality 150/151
    assert(spark.sql(sql).count() == 194 - 4 - 10 - 2)
  }
}
