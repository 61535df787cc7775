package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GeoCodec
import graft.spatial.{GeoTable, Snapshots}

/** Table-level metadata (partition spec, spec history, schema) has one
  * source: the manifest main's head names through the refs pointer. A
  * stale `_graft_manifest.json` beside it changes nothing.
  */
class MetadataSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val warehouse: String = {
    graft.spatial.Geo.install(spark)
    val wh = Files.createTempDirectory("graft_ms_wh").toString
    spark.conf.set("spark.sql.catalog.ms", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ms.warehouse", wh)
    wh
  }

  private def rows(from: Int, until: Int) =
    spark.range(from, until).selectExpr("id", "concat('c', id % 2) AS category")

  private def headFile(dir: String, version: Int): Path =
    Paths.get(dir, s"_graft_manifest_v$version.json")

  /** The `partitions` array of snapshot `version`'s manifest, read from the file. */
  private def partitionsAt(dir: String, version: Int): Seq[String] = {
    import org.json4s._
    val txt = new String(Files.readAllBytes(headFile(dir, version)), "UTF-8")
    (org.json4s.jackson.JsonMethods.parse(txt) \ "partitions") match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case _ => Nil
    }
  }

  test("a partition-spec evolution survives a stale _graft_manifest.json: " +
      "main and branch appends carry the evolved spec") {
    val dir = Files.createTempDirectory("graft_ms_evolve").toString + "/t"
    rows(0, 40).write.partitionBy("category").parquet(dir)
    GeoTable.writeManifest(spark, dir, Seq("category"))
    Snapshots.evolvePartitionSpec(dir, add = Seq("truncate(1000,id)"))
    // what a second process sees between the evolution's refs CAS and a
    // rewrite of the old mirror file: the pre-evolution head
    val stale = Files.readAllBytes(headFile(dir, Snapshots.mainVersion(dir)))
    Snapshots.evolvePartitionSpec(dir, add = Seq("bucket(4,id)"),
      drop = Seq("truncate(1000,id)"))
    val evolved = partitionsAt(dir, Snapshots.mainVersion(dir))
    val history = GeoTable.readPartitionHistory(dir)
    assert(evolved == Seq("category", "bucket(4,id)"))
    assert(history == Seq("truncate(1000,id)"))
    val mirror = Paths.get(dir, "_graft_manifest.json")
    Files.write(mirror, stale)

    Snapshots.append(rows(40, 60), dir)
    assert(partitionsAt(dir, Snapshots.mainVersion(dir)) == evolved)
    assert(GeoTable.readPartitionHistory(dir) == history)
    // the appended files are laid out under the evolved spec
    val added = Snapshots.readManifest(dir).filter(_.addedV == Snapshots.mainVersion(dir))
    assert(added.nonEmpty && added.forall(_.path.contains("id_bucket=")), added.map(_.path))
    assert(Snapshots.read(spark, dir).count() == 60)

    Files.write(mirror, stale)
    Snapshots.createBranch(dir, "b")
    val bv = Snapshots.appendToBranch(rows(60, 70), dir, "b")
    assert(partitionsAt(dir, bv) == evolved)
    assert(Snapshots.readRef(spark, dir, "b").count() == 70)
  }

  test("a snapshot clone keeps the source's partition spec and history") {
    val dir = Files.createTempDirectory("graft_ms_clone").toString + "/t"
    rows(0, 20).write.partitionBy("category").parquet(dir)
    GeoTable.writeManifest(spark, dir, Seq("category"))
    Snapshots.evolvePartitionSpec(dir, add = Seq("bucket(4,id)"))
    val clone = dir + "_clone"
    val v = Snapshots.snapshotClone(spark, dir, clone)
    assert(partitionsAt(clone, v) == Seq("category", "bucket(4,id)"))
    val byCat = Snapshots.read(spark, clone).groupBy("category").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byCat == Map("c0" -> 10L, "c1" -> 10L))
  }

  test("isTable: a refs head or the legacy marker makes a table; plain parquet " +
      "and an abandoned first version file do not") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE ms.db.cat (id BIGINT) USING graft")
    assert(Snapshots.isTable(s"$warehouse/db/cat"))

    val plain = Files.createTempDirectory("graft_ms_plain").toString + "/p"
    rows(0, 5).write.parquet(plain)
    assert(!Snapshots.isTable(plain))
    assert(!Snapshots.isTable(plain + "/missing"))

    // a crash between linking the first version file and the first refs
    // CAS leaves a lone version file
    val crashed = Files.createTempDirectory("graft_ms_crashed").toString
    Files.write(headFile(crashed, 1), GeoTable.manifestJson(Nil).getBytes("UTF-8"))
    assert(!Snapshots.isTable(crashed))

    // a table from before the refs pointer: version files plus the marker
    val legacy = Files.createTempDirectory("graft_ms_legacy").toString + "/l"
    rows(0, 10).write.parquet(legacy)
    GeoTable.writeManifest(spark, legacy)
    Snapshots.append(rows(10, 15), legacy)
    val newest = Snapshots.currentVersion(legacy)
    Files.copy(headFile(legacy, newest), Paths.get(legacy, "_graft_manifest.json"))
    Snapshots.listDir(Paths.get(legacy))(_.toList)
      .filter(_.getFileName.toString.startsWith("_graft_refs"))
      .foreach(p => Files.delete(p))
    assert(Snapshots.readRefs(legacy) == ((Map.empty, Map.empty)))
    assert(Snapshots.isTable(legacy))
    assert(Snapshots.mainVersion(legacy) == newest)
    assert(Snapshots.read(spark, legacy).count() == 15)
  }

  test("planning reads the refs state no more often than when table metadata " +
      "came from a separate file") {
    assert(warehouse.nonEmpty)
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_ms_plan").toString
    val geo = (0 until 400).map { i =>
      Row(i.toLong, s"cat${i % 3}", GeoCodec.writeWkb(GeoCodec.point(i % 50 + 1.0, i % 40 + 1.0)))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(geo, 2),
      StructType(Seq(StructField("id", LongType), StructField("category", StringType),
        StructField("geom", BinaryType))))
    GeoTable.write(df, dir, "geom", res = 8, numFiles = 2, partitionBy = Seq("bucket(4,id)"))
    Snapshots.deleteMoR(spark, dir, "id = 7")
    spark.sql("CREATE TABLE ms.db.plan (id BIGINT, v DOUBLE) USING graft " +
      "PARTITIONED BY (bucket(4, id))")
    spark.sql("INSERT INTO ms.db.plan SELECT id, CAST(id AS DOUBLE) FROM range(200)")
    def refsReads(f: => Any): Long = {
      val before = Snapshots.refsReads.get
      f
      Snapshots.refsReads.get - before
    }
    // budgets: the counts measured with the mirror file as metadata source
    for (_ <- 1 to 2) {
      val v1 = refsReads(Snapshots.read(spark, dir).filter("id < 10").queryExecution.executedPlan)
      val fmt = refsReads(
        spark.read.format("graft").load(dir).filter("id < 10").queryExecution.executedPlan)
      val cat = refsReads(spark.table("ms.db.plan").filter("id < 10").queryExecution.executedPlan)
      assert(v1 <= 1, s"V1 read planning: $v1 refs reads")
      assert(fmt <= 14, s"format(graft) planning: $fmt refs reads")
      assert(cat <= 13, s"catalog planning: $cat refs reads")
    }
    assert(Snapshots.read(spark, dir).filter("id < 10").count() == 9)
    assert(spark.table("ms.db.plan").filter("id < 10").count() == 10)
  }
}
