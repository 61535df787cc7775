package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GeoCodec
import graft.spatial.{GeoTable, Snapshots}

/** The reference's incremental / timestamp read-option surface
  * (`SparkReadOptions`: start-snapshot-id / end-snapshot-id /
  * as-of-timestamp, `SparkScanBuilder.java:398-427` in /root/reference)
  * served through the DSv2 scan: only the files entering `(start, end]`
  * are planned, rewrite snapshots are skipped, and the end snapshot's
  * delete state applies.
  */
class IncrementalReadSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def mkDf(ids: Range) = {
    val rows = ids.map { i =>
      Row(i.toLong, GeoCodec.writeWkb(GeoCodec.point(i % 50 + 1.0, i % 40 + 1.0)))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("id", LongType), StructField("geom", BinaryType))))
    GeoTable.withBbox(df, "geom")
  }

  private def newTable(): String = {
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_incropt").toString
    GeoTable.write(mkDf(0 until 30).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 2)
    Snapshots.append(mkDf(100 until 120), dir) // v2
    Snapshots.append(mkDf(200 until 210), dir) // v3
    dir
  }

  test("start-version reads only rows appended after it") {
    val dir = newTable()
    val incr = spark.read.format("graft").option("start-version", 1).load(dir)
    assert(incr.count() == 30)
    assert(incr.filter(col("id") < 100).count() == 0)
    // reference spelling
    val iceSpelled = spark.read.format("graft").option("start-snapshot-id", 2).load(dir)
    assert(iceSpelled.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (200L until 210L))
  }

  test("start + end bound a window; pushdown still applies inside it") {
    val dir = newTable()
    val win = spark.read.format("graft")
      .option("start-version", 1).option("end-version", 2).load(dir)
    assert(win.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (100L until 120L))
    // filters still push into the restricted scan
    val filtered = spark.read.format("graft").option("start-version", 1).load(dir)
      .filter(col("id") >= 205)
    assert(filtered.count() == 5)
    val scans = filtered.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
  }

  test("rewrite snapshots are skipped, not resurfaced") {
    val dir = newTable()
    // v4: compaction rewrite — rematerializes every already-consumed row
    Snapshots.rewriteDataFiles(spark, dir, targetFileSize = Some(1L << 30))
    // v5: a genuine append after the rewrite
    Snapshots.append(mkDf(300 until 305), dir)
    val incr = spark.read.format("graft").option("start-version", 3).load(dir)
    assert(incr.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (300L until 305L), "rewrite outputs must not resurface already-consumed rows")
  }

  test("end snapshot's MoR delete state applies to entered rows") {
    val dir = newTable()
    Snapshots.updateProperties(dir, Map("write.delete.mode" -> "merge-on-read"))
    Snapshots.delete(spark, dir, col("id") === 202) // v4: pos-delete, no rewrite
    val incr = spark.read.format("graft").option("start-version", 2).load(dir)
    assert(incr.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(200L, 201L) ++ (203L until 210L))
  }

  test("as-of-timestamp resolves like TIMESTAMP AS OF") {
    val dir = newTable()
    val t2 = Snapshots.commitTimeMillis(dir, 2)
    val asOf = spark.read.format("graft").option("as-of-timestamp", t2).load(dir)
    assert(asOf.count() == 50) // v1 + v2
  }

  test("the changes metadata table honors start-timestamp / end-timestamp " +
      "(ignoring them would serve the FULL history to a windowed CDC read)") {
    val dir = newTable()
    val t2 = Snapshots.commitTimeMillis(dir, 2)
    // start is exclusive: only v3's 10 inserts enter after v2's commit time
    val windowed = spark.read.format("graft").option("metadata", "changes")
      .option("start-timestamp", t2).load(dir)
    assert(windowed.count() == 10, "only the post-v2 changes may stream")
    val upTo = spark.read.format("graft").option("metadata", "changes")
      .option("end-timestamp", t2).load(dir)
    assert(upTo.count() == 50, "v1 + v2 inserts up to the end timestamp")
  }

  test("Spark's camelCase time-travel options: versionAsOf / timestampAsOf") {
    val dir = newTable()
    // versionAsOf — Spark's own DataFrameReader time-travel spelling
    // (the reference's SparkReadOptions.VERSION_AS_OF)
    assert(spark.read.format("graft").option("versionAsOf", 2).load(dir).count() == 50)
    // timestampAsOf accepts epoch millis and the timestamp-string form
    val t2 = Snapshots.commitTimeMillis(dir, 2)
    assert(spark.read.format("graft").option("timestampAsOf", t2).load(dir).count() == 50)
    val str = new java.sql.Timestamp(t2).toString
    assert(spark.read.format("graft").option("timestampAsOf", str).load(dir).count() == 50)
    // the DATE-ONLY spelling Spark's own option accepts (midnight local);
    // tomorrow's date is strictly after every commit in this test table
    val tomorrow = java.time.LocalDate.now().plusDays(1).toString
    assert(spark.read.format("graft").option("timestampAsOf", tomorrow)
      .load(dir).count() == Snapshots.read(spark, dir).count())
  }

  test("catalog table reads honor the options; bad starts error") {
    val wh = Files.createTempDirectory("graft_incr_wh").toString
    spark.conf.set("spark.sql.catalog.icat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.icat.warehouse", wh)
    spark.sql("CREATE DATABASE IF NOT EXISTS icat.db")
    spark.sql("CREATE TABLE icat.db.t (id BIGINT, v DOUBLE) USING graft")
    spark.sql("INSERT INTO icat.db.t VALUES (1, 1.0), (2, 2.0)")
    spark.sql("INSERT INTO icat.db.t VALUES (3, 3.0)")
    // CREATE TABLE commits an empty v1; the INSERTs are v2 and v3
    val incr = spark.read.option("start-version", 2).table("icat.db.t")
    assert(incr.select("id").collect().map(_.getLong(0)).toSeq == Seq(3L))
    val all = spark.read.option("start-version", 1).table("icat.db.t")
    assert(all.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    // a start version outside the chain errors instead of silently full-scanning
    val err = intercept[Exception] {
      spark.read.option("start-version", 7).table("icat.db.t").collect()
    }
    assert(err.getMessage != null)
  }

  test("incremental options reject time-travel combos") {
    val dir = newTable()
    // combining with table-level time travel would mix histories: files
    // planned along main's ancestry, schema/deletes from the traveled
    // version — the reference rejects the combination, so do we
    val e = intercept[Exception] {
      spark.read.format("graft")
        .option("start-version", 1).option("version", 2).load(dir).collect()
    }
    assert(e.getMessage.contains("cannot be combined"))
  }

  test("repeat incremental scans replay memoized deltas: zero re-parses") {
    val dir = newTable()
    (0 until 8).foreach(k => Snapshots.append(mkDf(300 + k * 10 until 305 + k * 10), dir))
    val head = Snapshots.mainVersion(dir)
    // warm: first walk parses what it needs and memoizes per-edge deltas
    val first = Snapshots.enteredBetween(dir, 1, head)
    val parses = Snapshots.manifestParseCount.get()
    // repeat walks (and a sub-range) serve entirely from the memos
    assert(Snapshots.enteredBetween(dir, 1, head).map(_.path) == first.map(_.path))
    Snapshots.enteredBetween(dir, 3, head)
    assert(Snapshots.manifestParseCount.get() == parses,
      "repeated incremental planning must not re-parse any manifest")
  }
}
