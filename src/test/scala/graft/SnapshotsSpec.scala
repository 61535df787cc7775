package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GeoCodec
import graft.spatial.{GeoTable, Snapshots, TableOps}

/** Snapshot semantics: append / time travel / copy-on-write DELETE /
  * history / expiration (the reference's Iceberg snapshot surface).
  */
class SnapshotsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def mkDf(ids: Range, quadrant: Int) = {
    val (sx, sy) = quadrant match {
      case 0 => (1, 1); case 1 => (-1, 1); case 2 => (-1, -1); case _ => (1, -1)
    }
    val rows = ids.map { i =>
      Row(i.toLong, GeoCodec.writeWkb(GeoCodec.point(sx * (i % 50 + 1.0), sy * (i % 40 + 1.0))))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("id", LongType), StructField("geom", BinaryType))))
    GeoTable.withBbox(df, "geom")
  }

  test("append / time travel / delete / history / expire") {
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_snap").toString

    // v1: initial write
    GeoTable.write(mkDf(0 until 100, 0).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 2)
    assert(Snapshots.currentVersion(dir) == 1)
    assert(Snapshots.read(spark, dir).count() == 100)

    // v2: append a second quadrant
    val v2 = Snapshots.append(mkDf(100 until 160, 2), dir)
    assert(v2 == 2)
    assert(Snapshots.read(spark, dir).count() == 160)
    // time travel: v1 still intact
    assert(Snapshots.read(spark, dir, Some(1)).count() == 100)

    // v3: copy-on-write delete of part of quadrant 0
    val v3 = Snapshots.delete(spark, dir, col("id") < 10)
    assert(v3 == 3)
    assert(Snapshots.read(spark, dir).count() == 150)
    assert(Snapshots.read(spark, dir).filter(col("id") < 10).count() == 0)
    // CoW: quadrant-2 files (ids 100+, all >= 10? no — stats by id: files with
    // min id >= 10 are untouched) — verify files from v2's append survive
    val v2files = Snapshots.readManifest(dir, Some(2)).map(_.path).toSet
    val v3files = Snapshots.readManifest(dir, Some(3)).map(_.path).toSet
    assert((v2files & v3files).nonEmpty, "CoW delete must keep unaffected files")
    // time travel across all versions
    assert(Snapshots.read(spark, dir, Some(2)).count() == 160)

    // delete with no possible match is a no-op snapshot-wise
    val v3b = Snapshots.delete(spark, dir, col("id") > 1000000)
    assert(v3b == 3)

    // history metadata table
    val hist = Snapshots.history(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(hist == Map(1 -> 100L, 2 -> 160L, 3 -> 150L))

    // overwrite publishes a snapshot referencing only new files
    val v4 = Snapshots.overwrite(mkDf(0 until 7, 1), dir)
    assert(v4 == 4)
    assert(Snapshots.read(spark, dir).count() == 7)
    assert(Snapshots.read(spark, dir, Some(3)).count() == 150)

    // expiration drops old manifests + orphan data files; current unaffected
    Snapshots.expireSnapshots(spark, dir, keep = 1)
    assert(Snapshots.read(spark, dir).count() == 7)
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, dir, Some(2))
    }
  }

  test("expire_snapshots is a reachability diff: unreferenced files survive " +
      "(a concurrent writer's moved-but-uncommitted files are not manifest-reachable)") {
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_exp_reach").toString
    GeoTable.write(mkDf(0 until 30, 0).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 2)
    Snapshots.overwrite(mkDf(100 until 120, 1), dir) // v2 references only new files
    val v1Only = Snapshots.readManifest(dir, Some(1)).map(_.path).toSet --
      Snapshots.readManifest(dir, Some(2)).map(_.path).toSet
    assert(v1Only.nonEmpty)
    // simulate an in-flight commit: a data file moved into place whose
    // manifest has not been published yet
    val stray = java.nio.file.Paths.get(dir, "part-inflight-000.parquet")
    Files.write(stray, Array[Byte](80, 65, 82, 49))
    Snapshots.expireSnapshots(spark, dir, keep = 1)
    assert(Files.exists(stray),
      "expire must not delete unreferenced files — that is remove_orphan_files' " +
        "age-guarded job")
    v1Only.foreach(f => assert(!Files.exists(java.nio.file.Paths.get(dir, f)),
      s"file referenced only by the expired v1 must be deleted: $f"))
    assert(Snapshots.read(spark, dir).count() == 20)
    // history lists only retained versions instead of throwing on expired ones
    val hist = Snapshots.history(spark, dir).collect().map(_.getInt(0)).toSeq
    assert(hist == Seq(2), s"got $hist")
    Files.delete(stray)
  }

  test("snapshotClone starts the clone's version counter past carried stamps " +
      "(sequence scoping must not invert on the clone)") {
    import spark.implicits._
    graft.spatial.Geo.install(spark)
    val src = Files.createTempDirectory("graft_clone_src").toString
    GeoTable.write(mkDf(0 until 20, 0).drop("geom_bbox"), src, "geom", res = 8, numFiles = 2)
    Snapshots.append(mkDf(100 until 110, 1), src) // v2
    Snapshots.deleteByEquality(spark, src, Seq(5L).toDF("id")) // v3, seq=3
    val srcHead = Snapshots.mainVersion(src)
    val target = Files.createTempDirectory("graft_clone_tgt").toString + "/t"
    val v = Snapshots.snapshotClone(spark, src, target)
    assert(v >= srcHead, s"clone committed at $v, below source head $srcHead")
    assert(Snapshots.read(spark, target).count() == 29)
    // (a) an append to the clone must stay visible — under a restarted
    // counter the cloned seq=3 delete would swallow it
    Snapshots.append(mkDf(5 until 6, 0), target) // reinsert the deleted key
    assert(Snapshots.read(spark, target).filter(col("id") === 5L).count() == 1)
    // (b) a fresh delete on the clone must apply to CLONED files — under a
    // restarted counter their addedV stamps would exempt them
    Snapshots.deleteByEquality(spark, target, Seq(7L).toDF("id"))
    assert(Snapshots.read(spark, target).filter(col("id") === 7L).count() == 0)
    // the source is untouched
    assert(Snapshots.read(spark, src).filter(col("id") === 7L).count() == 1)
  }

  test("racing table creation: the second commitCreate(failIfExists) loses " +
      "instead of committing an empty v2 over the winner") {
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_create_race").toString
    def create() = TableOps.commitCreate(dir,
      _ => GeoTable.manifestJson(Nil, Nil, Nil,
        schema = Some(StructType(Seq(StructField("id", LongType))))),
      failIfExists = true)
    assert(create() == 1)
    intercept[Snapshots.TableCreateConflictException] { create() }
    assert(Snapshots.mainVersion(dir) == 1, "loser must not advance the table")
  }

  test("MoR DML leaves no temp-dir debris behind") {
    import spark.implicits._
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_tmp_debris").toString
    GeoTable.write(mkDf(0 until 20, 0).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 1)
    val tmpRoot = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def tmpDirs() = Files.list(tmpRoot).iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft_del")).toSet
    val before = tmpDirs()
    Snapshots.deleteByEquality(spark, dir, Seq(3L).toDF("id"))
    assert(tmpDirs() == before, "writeDeleteFile must clean its temp directory")
  }

  test("copy-on-write update rewrites only stats-matching files") {
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_upd").toString
    GeoTable.write(mkDf(0 until 50, 0).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 2)
    Snapshots.append(mkDf(100 until 150, 2), dir)
    val vBefore = Snapshots.readManifest(dir).map(_.path).toSet
    val v = Snapshots.update(spark, dir, col("id") < 5, Map("id" -> (col("id") + 1000)))
    val t = Snapshots.read(spark, dir)
    assert(t.count() == 100)
    assert(t.filter(col("id") < 5).count() == 0)
    assert(t.filter(col("id") >= 1000 && col("id") < 1005).count() == 5)
    // files that couldn't match (ids 100+) survive byte-identical
    val vAfter = Snapshots.readManifest(dir).map(_.path).toSet
    assert((vBefore & vAfter).nonEmpty, "update must keep unaffected files")
    // update with impossible predicate is a no-op
    assert(Snapshots.update(spark, dir, col("id") > 1e9, Map("id" -> lit(0L))) == v)
  }

  test("copy-on-write merge upserts and keeps non-overlapping files") {
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_merge").toString
    GeoTable.write(mkDf(0 until 50, 0).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 2)
    Snapshots.append(mkDf(1000 until 1050, 2), dir)
    val before = Snapshots.readManifest(dir).map(_.path).toSet
    // source: update ids 10..14 (move to quadrant 1) + insert ids 500..504
    val src = mkDf(10 until 15, 1).union(mkDf(500 until 505, 1))
    val v = Snapshots.mergeUpsert(spark, dir, src, "id")
    val t = Snapshots.read(spark, dir)
    assert(t.count() == 105)
    // updated rows now sit in quadrant 1 (x < 0, y > 0)
    val upd = t.filter(col("id").between(10, 14))
      .select(col("geom_bbox.xmin")).collect().map(_.getDouble(0))
    assert(upd.length == 5 && upd.forall(_ < 0))
    assert(t.filter(col("id").between(500, 504)).count() == 5)
    // the 1000+ file range doesn't overlap source keys [10, 504] → untouched
    val after = Snapshots.readManifest(dir).map(_.path).toSet
    assert((before & after).nonEmpty, "merge must keep non-overlapping files")
  }

  test("format(\"graft\") reads tables with pruning and time travel") {
    import graft.functions.GeoSql._
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_fmt").toString
    GeoTable.write(mkDf(0 until 60, 0).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 2)
    Snapshots.append(mkDf(60 until 100, 2), dir)
    val t = spark.read.format("graft").load(dir)
    assert(t.count() == 100)
    assert(spark.read.format("graft").option("version", "1").load(dir).count() == 60)
    // the reference's SparkReadOptions.SNAPSHOT_ID spelling resolves too
    assert(spark.read.format("graft").option("snapshot-id", "1").load(dir).count() == 60)
    // spatial pushdown works through the format: the envelope covers only
    // quadrant 0, so the late bbox-rewrite rule must prune the two
    // quadrant-2 files out of the DSv2 scan
    val q = t.filter(st_intersects(col("geom"),
      st_makeenvelope(lit(0.5), lit(0.5), lit(60.0), lit(45.0))))
    assert(q.count() == 60)
    val scan = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scan.nonEmpty, "format(\"graft\") should plan a DSv2 BatchScan")
    assert(SparkTestSession.plannedFiles(q) == 2,
      s"spatial filter must prune to quadrant-0's 2 files, got ${SparkTestSession.plannedFiles(q)}")
    // clean table → columnar vectorized path
    assert(q.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
  }

  test("merge-on-read delete: no rewrite, applied at read, compaction materializes") {
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_mor").toString
    GeoTable.write(mkDf(0 until 40, 0).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 2)
    val filesBefore = Snapshots.readManifest(dir).map(_.path).toSet
    val v = Snapshots.deleteMoR(spark, dir, "id < 10")
    // no data file rewritten — pure metadata commit
    assert(Snapshots.readManifest(dir).map(_.path).toSet == filesBefore)
    assert(Snapshots.read(spark, dir).count() == 30)
    assert(Snapshots.read(spark, dir).filter(col("id") < 10).count() == 0)
    // time travel to before the delete
    assert(Snapshots.read(spark, dir, Some(v - 1)).count() == 40)
    // appends carry the predicate forward (ids 100+ unaffected)
    Snapshots.append(mkDf(100 until 120, 2), dir)
    assert(Snapshots.read(spark, dir).count() == 50)
    // a second MoR delete stacks
    Snapshots.deleteMoR(spark, dir, "id >= 110")
    assert(Snapshots.read(spark, dir).count() == 40)
    // bad predicate is rejected up front
    intercept[Exception] { Snapshots.deleteMoR(spark, dir, "no_such_col = 1") }
    // compaction materializes the deletes and clears them
    Snapshots.rewriteCompact(spark, dir, "geom", numFiles = 2, res = 8)
    assert(Snapshots.readDeletes(dir).isEmpty)
    assert(Snapshots.read(spark, dir).count() == 40)
    assert(Snapshots.readManifest(dir).map(_.rows).sum == 40)
  }

  test("positional MoR delete: rows deleted by (file,pos), no rewrite, compaction clears") {
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_posdel").toString
    GeoTable.write(mkDf(0 until 40, 0).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 2)
    val filesBefore = Snapshots.readManifest(dir).map(_.path).toSet
    // pick 3 specific rows by position — the case predicate deletes can't
    // express on a table without a row id
    val victims = Snapshots.read(spark, dir)
      .filter(col("id").isin(3L, 7L, 11L))
      .select(expr("_metadata.file_path").as("file_path"),
        expr("_metadata.row_index").as("pos"))
    val v = Snapshots.deleteByPosition(spark, dir, victims)
    // pure metadata commit: same data files
    assert(Snapshots.readManifest(dir).map(_.path).toSet == filesBefore)
    assert(Snapshots.readPosDeletes(dir).size == 1)
    val t = Snapshots.read(spark, dir)
    assert(t.count() == 37)
    assert(t.filter(col("id").isin(3L, 7L, 11L)).count() == 0)
    // time travel to before the positional delete
    assert(Snapshots.read(spark, dir, Some(v - 1)).count() == 40)
    // appended rows are unaffected (their positions differ per file)
    Snapshots.append(mkDf(100 until 110, 2), dir)
    assert(Snapshots.read(spark, dir).count() == 47)
    // changelog sees exactly the 3 position-deleted rows
    val cdc = Snapshots.changes(spark, dir, v - 1, v)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cdc == Map("delete" -> 3L), s"got $cdc")
    // compaction materializes and clears the positional deletes
    Snapshots.rewriteCompact(spark, dir, "geom", numFiles = 2, res = 8)
    assert(Snapshots.readPosDeletes(dir).isEmpty)
    assert(Snapshots.read(spark, dir).count() == 47)
    // expire drops the now-unreferenced delete file
    Snapshots.expireSnapshots(spark, dir, keep = 1)
    val delDir = java.nio.file.Paths.get(dir, "_graft_deletes")
    assert(!Files.exists(delDir) || !Files.list(delDir).iterator().asScala.hasNext)
    assert(Snapshots.read(spark, dir).count() == 47)
  }

  test("write.delete.mode=merge-on-read: SQL-path DELETE/UPDATE rewrite zero data files") {
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_mordml").toString
    GeoTable.write(mkDf(0 until 40, 0).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 2)
    // the CoW twin establishes the expected read result
    val cowDir = Files.createTempDirectory("graft_cowdml").toString
    GeoTable.write(mkDf(0 until 40, 0).drop("geom_bbox"), cowDir, "geom", res = 8, numFiles = 2)
    Snapshots.updateProperties(dir, Map(
      "write.delete.mode" -> "merge-on-read", "write.update.mode" -> "merge-on-read"))
    val filesBefore = Snapshots.readManifest(dir).map(_.path).toSet

    // DELETE: the same entry point the SQL path and deleteWhere lower onto
    Snapshots.delete(spark, dir, col("id") % 5 === 0)
    Snapshots.delete(spark, cowDir, col("id") % 5 === 0)
    // MoR: identical data files, one new positional delete file
    assert(Snapshots.readManifest(dir).map(_.path).toSet == filesBefore,
      "MoR delete must not rewrite any data file")
    assert(Snapshots.readPosDeletes(dir).size == 1)
    // CoW twin DID rewrite (sanity that the modes diverge)
    assert(Snapshots.readManifest(cowDir).map(_.path).toSet != filesBefore)
    // read parity
    def rows(d: String) = Snapshots.read(spark, d).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(rows(dir) == rows(cowDir))

    // UPDATE: matched rows deleted by position + updated copies appended
    Snapshots.update(spark, dir, col("id") === 7, Map("id" -> lit(700L)))
    Snapshots.update(spark, cowDir, col("id") === 7, Map("id" -> lit(700L)))
    val after = Snapshots.readManifest(dir).map(_.path).toSet
    assert(filesBefore.subsetOf(after), "MoR update must keep every original data file")
    assert(Snapshots.readPosDeletes(dir).size == 2)
    assert(rows(dir) == rows(cowDir))
    assert(rows(dir).contains(700L) && !rows(dir).contains(7L))
    // no-match DML is snapshotless in MoR mode
    val v = Snapshots.currentVersion(dir)
    Snapshots.delete(spark, dir, col("id") === 99999)
    assert(Snapshots.currentVersion(dir) == v)

    // MERGE under write.merge.mode: matched rows die by position, all
    // source rows append — no pre-existing data file rewritten
    Snapshots.updateProperties(dir, Map("write.merge.mode" -> "merge-on-read"))
    val before = Snapshots.readManifest(dir).map(_.path).toSet
    val srcRows = mkDf(1 to 3, 1).withColumn("id", col("id") + 1000)
      .unionByName(mkDf(8 to 9, 1)) // 2 updates (ids 8,9) + 3 inserts (1001..1003)
    Snapshots.mergeUpsert(spark, dir, srcRows, "id")
    Snapshots.mergeUpsert(spark, cowDir, srcRows, "id")
    assert(before.subsetOf(Snapshots.readManifest(dir).map(_.path).toSet),
      "MoR merge must keep every pre-existing data file")
    assert(rows(dir) == rows(cowDir))

    // an empty MERGE source is a snapshotless no-op — no version churn,
    // no empty data files registered (same stance as delete/update)
    val vMor = Snapshots.currentVersion(dir)
    val filesMor = Snapshots.readManifest(dir).map(_.path).toSet
    Snapshots.mergeUpsert(spark, dir, mkDf(1 to 3, 1).filter(col("id") > 100000), "id")
    assert(Snapshots.currentVersion(dir) == vMor, "empty MERGE must not commit")
    assert(Snapshots.readManifest(dir).map(_.path).toSet == filesMor)

    // compaction materializes and clears the position deletes
    Snapshots.rewriteCompact(spark, dir, "geom", numFiles = 2, res = 8)
    assert(Snapshots.readPosDeletes(dir).isEmpty)
    assert(rows(dir) == rows(cowDir))
  }

  test("equality MoR delete: rows deleted by column values, no rewrite") {
    import spark.implicits._
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_eqdel").toString
    GeoTable.write(mkDf(0 until 40, 0).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 2)
    val filesBefore = Snapshots.readManifest(dir).map(_.path).toSet
    // delete specific ids by VALUE (works across every file, unlike pos deletes)
    val v = Snapshots.deleteByEquality(spark, dir, Seq(4L, 9L, 15L).toDF("id"))
    assert(Snapshots.readManifest(dir).map(_.path).toSet == filesBefore) // metadata-only
    val t = Snapshots.read(spark, dir)
    assert(t.count() == 37)
    assert(t.filter(col("id").isin(4L, 9L, 15L)).count() == 0)
    assert(Snapshots.read(spark, dir, Some(v - 1)).count() == 40) // time travel
    // SEQUENCE SCOPING (Iceberg sequence numbers): the delete applies only
    // to data files that existed when it committed — rows appended later
    // stay visible even with matching key values (delete-then-reinsert,
    // the canonical CDC upsert flow)
    Snapshots.append(mkDf(100 until 110, 2), dir)
    assert(Snapshots.read(spark, dir).count() == 47)
    Snapshots.append(mkDf(4 until 5, 0), dir) // reinsert a deleted key
    val afterReinsert = Snapshots.read(spark, dir)
    assert(afterReinsert.count() == 48)
    assert(afterReinsert.filter(col("id") === 4L).count() == 1,
      "reinserted key must be visible: eq delete is scoped to older files")
    // the exempt-file gate is a broadcast join, not an inlined path list —
    // a table with thousands of post-delete files must not put thousands
    // of string literals into the plan
    val gatePlan = afterReinsert.queryExecution.executedPlan.toString
    assert(!gatePlan.contains(" IN ("), "exempt files must not inline as IN literals")
    assert(gatePlan.contains("BroadcastHashJoin") || gatePlan.contains("BroadcastNestedLoop"),
      "exempt-file gate should broadcast")
    // ... while the ORIGINAL id=4 row (pre-delete file) stays deleted:
    // only one id=4 row, not two
    // changelog across the eq-delete commit sees 3 deletes
    val cdc = Snapshots.changes(spark, dir, v - 1, v)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cdc == Map("delete" -> 3L), s"got $cdc")
    // non-table equality column rejected
    intercept[Exception] {
      Snapshots.deleteByEquality(spark, dir, Seq(1L).toDF("nope"))
    }
    // compaction materializes and clears; the reinserted row survives
    Snapshots.rewriteCompact(spark, dir, "geom", numFiles = 2, res = 8)
    assert(Snapshots.readEqDeletes(dir).isEmpty)
    assert(Snapshots.read(spark, dir).count() == 48)
    assert(Snapshots.read(spark, dir).filter(col("id") === 4L).count() == 1)
  }

  test("concurrent interleaved appends: both land, every row exactly once") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_concur").toString
    GeoTable.write(mkDf(0 until 20, 0).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 2)
    val v1Files = Snapshots.readManifest(dir).map(_.path).toSet
    // four writers append disjoint id ranges concurrently; staging-dir
    // attribution + commit retry must give every row exactly once and
    // disjoint per-commit file attribution (round-2 used a before/after
    // directory diff that double-registered a concurrent writer's files)
    val ranges = Seq(100 until 120, 200 until 230, 300 until 340, 400 until 410)
    val versions = Await.result(
      Future.sequence(ranges.map(r => Future(Snapshots.append(mkDf(r, 1), dir)))),
      5.minutes)
    assert(versions.toSet.size == 4, s"each append must get its own version, got $versions")
    val t = Snapshots.read(spark, dir)
    assert(t.count() == 20 + ranges.map(_.size).sum)
    assert(t.groupBy(col("id")).count().filter(col("count") > 1).count() == 0,
      "no row may be double-registered")
    // per-commit attribution: the files each version ADDED (vs its parent)
    // must be disjoint across the four appends
    val sorted = versions.sorted
    val addedSets = sorted.map { v =>
      val cur = Snapshots.readManifest(dir, Some(v)).map(_.path).toSet
      val parent = Snapshots.readManifest(dir, Some(v - 1)).map(_.path).toSet
      cur -- parent
    }
    addedSets.combinations(2).foreach { case Seq(a, b) =>
      assert((a & b).isEmpty, s"attribution overlap: ${a & b}")
    }
    assert(addedSets.forall(_.nonEmpty))
    assert((addedSets.flatten.toSet & v1Files).isEmpty)
    // every file entry carries the version that added it (sequence
    // number): creation is v1, each append's files its own committed
    // version. Committed versions need not be dense — a CAS loser abandons
    // its allocated number — but stamps must match the commit versions.
    val byV = Snapshots.readManifest(dir).groupBy(_.addedV)
    assert(byV.keySet == versions.toSet + 1, s"addedV stamps: ${byV.keySet} vs $versions")
  }

  test("concurrent MIXED commits serialize: appends + MoR delete + property update") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_mixed").toString
    GeoTable.write(mkDf(0 until 40, 0).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 2)
    // four DIFFERENT commit kinds race through the CAS: two appends with
    // disjoint ids, a merge-on-read predicate delete of initial rows, and
    // a property update. Every kind merges against whatever head it
    // retries onto, so the final state must hold all four effects —
    // regardless of commit order.
    Await.result(Future.sequence(Seq(
      Future(Snapshots.append(mkDf(100 until 120, 1), dir)),
      Future(Snapshots.append(mkDf(200 until 220, 2), dir)),
      Future(Snapshots.deleteMoR(spark, dir, "id < 10")),
      Future(Snapshots.updateProperties(dir, Map("owner" -> "raceteam"))))), 5.minutes)
    val t = Snapshots.read(spark, dir)
    assert(t.filter(col("id") < 10).count() == 0, "the MoR delete must survive the race")
    assert(t.count() == 30 + 20 + 20)
    assert(t.groupBy(col("id")).count().filter(col("count") > 1).count() == 0)
    assert(Snapshots.readProps(dir).get("owner").contains("raceteam"))
  }

  test("interleaved publishes from the same base state conflict (cross-process shape)") {
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_cas").toString
    GeoTable.write(mkDf(0 until 20, 0).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 2)
    // two "processes" read the SAME refs state, then publish one after the
    // other — the exact interleaving a JVM lock cannot serialize. The CAS
    // is the commit point, so the second publish MUST conflict (the
    // round-3 race committed it silently, dropping the first's files).
    val stale = TableOps.refsState(dir)
    val m = Snapshots.readManifest(dir)
    def publish(files: Seq[graft.spatial.FileStats]) = TableOps.commitManifest(dir, stale, "main",
      v => GeoTable.manifestJson(files.map(_.withAddedV(v))))
    val winner = publish(m) // writer A commits first
    assert(Snapshots.mainVersion(dir) == winner)
    intercept[Snapshots.CommitConflictException] {
      publish(m.take(1)) // writer B, stale base
    }
    // B's abandoned version file is cleaned up and the head is A's commit
    assert(Snapshots.mainVersion(dir) == winner)
    assert(Snapshots.currentVersion(dir) == winner)
    // a proper retry (fresh state) succeeds on top of A
    val v3 = graft.spatial.Snapshots.append(mkDf(100 until 110, 1), dir)
    assert(v3 > winner)
    assert(Snapshots.read(spark, dir).count() == 30)
  }

  test("relation construction is manifest-only: no listing, no inference") {
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_noinfer").toString
    GeoTable.write(mkDf(0 until 30, 0).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 2)
    val expected = Snapshots.read(spark, dir).schema
    // the manifest carries the authoritative schema...
    assert(Snapshots.readSchema(dir).isDefined)
    // ...so relation construction must work with every data file GONE —
    // the zero-object-store-round-trip claim made testable (the round-2
    // code called spark.read.parquet(path).schema, which lists the table
    // and samples footers on every read)
    val files = Snapshots.readManifest(dir).map(_.path)
    files.foreach(f => Files.delete(java.nio.file.Paths.get(dir, f)))
    val rel = GeoTable.buildRelation(spark, dir, Snapshots.readManifest(dir),
      Snapshots.headManifest(dir))
    assert(rel.schema.fieldNames.sameElements(expected.fieldNames))
    // schema evolution metadata ops are listing-free too
    graft.spatial.TableSchema.renameColumn(spark, dir, "id", "ident")
    assert(graft.spatial.TableSchema.read(dir).exists(_.logical == "ident"))
  }

  test("concurrent commit of the same version is detected, not lost") {
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_conflict").toString
    GeoTable.write(mkDf(0 until 20, 0).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 2)
    // a writer that computed version v loses the race: the version file
    // already exists when it commits → conflict, no silent overwrite
    val next = Snapshots.currentVersion(dir) + 1
    // the winner committed a (content-identical) snapshot first
    val winner = new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_graft_manifest_v1.json")))
    Files.write(java.nio.file.Paths.get(dir, s"_graft_manifest_v$next.json"),
      winner.getBytes)
    intercept[Snapshots.CommitConflictException] {
      TableOps.atomicWriteManifest(dir, next, "{}".getBytes)
    }
    // the winning writer's manifest is untouched
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, s"_graft_manifest_v$next.json"))) == winner)
    // a retry recomputes the version against the new state and succeeds
    Snapshots.deleteMoR(spark, dir, "id < 5")
    assert(Snapshots.read(spark, dir).count() == 15)
    assert(Snapshots.currentVersion(dir) == next + 1)
  }

  test("rollback republishes an earlier snapshot without touching files") {
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_rb").toString
    GeoTable.write(mkDf(0 until 30, 0).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 2)
    Snapshots.append(mkDf(30 until 60, 2), dir)
    Snapshots.delete(spark, dir, col("id") < 3)
    assert(Snapshots.read(spark, dir).count() == 57)
    val v = Snapshots.rollback(spark, dir, toVersion = 1)
    assert(v == 4)
    assert(Snapshots.read(spark, dir).count() == 30)
    // the rolled-back-over snapshots remain time-travelable
    assert(Snapshots.read(spark, dir, Some(3)).count() == 57)
  }

  test("changelog between snapshots yields row-level inserts and deletes") {
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_cdc").toString
    GeoTable.write(mkDf(0 until 30, 0).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 2)
    Snapshots.append(mkDf(30 until 50, 2), dir) // v2: +20 inserts
    Snapshots.delete(spark, dir, col("id") < 5) // v3: 5 deletes (CoW rewrite)
    val v12 = Snapshots.changes(spark, dir, 1, 2)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v12 == Map("insert" -> 20L))
    val v23 = Snapshots.changes(spark, dir, 2, 3)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v23 == Map("delete" -> 5L), s"got $v23")

    // manifest-diff: a pure append reads ONLY the entered files — v1's
    // unchanged files never appear as scan inputs
    val v1files = Snapshots.readManifest(dir, Some(1)).map(_.path).toSet
    val scanned = Snapshots.changes(spark, dir, 1, 2)
      .inputFiles.map(f => f.split('/').last).toSet
    assert((scanned & v1files).isEmpty,
      s"changelog scanned unchanged files: ${scanned & v1files}")

    // MoR predicate change: only stats-matching common files are diffed
    val v4 = Snapshots.deleteMoR(spark, dir, "id >= 40 and id < 43")
    val v34 = Snapshots.changes(spark, dir, 3, 4)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v34 == Map("delete" -> 3L), s"got $v34")
  }

  test("incremental read returns only appended rows, without exceptAll") {
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_incr").toString
    GeoTable.write(mkDf(0 until 30, 0).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 2)
    Snapshots.append(mkDf(100 until 120, 2), dir) // v2
    Snapshots.append(mkDf(200 until 210, 1), dir) // v3
    val incr = Snapshots.incrementalRead(spark, dir, 1, 3)
    assert(incr.count() == 30)
    assert(incr.filter(col("id") < 100).count() == 0)
    // v2 -> v3 slice
    assert(Snapshots.incrementalRead(spark, dir, 2, 3).count() == 10)
    // same-version slice is empty
    assert(Snapshots.incrementalRead(spark, dir, 3, 3).count() == 0)
    // only the entered files are scan inputs; no exceptAll in the plan
    val df = Snapshots.incrementalRead(spark, dir, 1, 3)
    val v1files = Snapshots.readManifest(dir, Some(1)).map(_.path).toSet
    assert((df.inputFiles.map(_.split('/').last).toSet &
      v1files.map(_.split('/').last)).isEmpty)
    assert(!df.queryExecution.optimizedPlan.toString.toLowerCase.contains("except"))
  }

  test("binpack compaction merges only small files, leaves big ones untouched") {
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_binpack").toString
    GeoTable.write(mkDf(0 until 2000, 0).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 1)
    // three tiny appends → small-file problem
    (0 until 3).foreach(k => Snapshots.append(mkDf(3000 + k * 10 until 3010 + k * 10, 2), dir))
    val before = Snapshots.readManifest(dir)
    assert(before.size == 7) // 1 big + 3 appends x 2 partitions
    val bigFile = before.maxBy(_.sizeBytes)
    val threshold = bigFile.sizeBytes // everything smaller gets packed
    Snapshots.binPack(spark, dir, smallBytes = threshold, numFiles = 1)
    val after = Snapshots.readManifest(dir)
    assert(after.size == 2, s"expected big + 1 packed, got ${after.map(_.path)}")
    assert(after.map(_.path).contains(bigFile.path), "big file must be untouched")
    assert(Snapshots.read(spark, dir).count() == 2030)
    // pending MoR deletes are honored across the compaction
    Snapshots.deleteMoR(spark, dir, "id >= 3025")
    Snapshots.binPack(spark, dir, smallBytes = Long.MaxValue, numFiles = 1)
    assert(Snapshots.read(spark, dir).count() == 2025)
  }

  test("rewrite_data_files binpack merges small files, splits oversized, honors where") {
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_rdf").toString
    GeoTable.write(mkDf(0 until 2000, 0).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 1)
    (0 until 3).foreach(k => Snapshots.append(mkDf(3000 + k * 10 until 3010 + k * 10, 2), dir))
    val before = Snapshots.readManifest(dir)
    val big = before.maxBy(_.sizeBytes)
    // target = big's size → big sits inside [0.75t, 1.8t], the appends are under
    val (_, r1) = Snapshots.rewriteDataFiles(spark, dir, targetFileSize = Some(big.sizeBytes))
    assert(r1 == before.size - 1)
    val after1 = Snapshots.readManifest(dir)
    assert(after1.map(_.path).contains(big.path), "well-sized file must stay byte-identical")
    assert(after1.size == 2, s"expected big + 1 packed, got ${after1.map(_.path)}")
    assert(Snapshots.read(spark, dir).count() == 2030)
    // already optimal at this target (big is in band, the packed file is a
    // lone small with no sibling to merge into) → no commit
    val cur = Snapshots.currentVersion(dir)
    val (v1b, r1b) = Snapshots.rewriteDataFiles(spark, dir, targetFileSize = Some(big.sizeBytes))
    assert(r1b == 0 && v1b == cur)
    // the oversized tail: shrink the target so the big file splits
    val (_, r2) = Snapshots.rewriteDataFiles(spark, dir,
      targetFileSize = Some(big.sizeBytes / 4))
    assert(r2 >= 1)
    assert(Snapshots.readManifest(dir).size >= 3,
      "an oversized file must split into multiple target-size outputs")
    assert(Snapshots.read(spark, dir).count() == 2030)
    // `where` scopes candidates by inclusive file stats: only the new tiny
    // appends might hold id >= 5000; everything else must stay untouched
    Snapshots.append(mkDf(5000 until 5005, 1), dir)
    Snapshots.append(mkDf(5005 until 5010, 1), dir)
    val pre = Snapshots.readManifest(dir)
    val preLow = pre.filter(_.maxs.get("id").exists(_.toString.toLong < 5000)).map(_.path).toSet
    val (_, r3) = Snapshots.rewriteDataFiles(spark, dir,
      where = Some(col("id") >= 5000L), targetFileSize = Some(big.sizeBytes))
    assert(r3 == pre.size - preLow.size)
    val after3 = Snapshots.readManifest(dir)
    assert(preLow.subsetOf(after3.map(_.path).toSet),
      "files excluded by `where` must not be rewritten")
    assert(Snapshots.read(spark, dir).count() == 2040)
  }

  test("rewrite_data_files binpack on an all-in-band table still materializes pending MoR state, scoped") {
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_rdf_mor").toString
    GeoTable.write(mkDf(0 until 500, 0).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 1)
    Snapshots.append(mkDf(2000 until 3000, 2), dir) // 2 task files of 500 rows
    val before = Snapshots.readManifest(dir)
    assert(before.size == 3)
    // target = the biggest file's size → ALL files sit inside [0.75t, 1.8t]
    val target = before.map(_.sizeBytes).max
    assert(before.forall(f => f.sizeBytes >= target * 3 / 4 && f.sizeBytes <= target * 9 / 5),
      s"precondition: every file in band, got ${before.map(_.sizeBytes)} for target $target")
    // size selection alone would pick nothing; the pending predicate delete
    // must still force a rewrite — of exactly the file its stats scope
    Snapshots.deleteMoR(spark, dir, "id >= 2500")
    val unscoped = before.filter(_.maxs("id").toString.toLong < 2500).map(_.path)
    assert(unscoped.size == 2)
    val (_, r) = Snapshots.rewriteDataFiles(spark, dir, targetFileSize = Some(target))
    assert(r == 1, s"expected exactly the scoped file rewritten, got $r")
    val after = Snapshots.readManifest(dir)
    assert(unscoped.forall(after.map(_.path).contains),
      "files the delete predicate cannot match must stay byte-identical")
    // the state is vacuous for the survivors → dropped (the Iceberg-export
    // unblock recipe depends on this), and the data is unchanged
    assert(Snapshots.readDeletes(dir).isEmpty, "materialized delete state must drop")
    assert(Snapshots.read(spark, dir).count() == 1000)
    // nothing pending and everything in band → genuine no-op, no commit
    val cur = Snapshots.currentVersion(dir)
    val (v2, r2) = Snapshots.rewriteDataFiles(spark, dir, targetFileSize = Some(target))
    assert(r2 == 0 && v2 == cur)
  }

  test("rewrite_data_files sort strategy clusters files on the declared order") {
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_rdf_sort").toString
    // 4 appends with interleaved ids → every file spans the full id range,
    // so pre-rewrite min/max stats overlap and cannot prune
    GeoTable.write(mkDf(0 until 400 by 4, 0).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 1)
    (1 until 4).foreach(k => Snapshots.append(mkDf(k until 400 by 4, 0), dir))
    val total = Snapshots.readManifest(dir).map(_.sizeBytes).sum
    val (_, r) = Snapshots.rewriteDataFiles(spark, dir, strategy = "sort",
      sortOrder = Seq(("id", true)), targetFileSize = Some(total / 2))
    assert(r >= 4)
    val after = Snapshots.readManifest(dir)
    assert(after.size >= 2)
    val ranges = after
      .map(f => (f.mins("id").toString.toLong, f.maxs("id").toString.toLong)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, amax), (bmin, _)) =>
        assert(amax <= bmin, s"sorted rewrite left overlapping id ranges: $ranges")
      case _ =>
    }
    assert(Snapshots.read(spark, dir).count() == 400)
  }

  test("hilbert sort compaction rewrites into fewer clustered files") {
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_compact").toString
    GeoTable.write(mkDf(0 until 40, 0).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 4)
    Snapshots.append(mkDf(40 until 80, 2), dir)
    val filesBefore = Snapshots.readManifest(dir).size
    assert(filesBefore >= 5)
    val v = Snapshots.rewriteCompact(spark, dir, "geom", numFiles = 2, res = 8)
    assert(Snapshots.readManifest(dir).size == 2)
    assert(Snapshots.read(spark, dir).count() == 80)
    // previous snapshot untouched
    assert(Snapshots.read(spark, dir, Some(v - 1)).count() == 80)
    assert(Snapshots.readManifest(dir, Some(v - 1)).size == filesBefore)
  }

  test("remove_orphan_files keeps live files referenced by a legacy URI-encoded manifest") {
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_orph_legacy").toString
    // partition value with a space: hive dir layout is `part=a b/...`,
    // round-6+ manifests store the DECODED rel path
    val rows = (0 until 10).map { i =>
      Row(i.toLong, "a b", GeoCodec.writeWkb(GeoCodec.point(i.toDouble, i.toDouble)))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("id", LongType), StructField("part", StringType),
        StructField("geom", BinaryType))))
    GeoTable.write(df.coalesce(1), dir, "geom", res = 8, partitionBy = Seq("part"))
    val manifest = Snapshots.readManifest(dir)
    assert(manifest.forall(_.path.startsWith("part=a b/")), s"fixture: ${manifest.map(_.path)}")
    // simulate a PRE-round-6 manifest: same files, URI-encoded rel paths
    val mPath = java.nio.file.Paths.get(dir, s"_graft_manifest_v${Snapshots.currentVersion(dir)}.json")
    val legacy = new String(Files.readAllBytes(mPath), java.nio.charset.StandardCharsets.UTF_8)
      .replace("part=a b/", "part=a%20b/")
    Files.write(mPath, legacy.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(Snapshots.readManifest(dir).forall(_.path.startsWith("part=a%20b/")))
    // the live file must survive: listing yields the decoded name, the
    // manifest the encoded one — the lenient match bridges the layers
    // (future cutoff disables the age guard so the LENIENT match is what's
    // under test, not the freshness of the files)
    val removed = Snapshots.removeOrphanFiles(spark, dir,
      Some(System.currentTimeMillis() + 3600000))
    assert(removed == 0, "orphan removal must not delete live legacy-referenced files")
    val dataDir = java.nio.file.Paths.get(dir, "part=a b")
    assert(Files.list(dataDir).iterator().asScala.exists(_.toString.endsWith(".parquet")),
      "data file must still exist on disk")
  }

  test("timestamp resolution never picks an interleaved branch commit for main") {
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_tsref").toString
    GeoTable.write(mkDf(0 until 20, 0).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 1)
    val mainHead = Snapshots.mainVersion(dir)
    Snapshots.createBranch(dir, "wap")
    Thread.sleep(1100) // mtime granularity
    // a branch commit NEWER than main's head, higher version number
    Snapshots.appendToBranch(mkDf(100 until 110, 0), dir, "wap")
    val afterBranch = System.currentTimeMillis() + 1
    // "as of now" must resolve to MAIN's head, not the newer branch commit
    val v = Snapshots.versionAsOfTimestamp(dir, afterBranch)
    assert(v == mainHead,
      s"timestamp resolution must stay within main's ancestry: got v$v, main is v$mainHead")
    assert(Snapshots.read(spark, dir, Some(v)).count() == 20)
  }

  test("appendToBranch refuses tags") {
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_tag_append").toString
    GeoTable.write(mkDf(0 until 10, 0).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 1)
    Snapshots.createTag(dir, "v1_tag")
    val ex = intercept[IllegalArgumentException] {
      Snapshots.appendToBranch(mkDf(10 until 12, 0), dir, "v1_tag")
    }
    assert(ex.getMessage.contains("tag"))
    assert(Snapshots.resolveRef(dir, "v1_tag") == 1)
  }

  test("string stats with control characters round-trip the manifest " +
      "(a newline in a min/max must not brick the table)") {
    val dir = Files.createTempDirectory("graft_ctrl").toString + "/tbl"
    spark.range(3).selectExpr("id", "concat('a\nb\tc', id) AS v")
      .coalesce(1).write.parquet(dir)
    GeoTable.writeManifest(spark, dir)
    // the manifest must re-parse (Jackson rejects raw control chars) and
    // keep serving reads + appends
    val m = Snapshots.readManifest(dir)
    assert(m.head.mins.get("v").exists(_.toString.contains("\n")))
    Snapshots.append(spark.range(3, 6).selectExpr("id", "concat('xy', id) AS v"), dir)
    assert(Snapshots.read(spark, dir).count() == 6)
  }

  test("wide-decimal stats keep exact precision through the manifest " +
      "(Double rounding must not prune files holding matching rows)") {
    val dir = Files.createTempDirectory("graft_dec").toString + "/tbl"
    // 12345678901234567890.12 is not Double-representable: the nearest
    // Double is ABOVE the true value, so a rounded min could prune a
    // file whose true min matches a <= predicate
    spark.sql("SELECT CAST('12345678901234567890.12' AS DECIMAL(30,2)) AS d " +
      "UNION ALL SELECT CAST('92345678901234567890.99' AS DECIMAL(30,2))")
      .coalesce(1).write.parquet(dir)
    GeoTable.writeManifest(spark, dir)
    val min = Snapshots.readManifest(dir).head.mins("d")
    assert(min.isInstanceOf[BigDecimal] &&
      min.asInstanceOf[BigDecimal] == BigDecimal("12345678901234567890.12"),
      s"manifest must keep the exact decimal, got $min (${min.getClass})")
    // the predicate sits BETWEEN the true min and its Double rounding:
    // pruning through a Double would wrongly drop the file
    val hits = spark.read.format("graft").load(dir)
      .where("d <= CAST('12345678901234567890.50' AS DECIMAL(30,2))").count()
    assert(hits == 1, s"expected the true-min row to survive pruning, got $hits")
  }

  test("string pruning compares in UTF-8 order (supplementary characters)") {
    val dir = Files.createTempDirectory("graft_utf8").toString + "/tbl"
    // U+FFFF sorts BELOW U+1F600 in UTF-8/code-point order but ABOVE it
    // in UTF-16 code-unit order — a UTF-16 comparison of the file min
    // against the literal would prune the file despite the matching row
    spark.range(1).selectExpr("'\uFFFF' AS s").coalesce(1).write.parquet(dir)
    GeoTable.writeManifest(spark, dir)
    val hits = spark.read.format("graft").load(dir).where(col("s") <= "\uD83D\uDE00").count()
    assert(hits == 1, "UTF-16 bound comparison would mis-prune this file")
  }

  test("spatial pruning still applies to snapshot reads") {
    import graft.functions.GeoSql._
    val dir = Files.createTempDirectory("graft_snap2").toString
    GeoTable.write(mkDf(0 until 50, 0).drop("geom_bbox"), dir, "geom", res = 8, numFiles = 2)
    Snapshots.append(mkDf(50 until 100, 2), dir)
    val t = Snapshots.read(spark, dir)
    val q = t.filter(st_intersects(col("geom"), st_makeenvelope(lit(0.5), lit(0.5), lit(60.0), lit(45.0))))
    assert(q.count() == 50) // only quadrant-0 rows
    val plan = q.queryExecution.executedPlan
    val scan = plan.collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scan.nonEmpty)
  }
}
