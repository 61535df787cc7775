package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GeoCodec
import graft.spatial.{GeoTable, Snapshots}
import graft.spatial.Snapshots.MergeClause

/** The commit contract, recorded: one scripted sequence runs every kind of
  * snapshot commit on a small partitioned table plus one branch, and every
  * version it leaves behind must match the manifest recorded below — data
  * and delete file names become ordinal tokens (`p=0/F3`,
  * `_graft_deletes/D2`), time-valued props are dropped, and the rest of
  * the manifest (entry stats, `addedV`/`seq` stamps, spec, spec history,
  * schema, props) is compared through a digest. A commit that carries the
  * wrong head, forgets a delete list or stamps the wrong version changes a
  * line here. The refs reads each commit kind takes are pinned too.
  */
class CommitEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(StructField("id", LongType), StructField("geom", BinaryType),
    StructField("s", StringType), StructField("p", IntegerType)))

  private def rows(ids: Seq[Int], tag: String): DataFrame = {
    val rs = ids.map { i =>
      Row(i.toLong, GeoCodec.writeWkb(GeoCodec.point(i % 50 + 1.0, i % 40 + 1.0)), tag, i % 2)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), schema)
  }

  /** One parquet file with the table's physical columns, placed at
    * `<table>/<rel>` without committing it (a streaming epoch's or a
    * dynamic overwrite's staged file, or an unregistered file).
    */
  private def stage(table: String, df: DataFrame, rel: String): String = {
    val tmp = Files.createTempDirectory("graft_equiv_stage").toString + "/out"
    GeoTable.withBbox(df, "geom").drop("p").coalesce(1).write.parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val dst = Paths.get(table, rel)
    Files.createDirectories(dst.getParent)
    Files.move(part, dst)
    rel
  }

  private case class Run(versions: Seq[String], results: Seq[String], reads: Map[String, Long])

  private lazy val run: Run = {
    import spark.implicits._
    graft.spatial.Geo.install(spark)
    val root = Files.createTempDirectory("graft_commit_equiv").toString
    val t = s"$root/t"
    val clone = s"$root/clone"
    val results = Seq.newBuilder[String]
    val reads = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def op[T](label: String)(f: => T): T = {
      val before = Snapshots.refsReads.get
      val r = f
      reads(label) = Snapshots.refsReads.get - before
      results += s"$label -> $r"
      r
    }
    val clauses = Seq(
      MergeClause(matched = true, None, "update", sets = Seq("s" -> "s.s")),
      MergeClause(matched = false, None, "insert"))
    def src(ids: Seq[Int], tag: String) = GeoTable.withBbox(rows(ids, tag), "geom")

    GeoTable.write(rows(0 until 40, "w"), t, "geom", res = 8, numFiles = 2,
      partitionBy = Seq("p"))
    op("append")(Snapshots.append(src(40 until 50, "a"), t, Map("k" -> "a")))
    Snapshots.createBranch(t, "b")
    Snapshots.createTag(t, "t1")
    op("appendToBranch")(Snapshots.appendToBranch(src(50 until 56, "br"), t, "b",
      props = Map("bk" -> "1")))
    op("appendIfBatchNew")(Snapshots.appendIfBatchNew(src(56 until 60, "sb"), t, "stream.q.batch", 0L))
    op("appendIfBatchNew replay")(
      Snapshots.appendIfBatchNew(src(56 until 60, "sb"), t, "stream.q.batch", 0L))
    val epoch = stage(t, rows(60 until 64, "ep"), "p=0/epoch-1.parquet")
    op("commitStreamEpoch")(Snapshots.commitStreamEpoch(spark, t, "tok", 1L, Seq(epoch),
      extraProps = Map("ek" -> "1")))
    op("commitStreamEpoch replay")(Snapshots.commitStreamEpoch(spark, t, "tok", 1L, Nil))
    stage(t, rows(Seq(130, 132), "af"), "p=0/added-1.parquet")
    op("addFiles")(Snapshots.addFiles(spark, t))
    op("updateProperties")(Snapshots.updateProperties(t, Map("u1" -> "x", "u2" -> "y")))
    op("updateProperties unset")(Snapshots.updateProperties(t, Map.empty, Seq("u2")))

    // copy-on-write DML, main then branch
    op("delete cow")(Snapshots.delete(spark, t, col("id") < 3))
    op("delete cow no-op")(Snapshots.delete(spark, t, col("id") > 1000))
    op("update cow")(Snapshots.update(spark, t, col("id") === 5, Map("s" -> lit("u"))))
    op("mergeUpsert cow")(Snapshots.mergeUpsert(spark, t, src(Seq(6, 70), "m"), "id"))
    op("mergeInto cow")(Snapshots.mergeInto(spark, t, src(Seq(8, 71), "mi"), "t.id = s.id", clauses))
    op("delete cow b")(Snapshots.delete(spark, t, col("id") === 10, "b"))
    op("update cow b")(Snapshots.update(spark, t, col("id") === 11, Map("s" -> lit("ub")), "b"))
    op("mergeUpsert cow b")(Snapshots.mergeUpsert(spark, t, src(Seq(12, 72), "mb"), "id", "b"))
    op("mergeInto cow b")(Snapshots.mergeInto(spark, t, src(Seq(13, 73), "mib"),
      "t.id = s.id", clauses, ref0 = "b"))

    // merge-on-read DML, main then branch
    op("updateProperties mor")(Snapshots.updateProperties(t, Map(
      "write.delete.mode" -> "merge-on-read", "write.update.mode" -> "merge-on-read",
      "write.merge.mode" -> "merge-on-read")))
    op("delete mor")(Snapshots.delete(spark, t, col("id") === 14))
    op("delete mor no-op")(Snapshots.delete(spark, t, col("id") > 1000))
    op("update mor")(Snapshots.update(spark, t, col("id") === 15, Map("s" -> lit("um"))))
    op("mergeUpsert mor")(Snapshots.mergeUpsert(spark, t, src(Seq(16, 74), "mm"), "id"))
    op("mergeInto mor")(Snapshots.mergeInto(spark, t, src(Seq(17, 75), "mim"), "t.id = s.id", clauses))
    op("delete mor b")(Snapshots.delete(spark, t, col("id") === 18, "b"))
    op("update mor b")(Snapshots.update(spark, t, col("id") === 19, Map("s" -> lit("umb")), "b"))
    op("mergeUpsert mor b")(Snapshots.mergeUpsert(spark, t, src(Seq(20, 76), "mmb"), "id", "b"))
    op("mergeInto mor b")(Snapshots.mergeInto(spark, t, src(Seq(21, 77), "mimb"),
      "t.id = s.id", clauses, ref0 = "b"))

    // the three merge-on-read delete kinds, then their compaction
    op("deleteMoR")(Snapshots.deleteMoR(spark, t, "id = 22"))
    val firstFile = Snapshots.readManifest(t).map(_.path).min
    val positions = spark.read.parquet(s"$t/$firstFile")
      .select(expr("_metadata.file_path").as("file_path"), expr("_metadata.row_index").as("pos"))
      .orderBy("pos").limit(1)
    op("deleteByPosition")(Snapshots.deleteByPosition(spark, t, positions))
    op("deleteByEquality")(Snapshots.deleteByEquality(spark, t, Seq(23L).toDF("id")))
    op("rewritePositionDeleteFiles")(Snapshots.rewritePositionDeleteFiles(spark, t))

    // overwrites
    op("overwriteWhere")(Snapshots.overwriteWhere(src(Seq(81, 83), "ow"), t,
      Seq(org.apache.spark.sql.sources.EqualTo("p", 1)), col("p") === 1,
      extraProps = Map("ow" -> "1")))
    val dyn = stage(t, rows(Seq(90, 92), "dy"), "p=0/dyn-1.parquet")
    op("commitDynamicOverwrite")(Snapshots.commitDynamicOverwrite(spark, t, Seq(dyn)))

    // maintenance
    op("append small")(Snapshots.append(src(Seq(95), "sm"), t))
    op("append large")(Snapshots.append(src(200 until 260, "lg"), t))
    val smallBytes = Snapshots.readManifest(t).filter(_.rows <= 2).map(_.sizeBytes).max + 1
    op("binPack partial")(Snapshots.binPack(spark, t, smallBytes, numFiles = 1))
    op("binPack full")(Snapshots.binPack(spark, t, Long.MaxValue, numFiles = 1))
    op("append pre-rewrite")(Snapshots.append(src(120 until 126, "pr"), t))
    op("deleteMoR pre-rewrite")(Snapshots.deleteMoR(spark, t, "id = 121"))
    op("rewriteDataFiles")(Snapshots.rewriteDataFiles(spark, t, targetFileSize = Some(1L << 20)))
    op("rewriteManifests")(Snapshots.rewriteManifests(spark, t))

    // spec evolution, then commits under the new spec (no rewrite reads
    // files of both layouts at once: Spark's partition inference rejects
    // that mix, see CHANGES.md)
    op("evolvePartitionSpec")(Snapshots.evolvePartitionSpec(t, add = Seq("bucket(2,id)")))
    op("append evolved")(Snapshots.append(src(100 until 110, "ev"), t))
    op("deleteMoR evolved")(Snapshots.deleteMoR(spark, t, "id = 101"))

    // history surgery
    val branchAppend = Snapshots.ancestry(t, Snapshots.resolveRef(t, "b"))
      .find(v => Snapshots.readProps(t, Some(v)).get("bk").contains("1")).get
    val beforeRollback = Snapshots.mainVersion(t)
    op("rollback")(Snapshots.rollback(spark, t, Snapshots.resolveRef(t, "t1")))
    op("cherrypick")(Snapshots.cherrypick(spark, t, branchAppend))
    op("setCurrentSnapshot")(Snapshots.setCurrentSnapshot(spark, t, beforeRollback))
    Snapshots.fastForward(t, "b", Snapshots.mainVersion(t))
    op("appendToBranch after fastForward")(Snapshots.appendToBranch(src(140 until 142, "ff"), t, "b"))

    // whole-table replacements
    val m = Snapshots.readManifest(t)
    op("commitReplace")(Snapshots.commitReplace(spark, t, m.map(_.copy(addedV = 0)),
      Snapshots.readSchema(t).get, Seq("p"), Map("r" -> "1")))
    op("overwrite")(Snapshots.overwrite(src(150 until 156, "o"), t, extraProps = Map("o" -> "1")))
    val full = stage(t, rows(160 until 164, "cm"), "p=1/epoch-2.parquet")
    op("commitStreamEpoch complete")(Snapshots.commitStreamEpoch(spark, t, "tok", 2L, Seq(full),
      overwrite = true))
    op("rewriteCompact")(Snapshots.rewriteCompact(spark, t, "geom", 1))
    op("snapshotClone")(Snapshots.snapshotClone(spark, t, clone))
    op("append clone")(Snapshots.append(src(170 until 172, "c"), clone))

    val tokens = new Tokens
    val versions = Seq("t" -> t, "clone" -> clone).flatMap { case (name, dir) =>
      (1 to Snapshots.currentVersion(dir))
        .filter(v => Files.exists(Paths.get(dir, s"_graft_manifest_v$v.json")))
        .map(v => s"$name v$v " + tokens.record(dir, v)) :+
        s"$name refs ${Snapshots.readRefs(dir)}"
    }
    Run(versions, results.result(), reads.toMap)
  }

  /** Data and delete file names become `<dir>/F<n>` / `<dir>/D<n>` in order
    * of first appearance; time-valued props are dropped.
    */
  private class Tokens {
    private val names = scala.collection.mutable.LinkedHashMap.empty[String, String]
    private def token(p: String): String = {
      val dir = p.split('/').dropRight(1).mkString("/")
      val kind = if (dir.startsWith("_graft_deletes")) "D" else "F"
      val base = names.getOrElseUpdate(p, kind + (names.values.count(_.startsWith(kind)) + 1))
      if (dir.isEmpty) base else s"$dir/$base"
    }
    private def canon(j: JValue): JValue = j.transformField {
      case ("props", JObject(kv)) => ("props", JObject(kv.filterNot {
        case (k, JString(v)) => k.endsWith("-at-ms") || v.matches("1\\d{12}")
        case _ => false
      }))
    }.transform { case JString(s) if s.endsWith(".parquet") => JString(token(s)) }

    def record(dir: String, v: Int): String = {
      val raw = new String(Files.readAllBytes(Paths.get(dir, s"_graft_manifest_v$v.json")), "UTF-8")
      val j = canon(JsonMethods.parse(raw.replace(dir, "<table>")))
      def strs(f: String) = (j \ f) match {
        case JArray(xs) => xs.collect { case JString(s) => s }.mkString(",")
        case _ => ""
      }
      val files = (j \ "files") match {
        case JArray(xs) => xs.map(e =>
          s"${(e \ "path").values}@${(e \ "v").values}:${(e \ "rows").values}").mkString(",")
        case _ => ""
      }
      val eq = (j \ "eqDeletes") match {
        case JArray(xs) => xs.map(e => s"${(e \ "path").values}@${(e \ "seq").values}").mkString(",")
        case _ => ""
      }
      val props = (j \ "props") match {
        case JObject(kv) => kv.map { case (k, x) => s"$k=${x.values}" }.sorted.mkString(",")
        case _ => ""
      }
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(JsonMethods.compact(JsonMethods.render(j)).getBytes("UTF-8"))
        .take(6).map("%02x".format(_)).mkString
      s"files=[$files] del=[${strs("deletes")}] pos=[${strs("posDeletes")}] eq=[$eq] " +
        s"parts=[${strs("partitions")}] hist=[${strs("partitionHistory")}] props={$props} #$digest"
    }
  }

  private def diff(label: String, expected: Seq[String], actual: Seq[String]): String =
    if (expected == actual) ""
    else {
      val firstBad = expected.zipAll(actual, "<none>", "<none>").indexWhere { case (e, a) => e != a }
      s"$label differ from line $firstBad:\n  expected: ${expected.lift(firstBad)}\n" +
        s"  actual:   ${actual.lift(firstBad)}\nall actual lines:\n" +
        actual.map(l => "      \"" + l.replace("\"", "\\\"") + "\",").mkString("\n")
    }

  test("every commit kind writes the manifest and returns the version it did before") {
    val msg = diff("results", ExpectedResults, run.results) + diff("versions", ExpectedVersions,
      run.versions)
    assert(msg.isEmpty, msg)
  }

  test("no commit kind takes more refs reads than before") {
    info("refs reads: " + run.reads.toSeq.sortBy(_._1).map { case (k, n) => s"$k $n" }.mkString(", "))
    val over = run.reads.toSeq.sortBy(_._1).flatMap { case (label, n) =>
      ExpectedReads.get(label) match {
        case Some(max) if n <= max => None
        case pinned => Some(s"$label: $n refs reads (pinned ${pinned.getOrElse("none")})")
      }
    }
    assert(over.isEmpty, over.mkString("\n") + "\nall counts: " +
      run.reads.toSeq.sortBy(_._1).map { case (k, n) => s""""$k" -> $n""" }.mkString(", "))
  }

  private val ExpectedResults: Seq[String] = Seq(
    "append -> 2",
    "appendToBranch -> 3",
    "appendIfBatchNew -> true",
    "appendIfBatchNew replay -> false",
    "commitStreamEpoch -> 5",
    "commitStreamEpoch replay -> 5",
    "addFiles -> (6,3)",
    "updateProperties -> 7",
    "updateProperties unset -> 8",
    "delete cow -> 9",
    "delete cow no-op -> 9",
    "update cow -> 10",
    "mergeUpsert cow -> 11",
    "mergeInto cow -> 12",
    "delete cow b -> 13",
    "update cow b -> 14",
    "mergeUpsert cow b -> 15",
    "mergeInto cow b -> 16",
    "updateProperties mor -> 17",
    "delete mor -> 18",
    "delete mor no-op -> 18",
    "update mor -> 19",
    "mergeUpsert mor -> 20",
    "mergeInto mor -> 21",
    "delete mor b -> 22",
    "update mor b -> 23",
    "mergeUpsert mor b -> 24",
    "mergeInto mor b -> 25",
    "deleteMoR -> 26",
    "deleteByPosition -> 27",
    "deleteByEquality -> 28",
    "rewritePositionDeleteFiles -> 29",
    "overwriteWhere -> 30",
    "commitDynamicOverwrite -> 31",
    "append small -> 32",
    "append large -> 33",
    "binPack partial -> 34",
    "binPack full -> 35",
    "append pre-rewrite -> 36",
    "deleteMoR pre-rewrite -> 37",
    "rewriteDataFiles -> (38,4)",
    "rewriteManifests -> 39",
    "evolvePartitionSpec -> 40",
    "append evolved -> 41",
    "deleteMoR evolved -> 42",
    "rollback -> 43",
    "cherrypick -> 44",
    "setCurrentSnapshot -> 45",
    "appendToBranch after fastForward -> 46",
    "commitReplace -> 47",
    "overwrite -> 48",
    "commitStreamEpoch complete -> 49",
    "rewriteCompact -> 50",
    "snapshotClone -> 50",
    "append clone -> 51",
  )

  private val ExpectedVersions: Seq[String] = Seq(
    "t v1 files=[p=0/F1@1:10,p=0/F2@1:10,p=1/F3@1:10,p=1/F4@1:10] del=[] pos=[] eq=[] parts=[p] hist=[] props={} #dfb431a419bf",
    "t v2 files=[p=0/F1@1:10,p=0/F2@1:10,p=1/F3@1:10,p=1/F4@1:10,p=0/F5@2:5,p=1/F6@2:5] del=[] pos=[] eq=[] parts=[p] hist=[] props={graft.parentVersion=1,k=a} #d6fa23ee23dd",
    "t v3 files=[p=0/F1@1:10,p=0/F2@1:10,p=1/F3@1:10,p=1/F4@1:10,p=0/F5@2:5,p=1/F6@2:5,p=0/F7@3:3,p=1/F8@3:3] del=[] pos=[] eq=[] parts=[p] hist=[] props={bk=1,graft.parentVersion=2,k=a} #dc13f0a480f6",
    "t v4 files=[p=0/F1@1:10,p=0/F2@1:10,p=1/F3@1:10,p=1/F4@1:10,p=0/F5@2:5,p=1/F6@2:5,p=0/F9@4:2,p=1/F10@4:2] del=[] pos=[] eq=[] parts=[p] hist=[] props={graft.parentVersion=2,k=a,stream.q.batch=0} #1122ccfb5f35",
    "t v5 files=[p=0/F1@1:10,p=0/F2@1:10,p=1/F3@1:10,p=1/F4@1:10,p=0/F5@2:5,p=1/F6@2:5,p=0/F9@4:2,p=1/F10@4:2,p=0/F11@5:4] del=[] pos=[] eq=[] parts=[p] hist=[] props={ek=1,graft.parentVersion=4,k=a,stream.q.batch=0,stream.tok.lastCommittedBatchId=1} #92b7c6acfd25",
    "t v6 files=[p=0/F1@1:10,p=0/F2@1:10,p=1/F3@1:10,p=1/F4@1:10,p=0/F5@2:5,p=1/F6@2:5,p=0/F9@4:2,p=1/F10@4:2,p=0/F11@5:4,p=0/F12@6:2,p=0/F7@6:3,p=1/F8@6:3] del=[] pos=[] eq=[] parts=[p] hist=[] props={ek=1,graft.parentVersion=5,k=a,stream.q.batch=0,stream.tok.lastCommittedBatchId=1} #467b1d06e77e",
    "t v7 files=[p=0/F1@1:10,p=0/F2@1:10,p=1/F3@1:10,p=1/F4@1:10,p=0/F5@2:5,p=1/F6@2:5,p=0/F9@4:2,p=1/F10@4:2,p=0/F11@5:4,p=0/F12@6:2,p=0/F7@6:3,p=1/F8@6:3] del=[] pos=[] eq=[] parts=[p] hist=[] props={ek=1,graft.parentVersion=6,k=a,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,u2=y} #103ce06a7b39",
    "t v8 files=[p=0/F1@1:10,p=0/F2@1:10,p=1/F3@1:10,p=1/F4@1:10,p=0/F5@2:5,p=1/F6@2:5,p=0/F9@4:2,p=1/F10@4:2,p=0/F11@5:4,p=0/F12@6:2,p=0/F7@6:3,p=1/F8@6:3] del=[] pos=[] eq=[] parts=[p] hist=[] props={ek=1,graft.parentVersion=7,k=a,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x} #f57542ad44f7",
    "t v9 files=[p=0/F2@1:10,p=1/F4@1:10,p=0/F5@2:5,p=1/F6@2:5,p=0/F9@4:2,p=1/F10@4:2,p=0/F11@5:4,p=0/F12@6:2,p=0/F7@6:3,p=1/F8@6:3,p=0/F13@9:8,p=1/F14@9:9] del=[] pos=[] eq=[] parts=[p] hist=[] props={ek=1,graft.parentVersion=8,k=a,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x} #56735f9834c2",
    "t v10 files=[p=0/F2@1:10,p=1/F4@1:10,p=0/F5@2:5,p=1/F6@2:5,p=0/F9@4:2,p=1/F10@4:2,p=0/F11@5:4,p=0/F12@6:2,p=0/F7@6:3,p=1/F8@6:3,p=0/F15@10:8,p=1/F16@10:9] del=[] pos=[] eq=[] parts=[p] hist=[] props={ek=1,graft.parentVersion=9,k=a,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x} #ce13564a1565",
    "t v11 files=[p=0/F12@6:2,p=0/F17@11:31,p=0/F18@11:2,p=1/F19@11:29] del=[] pos=[] eq=[] parts=[p] hist=[] props={ek=1,graft.parentVersion=10,k=a,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x} #b2d7dac55e92",
    "t v12 files=[p=0/F12@6:2,p=0/F20@12:33,p=1/F21@12:30] del=[] pos=[] eq=[] parts=[p] hist=[] props={ek=1,graft.parentVersion=11,k=a,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x} #f3b90e38f680",
    "t v13 files=[p=0/F2@1:10,p=1/F4@1:10,p=0/F5@2:5,p=1/F6@2:5,p=0/F7@3:3,p=1/F8@3:3,p=0/F22@13:9,p=1/F23@13:10] del=[] pos=[] eq=[] parts=[p] hist=[] props={bk=1,graft.parentVersion=3,k=a} #878c9891a119",
    "t v14 files=[p=0/F2@1:10,p=0/F5@2:5,p=1/F6@2:5,p=0/F7@3:3,p=1/F8@3:3,p=0/F24@14:9,p=1/F25@14:10,p=1/F26@14:10] del=[] pos=[] eq=[] parts=[p] hist=[] props={bk=1,graft.parentVersion=13,k=a} #f1f97a1ea191",
    "t v15 files=[p=0/F27@15:26,p=0/F28@15:2,p=1/F29@15:28] del=[] pos=[] eq=[] parts=[p] hist=[] props={bk=1,graft.parentVersion=14,k=a} #b3015922c998",
    "t v16 files=[p=0/F30@16:28,p=1/F31@16:29] del=[] pos=[] eq=[] parts=[p] hist=[] props={bk=1,graft.parentVersion=15,k=a} #17501a700b41",
    "t v17 files=[p=0/F12@6:2,p=0/F20@12:33,p=1/F21@12:30] del=[] pos=[] eq=[] parts=[p] hist=[] props={ek=1,graft.parentVersion=12,k=a,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,write.delete.mode=merge-on-read,write.merge.mode=merge-on-read,write.update.mode=merge-on-read} #88e285a50beb",
    "t v18 files=[p=0/F12@6:2,p=0/F20@12:33,p=1/F21@12:30] del=[] pos=[_graft_deletes/D1] eq=[] parts=[p] hist=[] props={ek=1,graft.parentVersion=17,k=a,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,write.delete.mode=merge-on-read,write.merge.mode=merge-on-read,write.update.mode=merge-on-read} #4ec7bb518914",
    "t v19 files=[p=0/F12@6:2,p=0/F20@12:33,p=1/F21@12:30,p=1/F32@19:1] del=[] pos=[_graft_deletes/D1,_graft_deletes/D2] eq=[] parts=[p] hist=[] props={ek=1,graft.parentVersion=18,k=a,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,write.delete.mode=merge-on-read,write.merge.mode=merge-on-read,write.update.mode=merge-on-read} #75ebf20f7b95",
    "t v20 files=[p=0/F12@6:2,p=0/F20@12:33,p=1/F21@12:30,p=1/F32@19:1,p=0/F33@20:2] del=[] pos=[_graft_deletes/D1,_graft_deletes/D2,_graft_deletes/D3] eq=[] parts=[p] hist=[] props={ek=1,graft.parentVersion=19,k=a,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,write.delete.mode=merge-on-read,write.merge.mode=merge-on-read,write.update.mode=merge-on-read} #e01121d8dde3",
    "t v21 files=[p=0/F12@6:2,p=0/F20@12:33,p=1/F21@12:30,p=1/F32@19:1,p=0/F33@20:2,p=1/F34@21:2] del=[] pos=[_graft_deletes/D1,_graft_deletes/D2,_graft_deletes/D3,_graft_deletes/D4] eq=[] parts=[p] hist=[] props={ek=1,graft.parentVersion=20,k=a,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,write.delete.mode=merge-on-read,write.merge.mode=merge-on-read,write.update.mode=merge-on-read} #b1f0f336a98d",
    "t v22 files=[p=0/F30@16:28,p=1/F31@16:29] del=[] pos=[_graft_deletes/D5] eq=[] parts=[p] hist=[] props={bk=1,graft.parentVersion=16,k=a} #a3f529feec0d",
    "t v23 files=[p=0/F30@16:28,p=1/F31@16:29,p=1/F35@23:1] del=[] pos=[_graft_deletes/D5,_graft_deletes/D6] eq=[] parts=[p] hist=[] props={bk=1,graft.parentVersion=22,k=a} #2a93d68a9e94",
    "t v24 files=[p=0/F30@16:28,p=1/F31@16:29,p=1/F35@23:1,p=0/F36@24:2] del=[] pos=[_graft_deletes/D5,_graft_deletes/D6,_graft_deletes/D7] eq=[] parts=[p] hist=[] props={bk=1,graft.parentVersion=23,k=a} #39665b066dfe",
    "t v25 files=[p=0/F30@16:28,p=1/F31@16:29,p=1/F35@23:1,p=0/F36@24:2,p=1/F37@25:2] del=[] pos=[_graft_deletes/D5,_graft_deletes/D6,_graft_deletes/D7,_graft_deletes/D8] eq=[] parts=[p] hist=[] props={bk=1,graft.parentVersion=24,k=a} #c9a047ea444a",
    "t v26 files=[p=0/F12@6:2,p=0/F20@12:33,p=1/F21@12:30,p=1/F32@19:1,p=0/F33@20:2,p=1/F34@21:2] del=[id = 22] pos=[_graft_deletes/D1,_graft_deletes/D2,_graft_deletes/D3,_graft_deletes/D4] eq=[] parts=[p] hist=[] props={ek=1,graft.parentVersion=21,k=a,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,write.delete.mode=merge-on-read,write.merge.mode=merge-on-read,write.update.mode=merge-on-read} #f91d2710b639",
    "t v27 files=[p=0/F12@6:2,p=0/F20@12:33,p=1/F21@12:30,p=1/F32@19:1,p=0/F33@20:2,p=1/F34@21:2] del=[id = 22] pos=[_graft_deletes/D1,_graft_deletes/D2,_graft_deletes/D3,_graft_deletes/D4,_graft_deletes/D9] eq=[] parts=[p] hist=[] props={ek=1,graft.parentVersion=26,k=a,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,write.delete.mode=merge-on-read,write.merge.mode=merge-on-read,write.update.mode=merge-on-read} #896962a281a2",
    "t v28 files=[p=0/F12@6:2,p=0/F20@12:33,p=1/F21@12:30,p=1/F32@19:1,p=0/F33@20:2,p=1/F34@21:2] del=[id = 22] pos=[_graft_deletes/D1,_graft_deletes/D2,_graft_deletes/D3,_graft_deletes/D4,_graft_deletes/D9] eq=[_graft_deletes/D10@28] parts=[p] hist=[] props={ek=1,graft.parentVersion=27,k=a,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,write.delete.mode=merge-on-read,write.merge.mode=merge-on-read,write.update.mode=merge-on-read} #e49fabe16108",
    "t v29 files=[p=0/F12@6:2,p=0/F20@12:33,p=1/F21@12:30,p=1/F32@19:1,p=0/F33@20:2,p=1/F34@21:2] del=[id = 22] pos=[_graft_deletes/D11] eq=[_graft_deletes/D10@28] parts=[p] hist=[] props={ek=1,graft.parentVersion=28,k=a,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,write.delete.mode=merge-on-read,write.merge.mode=merge-on-read,write.update.mode=merge-on-read} #639e4c485cad",
    "t v30 files=[p=0/F12@6:2,p=0/F20@12:33,p=0/F33@20:2,p=1/F38@30:2] del=[id = 22] pos=[_graft_deletes/D11] eq=[_graft_deletes/D10@28] parts=[p] hist=[] props={ek=1,graft.parentVersion=29,k=a,ow=1,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,write.delete.mode=merge-on-read,write.merge.mode=merge-on-read,write.update.mode=merge-on-read} #dea384c369cd",
    "t v31 files=[p=1/F38@30:2,p=0/F39@31:2] del=[id = 22] pos=[_graft_deletes/D11] eq=[_graft_deletes/D10@28] parts=[p] hist=[] props={ek=1,graft.parentVersion=30,k=a,ow=1,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,write.delete.mode=merge-on-read,write.merge.mode=merge-on-read,write.update.mode=merge-on-read} #5fe0df54060a",
    "t v32 files=[p=1/F38@30:2,p=0/F39@31:2,p=1/F40@32:1] del=[id = 22] pos=[_graft_deletes/D11] eq=[_graft_deletes/D10@28] parts=[p] hist=[] props={ek=1,graft.parentVersion=31,k=a,ow=1,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,write.delete.mode=merge-on-read,write.merge.mode=merge-on-read,write.update.mode=merge-on-read} #865cf20c606e",
    "t v33 files=[p=1/F38@30:2,p=0/F39@31:2,p=1/F40@32:1,p=0/F41@33:30,p=1/F42@33:30] del=[id = 22] pos=[_graft_deletes/D11] eq=[_graft_deletes/D10@28] parts=[p] hist=[] props={ek=1,graft.parentVersion=32,k=a,ow=1,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,write.delete.mode=merge-on-read,write.merge.mode=merge-on-read,write.update.mode=merge-on-read} #374b35696eac",
    "t v34 files=[p=0/F41@33:30,p=1/F42@33:30,p=0/F43@34:2,p=1/F44@34:3] del=[id = 22] pos=[_graft_deletes/D11] eq=[_graft_deletes/D10@28] parts=[p] hist=[] props={ek=1,graft.parentVersion=33,graft.snapshot.operation=replace,k=a,ow=1,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,write.delete.mode=merge-on-read,write.merge.mode=merge-on-read,write.update.mode=merge-on-read} #6c4cc9c49a7d",
    "t v35 files=[p=0/F45@35:32,p=1/F46@35:33] del=[] pos=[] eq=[] parts=[p] hist=[] props={ek=1,graft.parentVersion=34,graft.snapshot.operation=replace,k=a,ow=1,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,write.delete.mode=merge-on-read,write.merge.mode=merge-on-read,write.update.mode=merge-on-read} #4863f332ed5e",
    "t v36 files=[p=0/F45@35:32,p=1/F46@35:33,p=0/F47@36:3,p=1/F48@36:3] del=[] pos=[] eq=[] parts=[p] hist=[] props={ek=1,graft.parentVersion=35,k=a,ow=1,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,write.delete.mode=merge-on-read,write.merge.mode=merge-on-read,write.update.mode=merge-on-read} #44c7b12232cc",
    "t v37 files=[p=0/F45@35:32,p=1/F46@35:33,p=0/F47@36:3,p=1/F48@36:3] del=[id = 121] pos=[] eq=[] parts=[p] hist=[] props={ek=1,graft.parentVersion=36,k=a,ow=1,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,write.delete.mode=merge-on-read,write.merge.mode=merge-on-read,write.update.mode=merge-on-read} #c6da349cd450",
    "t v38 files=[p=0/F49@38:35,p=1/F50@38:35] del=[] pos=[] eq=[] parts=[p] hist=[] props={ek=1,graft.parentVersion=37,graft.snapshot.operation=replace,k=a,ow=1,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,write.delete.mode=merge-on-read,write.merge.mode=merge-on-read,write.update.mode=merge-on-read} #914d8a11bbb8",
    "t v39 files=[p=0/F49@38:35,p=1/F50@38:35] del=[] pos=[] eq=[] parts=[p] hist=[] props={ek=1,graft.parentVersion=38,k=a,ow=1,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,write.delete.mode=merge-on-read,write.merge.mode=merge-on-read,write.update.mode=merge-on-read} #87feb420e55c",
    "t v40 files=[p=0/F49@38:35,p=1/F50@38:35] del=[] pos=[] eq=[] parts=[p,bucket(2,id)] hist=[] props={ek=1,graft.parentVersion=39,k=a,ow=1,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,write.delete.mode=merge-on-read,write.merge.mode=merge-on-read,write.update.mode=merge-on-read} #ced6f9542854",
    "t v41 files=[p=0/F49@38:35,p=1/F50@38:35,p=0/id_bucket=0/F51@41:2,p=0/id_bucket=1/F52@41:3,p=1/id_bucket=0/F53@41:1,p=1/id_bucket=1/F54@41:4] del=[] pos=[] eq=[] parts=[p,bucket(2,id)] hist=[] props={ek=1,graft.parentVersion=40,k=a,ow=1,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,write.delete.mode=merge-on-read,write.merge.mode=merge-on-read,write.update.mode=merge-on-read} #58bf608ad02f",
    "t v42 files=[p=0/F49@38:35,p=1/F50@38:35,p=0/id_bucket=0/F51@41:2,p=0/id_bucket=1/F52@41:3,p=1/id_bucket=0/F53@41:1,p=1/id_bucket=1/F54@41:4] del=[id = 101] pos=[] eq=[] parts=[p,bucket(2,id)] hist=[] props={ek=1,graft.parentVersion=41,k=a,ow=1,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,write.delete.mode=merge-on-read,write.merge.mode=merge-on-read,write.update.mode=merge-on-read} #6a29cc34f75a",
    "t v43 files=[p=0/F1@1:10,p=0/F2@1:10,p=1/F3@1:10,p=1/F4@1:10,p=0/F5@2:5,p=1/F6@2:5] del=[] pos=[] eq=[] parts=[p,bucket(2,id)] hist=[] props={ek=1,graft.parentVersion=42,k=a,ow=1,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,write.delete.mode=merge-on-read,write.merge.mode=merge-on-read,write.update.mode=merge-on-read} #e23bf40e2e40",
    "t v44 files=[p=0/F1@1:10,p=0/F2@1:10,p=1/F3@1:10,p=1/F4@1:10,p=0/F5@2:5,p=1/F6@2:5,p=0/F7@3:3,p=1/F8@3:3] del=[] pos=[] eq=[] parts=[p,bucket(2,id)] hist=[] props={ek=1,graft.parentVersion=43,k=a,ow=1,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,write.delete.mode=merge-on-read,write.merge.mode=merge-on-read,write.update.mode=merge-on-read} #348fa8a3fb7b",
    "t v45 files=[p=0/F49@38:35,p=1/F50@38:35,p=0/id_bucket=0/F51@41:2,p=0/id_bucket=1/F52@41:3,p=1/id_bucket=0/F53@41:1,p=1/id_bucket=1/F54@41:4] del=[id = 101] pos=[] eq=[] parts=[p,bucket(2,id)] hist=[] props={ek=1,graft.parentVersion=44,k=a,ow=1,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,write.delete.mode=merge-on-read,write.merge.mode=merge-on-read,write.update.mode=merge-on-read} #84bcfbcbd367",
    "t v46 files=[p=0/F49@38:35,p=1/F50@38:35,p=0/id_bucket=0/F51@41:2,p=0/id_bucket=1/F52@41:3,p=1/id_bucket=0/F53@41:1,p=1/id_bucket=1/F54@41:4,p=0/id_bucket=0/F55@46:1,p=1/id_bucket=1/F56@46:1] del=[id = 101] pos=[] eq=[] parts=[p,bucket(2,id)] hist=[] props={ek=1,graft.parentVersion=45,k=a,ow=1,stream.q.batch=0,stream.tok.lastCommittedBatchId=1,u1=x,write.delete.mode=merge-on-read,write.merge.mode=merge-on-read,write.update.mode=merge-on-read} #f84b19de2dfb",
    "t v47 files=[p=0/F49@47:35,p=1/F50@47:35,p=0/id_bucket=0/F51@47:2,p=0/id_bucket=1/F52@47:3,p=1/id_bucket=0/F53@47:1,p=1/id_bucket=1/F54@47:4] del=[] pos=[] eq=[] parts=[p] hist=[] props={graft.parentVersion=45,r=1} #510f75ab1480",
    "t v48 files=[p=0/F57@48:3,p=1/F58@48:3] del=[] pos=[] eq=[] parts=[p] hist=[] props={graft.parentVersion=47,o=1,r=1} #685d438c6e26",
    "t v49 files=[p=1/F59@49:4] del=[] pos=[] eq=[] parts=[p] hist=[] props={graft.parentVersion=48,o=1,r=1,stream.tok.lastCommittedBatchId=2} #31cdf83b2db3",
    "t v50 files=[p=1/F60@50:4] del=[] pos=[] eq=[] parts=[p] hist=[] props={graft.parentVersion=49,graft.snapshot.operation=replace,o=1,r=1,stream.tok.lastCommittedBatchId=2} #82a7b5d6f743",
    "t refs (Map(b -> 46, main -> 50),Map(t1 -> 2))",
    "clone v50 files=[p=1/F60@50:4] del=[] pos=[] eq=[] parts=[p] hist=[] props={graft.parentVersion=0,o=1,r=1,stream.tok.lastCommittedBatchId=2} #c93a508576e2",
    "clone v51 files=[p=1/F60@50:4,p=0/F61@51:1,p=1/F62@51:1] del=[] pos=[] eq=[] parts=[p] hist=[] props={graft.parentVersion=50,o=1,r=1,stream.tok.lastCommittedBatchId=2} #dffe03445dc0",
    "clone refs (Map(main -> 51),Map())",
  )

  private val ExpectedReads: Map[String, Long] = Map(
    "addFiles" -> 3L,
    "append" -> 6L,
    "append clone" -> 6L,
    "append evolved" -> 6L,
    "append large" -> 6L,
    "append pre-rewrite" -> 6L,
    "append small" -> 6L,
    "appendIfBatchNew" -> 7L,
    "appendIfBatchNew replay" -> 1L,
    "appendToBranch" -> 6L,
    "appendToBranch after fastForward" -> 6L,
    "binPack full" -> 7L,
    "binPack partial" -> 7L,
    "cherrypick" -> 1L,
    "commitDynamicOverwrite" -> 2L,
    "commitReplace" -> 2L,
    "commitStreamEpoch" -> 2L,
    "commitStreamEpoch complete" -> 2L,
    "commitStreamEpoch replay" -> 1L,
    "delete cow" -> 10L,
    "delete cow b" -> 10L,
    "delete cow no-op" -> 4L,
    "delete mor" -> 4L,
    "delete mor b" -> 4L,
    "delete mor no-op" -> 4L,
    "deleteByEquality" -> 3L,
    "deleteByPosition" -> 2L,
    "deleteMoR" -> 2L,
    "deleteMoR evolved" -> 2L,
    "deleteMoR pre-rewrite" -> 2L,
    "evolvePartitionSpec" -> 1L,
    "mergeInto cow" -> 9L,
    "mergeInto cow b" -> 9L,
    "mergeInto mor" -> 10L,
    "mergeInto mor b" -> 10L,
    "mergeUpsert cow" -> 9L,
    "mergeUpsert cow b" -> 9L,
    "mergeUpsert mor" -> 10L,
    "mergeUpsert mor b" -> 10L,
    "overwrite" -> 6L,
    "overwriteWhere" -> 8L,
    "rewriteCompact" -> 7L,
    "rewriteDataFiles" -> 7L,
    "rewriteManifests" -> 2L,
    "rewritePositionDeleteFiles" -> 2L,
    "rollback" -> 2L,
    "setCurrentSnapshot" -> 1L,
    "snapshotClone" -> 2L,
    "update cow" -> 10L,
    "update cow b" -> 10L,
    "update mor" -> 9L,
    "update mor b" -> 9L,
    "updateProperties" -> 1L,
    "updateProperties mor" -> 1L,
    "updateProperties unset" -> 1L,
  )
}
