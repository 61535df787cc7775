package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams

/** Streaming semantics over the `events` table: micro-batch source,
  * watermarked event-time windows, custom keyed state, and a parquet sink
  * (checkpointed, the exactly-once pattern of the reference's streaming
  * write — `SparkWrite.java:181-186`).
  */
class StreamingSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  private def batchEvents = Tables.load(spark, sf, "events")

  test("windowed aggregation over the micro-batch source matches batch") {
    val q = EventStreams.windowedCounts(EventStreams.readEvents(spark, sf))
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_counts").start()
    try {
      q.processAllAvailable()
      val got = spark.table("win_counts")
      val batch = batchEvents
        .withColumn("ets", timestamp_micros(expr("ts div 1000")))
        .groupBy(window(col("ets"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      assert(got.agg(sum("n_events")).collect().head.getLong(0) == batchEvents.count())
      assert(got.count() == batch.count())
    } finally q.stop()
  }

  test("stateful per-user totals match batch aggregation") {
    val q = EventStreams.userTotals(spark, EventStreams.readEvents(spark, sf))
      .writeStream.outputMode("update")
      .format("memory").queryName("user_totals").start()
    try {
      q.processAllAvailable()
      // one micro-batch → final state per user; compare to batch groupBy
      val got = spark.table("user_totals")
        .groupBy("user_id").agg(max("n_events").as("n"))
      val batch = batchEvents.groupBy("user_id").agg(count(lit(1)).as("n"))
      val mismatch = got.as("g").join(batch.as("b"), Seq("user_id"))
        .filter(col("g.n") =!= col("b.n")).count()
      assert(mismatch == 0)
      assert(got.count() == batch.count())
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch interval join") {
    val q = EventStreams.viewClickJoin(EventStreams.readEvents(spark, sf))
      .writeStream.outputMode("append")
      .format("memory").queryName("vc_join").start()
    try {
      q.processAllAvailable()
      val got = spark.table("vc_join")
      val ev = batchEvents.withColumn("ets",
        if (batchEvents.schema("ts").dataType == org.apache.spark.sql.types.LongType)
          timestamp_micros(expr("ts div 1000"))
        else col("ts").cast("timestamp"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ets").as("v_ts"), col("event_id").as("view_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ets").as("c_ts"),
          col("event_id").as("click_id"))
      val batch = views.join(clicks,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("INTERVAL 1 hour"))
      assert(batch.count() > 0, "fixture should produce attributable clicks")
      assert(got.count() == batch.count())
      // exact pair-set equality, not just cardinality
      val gotPairs = got.select("view_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val batchPairs = batch.select("view_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotPairs == batchPairs)
    } finally q.stop()
  }

  test("streaming dedup drops within-horizon duplicates with bounded state") {
    // duplicate the whole events file into one source dir → every event
    // arrives exactly twice in the same micro-batch window
    val dir = Files.createTempDirectory("dup_events").toFile
    val src = new java.io.File(s"$sf/events.parquet")
    java.nio.file.Files.copy(src.toPath,
      new java.io.File(dir, "a.parquet").toPath)
    java.nio.file.Files.copy(src.toPath,
      new java.io.File(dir, "b.parquet").toPath)
    val schema = spark.read.parquet(dir.getAbsolutePath).schema
    val stream0 = spark.readStream.schema(schema).parquet(dir.getAbsolutePath)
    val stream =
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        stream0.withColumn("ets", timestamp_micros(expr("ts div 1000")))
      else stream0.withColumn("ets", col("ts").cast("timestamp"))
    val q = EventStreams.dedupedEvents(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_events").start()
    try {
      q.processAllAvailable()
      val n = spark.table("dedup_events").count()
      assert(n == batchEvents.count(),
        s"expected each duplicated event once, got $n")
      assert(spark.table("dedup_events").groupBy("event_id").count()
        .filter(col("count") > 1).count() == 0)
    } finally q.stop()
  }

  test("equality deletes on RENAMED columns apply in the stream " +
      "(logical delete columns bind against the physical stream rows)") {
    import spark.implicits._
    import graft.spatial.{GeoTable, Snapshots, TableSchema}
    val dir = Files.createTempDirectory("graft_eqren").toString + "/tbl"
    spark.range(20).selectExpr("id", "concat('v', id) AS v")
      .coalesce(1).write.parquet(dir)
    GeoTable.writeManifest(spark, dir)
    TableSchema.renameColumn(spark, dir, "id", "key")
    Snapshots.deleteByEquality(spark, dir, Seq(3L, 7L).toDF("key"))
    assert(Snapshots.read(spark, dir).where("key IN (3, 7)").count() == 0)
    val q = graft.streaming.GeoStreams.readTableStream(spark, dir, maxFilesPerTrigger = 4)
      .writeStream.outputMode("append")
      .format("memory").queryName("eq_rename_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("eq_rename_stream")
      assert(got.count() == 18,
        s"stream must apply the equality delete after the rename, got ${got.count()}")
      assert(got.where("key IN (3, 7)").count() == 0)
    } finally q.stop()
  }

  test("LEGACY equality deletes (no sequence stamp, seq=0) apply in the " +
      "stream: seq==0 means applies-to-every-file, exactly like the batch " +
      "planner") {
    import spark.implicits._
    import graft.spatial.{GeoTable, Snapshots}
    val dir = Files.createTempDirectory("graft_eqlegacy").toString + "/tbl"
    spark.range(20).selectExpr("id", "concat('v', id) AS v")
      .coalesce(1).write.parquet(dir)
    GeoTable.writeManifest(spark, dir)
    Snapshots.deleteByEquality(spark, dir, Seq(3L, 7L).toDF("id"))
    // strip the sequence stamps from the head manifest — the pre-stamping
    // legacy form parseEqDeletes reads back as seq=0
    val head = Snapshots.mainVersion(dir)
    val vf = java.nio.file.Paths.get(dir, s"_graft_manifest_v$head.json")
    val vtxt = new String(java.nio.file.Files.readAllBytes(vf), "UTF-8")
      .replaceAll(""","seq":\d+}""", "}")
    java.nio.file.Files.write(vf, vtxt.getBytes("UTF-8"))
    // batch read filters the legacy delete
    assert(Snapshots.read(spark, dir).where("id IN (3, 7)").count() == 0)
    // the stream must agree — a strict addedV < seq drops seq==0 entirely
    val q = graft.streaming.GeoStreams.readTableStream(spark, dir, maxFilesPerTrigger = 4)
      .writeStream.outputMode("append")
      .format("memory").queryName("eq_legacy_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("eq_legacy_stream")
      assert(got.count() == 18,
        s"stream must apply the LEGACY (seq=0) equality delete, got ${got.count()}")
      assert(got.where("id IN (3, 7)").count() == 0)
    } finally q.stop()
  }

  test("catalog streaming with PARTITION-column pruning serves correct " +
      "partition values: dir values are projected onto the scan's pruned " +
      "layout, not read positionally from the full one") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_pprune_wh").toString
    spark.conf.set("spark.sql.catalog.ppcat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ppcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ppcat.db")
    spark.sql("CREATE TABLE ppcat.db.t (a BIGINT, p STRING, d BIGINT) " +
      "PARTITIONED BY (p, d)")
    spark.sql("INSERT INTO ppcat.db.t SELECT id, concat('r', id % 2), " +
      "id % 3 FROM range(12)")
    // prune the LEADING partition column p: a positional read of the full
    // (p, d) dir row would serve the region string as d
    val q = spark.readStream.table("ppcat.db.t").select("a", "d")
      .writeStream.outputMode("append")
      .format("memory").queryName("pp_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("pp_stream").as[(Long, Long)].collect().toSet
      val want = (0 until 12).map(i => (i.toLong, (i % 3).toLong)).toSet
      assert(got == want, s"pruned partition values must be correct: $got")
    } finally q.stop()
  }

  test("predicate deletes on RENAMED columns committed after stream " +
      "CONSTRUCTION still bind per batch (in-source logical→physical translation)") {
    import graft.spatial.{GeoTable, Snapshots, TableSchema}
    val dir = Files.createTempDirectory("graft_predren").toString + "/tbl"
    spark.range(20).selectExpr("id", "concat('v', id) AS v")
      .coalesce(1).write.parquet(dir)
    GeoTable.writeManifest(spark, dir)
    TableSchema.renameColumn(spark, dir, "id", "key")
    // the stream frame is CONSTRUCTED before the delete exists — the
    // post-decode belt captured an empty list, so only the per-batch
    // in-source binding (with the rename translated) can apply it
    val streamDf = graft.streaming.GeoStreams.readTableStream(spark, dir, 4)
    Snapshots.deleteMoR(spark, dir, "key >= 15")
    assert(Snapshots.read(spark, dir).count() == 15)
    val q = streamDf.writeStream.outputMode("append")
      .format("memory").queryName("pred_rename_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("pred_rename_stream")
      assert(got.count() == 15,
        s"the post-construction predicate delete must apply, got ${got.count()}")
      assert(got.where("key >= 15").count() == 0)
    } finally q.stop()
  }

  test("branch appends record snapshot-property.* options on the branch commit") {
    import graft.spatial.Snapshots
    val wh = Files.createTempDirectory("graft_bsp_wh").toString
    spark.conf.set("spark.sql.catalog.bspcat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.bspcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS bspcat.db")
    spark.sql("CREATE TABLE bspcat.db.t (id BIGINT)")
    spark.sql("INSERT INTO bspcat.db.t SELECT id FROM range(5)")
    val dir = s"$wh/db/t"
    Snapshots.createBranch(dir, "audit")
    spark.range(5, 8).toDF("id").writeTo("bspcat.db.t.branch_audit")
      .option("snapshot-property.source-run", "42").append()
    val head = Snapshots.readRefs(dir)._1("audit")
    assert(Snapshots.readProps(dir, Some(head)).get("source-run").contains("42"),
      s"branch commit must carry the snapshot property: " +
        s"${Snapshots.readProps(dir, Some(head))}")
    assert(spark.sql("SELECT * FROM bspcat.db.t.branch_audit").count() == 8)
    // main is untouched — neither the rows nor the property
    assert(spark.table("bspcat.db.t").count() == 5)
  }

  test("streaming geo sink commits one snapshot per micro-batch") {
    import graft.functions.GeoSql
    import graft.spatial.{GeoTable, Snapshots}
    graft.spatial.Geo.install(spark)
    val out = Files.createTempDirectory("graft_geo_stream").toString + "/tbl"
    val ckpt = Files.createTempDirectory("graft_geo_stream_ckpt").toString
    val pts = EventStreams.readEvents(spark, sf)
      .select(col("event_id"), col("user_id"),
        GeoSql.st_point((col("value") % 180) - 90, (col("value") % 90) - 45).as("geom"))
    val withBbox = GeoTable.withBbox(pts, "geom")
    val q = graft.streaming.GeoStreams.appendStream(withBbox, out, ckpt)
    try q.awaitTermination() finally q.stop()
    assert(Snapshots.currentVersion(out) >= 1)
    assert(Snapshots.read(spark, out).count() == batchEvents.count())
    // restart with the same checkpoint: no new data → no new snapshot
    val v = Snapshots.currentVersion(out)
    val q2 = graft.streaming.GeoStreams.appendStream(withBbox, out, ckpt)
    try q2.awaitTermination() finally q2.stop()
    assert(Snapshots.currentVersion(out) == v)
    // spatial predicate works over the streamed table
    val n = Snapshots.read(spark, out).filter(
      GeoSql.st_intersects(col("geom"),
        GeoSql.st_makeenvelope(lit(-90.0), lit(-45.0), lit(0.0), lit(0.0)))).count()
    assert(n > 0)
  }

  test("exactly-once is durable AND per-query: replays skipped, new queries not") {
    import graft.spatial.{GeoTable, Snapshots}
    import graft.streaming.GeoStreams
    graft.spatial.Geo.install(spark)
    val out = Files.createTempDirectory("graft_eo").toString + "/tbl"
    val df = GeoTable.withBbox(
      batchEvents.limit(100).select(col("event_id"),
        graft.functions.GeoSql.st_point(lit(1.0), lit(2.0)).as("geom")), "geom")
    // batch 0 of query A commits; the same (query, batch id) replayed
    // later (driver restart re-running a batch already in the table) must
    // NOT double-append — the guard is the batch id persisted in the
    // manifest under the QUERY's key, not driver memory
    val qa = GeoStreams.streamToken("/ckpt/query-a")
    assert(GeoStreams.commitBatch(df, out, 0L, qa))
    assert(Snapshots.read(spark, out).count() == 100)
    assert(GeoStreams.lastCommittedBatch(out, qa) == 0L)
    assert(!GeoStreams.commitBatch(df, out, 0L, qa)) // replay skipped
    assert(Snapshots.read(spark, out).count() == 100)
    assert(GeoStreams.commitBatch(df, out, 1L, qa)) // next batch commits
    assert(Snapshots.read(spark, out).count() == 200)
    assert(GeoStreams.lastCommittedBatch(out, qa) == 1L)
    // a DIFFERENT query (own checkpoint) appending to the same table also
    // starts at batch 0 — its batches must NOT be swallowed by query A's
    // high-water mark (the round-3 table-global key dropped them)
    val qb = GeoStreams.streamToken("/ckpt/query-b")
    assert(GeoStreams.commitBatch(df, out, 0L, qb))
    assert(Snapshots.read(spark, out).count() == 300)
    // ...and query A's replay guard is unaffected by B's commits
    assert(!GeoStreams.commitBatch(df, out, 1L, qa))
    assert(Snapshots.read(spark, out).count() == 300)
    // end-to-end: two streaming queries with their own checkpoints write
    // the same source to the same table — both land in full
    val out2 = Files.createTempDirectory("graft_eo2").toString + "/tbl"
    val src = GeoTable.withBbox(
      EventStreams.readEvents(spark, sf).select(col("event_id"),
        graft.functions.GeoSql.st_point(lit(1.0), lit(2.0)).as("geom")), "geom")
    val ck1 = Files.createTempDirectory("graft_eo_ck1").toString
    val q1 = GeoStreams.appendStream(src, out2, ck1)
    try q1.awaitTermination() finally q1.stop()
    val rows = Snapshots.read(spark, out2).count()
    val ck2 = Files.createTempDirectory("graft_eo_ck2").toString
    val q2 = GeoStreams.appendStream(src, out2, ck2)
    try q2.awaitTermination() finally q2.stop()
    assert(Snapshots.read(spark, out2).count() == 2 * rows,
      "a second query with its own checkpoint is new data, not a replay")
    // a RE-RUN of the second query (same checkpoint, no new source data)
    // commits nothing
    val q3 = GeoStreams.appendStream(src, out2, ck2)
    try q3.awaitTermination() finally q3.stop()
    assert(Snapshots.read(spark, out2).count() == 2 * rows)
  }

  test("manifest-driven stream: orphans and deleted rows are NOT streamed") {
    import graft.spatial.{GeoTable, Snapshots}
    import graft.streaming.GeoStreams
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_manifest_stream").toString
    val src = GeoTable.withBbox(
      batchEvents.limit(200).select(col("event_id"),
        graft.functions.GeoSql.st_point(lit(1.0), lit(2.0)).as("geom")), "geom")
    GeoTable.write(src, dir, "geom", res = 8, numFiles = 2)
    // an ORPHAN data file on disk (failed write debris): a byte-copy of a
    // real data file under a fresh name, never committed to any manifest
    val real = Snapshots.readManifest(dir).head.path
    java.nio.file.Files.copy(java.nio.file.Paths.get(dir, real),
      java.nio.file.Paths.get(dir, "part-orphan-deadbeef.c000.snappy.parquet"))
    // MoR deletes pending at stream time: a predicate delete and a
    // positional delete — both metadata-only, both must gate the stream
    Snapshots.deleteMoR(spark, dir, "event_id % 10 = 3")
    val posTarget = Snapshots.read(spark, dir)
      .select(expr("_metadata.file_path").as("file_path"), expr("_metadata.row_index").as("pos"),
        col("event_id"))
      .filter(col("event_id") % 10 === 4).drop("event_id")
    Snapshots.deleteByPosition(spark, dir, posTarget)
    val expected = Snapshots.read(spark, dir)
    val expectedIds = expected.select("event_id").collect().map(_.getLong(0)).toSet
    assert(expectedIds.forall(id => id % 10 != 3 && id % 10 != 4))
    val q = GeoStreams.readTableStream(spark, dir, maxFilesPerTrigger = 1)
      .writeStream.outputMode("append").format("memory").queryName("mstream").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("mstream").select("event_id").collect().map(_.getLong(0))
    assert(got.length == got.distinct.length, "orphan file must not duplicate rows")
    assert(got.toSet == expectedIds,
      "stream must equal the committed snapshot read (deletes applied, orphans excluded)")
    // incremental: a new append streams exactly its rows, still gated by
    // the pending predicate delete
    val more = GeoTable.withBbox(
      batchEvents.limit(250).select((col("event_id") + 1000000).as("event_id"),
        graft.functions.GeoSql.st_point(lit(3.0), lit(4.0)).as("geom")), "geom")
    Snapshots.append(more, dir)
    val q2 = GeoStreams.readTableStream(spark, dir, maxFilesPerTrigger = 8)
      .writeStream.outputMode("append").format("memory").queryName("mstream2").start()
    try q2.processAllAvailable() finally q2.stop()
    val got2 = spark.table("mstream2").select("event_id").collect().map(_.getLong(0)).toSet
    val expected2 = Snapshots.read(spark, dir).select("event_id").collect().map(_.getLong(0)).toSet
    assert(got2 == expected2)
  }

  test("streaming-skip-*-snapshots=false fails strictly on non-append snapshots") {
    import graft.spatial.{GeoTable, Snapshots}
    val dir = Files.createTempDirectory("graft_strict_stream").toString + "/tbl"
    spark.range(40).select(col("id"), (col("id") % 4).as("k"))
      .coalesce(2).write.parquet(dir)
    GeoTable.writeManifest(spark, dir)
    // a CoW delete produces an overwrite-shaped snapshot (files removed
    // AND rewritten)
    Snapshots.delete(spark, dir, col("k") === 1)
    def run(opts: Map[String, String], name: String): Option[Throwable] = {
      val r = spark.readStream.format("graft-stream")
        .options(opts).load(dir)
      val q = r.writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try { q.processAllAvailable(); q.exception }
      catch { case e: Throwable => Some(e) }
      finally q.stop()
    }
    // default posture: skip silently, stream the committed state
    assert(run(Map.empty, "strict0").isEmpty)
    assert(spark.table("strict0").count() == 40,
      "the rewrite's additions are skipped (rematerialized rows)")
    // strict overwrite mode: the walk refuses the rewrite snapshot
    val err = run(Map("streaming-skip-overwrite-snapshots" -> "false"), "strict1")
    assert(err.exists(e => String.valueOf(e.getMessage) + String.valueOf(e.getCause) contains "overwrite/rewrite snapshot"),
      s"strict mode must fail on the rewrite: $err")
    // NOTE: a PURE delete snapshot (files removed, none added) cannot
    // arise along a stamped ancestry here — CoW deletes always rewrite
    // survivors, and out-of-band manifest re-publishes start a fresh
    // ancestry the walk will not cross. The delete-strict branch stays
    // as defense for degenerate manifests; only the overwrite form is
    // reachable, tested above. Strict mode off again streams clean:
    assert(run(Map("streaming-skip-delete-snapshots" -> "false"), "strict2").isEmpty,
      "delete-strict must not trip on an overwrite-shaped chain")
  }

  test("table stream honors maxFilesPerTrigger admission control") {
    import graft.spatial.GeoTable
    import graft.streaming.GeoStreams
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_adm").toString
    val src = GeoTable.withBbox(
      batchEvents.limit(400).select(col("event_id"),
        graft.functions.GeoSql.st_point(
          (col("event_id") % 170 - 85).cast("double"),
          (col("event_id") % 80 - 40).cast("double")).as("geom")), "geom")
    GeoTable.write(src, dir, "geom", res = 8, numFiles = 4)
    assert(graft.spatial.Snapshots.readManifest(dir).size == 4)
    var batches = 0
    val q = GeoStreams.readTableStream(spark, dir, maxFilesPerTrigger = 1)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!b.isEmpty) batches += 1
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(batches >= 4, s"1 file per trigger over 4 files should give >= 4 batches, got $batches")
  }

  test("table stream honors maxRecordsPerTrigger from manifest stats") {
    import graft.spatial.GeoTable
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_admrec").toString
    val src = GeoTable.withBbox(
      batchEvents.limit(400).select(col("event_id"),
        graft.functions.GeoSql.st_point(
          (col("event_id") % 170 - 85).cast("double"),
          (col("event_id") % 80 - 40).cast("double")).as("geom")), "geom")
    GeoTable.write(src, dir, "geom", res = 8, numFiles = 4)
    // 4 files x ~100 rows; a 120-row cap admits one file per trigger (the
    // row counts come from the MANIFEST, no data read at admission time)
    var batches = 0
    val q = spark.readStream.format("graft-stream")
      .option("path", dir).option("maxRecordsPerTrigger", "120")
      .load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!b.isEmpty) batches += 1
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(batches >= 3, s"120-row cap over 4x100-row files should give >= 3 batches, got $batches")
    assert(spark.read.format("graft").load(dir).count() == 400)
  }

  test("readStream.table on a catalog identifier: admission + exactly-once resume") {
    import graft.spatial.Snapshots
    graft.spatial.Geo.install(spark)
    val wh = Files.createTempDirectory("graft_sr_wh").toString
    spark.conf.set("spark.sql.catalog.srcat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.srcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS srcat.st")
    spark.sql("CREATE TABLE srcat.st.src (id BIGINT, v DOUBLE)")
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO srcat.st.src SELECT /*+ REPARTITION(1) */ id + ${i * 100}, " +
        s"CAST(id AS DOUBLE) FROM range(100)")
    }
    assert(Snapshots.readManifest(s"$wh/st/src").size == 4)
    // 1 file per trigger: the committed chain streams in >= 4 batches
    val ckpt = Files.createTempDirectory("graft_sr_ckpt").toString
    var batches = 0
    val q = spark.readStream
      .option("maxFilesPerTrigger", "1")
      .table("srcat.st.src")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!b.isEmpty) batches += 1
        ()
      }
      // AvailableNow exercises SupportsTriggerAvailableNow: the pinned
      // boundary still paces 1-file batches instead of one big batch
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    assert(batches >= 4,
      s"1 file per trigger over 4 files should give >= 4 non-empty batches, got $batches")
    // all rows exactly once into a durable sink, then resume from the
    // checkpoint: only NEW commits stream
    val out = Files.createTempDirectory("graft_sr_out").toString
    val ckpt2 = Files.createTempDirectory("graft_sr_ckpt2").toString
    def runOnce(): Unit = {
      val s = spark.readStream.table("srcat.st.src")
        .writeStream
        .option("checkpointLocation", ckpt2)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet")
        .start(out)
      try s.awaitTermination() finally s.stop()
    }
    runOnce()
    assert(spark.read.parquet(out).count() == 400)
    spark.sql("INSERT INTO srcat.st.src SELECT id + 400, CAST(id AS DOUBLE) FROM range(50)")
    runOnce()
    val ids = spark.read.parquet(out).collect().map(_.getLong(0)).sorted
    assert(ids.length == 450 && ids.distinct.length == 450,
      "restart must stream only the new commit, exactly once")
  }

  test("readStream.table applies deletes committed BETWEEN batches of one live query") {
    import graft.spatial.Snapshots
    graft.spatial.Geo.install(spark)
    val wh = Files.createTempDirectory("graft_srd_wh").toString
    spark.conf.set("spark.sql.catalog.srdcat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.srdcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS srdcat.st")
    spark.sql("CREATE TABLE srdcat.st.live (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO srdcat.st.live SELECT id, CAST(id AS DOUBLE) FROM range(100)")
    val tbl = s"$wh/st/live"
    // drive ONE scan's stream by hand (deterministic batch boundaries —
    // the live engine races commits against its own polling)
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val scan = new graft.sources.GraftScanBuilder(spark, tbl, None,
      Snapshots.read(spark, tbl).schema).build().asInstanceOf[graft.sources.GraftScan]
    val stream = scan.toMicroBatchStream("unused_ckpt")
      .asInstanceOf[graft.streaming.GraftMicroBatchStream]
    def readBatch(from: org.apache.spark.sql.connector.read.streaming.Offset,
        to: org.apache.spark.sql.connector.read.streaming.Offset): Seq[Long] = {
      val factory = stream.createReaderFactory() // rebuilt per batch, like the engine
      stream.planInputPartitions(from, to).toSeq.flatMap { p =>
        val r = factory.createReader(p)
        val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        while (r.next()) buf += r.get().getLong(0)
        r.close()
        buf
      }
    }
    val o0 = stream.initialOffset()
    val o1 = stream.latestOffset(o0, ReadLimit.allAvailable())
    assert(readBatch(o0, o1).length == 100, "batch 1: the clean initial file")
    // while the scan instance stays LIVE: append a file, then positionally
    // delete rows IN that file — batch 2's readers must apply the delete
    // even though the scan was built when the table had no delete state
    spark.sql("INSERT INTO srdcat.st.live SELECT id + 100, CAST(id AS DOUBLE) FROM range(20)")
    val pos = Snapshots.read(spark, tbl)
      .select(expr("_metadata.file_path").as("file_path"),
        expr("_metadata.row_index").as("pos"), col("id"))
      .filter(col("id") >= 100 && col("id") < 103).drop("id")
    Snapshots.deleteByPosition(spark, tbl, pos)
    val o2 = stream.latestOffset(o1, ReadLimit.allAvailable())
    val batch2 = readBatch(o1, o2).sorted
    assert(batch2.length == 17,
      s"mid-stream delete must apply to the newly streamed file: got ${batch2.length}, want 17")
    assert(!batch2.exists(i => i >= 100 && i < 103))
  }

  test("branch-scoped streaming: option(branch) streams the branch chain, not main") {
    import graft.spatial.Snapshots
    graft.spatial.Geo.install(spark)
    val wh = Files.createTempDirectory("graft_brs_wh").toString
    spark.conf.set("spark.sql.catalog.brscat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.brscat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS brscat.st")
    spark.sql("CREATE TABLE brscat.st.b (id BIGINT)")
    spark.sql("INSERT INTO brscat.st.b SELECT id FROM range(40)")
    val tbl = s"$wh/st/b"
    Snapshots.createBranch(tbl, "dev")
    // diverge: branch gets 10 more rows, main gets 5 different ones
    spark.sql("INSERT INTO brscat.st.b.branch_dev SELECT id + 100 FROM range(10)")
    spark.sql("INSERT INTO brscat.st.b SELECT id + 500 FROM range(5)")
    val q = spark.readStream
      .option("branch", "dev")
      .table("brscat.st.b")
      .writeStream.format("memory").queryName("brs_rows")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val ids = spark.table("brs_rows").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == ((0L until 40L) ++ (100L until 110L)),
      s"branch stream must follow the dev chain (40 base + 10 branch rows), got ${ids.length}")
    // the path-based source honors the same option
    val q2 = spark.readStream.format("graft-stream")
      .option("path", tbl).option("branch", "dev")
      .load()
      .writeStream.format("memory").queryName("brs_rows2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q2.awaitTermination() finally q2.stop()
    assert(spark.table("brs_rows2").count() == 50)
  }

  test("interleaved branch WAP commits never leak into a main-ref stream") {
    import graft.spatial.Snapshots
    graft.spatial.Geo.install(spark)
    val wh = Files.createTempDirectory("graft_wap_wh").toString
    spark.conf.set("spark.sql.catalog.wapcat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.wapcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS wapcat.st")
    spark.sql("CREATE TABLE wapcat.st.w (id BIGINT)")
    spark.sql("INSERT INTO wapcat.st.w SELECT id FROM range(40)") // main: A
    val tbl = s"$wh/st/w"
    Snapshots.createBranch(tbl, "audit")
    // the POISON ordering: a branch commit lands BETWEEN two main commits,
    // taking a version number inside main's numeric range
    spark.sql("INSERT INTO wapcat.st.w.branch_audit SELECT id + 100 FROM range(10)") // B
    spark.sql("INSERT INTO wapcat.st.w SELECT id + 500 FROM range(5)") // main: C
    val q = spark.readStream.table("wapcat.st.w")
      .writeStream.format("memory").queryName("wap_rows")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val ids = spark.table("wap_rows").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == ((0L until 40L) ++ (500L until 505L)),
      s"main stream must be A+C only — no unpublished branch rows, no lost main rows " +
        s"(got ${ids.filter(_ >= 100).filter(_ < 500).length} branch rows, ${ids.length} total)")
    // the branch stream sees A+B and not C
    val q2 = spark.readStream.option("branch", "audit").table("wapcat.st.w")
      .writeStream.format("memory").queryName("wap_rows2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q2.awaitTermination() finally q2.stop()
    val bids = spark.table("wap_rows2").collect().map(_.getLong(0)).sorted.toSeq
    assert(bids == ((0L until 40L) ++ (100L until 110L)),
      s"branch stream must be A+B only, got ${bids.length}")
  }

  test("stream-from-timestamp starts the stream after the historical prefix") {
    import graft.spatial.Snapshots
    graft.spatial.Geo.install(spark)
    val wh = Files.createTempDirectory("graft_sft_wh").toString
    spark.conf.set("spark.sql.catalog.sftcat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.sftcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS sftcat.st")
    spark.sql("CREATE TABLE sftcat.st.hist (id BIGINT)")
    spark.sql("INSERT INTO sftcat.st.hist SELECT id FROM range(50)")
    Thread.sleep(1100) // manifest mtime granularity
    val ts = System.currentTimeMillis()
    Thread.sleep(1100)
    spark.sql("INSERT INTO sftcat.st.hist SELECT id + 50 FROM range(30)")
    // catalog identifier + option: only the post-timestamp commit streams
    val q = spark.readStream
      .option("stream-from-timestamp", ts.toString)
      .table("sftcat.st.hist")
      .writeStream.format("memory").queryName("sft_rows")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val ids = spark.table("sft_rows").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (50L until 80L),
      s"only the post-timestamp commit should stream, got ${ids.length} rows")
    // path-based source honors the same option
    val tbl = s"$wh/st/hist"
    assert(Snapshots.currentVersion(tbl) >= 2)
    val q2 = spark.readStream.format("graft-stream")
      .option("path", tbl).option("stream-from-timestamp", ts.toString)
      .load()
      .writeStream.format("memory").queryName("sft_rows2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q2.awaitTermination() finally q2.stop()
    assert(spark.table("sft_rows2").count() == 30)
  }

  test("readStream.table applies MoR deletes and declared encodings like batch") {
    import graft.spatial.{GeometryFields, Snapshots}
    graft.spatial.Geo.install(spark)
    val wh = Files.createTempDirectory("graft_sre_wh").toString
    spark.conf.set("spark.sql.catalog.srecat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.srecat.warehouse", wh)
    val tbl = s"$wh/st/enc"
    // WKT-encoded geometry storage + MoR predicate delete: the stream must
    // serve the decoded runtime repr minus deleted rows, same as batch
    val src = spark.range(100).toDF("id")
      .withColumn("x", (col("id") % 90 - 45).cast("double"))
      .withColumn("geom", graft.functions.GeoSql.st_point(col("x"), lit(5.0)))
    GeometryFields.writeGeo(src, tbl, "geom", "wkt", res = 8, numFiles = 2)
    Snapshots.deleteMoR(spark, tbl, "id % 7 = 0")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS srecat.st")
    val q = spark.readStream.table("srecat.st.enc")
      .writeStream.format("memory").queryName("sre_enc")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val got = spark.table("sre_enc")
    val batch = spark.sql("SELECT * FROM srecat.st.enc")
    assert(got.schema == batch.schema,
      s"stream schema ${got.schema.simpleString} != batch ${batch.schema.simpleString}")
    assert(got.count() == batch.count())
    assert(!got.select("id").collect().map(_.getLong(0)).exists(_ % 7 == 0))
    // decoded geometry: st_x works on the served column
    val bad = got.select(graft.functions.GeoSql.st_x(col("geom")).as("gx"), col("x"))
      .filter(col("gx") =!= col("x")).count()
    assert(bad == 0, "stream must serve the decoded runtime geometry repr")
  }

  test("DSv2 streaming write: writeStream into a catalog table, exactly-once epochs") {
    import graft.spatial.Snapshots
    graft.spatial.Geo.install(spark)
    val wh = Files.createTempDirectory("graft_sw_wh").toString
    spark.conf.set("spark.sql.catalog.swcat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.swcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS swcat.st")
    val ckpt = Files.createTempDirectory("graft_sw_ckpt").toString
    val events = EventStreams.readEvents(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"))
    // toTable creates the table through the catalog, then streams into it
    val q = events.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("swcat.st.ev")
    try q.awaitTermination() finally q.stop()
    val tbl = s"$wh/st/ev"
    val n = batchEvents.count()
    assert(spark.sql("SELECT * FROM swcat.st.ev").count() == n)
    assert(Snapshots.currentVersion(tbl) >= 1)
    // restart with the same checkpoint: nothing new → no rows duplicated
    val q2 = events.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("swcat.st.ev")
    try q2.awaitTermination() finally q2.stop()
    assert(spark.sql("SELECT * FROM swcat.st.ev").count() == n)
    // a replayed epoch id is dropped and its staged files cleaned up
    val v = Snapshots.currentVersion(tbl)
    val files = Snapshots.readManifest(tbl).size
    Snapshots.commitStreamEpoch(spark, tbl,
      graft.streaming.GeoStreams.streamToken(q.id.toString), 0L, Nil)
    assert(Snapshots.currentVersion(tbl) == v, "replayed epoch must not commit")
    assert(Snapshots.readManifest(tbl).size == files)
    // the path-addressed DSv2 write reaches the same sink
    val ckpt2 = Files.createTempDirectory("graft_sw_ckpt2").toString
    val out2 = Files.createTempDirectory("graft_sw_path").toString + "/tbl"
    spark.sql(s"CREATE TABLE swcat.st.ev2 (event_id BIGINT, user_id BIGINT, event_type STRING)")
    val q3 = events.writeStream
      .option("checkpointLocation", ckpt2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("graft")
      .start(s"$wh/st/ev2")
    try q3.awaitTermination() finally q3.stop()
    assert(spark.sql("SELECT * FROM swcat.st.ev2").count() == n)
    assert(out2.nonEmpty)
  }

  test("streaming sink commits snapshot-property.* options with every epoch") {
    import graft.spatial.Snapshots
    graft.spatial.Geo.install(spark)
    val wh = Files.createTempDirectory("graft_sp_wh").toString
    spark.conf.set("spark.sql.catalog.spcat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS spcat.st")
    val ckpt = Files.createTempDirectory("graft_sp_ckpt").toString
    val q = EventStreams.readEvents(spark, sf)
      .select(col("event_id"), col("user_id"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .option("snapshot-property.ingest-run", "r42")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("spcat.st.evp")
    try q.awaitTermination() finally q.stop()
    val tbl = s"$wh/st/evp"
    assert(Snapshots.readProps(tbl).get("ingest-run").contains("r42"),
      "epoch snapshots must carry the declared snapshot property")
  }

  test("DSv2 streaming write to a partition-transformed table: layout + replay safety") {
    import graft.spatial.Snapshots
    graft.spatial.Geo.install(spark)
    val wh = Files.createTempDirectory("graft_pw_wh").toString
    spark.conf.set("spark.sql.catalog.pwcat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.pwcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS pwcat.st")
    spark.sql(
      """CREATE TABLE pwcat.st.pev (event_id BIGINT, user_id BIGINT, event_type STRING)
        |PARTITIONED BY (bucket(4, user_id))""".stripMargin)
    val ckpt = Files.createTempDirectory("graft_pw_ckpt").toString
    val events = EventStreams.readEvents(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"))
    val q = events.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("pwcat.st.pev")
    try q.awaitTermination() finally q.stop()
    val tbl = s"$wh/st/pev"
    val n = batchEvents.count()
    assert(spark.sql("SELECT * FROM pwcat.st.pev").count() == n)
    // staged files landed under transform-derived partition directories
    val manifest = Snapshots.readManifest(tbl)
    assert(manifest.nonEmpty && manifest.forall(_.path.contains("user_id_bucket=")),
      s"expected bucket dirs in every staged path: ${manifest.map(_.path).take(3)}")
    // bucket projection prunes through the catalog read
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def parts(sql: String): Int =
      SparkTestSession.plannedFiles(spark.sql(sql))
    val total = parts("SELECT * FROM pwcat.st.pev")
    val pruned = parts("SELECT * FROM pwcat.st.pev WHERE user_id = 7")
    assert(pruned < total, s"bucket filter should prune staged stream files ($pruned/$total)")
    // restart with the same checkpoint: nothing new → no rows duplicated
    val q2 = events.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("pwcat.st.pev")
    try q2.awaitTermination() finally q2.stop()
    assert(spark.sql("SELECT * FROM pwcat.st.pev").count() == n)
    // a replayed epoch id is dropped without committing
    val v = Snapshots.currentVersion(tbl)
    Snapshots.commitStreamEpoch(spark, tbl,
      graft.streaming.GeoStreams.streamToken(q.id.toString), 0L, Nil)
    assert(Snapshots.currentVersion(tbl) == v)
  }

  test("identity TIMESTAMP partition dirs from the streaming writer match " +
      "the batch hive format (not raw epoch micros)") {
    import graft.spatial.Snapshots
    graft.spatial.Geo.install(spark)
    val wh = Files.createTempDirectory("graft_tsw_wh").toString
    spark.conf.set("spark.sql.catalog.tscat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.tscat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS tscat.st")
    spark.sql(
      """CREATE TABLE tscat.st.tsev (event_id BIGINT, ts TIMESTAMP)
        |PARTITIONED BY (ts)""".stripMargin)
    val ckpt = Files.createTempDirectory("graft_tsw_ckpt").toString
    val ev = EventStreams.readEvents(spark, sf)
      .select(col("event_id"),
        date_trunc("day", col("ts").cast("timestamp")).as("ts"))
    val q = ev.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("tscat.st.tsev")
    try q.awaitTermination() finally q.stop()
    val n = batchEvents.count()
    assert(spark.sql("SELECT * FROM tscat.st.tsev").count() == n)
    // raw epoch-micros dir values would cast back to NULL on read
    assert(spark.sql("SELECT count(*) FROM tscat.st.tsev WHERE ts IS NULL")
      .head.getLong(0) == 0L, "timestamp partition values must survive the round trip")
    val manifest = Snapshots.readManifest(s"$wh/st/tsev")
    assert(manifest.nonEmpty && manifest.forall(_.path.matches("""ts=\d{4}-.*""")),
      s"dirs must carry formatted timestamps: ${manifest.map(_.path).take(3)}")
  }

  test("streaming curation: quality gates + stream-static dedup + exactly-once sink") {
    import graft.spatial.{GeoTable, Snapshots}
    import graft.functions.VectorSql
    VectorSql.install(spark)
    val base = Files.createTempDirectory("graft_scur").toString
    val (corpus, incoming, curated) = (s"$base/corpus", s"$base/incoming", s"$base/curated")
    val ckpt = s"$base/ckpt"
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text", "lang")
    docs.filter(col("doc_id") % 2 === 0).write.parquet(corpus)
    GeoTable.writeManifest(spark, corpus)
    // incoming batch + two planted drop cases: an exact duplicate of a
    // corpus doc (same text, fresh id) and a too-short fragment
    val dupOfCorpus = docs.filter(col("doc_id") === 0)
      .select(lit(100001L).as("doc_id"), col("text"), col("lang"))
    val tooShort = spark.range(1).select(lit(100002L).as("doc_id"),
      lit("too short doc").as("text"), lit("en").as("lang"))
    docs.filter(col("doc_id") % 2 === 1).unionByName(dupOfCorpus).unionByName(tooShort)
      .write.parquet(incoming)
    GeoTable.writeManifest(spark, incoming)
    // the batch curation pieces, applied to a STREAM: normalized-text
    // fingerprint dedup against the existing corpus (stream-static left
    // anti join — the static side re-plans per batch from the manifest)
    // after a map-only token-count quality gate
    val fp = md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))
    val corpusFp = Snapshots.read(spark, corpus).select(fp.as("fp")).distinct()
    val gate = size(split(lower(trim(col("text"))), "\\s+")) >= 5
    val stream = spark.readStream.format("graft-stream").load(incoming)
      .filter(gate)
      .withColumn("fp", fp)
      .join(corpusFp, Seq("fp"), "left_anti")
      .select(col("doc_id"), col("lang"), col("fp"))
    val q = graft.streaming.GeoStreams.appendStream(stream, curated, ckpt)
    try q.awaitTermination() finally q.stop()
    // batch oracle: identical pipeline over the static frames
    val expected = Snapshots.read(spark, incoming).filter(gate).withColumn("fp", fp)
      .join(corpusFp, Seq("fp"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = Snapshots.read(spark, curated)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")
    assert(got.nonEmpty, "the gates should keep something")
    assert(!got.contains(100001L), "corpus duplicate must be anti-joined away")
    assert(!got.contains(100002L), "short fragment must fail the quality gate")
    // replay with the same checkpoint: exactly-once, no duplicate snapshot
    val v = Snapshots.currentVersion(curated)
    val q2 = graft.streaming.GeoStreams.appendStream(stream, curated, ckpt)
    try q2.awaitTermination() finally q2.stop()
    assert(Snapshots.currentVersion(curated) == v)
  }

  test("streaming parquet sink round-trips every row (checkpointed)") {
    val out = Files.createTempDirectory("graft_stream_out").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt").toString
    val q = EventStreams.readEvents(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").start(out)
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(out).count() == batchEvents.count())
  }

  test("catalog streaming with COLUMN PRUNING applies equality deletes: " +
      "ordinals bind against the scan's pruned layout, not the full schema") {
    import graft.spatial.Snapshots
    import spark.implicits._
    graft.spatial.Geo.install(spark)
    val wh = Files.createTempDirectory("graft_csp_wh").toString
    spark.conf.set("spark.sql.catalog.cspcat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.cspcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cspcat.db")
    spark.sql("CREATE TABLE cspcat.db.t (a BIGINT, b STRING, c BIGINT)")
    spark.sql("INSERT INTO cspcat.db.t SELECT /*+ REPARTITION(1) */ id, " +
      "concat('v', id), id * 10 FROM range(20)")
    // equality delete on c — the LAST full-schema column, so binding its
    // ordinal against the full schema indexes past the end of a pruned row
    Snapshots.deleteByEquality(spark, s"$wh/db/t", Seq(30L, 70L).toDF("c"))
    assert(Snapshots.read(spark, s"$wh/db/t").where("c IN (30, 70)").count() == 0)
    val q = spark.readStream.table("cspcat.db.t").select("c")
      .writeStream.outputMode("append")
      .format("memory").queryName("csp_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("csp_stream").as[Long].collect().toSet
      assert(got.size == 18 && !got.contains(30L) && !got.contains(70L),
        s"pruned catalog stream must apply the equality delete: $got")
    } finally q.stop()
  }

  test("streaming batch replay dedups INSIDE the commit CAS: a replayed " +
      "appendIfBatchNew commits nothing and cleans its staged files — and " +
      "the sequential replay (the common restart path) writes NO files at " +
      "all into the live dir (pre-check)") {
    import graft.spatial.Snapshots
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_replay").toString + "/tbl"
    val key = "stream.tk.lastCommittedBatchId"
    assert(Snapshots.appendIfBatchNew(
      Seq(1L, 2L, 3L).toDF("id").coalesce(1), dir, key, 0L))
    val v1 = Snapshots.currentVersion(dir)
    def parquetCount() = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .toArray.map(_.toString).count(_.endsWith(".parquet"))
    val files1 = parquetCount()
    // the COMMON replay (driver restart re-offers a committed batch): the
    // pre-check rejects before a single file lands in the live dir — no
    // transient duplicates for raw-parquet compatibility reads, no orphan
    // debris window
    assert(!Snapshots.appendIfBatchNew(
      Seq(1L, 2L, 3L).toDF("id").coalesce(1), dir, key, 0L))
    assert(Snapshots.currentVersion(dir) == v1, "replay must not commit")
    assert(parquetCount() == files1,
      "a sequential replay must write NOTHING into the live dir")
    assert(Snapshots.read(spark, dir).count() == 3, "no duplicated rows")
    // the ZOMBIE race (both drivers pass the pre-check concurrently): the
    // in-CAS re-check stays authoritative — exactly one of two concurrent
    // offers of the SAME batch commits; the loser cleans its staged files
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val results = Await.result(Future.sequence((1 to 2).map(i => Future {
      Snapshots.appendIfBatchNew(
        Seq(10L + i, 20L + i).toDF("id").coalesce(1), dir, key, 1L)
    })), 2.minutes)
    assert(results.count(identity) == 1,
      s"exactly ONE concurrent offer of batch 1 must commit: $results")
    assert(Snapshots.read(spark, dir).count() == 5, "no duplicated rows")
    assert(parquetCount() == Snapshots.readManifest(dir).size,
      "the losing offer's staged files must be cleaned up")
    // a genuinely new batch still commits
    assert(Snapshots.appendIfBatchNew(
      Seq(4L).toDF("id").coalesce(1), dir, key, 2L))
    assert(Snapshots.read(spark, dir).count() == 6)
  }

  test("direct format(graft-stream) FAILS on predicate deletes that cannot " +
      "bind to physical rows (declared-encoding column) instead of silently " +
      "resurrecting deleted rows; readTableStream applies them post-decode") {
    import graft.spatial.{GeoTable, Snapshots}
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_morbind").toString + "/tbl"
    val df = spark.range(10).selectExpr("id",
      "st_point(CAST(id AS DOUBLE) - 5.0, CAST(0 AS DOUBLE)) AS geom")
    GeoTable.write(df, dir, "geom", storageEncoding = Some("wkt"))
    Snapshots.deleteMoR(spark, dir, "st_x(geom) < 0")
    assert(Snapshots.readDeletes(dir).nonEmpty, "fixture must be a MoR predicate delete")
    // the wrapper declares its post-decode belt — deleted rows excluded
    val viaWrapper = graft.streaming.GeoStreams
      .readTableStream(spark, dir, maxFilesPerTrigger = 10)
      .writeStream.outputMode("append").format("memory")
      .queryName("morbind_ok").start()
    try {
      viaWrapper.processAllAvailable()
      assert(spark.table("morbind_ok").count() == 5,
        "wrapper must apply the predicate post-decode")
    } finally viaWrapper.stop()
    // the DIRECT surface has no belt: binding st_x over the wkt STRING
    // column would evaluate garbage — the stream must FAIL, not resurrect
    val direct = spark.readStream.format("graft-stream").load(dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("morbind_fail").start()
    val err = intercept[Exception] {
      try direct.processAllAvailable() finally direct.stop()
    }
    def chain(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => String.valueOf(x.getMessage)).toSeq
    assert(chain(err).exists(m => m.contains("cannot bind") ||
      m.contains("post-decode")), s"unexpected failure chain: ${chain(err)}")
  }

  test("partitioned streaming epochs cluster rows to their partition dirs: " +
      "files per dir stay bounded, not one per (task × dir)") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_sd_wh").toString
    spark.conf.set("spark.sql.catalog.sdcat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.sdcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS sdcat.db")
    spark.sql("CREATE TABLE sdcat.db.p (id BIGINT, part INT) PARTITIONED BY (part)")
    val input = MemoryStream[Long]
    input.addData(0L until 400L: _*)
    val ckpt = Files.createTempDirectory("graft_sd_ckpt").toString
    // 8 input tasks each holding every partition value: without the
    // clustered write distribution the epoch stages up to 8×4 files
    val q = input.toDF().repartition(8)
      .selectExpr("value AS id", "CAST(value % 4 AS INT) AS part")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).toTable("sdcat.db.p")
    try q.awaitTermination() finally q.stop()
    val files = graft.spatial.Snapshots.readManifest(s"$wh/db/p")
    assert(files.map(_.rows).sum == 400)
    val perDir = files.groupBy(_.dirVals("part")).view.mapValues(_.size)
    assert(perDir.values.forall(_ <= 2),
      s"clustered epoch write must bound files per dir, got $perDir")
  }

  test("streaming epoch commits refuse under an active WAP session; empty " +
      "epochs commit nothing; a malformed target file size fails fast") {
    import graft.spatial.{GeoTable, Snapshots}
    val dir = Files.createTempDirectory("graft_sg").toString + "/tbl"
    spark.range(10).selectExpr("id").coalesce(1).write.parquet(dir)
    GeoTable.writeManifest(spark, dir)
    val v1 = Snapshots.currentVersion(dir)
    // empty epoch (watermark-advancement trigger): no publish, no churn
    assert(Snapshots.commitStreamEpoch(spark, dir, "tk", 5L, Nil) == v1)
    assert(Snapshots.currentVersion(dir) == v1,
      "an empty epoch must not republish the manifest")
    // WAP: a streaming epoch cannot land unaudited rows on main mid-audit
    Snapshots.updateProperties(dir, Map("write.wap.enabled" -> "true"))
    val v2 = Snapshots.currentVersion(dir)
    spark.conf.set("spark.wap.branch", "audit")
    try {
      val err = intercept[IllegalArgumentException] {
        Snapshots.commitStreamEpoch(spark, dir, "tk", 6L, Nil)
      }
      assert(err.getMessage.contains("WAP"))
      assert(Snapshots.currentVersion(dir) == v2)
    } finally spark.conf.unset("spark.wap.branch")
    // target size validates ONCE on the driver with the property name
    val werr = intercept[Exception] {
      spark.range(5).selectExpr("id")
        .write.format("graft").option("target-file-size-bytes", "512MB")
        .mode("append").save(dir)
    }
    def chain(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => String.valueOf(x.getMessage)).toSeq
    assert(chain(werr).exists(_.contains("byte count")),
      s"unexpected failure chain: ${chain(werr)}")
  }

  test("catalog stream applies PREDICATE deletes committed mid-stream: the " +
      "scan's construction-time conds snapshot must not serve stale state") {
    import graft.spatial.Snapshots
    graft.spatial.Geo.install(spark)
    val wh = Files.createTempDirectory("graft_spd_wh").toString
    spark.conf.set("spark.sql.catalog.spdcat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spdcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS spdcat.st")
    spark.sql("CREATE TABLE spdcat.st.pd (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO spdcat.st.pd SELECT id, CAST(id AS DOUBLE) FROM range(50)")
    val tbl = s"$wh/st/pd"
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val scan = new graft.sources.GraftScanBuilder(spark, tbl, None,
      Snapshots.read(spark, tbl).schema).build().asInstanceOf[graft.sources.GraftScan]
    val stream = scan.toMicroBatchStream("unused_ckpt")
      .asInstanceOf[graft.streaming.GraftMicroBatchStream]
    def readBatch(from: org.apache.spark.sql.connector.read.streaming.Offset,
        to: org.apache.spark.sql.connector.read.streaming.Offset): Seq[Long] = {
      val factory = stream.createReaderFactory()
      stream.planInputPartitions(from, to).toSeq.flatMap { pt =>
        val r = factory.createReader(pt)
        val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        while (r.next()) buf += r.get().getLong(0)
        r.close()
        buf
      }
    }
    val o0 = stream.initialOffset()
    val o1 = stream.latestOffset(o0, ReadLimit.allAvailable())
    assert(readBatch(o0, o1).length == 50)
    // PREDICATE delete committed while the scan lives, then an append
    // whose rows match it — the new file's matching rows must not stream
    Snapshots.updateProperties(tbl, Map("write.delete.mode" -> "merge-on-read"))
    Snapshots.deleteMoR(spark, tbl, "id % 10 = 1")
    spark.sql("INSERT INTO spdcat.st.pd SELECT id + 100, CAST(id AS DOUBLE) FROM range(20)")
    val o2 = stream.latestOffset(o1, ReadLimit.allAvailable())
    val batch2 = readBatch(o1, o2).sorted
    assert(batch2.length == 18,
      s"the mid-stream predicate delete must filter the appended file: " +
        s"got ${batch2.length}, want 18 (101 and 111 deleted)")
    assert(!batch2.contains(101L) && !batch2.contains(111L))
  }

  test("a predicate delete on a RENAMED declared-encoding column must FAIL " +
      "the direct stream surface, never bind as garbage against the raw row") {
    import graft.spatial.{GeoTable, GeometryFields, Snapshots, TableSchema}
    graft.spatial.Geo.install(spark)
    val dir = Files.createTempDirectory("graft_encren").toString + "/tbl"
    spark.range(10).selectExpr("id",
      "concat('POINT (', id, ' 0)') AS geom").coalesce(1).write.parquet(dir)
    GeoTable.writeManifest(spark, dir)
    GeometryFields.setGeometryField(spark, dir, "geom", "wkt")
    TableSchema.renameColumn(spark, dir, "geom", "shape")
    Snapshots.updateProperties(dir, Map("write.delete.mode" -> "merge-on-read"))
    Snapshots.deleteMoR(spark, dir,
      "ST_Intersects(ST_GeomFromWKB(shape), ST_MakeEnvelope(" +
        "CAST(-1 AS DOUBLE), CAST(-1 AS DOUBLE), CAST(3.5 AS DOUBLE), CAST(1 AS DOUBLE)))")
    // the guard must trip on the POST-translation name: the predicate
    // says 'shape' but the encoding declaration keys on 'geom'
    val e = intercept[Exception] {
      spark.readStream.format("graft-stream").load(dir)
        .writeStream.outputMode("append").format("memory")
        .queryName("enc_rename_stream").start().processAllAvailable()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(c => c.getMessage != null &&
        (c.getMessage.contains("declared-encoding") ||
         c.getMessage.contains("cannot bind"))),
      s"must fail loudly, not silently no-op the delete: $e")
  }

  test("partitioned streaming write with MORE partitions than the open-" +
      "writer cap stays bounded and loses no rows (evicted writers roll)") {
    import graft.spatial.Snapshots
    val wh = Files.createTempDirectory("graft_manyp_wh").toString
    spark.conf.set("spark.sql.catalog.mpcat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.mpcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS mpcat.st")
    spark.sql("CREATE TABLE mpcat.st.manyp (id BIGINT, p BIGINT) PARTITIONED BY (p)")
    val ckpt = Files.createTempDirectory("graft_manyp_ckpt").toString
    // 40 partitions > the 16-open-writer cap; coalesce(1) forces ONE task
    // to span all of them, exercising eviction + roll
    val src = spark.readStream.format("rate").option("rowsPerSecond", "1000").load()
      .select(col("value").as("id"), (col("value") % 40).as("p"))
      .coalesce(1)
    val q = src.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
      .toTable("mpcat.st.manyp")
    try {
      var waited = 0
      while (waited < 60 && spark.sql("SELECT count(*) FROM mpcat.st.manyp")
          .collect().head.getLong(0) < 200) {
        Thread.sleep(1000); waited += 1
      }
    } finally q.stop()
    val got = spark.sql("SELECT id, p FROM mpcat.st.manyp").collect()
    assert(got.length >= 200, s"rows must land across 40 partitions: ${got.length}")
    assert(got.forall(r => r.getLong(1) == r.getLong(0) % 40),
      "every row must land in ITS partition after writer eviction/rolling")
    assert(spark.sql("SELECT count(DISTINCT p) FROM mpcat.st.manyp")
      .collect().head.getLong(0) >= 20)
  }
}
