package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftScan

/** Plan-quality interfaces of the DSv2 catalog scan — statistics from the
  * manifest (auto-broadcast without AQE), COUNT/MIN/MAX answered without
  * opening a data file, and runtime (DPP-style) file pruning — the
  * reference's `SparkScan`/`SparkScanBuilder`/`SparkBatchQueryScan`
  * surfaces (SparkScan.java:93,242, SparkScanBuilder.java:202-274,
  * SparkBatchQueryScan.java:62,156 in /root/reference).
  */
class DsvPlanQualitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val warehouse: String = {
    graft.spatial.Geo.install(spark)
    val wh = Files.createTempDirectory("graft_pq_wh").toString
    spark.conf.set("spark.sql.catalog.pq", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.pq.warehouse", wh)
    wh
  }

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { pairs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("manifest statistics auto-broadcast a small catalog dim table without AQE") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.db.dim_s (k INT, label STRING) USING graft")
    spark.sql("INSERT INTO pq.db.dim_s SELECT id AS k, concat('L', id) AS label FROM range(10)")
    spark.sql("CREATE TABLE pq.db.fact_s (k INT, v DOUBLE) USING graft")
    spark.sql("INSERT INTO pq.db.fact_s SELECT CAST(id % 10 AS INT), CAST(id AS DOUBLE) FROM range(2000)")
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val joined = spark.sql(
        "SELECT f.k, sum(f.v) AS s FROM pq.db.fact_s f JOIN pq.db.dim_s d ON f.k = d.k GROUP BY f.k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"small graft.db dim should broadcast in the INITIAL plan (no AQE):\n$plan")
      assert(joined.count() == 10)
    }
  }

  test("COUNT(*) / MIN / MAX over a catalog table scan zero data files") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.db.aggt (id BIGINT, cat STRING, x DOUBLE) USING graft")
    spark.sql(
      "INSERT INTO pq.db.aggt SELECT id, concat('c', id % 3), CAST(id AS DOUBLE) / 2 FROM range(1000)")
    val df = spark.sql("SELECT count(*) AS n, min(id) AS lo, max(id) AS hi, " +
      "min(cat) AS c0, max(x) AS x1 FROM pq.db.aggt")
    val plan = df.queryExecution.executedPlan
    assert(plan.collect { case b: BatchScanExec => b }.isEmpty,
      s"aggregate should be answered from the manifest, not a scan:\n$plan")
    assert(plan.collect { case l: LocalTableScanExec => l }.nonEmpty, s"no local scan:\n$plan")
    val r = df.collect().head
    assert(r.getLong(0) == 1000L && r.getLong(1) == 0L && r.getLong(2) == 999L)
    assert(r.getString(3) == "c0" && r.getDouble(4) == 999.0 / 2)
  }

  test("COUNT(col) answers from null counts; COUNT(DISTINCT col) declines") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.db.aggc (id BIGINT, v DOUBLE) USING graft")
    // one file with 4 nulls in v, one with none
    spark.sql("INSERT INTO pq.db.aggc SELECT id, " +
      "CASE WHEN id < 4 THEN CAST(NULL AS DOUBLE) ELSE id * 1.0 END FROM range(0, 10)")
    spark.sql("INSERT INTO pq.db.aggc SELECT id, id * 1.0 FROM range(10, 20)")
    val df = spark.sql("SELECT count(v) AS nv, count(id) AS ni FROM pq.db.aggc")
    val plan = df.queryExecution.executedPlan
    assert(plan.collect { case b: BatchScanExec => b }.isEmpty,
      s"COUNT(col) should be answered from manifest null counts, not a scan:\n$plan")
    assert(plan.collect { case l: LocalTableScanExec => l }.nonEmpty, s"no local scan:\n$plan")
    val r = df.collect().head
    assert(r.getLong(0) == 16L && r.getLong(1) == 20L)
    // distinct counting genuinely needs the rows (plan string: AQE wraps
    // the tree, collect{} would not descend into it)
    val dd = spark.sql("SELECT count(DISTINCT v) FROM pq.db.aggc")
    assert(dd.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(dd.collect().head.getLong(0) == 16L)
  }

  test("aggregate pushdown declines with residual filters or pending deletes") {
    assert(warehouse.nonEmpty)
    withConf("spark.sql.adaptive.enabled" -> "false") {
      // a WHERE clause keeps the normal scan and stays correct
      val filtered = spark.sql("SELECT count(*) FROM pq.db.aggt WHERE id >= 500")
      assert(filtered.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.nonEmpty)
      assert(filtered.collect().head.getLong(0) == 500L)
      // pending MoR deletes make manifest counts overcount — must fall back
      spark.sql("ALTER TABLE pq.db.aggt SET TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
      spark.sql("DELETE FROM pq.db.aggt WHERE id < 10")
      val afterDelete = spark.sql("SELECT count(*) AS n FROM pq.db.aggt")
      assert(afterDelete.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.nonEmpty,
        "count over a table with pending deletes must scan")
      assert(afterDelete.collect().head.getLong(0) == 990L)
    }
  }

  test("filtered COUNT/MIN/MAX over identity partitions answers from the manifest") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.agg.pfact (id BIGINT, part INT, v DOUBLE) USING graft " +
      "PARTITIONED BY (part)")
    // NOTE catalog tables serve partition columns LAST: (id, v, part)
    (0 until 4).foreach { p =>
      spark.sql(s"INSERT INTO pq.agg.pfact SELECT id, CAST(id AS DOUBLE), $p FROM range(500)")
    }
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(
        "SELECT count(*) AS n, min(id) AS lo, max(id) AS hi FROM pq.agg.pfact WHERE part = 2")
      assert(df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.isEmpty,
        s"partition-exact filtered aggregate should answer from the manifest:\n" +
          df.queryExecution.executedPlan)
      val r = df.collect().head
      assert(r.getLong(0) == 500L && r.getLong(1) == 0L && r.getLong(2) == 499L)
      // IN-shaped partition filters claim too
      val df2 = spark.sql("SELECT count(*) AS n FROM pq.agg.pfact WHERE part IN (1, 3)")
      assert(df2.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.isEmpty)
      assert(df2.collect().head.getLong(0) == 1000L)
      // data-column filters still scan, stay correct
      val df3 = spark.sql("SELECT count(*) AS n FROM pq.agg.pfact WHERE id >= 250")
      assert(df3.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.nonEmpty)
      assert(df3.collect().head.getLong(0) == 1000L)
    }
  }

  test("GROUP BY partition column answers the whole histogram from the manifest") {
    assert(warehouse.nonEmpty)
    withConf("spark.sql.adaptive.enabled" -> "false") {
      // pq.agg.pfact: 4 identity partitions x 500 rows (created above)
      val df = spark.sql("SELECT part, count(*) AS n, min(id) AS lo, max(id) AS hi " +
        "FROM pq.agg.pfact GROUP BY part ORDER BY part")
      assert(df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.isEmpty,
        s"grouped partition aggregate should answer from the manifest:\n" +
          df.queryExecution.executedPlan)
      val rows = df.collect()
      assert(rows.length == 4)
      rows.zipWithIndex.foreach { case (r, i) =>
        assert(r.getInt(0) == i && r.getLong(1) == 500L &&
          r.getLong(2) == 0L && r.getLong(3) == 499L)
      }
      // composes with claimed partition filters
      val df2 = spark.sql("SELECT part, count(*) AS n FROM pq.agg.pfact " +
        "WHERE part IN (1, 3) GROUP BY part ORDER BY part")
      assert(df2.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.isEmpty)
      assert(df2.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ==
        Seq((1, 500L), (3, 500L)))
      // grouping by a data column still scans
      val df3 = spark.sql("SELECT id % 2 AS b, count(*) FROM pq.agg.pfact GROUP BY id % 2")
      assert(df3.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.nonEmpty)
      assert(df3.collect().length == 2)
    }
  }

  test("claimed partition filters skip row-level re-evaluation; null dirs void the claim") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.agg.pnull (id BIGINT, part INT) USING graft " +
      "PARTITIONED BY (part)")
    spark.sql("INSERT INTO pq.agg.pnull SELECT id, CAST(id % 3 AS INT) FROM range(300)")
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val q = spark.sql("SELECT id FROM pq.agg.pnull WHERE part = 1")
      assert(q.collect().length == 100)
      assert(q.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FilterExec => f
      }.isEmpty, s"claimed partition filter must not re-filter rows:\n" +
        q.queryExecution.executedPlan)
      // a null partition value voids the exactness claim: the filter goes
      // residual again and results stay correct through the scan
      spark.sql("INSERT INTO pq.agg.pnull VALUES (9999, NULL)")
      val q2 = spark.sql("SELECT count(*) AS n FROM pq.agg.pnull WHERE part = 1")
      assert(q2.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.nonEmpty,
        "null partition dirs must fall back to the scan")
      assert(q2.collect().head.getLong(0) == 100L)
      assert(spark.sql("SELECT id FROM pq.agg.pnull WHERE part = 1").collect().length == 100)
      assert(spark.sql("SELECT count(*) AS n FROM pq.agg.pnull WHERE part IS NOT NULL")
        .collect().head.getLong(0) == 300L)
    }
  }

  test("co-bucketed catalog tables join as a storage-partitioned join: zero shuffles") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.spj.a (id BIGINT, v DOUBLE) USING graft " +
      "PARTITIONED BY (bucket(4, id))")
    spark.sql("INSERT INTO pq.spj.a SELECT id, CAST(id AS DOUBLE) FROM range(1000)")
    spark.sql("CREATE TABLE pq.spj.b (id BIGINT, w DOUBLE) USING graft " +
      "PARTITIONED BY (bucket(4, id))")
    spark.sql("INSERT INTO pq.spj.b SELECT id, CAST(id * 2 AS DOUBLE) FROM range(1000)")
    withConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val q = spark.sql(
        "SELECT a.id, a.v, b.w FROM pq.spj.a a JOIN pq.spj.b b ON a.id = b.id")
      val rows = q.collect()
      val shuffles = q.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty,
        s"co-bucketed graft.db tables must storage-partition join:\n${q.queryExecution.executedPlan}")
      assert(rows.length == 1000)
      assert(rows.forall(r => r.getDouble(2) == r.getLong(0) * 2.0))
    }
  }

  test("storage-partitioned join survives with AQE enabled (production default)") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.spj.aqx (id BIGINT, v DOUBLE) USING graft " +
      "PARTITIONED BY (bucket(4, id))")
    spark.sql("INSERT INTO pq.spj.aqx SELECT id, CAST(id AS DOUBLE) FROM range(1000)")
    spark.sql("CREATE TABLE pq.spj.aqy (id BIGINT, w DOUBLE) USING graft " +
      "PARTITIONED BY (bucket(4, id))")
    spark.sql("INSERT INTO pq.spj.aqy SELECT id, CAST(id * 3 AS DOUBLE) FROM range(1000)")
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val q = spark.sql(
        "SELECT a.id, a.v, b.w FROM pq.spj.aqx a JOIN pq.spj.aqy b ON a.id = b.id")
      assert(q.collect().length == 1000)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange"),
        s"SPJ must hold under AQE:\n$plan")
    }
  }

  test("identity co-partitioned catalog tables also join shuffle-free") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.spj.ia (id BIGINT, p INT) USING graft PARTITIONED BY (p)")
    spark.sql("INSERT INTO pq.spj.ia SELECT id, CAST(id % 4 AS INT) FROM range(400)")
    spark.sql("CREATE TABLE pq.spj.ib (n BIGINT, p INT) USING graft PARTITIONED BY (p)")
    spark.sql("INSERT INTO pq.spj.ib SELECT id * 10, CAST(id % 4 AS INT) FROM range(400)")
    withConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val q = spark.sql(
        "SELECT a.id, b.n FROM pq.spj.ia a JOIN pq.spj.ib b ON a.p = b.p")
      val n = q.collect().length
      val shuffles = q.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty,
        s"identity co-partitioned join must be shuffle-free:\n${q.queryExecution.executedPlan}")
      assert(n == 400 * 100) // 100 rows per p-value on each side
    }
  }

  test("SPJ stays shuffle-free and correct when tasks bin-pack multiple files per bucket") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.spj.pka (id BIGINT, v DOUBLE) USING graft " +
      "PARTITIONED BY (bucket(4, id))")
    spark.sql("CREATE TABLE pq.spj.pkb (id BIGINT, w DOUBLE) USING graft " +
      "PARTITIONED BY (bucket(4, id))")
    // several small files per bucket on each side
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO pq.spj.pka SELECT id + ${i * 500}, CAST(id AS DOUBLE) FROM range(500)")
      spark.sql(s"INSERT INTO pq.spj.pkb SELECT id + ${i * 500}, CAST(id * 2 AS DOUBLE) FROM range(500)")
    }
    withConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      // force REAL packing on tiny fixture files
      "spark.sql.files.openCostInBytes" -> "1024",
      "spark.sql.files.minPartitionNum" -> "2") {
      val q = spark.sql(
        "SELECT a.id, a.v, b.w FROM pq.spj.pka a JOIN pq.spj.pkb b ON a.id = b.id")
      // packing really happened: fewer tasks than files, one key per task
      val scans = q.queryExecution.executedPlan.collect {
        case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] => b
      }
      val parts = scans.head.inputPartitions
        .map(_.asInstanceOf[graft.sources.GraftInputPartition])
      assert(parts.exists(_.slices.length > 1), "fixture must exercise packed tasks")
      assert(parts.forall(_.key != null), "every packed task must keep its partition key")
      val shuffles = q.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty,
        s"packed SPJ must stay shuffle-free:\n${q.queryExecution.executedPlan}")
      assert(q.collect().length == 1500)
    }
  }

  test("co-GRIDDED catalog tables spatial-join storage-partitioned: zero " +
      "shuffles on the cell equi-join, pairs exact vs the shuffled PBSM join") {
    assert(warehouse.nonEmpty)
    import org.apache.spark.sql.functions._
    import graft.spatial.SpatialJoin
    graft.spatial.Geo.install(spark)
    // left: 12x12-unit boxes (span up to 2x2 cells at pitch 10 — the
    // multi-cell dedup path matters); right: 25x25 region envelopes
    val boxes = spark.range(100).toDF("id")
      .withColumn("bx", (col("id") % 20).cast("double") * 2 - 20)
      .withColumn("by", (col("id") / 20).cast("double") * 4 - 10)
      .withColumn("g", expr("st_makeenvelope(bx, by, bx + 12.0, by + 12.0)"))
      .select(col("id"), col("g"))
    val regions = spark.range(6).toDF("rid")
      .withColumn("rx", (col("rid") % 3).cast("double") * 15 - 25)
      .withColumn("ry", (col("rid") / 3).cast("double") * 15 - 10)
      .withColumn("g2", expr("st_makeenvelope(rx, ry, rx + 25.0, ry + 25.0)"))
      .select(col("rid"), col("g2"))
    SpatialJoin.gridded(boxes, "g", cellDeg = 10.0)
      .writeTo("pq.spj.grida")
      .partitionedBy(col("cell_x"), col("cell_y")).createOrReplace()
    SpatialJoin.gridded(regions, "g2", cellDeg = 10.0)
      .writeTo("pq.spj.gridb")
      .partitionedBy(col("cell_x"), col("cell_y")).createOrReplace()
    withConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val j = SpatialJoin.intersectsGridded(
        spark.table("pq.spj.grida"), "g",
        spark.table("pq.spj.gridb"), "g2", cellDeg = 10.0)
      val got = j.select("id", "rid").collect().map(r => (r.getLong(0), r.getLong(1)))
      val shuffles = j.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty,
        s"co-gridded spatial join must plan without an Exchange:\n" +
          s"${j.queryExecution.executedPlan}")
      // exactly once per pair (the ref-cell dedup), and exactly the
      // shuffled PBSM join's answer on the base (un-gridded) frames
      assert(got.length == got.toSet.size, "multi-cell pairs must dedup")
      val want = SpatialJoin.intersects(boxes, "g", regions, "g2", cellDeg = 10.0)
        .select("id", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(want.nonEmpty && got.toSet == want,
        s"grid-materialized join must equal the shuffled join " +
          s"(${got.length} vs ${want.size})")
    }
    // a misaligned pitch refuses UNCONDITIONALLY — the stamp must survive
    // the catalog round-trip (manifest-persisted schema JSON)
    val stamp = spark.table("pq.spj.grida").schema("cell_x").metadata
    assert(stamp.contains("graft.grid.cell-deg"),
      "the pitch stamp must survive the catalog write/read round-trip")
    val e = intercept[IllegalArgumentException] {
      SpatialJoin.intersectsGridded(
        spark.table("pq.spj.grida"), "g",
        spark.table("pq.spj.gridb"), "g2", cellDeg = 5.0)
    }
    assert(e.getMessage.contains("pitch"), e.getMessage)
    // a projection that re-derives cell_x through an EXPRESSION drops the
    // attribute metadata; the pitch must still resolve from the source
    // relation's persisted schema, so the misaligned join still refuses
    val washed = spark.table("pq.spj.grida")
      .withColumn("cell_x", expr("cell_x + 0L"))
    assert(!washed.schema("cell_x").metadata.contains("graft.grid.cell-deg"),
      "precondition: the projection must have dropped the column stamp")
    val e2 = intercept[IllegalArgumentException] {
      SpatialJoin.intersectsGridded(washed, "g",
        spark.table("pq.spj.gridb"), "g2", cellDeg = 5.0)
    }
    assert(e2.getMessage.contains("pitch"), e2.getMessage)
    // a frame with NO recoverable pitch refuses loudly rather than
    // silently trusting the caller's cellDeg
    val bare = spark.range(3).toDF("id")
      .withColumn("cell_x", col("id")).withColumn("cell_y", col("id"))
      .withColumn("g", expr("st_point(0.5D, 0.5D)"))
    val e3 = intercept[IllegalArgumentException] {
      SpatialJoin.intersectsGridded(bare, "g",
        spark.table("pq.spj.gridb"), "g2", cellDeg = 10.0)
    }
    assert(e3.getMessage.contains("no grid-pitch stamp"), e3.getMessage)
    // and under AQE (the production default)
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val j = SpatialJoin.intersectsGridded(
        spark.table("pq.spj.grida"), "g",
        spark.table("pq.spj.gridb"), "g2", cellDeg = 10.0)
      val got = j.select("id", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange"),
        s"co-gridded spatial SPJ must hold under AQE:\n$plan")
      val want = SpatialJoin.intersects(boxes, "g", regions, "g2", cellDeg = 10.0)
        .select("id", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want)
    }
  }

  test("co-GRIDDED distance join storage-partitioned: zero shuffles, pairs " +
      "exact vs the shuffled d-expanded PBSM join, over-budget dist refuses") {
    assert(warehouse.nonEmpty)
    import org.apache.spark.sql.functions._
    import graft.spatial.SpatialJoin
    graft.spatial.Geo.install(spark)
    val pts = spark.range(120).toDF("id")
      .withColumn("px", (col("id") % 12).cast("double") * 4 - 24)
      .withColumn("py", (col("id") / 12).cast("double") * 4 - 20)
      .withColumn("g", expr("st_point(px, py)"))
      .select(col("id"), col("g"))
    val anchors = spark.range(7).toDF("aid")
      .withColumn("ax", (col("aid") % 4).cast("double") * 11 - 22)
      .withColumn("ay", (col("aid") / 4).cast("double") * 13 - 13)
      .withColumn("ga", expr("st_point(ax, ay)"))
      .select(col("aid"), col("ga"))
    val d = 6.5
    // the SMALL side carries the whole expansion budget; the fact side's
    // grid is the plain (expand=0) one — the same materialization the
    // intersects SPJ face reads
    SpatialJoin.gridded(pts, "g", cellDeg = 10.0)
      .writeTo("pq.spj.dwa").partitionedBy(col("cell_x"), col("cell_y"))
      .createOrReplace()
    SpatialJoin.gridded(anchors, "ga", cellDeg = 10.0, expand = 7.0)
      .writeTo("pq.spj.dwb").partitionedBy(col("cell_x"), col("cell_y"))
      .createOrReplace()
    val want = SpatialJoin.dwithin(pts, "g", anchors, "ga", dist = d,
        cellDeg = 10.0)
      .select("id", "aid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "fixture must produce pairs")
    for (aqe <- Seq("false", "true")) withConf(
      "spark.sql.adaptive.enabled" -> aqe,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val j = SpatialJoin.dwithinGridded(
        spark.table("pq.spj.dwa"), "g",
        spark.table("pq.spj.dwb"), "ga", dist = d, cellDeg = 10.0)
      val got = j.select("id", "aid").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == got.toSet.size, "multi-cell pairs must dedup")
      assert(got.toSet == want,
        s"gridded distance join must equal the shuffled one (aqe=$aqe, " +
          s"${got.length} vs ${want.size})")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange"),
        s"co-gridded distance join must plan without an Exchange (aqe=$aqe):\n$plan")
    }
    // a dist above the declared expansion budget refuses loudly — serving
    // it would silently miss pairs beyond the materialized cover
    val e = intercept[IllegalArgumentException] {
      SpatialJoin.dwithinGridded(
        spark.table("pq.spj.dwa"), "g",
        spark.table("pq.spj.dwb"), "ga", dist = 7.5, cellDeg = 10.0)
    }
    assert(e.getMessage.contains("expansion"), e.getMessage)
    // the expanded grid still serves the INTERSECTS face exactly
    val viaExpanded = SpatialJoin.intersectsGridded(
        spark.table("pq.spj.dwa"), "g",
        spark.table("pq.spj.dwb"), "ga", cellDeg = 10.0)
      .select("id", "aid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantIx = SpatialJoin.intersects(pts, "g", anchors, "ga", cellDeg = 10.0)
      .select("id", "aid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaExpanded == wantIx,
      "an expanded grid must stay exact for the intersects face")
  }

  test("V2 transform functions are SQL-callable for layout debugging") {
    assert(warehouse.nonEmpty)
    // the reference exposes its transforms as catalog functions
    // (system.bucket etc.) so users can inspect layouts from SQL
    val b = spark.sql("SELECT pq.system.bucket(8, CAST(42 AS BIGINT)) AS b").collect().head.getInt(0)
    assert(b >= 0 && b < 8)
    // matches the write-side derivation (Spark's hash() seed 42)
    val expected = spark.sql("SELECT pmod(hash(CAST(42 AS BIGINT)), 8)").collect().head.getInt(0)
    assert(b == expected, s"bucket() must equal the write-side pmod(hash(v), n): $b vs $expected")
    val t = spark.sql("SELECT pq.system.truncate(3, 'abcdef') AS t").collect().head.getString(0)
    assert(t == "abc")
    val y = spark.sql("SELECT pq.system.years(DATE'2024-07-15') AS y").collect().head.getInt(0)
    assert(y == 2024)
  }

  test("LIMIT prunes the planned file set from manifest row counts") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.lim.t (id BIGINT, v DOUBLE) USING graft")
    spark.sql("INSERT INTO pq.lim.t SELECT /*+ REPARTITION(8) */ id, CAST(id AS DOUBLE) " +
      "FROM range(800)")
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val q = spark.sql("SELECT * FROM pq.lim.t LIMIT 10")
      assert(q.collect().length == 10)
      val scan = q.queryExecution.executedPlan.collect {
        case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] => b.scan.asInstanceOf[GraftScan]
      }.head
      val planned = scan.planInputPartitions().length
      assert(planned == 1, s"LIMIT 10 over 100-row files should plan 1 file, planned $planned")
      // residual filters disable the trim — rows in kept files might not
      // match, so all pruned-in files must stay planned
      val q2 = spark.sql("SELECT * FROM pq.lim.t WHERE id >= 790 LIMIT 10")
      assert(q2.collect().length == 10)
    }
  }

  test("TIMESTAMP identity partitions serve typed values via the lenient cast") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.spj.tsid (v INT, ts TIMESTAMP) USING graft " +
      "PARTITIONED BY (ts)")
    spark.sql("INSERT INTO pq.spj.tsid SELECT CAST(id AS INT), " +
      "timestampadd(HOUR, CAST(id AS INT), timestamp'2022-05-06 07:08:09') FROM range(3)")
    // the partition column is served from dir strings: a raw string in a
    // TimestampType slot would CCE; the lenient session-zone cast types it.
    // Render via date_format (session tz) — Timestamp.toString would
    // depend on the JVM default zone, which build.sbt does not pin
    val rows = spark.sql("SELECT v, date_format(ts, 'yyyy-MM-dd HH:mm:ss') AS s " +
      "FROM pq.spj.tsid ORDER BY v").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getString(1)).toSeq ==
      Seq("2022-05-06 07:08:09", "2022-05-06 08:08:09", "2022-05-06 09:08:09"))
  }

  test("date-part partitioning over TIMESTAMP degrades to no-SPJ; reads stay healthy") {
    assert(warehouse.nonEmpty)
    // the years/months/days V2 functions are DATE-only: binding over a
    // TIMESTAMP source must throw the UnsupportedOperationException Spark
    // catches (degrade to unresolved partitioning), never abort the query
    spark.sql("CREATE TABLE pq.spj.tsp (ts TIMESTAMP, v INT) USING graft " +
      "PARTITIONED BY (years(ts))")
    spark.sql("INSERT INTO pq.spj.tsp SELECT " +
      "timestampadd(YEAR, CAST(id AS INT), timestamp'2021-03-04 05:06:07'), " +
      "CAST(id AS INT) FROM range(10)")
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      assert(spark.sql("SELECT v FROM pq.spj.tsp").collect().length == 10)
      assert(spark.sql("SELECT sum(v) AS s FROM pq.spj.tsp").collect().head.getLong(0) == 45L)
    }
  }

  test("runtime filtering prunes fact files via the dim-side join keys") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.rt.dim (part INT, flag STRING) USING graft")
    spark.sql("INSERT INTO pq.rt.dim VALUES (0,'x'),(1,'y'),(2,'y'),(3,'y')")
    // NOTE catalog tables serve partition columns LAST (Spark's hive-layout
    // convention): the table's served schema here is (id, v, part)
    spark.sql("CREATE TABLE pq.rt.fact (id BIGINT, part INT, v DOUBLE) USING graft " +
      "PARTITIONED BY (part)")
    (0 until 4).foreach { p =>
      spark.sql(s"INSERT INTO pq.rt.fact SELECT id, CAST(id AS DOUBLE), $p FROM range(500)")
    }
    withConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true") {
      val q = spark.sql("SELECT f.id, f.v FROM pq.rt.fact f JOIN pq.rt.dim d " +
        "ON f.part = d.part WHERE d.flag = 'x'")
      // collect() executes THIS plan (count() would build a separate one
      // whose scans never run), delivering the runtime predicate to it
      assert(q.collect().length == 500)
      val factScans = q.queryExecution.executedPlan.collect {
        case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] => b
      }.filter(_.output.exists(_.name == "id"))
      assert(factScans.nonEmpty, "fact-side BatchScan not found")
      assert(factScans.head.runtimeFilters.nonEmpty,
        s"no runtime filter attached to the fact scan:\n${q.queryExecution.executedPlan}")
      // after execution delivered the runtime predicate, the scan re-plans
      // to just the matching partition directory (4 of 16 files)
      val scan = factScans.head.scan.asInstanceOf[GraftScan]
      val planned = scan.planInputPartitions().length
      assert(planned == 4, s"runtime filter should prune to the 4 files of 16 " +
        s"in the matching partition dir, planned $planned")
    }
  }

  test("runtime filtering composes with a shadow-REBUILT scan: a spatial " +
      "filter rebuilds the fact scan (re-exposed shadow) and the dim-side " +
      "runtime predicate still lands on the rebuilt instance") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.rt.gdim (part INT, flag STRING) USING graft")
    spark.sql("INSERT INTO pq.rt.gdim VALUES (0,'x'),(1,'y'),(2,'y'),(3,'y')")
    spark.sql("CREATE TABLE pq.rt.gfact (id BIGINT, g BINARY, g_bbox STRUCT<" +
      "xmin: DOUBLE, ymin: DOUBLE, xmax: DOUBLE, ymax: DOUBLE>, part INT) " +
      "USING graft PARTITIONED BY (part)")
    (0 until 4).foreach { p =>
      spark.sql(s"INSERT INTO pq.rt.gfact SELECT id, " +
        "st_point(CAST(id AS DOUBLE), CAST(id AS DOUBLE)), " +
        "named_struct('xmin', CAST(id AS DOUBLE), 'ymin', CAST(id AS DOUBLE), " +
        s"'xmax', CAST(id AS DOUBLE), 'ymax', CAST(id AS DOUBLE)), $p FROM range(100)")
    }
    withConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true") {
      // projection == referenced set → V2 pruning drops the shadow and the
      // spatial filter REBUILDS the scan; the equi-join then attaches a
      // dim-side runtime filter to that rebuilt instance
      val q = spark.sql("SELECT f.id, f.g FROM pq.rt.gfact f JOIN pq.rt.gdim d " +
        "ON f.part = d.part WHERE d.flag = 'x' AND st_intersects(f.g, " +
        "st_makeenvelope(CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), " +
        "CAST(49 AS DOUBLE), CAST(49 AS DOUBLE)))")
      val rows = q.collect()
      assert(rows.length == 50, s"expected part-0 ids 0..49, got ${rows.length}")
      val factScans = q.queryExecution.executedPlan.collect {
        case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] => b
      }.filter(_.output.exists(_.name == "id"))
      assert(factScans.nonEmpty, "fact-side BatchScan not found")
      val scan = factScans.head.scan.asInstanceOf[GraftScan]
      // the rebuild really happened (the shadow is back in the read schema
      // even though the projection never referenced it)...
      assert(scan.readSchema().fieldNames.contains("g_bbox"),
        s"spatial filter must rebuild the pruned scan: ${scan.readSchema()}")
      // ...and the runtime predicate landed on the REBUILT scan
      assert(factScans.head.runtimeFilters.nonEmpty,
        s"no runtime filter on the rebuilt scan:\n${q.queryExecution.executedPlan}")
    }
  }

  test("runtime filtering prunes fact files on a NON-partition key via min/max stats") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.rt.dim2 (k BIGINT, flag STRING) USING graft")
    spark.sql("INSERT INTO pq.rt.dim2 VALUES (5,'x'),(7,'x'),(2000,'y'),(3000,'y')")
    // UNPARTITIONED fact, id-clustered across files: each insert writes one
    // file covering a disjoint id range, so file min/max stats separate them
    spark.sql("CREATE TABLE pq.rt.fact2 (id BIGINT, v DOUBLE) USING graft")
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO pq.rt.fact2 SELECT /*+ REPARTITION(1) */ id + ${i * 1000}, " +
        s"CAST(id AS DOUBLE) FROM range(1000)")
    }
    withConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true") {
      val q = spark.sql("SELECT f.id, f.v FROM pq.rt.fact2 f JOIN pq.rt.dim2 d " +
        "ON f.id = d.k WHERE d.flag = 'x'")
      assert(q.collect().length == 2)
      val factScans = q.queryExecution.executedPlan.collect {
        case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] => b
      }.filter(_.output.exists(_.name == "v"))
      assert(factScans.nonEmpty, "fact-side BatchScan not found")
      assert(factScans.head.runtimeFilters.nonEmpty,
        s"no runtime filter on the non-partition join key:\n${q.queryExecution.executedPlan}")
      val scan = factScans.head.scan.asInstanceOf[GraftScan]
      val planned = scan.planInputPartitions()
        .map(_.asInstanceOf[graft.sources.GraftInputPartition].slices.length).sum
      assert(planned == 1, s"runtime IN (5, 7) should keep only the id∈[0,1000) file " +
        s"via min/max stats, planned $planned of 4")
    }
  }

  private def graftScanOf(q: org.apache.spark.sql.DataFrame): GraftScan =
    q.queryExecution.executedPlan.collect {
      case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] => b.scan.asInstanceOf[GraftScan]
    }.head

  test("manifest parses once per published version across repeated plannings") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.mc.t (id BIGINT, v DOUBLE) USING graft")
    spark.sql("INSERT INTO pq.mc.t SELECT id, CAST(id AS DOUBLE) FROM range(100)")
    // warm: the first planning of this version parses
    assert(spark.sql("SELECT * FROM pq.mc.t").collect().length == 100)
    val before = graft.spatial.Snapshots.manifestParseCount.get()
    (0 until 5).foreach { i =>
      assert(spark.sql(s"SELECT id FROM pq.mc.t WHERE id > $i").collect().nonEmpty)
      assert(spark.sql("SELECT sum(v) AS s FROM pq.mc.t").collect().nonEmpty)
    }
    assert(graft.spatial.Snapshots.manifestParseCount.get() == before,
      "repeated plannings of one version must reuse the parsed manifest")
    // a new version parses once, no matter how many plannings follow
    spark.sql("INSERT INTO pq.mc.t SELECT id + 100, CAST(id AS DOUBLE) FROM range(10)")
    assert(spark.sql("SELECT * FROM pq.mc.t").collect().length == 110)
    val afterV2 = graft.spatial.Snapshots.manifestParseCount.get()
    (0 until 5).foreach { i =>
      assert(spark.sql(s"SELECT id FROM pq.mc.t WHERE id > $i").collect().nonEmpty)
    }
    assert(graft.spatial.Snapshots.manifestParseCount.get() == afterV2,
      "the new version must parse exactly once, then cache")
  }

  test("statistics report in-memory row width, not compressed on-disk bytes") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.st.wide (id BIGINT, a STRING, b STRING, c STRING, d STRING) " +
      "USING graft")
    // highly compressible wide strings: on-disk parquet is tiny, on-heap is not
    spark.sql("INSERT INTO pq.st.wide SELECT id, repeat('x', 2000), repeat('y', 2000), " +
      "repeat('z', 2000), repeat('w', 2000) FROM range(5000)")
    val q = spark.sql("SELECT * FROM pq.st.wide")
    val stats = graftScanOf(q).estimateStatistics()
    assert(stats.numRows().getAsLong == 5000L)
    val onDisk = spark.sql("SELECT sum(file_size_in_bytes) AS s FROM pq.st.wide.files")
      .collect().head.getLong(0)
    assert(stats.sizeInBytes().getAsLong > onDisk,
      s"estimated in-memory size (${stats.sizeInBytes().getAsLong}) must exceed " +
        s"compressed on-disk bytes ($onDisk) for a wide-string table")
  }

  test("task planning splits an oversized file into multiple input partitions") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.tp.big (id BIGINT, pad STRING) USING graft")
    // one ~MB file with small row groups (the writer reads parquet.block.size
    // from the session-propagated hadoop conf)
    withConf("parquet.block.size" -> "16384") {
      spark.sql("INSERT INTO pq.tp.big SELECT /*+ REPARTITION(1) */ id, " +
        "repeat(uuid(), 8) AS pad FROM range(5000)")
    }
    withConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.files.maxPartitionBytes" -> "65536",
      "spark.sql.files.openCostInBytes" -> "4096") {
      val q = spark.sql("SELECT id FROM pq.tp.big")
      val planned = graftScanOf(q).planInputPartitions().length
      assert(planned > 1, s"an 8x-oversized file must split into >1 input partition, got $planned")
      // row-group→range assignment yields every row exactly once
      val ids = q.collect().map(_.getLong(0))
      assert(ids.length == 5000 && ids.distinct.length == 5000,
        s"split ranges must partition the file's rows exactly (got ${ids.length})")
    }
  }

  test("task planning bin-packs many small files into ~cores tasks") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.tp.many (id BIGINT, v DOUBLE) USING graft")
    spark.sql("INSERT INTO pq.tp.many SELECT /*+ REPARTITION(300) */ id, " +
      "CAST(id AS DOUBLE) FROM range(300)")
    // default open cost (4 MB) prices each tiny file; the 128 MB max-split
    // cap then packs ~32 files per task — hundreds of tiny files plan a
    // handful of tasks instead of one task each
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val q = spark.sql("SELECT * FROM pq.tp.many")
      val files = spark.sql("SELECT count(*) AS c FROM pq.tp.many.files")
        .collect().head.getLong(0)
      assert(files > 50, s"fixture should write many small files, got $files")
      val planned = graftScanOf(q).planInputPartitions().length
      assert(planned <= 40 && planned >= 2 && planned * 4 < files,
        s"$files tiny files should bin-pack into ~files/32 tasks, planned $planned")
      assert(q.collect().length == 300)
    }
  }

  test("bin-packed tasks keep delete state scoped per file") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.tp.mor (id BIGINT, v DOUBLE) USING graft " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql("INSERT INTO pq.tp.mor SELECT /*+ REPARTITION(20) */ id, " +
      "CAST(id AS DOUBLE) FROM range(2000)")
    spark.sql("DELETE FROM pq.tp.mor WHERE id % 7 = 0")
    // force real packing (tiny fixture files): cheap opens, low target
    // parallelism → several files share one task, each with its own
    // delete scope
    withConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.files.openCostInBytes" -> "1024",
      "spark.sql.files.minPartitionNum" -> "2") {
      val q = spark.sql("SELECT id FROM pq.tp.mor")
      val planned = graftScanOf(q).planInputPartitions().length
      assert(planned < 20, s"20 tiny files should pack into <20 tasks, planned $planned")
      val ids = q.collect().map(_.getLong(0)).sorted
      val expected = (0L until 2000L).filter(_ % 7 != 0)
      assert(ids.toSeq == expected,
        s"packed MoR read must apply per-file deletes (got ${ids.length}, want ${expected.length})")
    }
  }

  test("null-count stats prune IS NULL / IS NOT NULL at file granularity") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.db.nullst (id BIGINT, v DOUBLE) USING graft")
    // commit 1: v entirely NULL; commit 2: v never NULL
    spark.sql("INSERT INTO pq.db.nullst SELECT id, CAST(NULL AS DOUBLE) FROM range(0, 10)")
    spark.sql("INSERT INTO pq.db.nullst SELECT id, id * 1.0 FROM range(10, 20)")
    val all = SparkTestSession.plannedFiles(spark.table("pq.db.nullst"))
    assert(all >= 2)
    val notNull = spark.table("pq.db.nullst").filter("v IS NOT NULL")
    assert(SparkTestSession.plannedFiles(notNull) < all,
      "an all-null file must be pruned from an IS NOT NULL scan")
    assert(notNull.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (10L until 20L))
    val isNull = spark.table("pq.db.nullst").filter("v IS NULL")
    assert(SparkTestSession.plannedFiles(isNull) < all,
      "a zero-null file must be pruned from an IS NULL scan")
    assert(isNull.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 10L))
  }

  test("column min/max statistics reach the optimizer when CBO is on") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.db.cstats (id BIGINT, name STRING) USING graft")
    spark.sql("INSERT INTO pq.db.cstats SELECT id, concat('n', id) FROM range(1, 101)")
    withConf("spark.sql.cbo.enabled" -> "true") {
      val df = spark.table("pq.db.cstats")
      val rel = df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.get
      val stats = rel.computeStats()
      assert(stats.rowCount.contains(BigInt(100)))
      val idStat = stats.attributeStats.find(_._1.name == "id").map(_._2)
      assert(idStat.isDefined, "id column stats must surface through transformV2Stats")
      assert(idStat.get.min.contains(1L), s"min: ${idStat.get.min}")
      assert(idStat.get.max.contains(100L), s"max: ${idStat.get.max}")
    }
    // CBO off (the default): no per-column fold is paid, rows/size still served
    val relOff = spark.table("pq.db.cstats").queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.get
    assert(relOff.computeStats().attributeStats.isEmpty)
    assert(relOff.computeStats().rowCount.contains(BigInt(100)))
  }

  test("compute_table_stats records NDV; CBO serves it; time travel does not see the future") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.db.ndv (id BIGINT, grp STRING) USING graft")
    spark.sql("INSERT INTO pq.db.ndv SELECT id, concat('g', id % 7) FROM range(0, 200)")
    val preStats = graft.spatial.Snapshots.mainVersion(s"$warehouse/db/ndv")
    val res = spark.sql(s"CALL graft.system.compute_table_stats('$warehouse/db/ndv')")
      .collect()
    assert(res.head.getString(1) == "ndv_columns=2")
    def attrStats(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.get.computeStats().attributeStats
    withConf("spark.sql.cbo.enabled" -> "true") {
      val st = attrStats(spark.table("pq.db.ndv"))
      val grp = st.find(_._1.name == "grp").map(_._2).get
      // HLL estimate of 7 distinct values is exact at this cardinality
      assert(grp.distinctCount.contains(BigInt(7)), s"ndv: ${grp.distinctCount}")
      val idNdv = st.find(_._1.name == "id").get._2.distinctCount.get
      assert(idNdv >= BigInt(180) && idNdv <= BigInt(220), s"HLL ndv: $idNdv") // ~5% rsd
      // the pre-stats snapshot's properties predate the ANALYZE — a
      // time-travel read must not serve NDV recorded after it
      val old = attrStats(spark.read.format("graft").option("version", preStats)
        .load(s"$warehouse/db/ndv"))
      assert(old.forall(_._2.distinctCount.isEmpty),
        "time-travel read served NDV from its future")
    }
    // restricted column list
    spark.sql(s"CALL graft.system.compute_table_stats('$warehouse/db/ndv', columns => 'grp')")
    // unknown column errors
    val e = intercept[Exception] {
      spark.sql(s"CALL graft.system.compute_table_stats('$warehouse/db/ndv', columns => 'nope')")
    }
    assert(e.getMessage.contains("no such columns"))
  }

  test("NDV sketches refresh incrementally on appends (delta scan only); " +
      "row-removing changes fall back to the full pass; time travel is epoch-correct") {
    assert(warehouse.nonEmpty)
    import graft.spatial.Snapshots
    spark.sql("CREATE TABLE pq.db.ndvinc (id BIGINT, grp STRING) USING graft")
    spark.sql("INSERT INTO pq.db.ndvinc SELECT id, concat('g', id % 5) FROM range(0, 100)")
    val tbl = s"$warehouse/db/ndvinc"
    spark.sql(s"CALL graft.system.compute_table_stats('$tbl')")
    val (m1, _, r1) = Snapshots.ndvRefreshTelemetry(tbl, Int.MaxValue).get
    assert(m1 == "full" && r1 == 100, s"first ANALYZE scans everything: $m1/$r1")
    val epoch1 = Snapshots.mainVersion(tbl)
    assert(Snapshots.ndvStats(tbl, None)("grp") == 5)
    // append a second generation with 5 NEW groups
    spark.sql("INSERT INTO pq.db.ndvinc SELECT id, concat('h', id % 5) FROM range(100, 200)")
    spark.sql(s"CALL graft.system.compute_table_stats('$tbl')")
    val (m2, _, r2) = Snapshots.ndvRefreshTelemetry(tbl, Int.MaxValue).get
    assert(m2 == "incremental", s"append-only refresh must merge sketches, got $m2")
    assert(r2 == 100, s"only the appended rows may be scanned, got $r2")
    val ndv = Snapshots.ndvStats(tbl, None)
    assert(ndv("grp") == 10, s"merged sketch sees both epochs: ${ndv("grp")}")
    assert(ndv("id") >= 180 && ndv("id") <= 220, s"merged id ndv: ${ndv("id")}")
    // time travel: the pre-append epoch keeps ITS numbers (no future stats)
    assert(Snapshots.ndvStats(tbl, Some(epoch1))("grp") == 5,
      "time-travel read must see the epoch's own NDV")
    // a CoW delete rewrites files: the merge precondition is void (an HLL
    // cannot subtract) and the next ANALYZE must re-scan
    spark.sql(s"DELETE FROM '$tbl' WHERE id < 10")
    spark.sql(s"CALL graft.system.compute_table_stats('$tbl')")
    val (m3, _, _) = Snapshots.ndvRefreshTelemetry(tbl, Int.MaxValue).get
    assert(m3 == "full", s"post-delete refresh must not trust merged sketches, got $m3")
    assert(Snapshots.ndvStats(tbl, None)("id") <= 205)
  }

  test("compute_table_stats sketches non-int/string types " +
      "(double/date/timestamp/boolean) and stays incremental across them") {
    assert(warehouse.nonEmpty)
    import graft.spatial.Snapshots
    // hll_sketch_agg natively takes only int/long/string/binary; the other
    // eligible types must sketch via their string form, not throw
    spark.sql("CREATE TABLE pq.db.ndvt (id BIGINT, v DOUBLE, d DATE, " +
      "ts TIMESTAMP, ok BOOLEAN) USING graft")
    spark.sql("INSERT INTO pq.db.ndvt SELECT id, CAST(id AS DOUBLE) / 2, " +
      "date_add(DATE'2026-01-01', CAST(id % 10 AS INT)), " +
      "timestamp_millis(1700000000000 + id * 1000), id % 2 = 0 FROM range(0, 100)")
    val tbl = s"$warehouse/db/ndvt"
    spark.sql(s"CALL graft.system.compute_table_stats('$tbl')")
    val ndv = Snapshots.ndvStats(tbl, None)
    assert(ndv("ok") == 2, s"boolean ndv: ${ndv("ok")}")
    assert(ndv("d") == 10, s"date ndv: ${ndv("d")}")
    assert(ndv("v") >= 90 && ndv("v") <= 110, s"double ndv: ${ndv("v")}")
    assert(ndv("ts") >= 90 && ndv("ts") <= 110, s"timestamp ndv: ${ndv("ts")}")
    // the cast path merges like any other sketch on append
    spark.sql("INSERT INTO pq.db.ndvt SELECT id, CAST(id AS DOUBLE) / 2, " +
      "date_add(DATE'2026-01-01', CAST(10 + id % 10 AS INT)), " +
      "timestamp_millis(1700000000000 + id * 1000), id % 2 = 0 FROM range(100, 200)")
    spark.sql(s"CALL graft.system.compute_table_stats('$tbl')")
    val (m2, _, r2) = Snapshots.ndvRefreshTelemetry(tbl, Int.MaxValue).get
    assert(m2 == "incremental" && r2 == 100, s"append-only refresh: $m2/$r2")
    assert(Snapshots.ndvStats(tbl, None)("d") == 20)
  }

  test("NDV incremental precondition is MEMBERSHIP, not file counts: a " +
      "balanced cherrypick + CoW delete forces the full pass") {
    import graft.spatial.{GeoTable, Snapshots}
    import org.apache.spark.sql.functions.{col, concat, lit}
    graft.spatial.Geo.install(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_ndvmember").toString
    def rows(ids: Range) = spark.range(ids.head, ids.last + 1)
      .select(col("id"), concat(lit("v"), col("id")).as("v")).coalesce(1)
    rows(0 until 10).write.mode("overwrite").parquet(dir)
    GeoTable.writeManifest(spark, dir) // v1: one file
    Snapshots.createBranch(dir, "wap")
    val branchV = Snapshots.appendToBranch(rows(200 until 210), dir, "wap") // one file
    Snapshots.append(rows(10 until 20), dir) // main: one file
    val pv = Snapshots.mainVersion(dir)
    Snapshots.computeTableStats(spark, dir) // sketch at pv: 2 main files
    // CoW delete drops the second main file entirely (-1 file), then the
    // cherrypick adds the branch file stamped addedV=branchV <= pv (+1):
    // head files with addedV <= pv EQUAL pv's manifest in COUNT but not
    // in membership — a count check would wrongly merge incrementally and
    // leave the cherrypicked file out of the NDV union forever
    Snapshots.delete(spark, dir, col("id") >= 10 && col("id") <= 19)
    assert(Snapshots.readManifest(dir).size == 1)
    assert(branchV <= pv, s"fixture broke: branch v$branchV must be <= pv $pv")
    Snapshots.cherrypick(spark, dir, branchV)
    assert(Snapshots.readManifest(dir).count(_.addedV <= pv) ==
      Snapshots.readManifest(dir, Some(pv)).size,
      "fixture must be COUNT-balanced for the regression to be meaningful")
    Snapshots.computeTableStats(spark, dir)
    val (m, _, r) = Snapshots.ndvRefreshTelemetry(dir, Int.MaxValue).get
    assert(m == "full", s"balanced add/remove must force the full pass, got $m")
    assert(r == 20)
    assert(Snapshots.ndvStats(dir, None)("id") == 20) // 0..9 + 200..209
  }

  test("NDV refresh survives expiry of the sketch epoch's manifest " +
      "(falls back to a full pass instead of erroring)") {
    assert(warehouse.nonEmpty)
    import graft.spatial.Snapshots
    spark.sql("CREATE TABLE pq.db.ndvex (id BIGINT, grp STRING) USING graft")
    spark.sql("INSERT INTO pq.db.ndvex SELECT id, concat('g', id % 4) FROM range(0, 50)")
    val tbl = s"$warehouse/db/ndvex"
    spark.sql(s"CALL graft.system.compute_table_stats('$tbl')")
    spark.sql("INSERT INTO pq.db.ndvex SELECT id, concat('h', id % 4) FROM range(50, 100)")
    spark.sql("INSERT INTO pq.db.ndvex SELECT id, concat('k', id % 4) FROM range(100, 150)")
    // expire everything but the head — including the manifest of the
    // epoch the persisted sketch was computed at
    spark.sql(s"CALL graft.system.expire_snapshots('$tbl', keep => 1)")
    spark.sql(s"CALL graft.system.compute_table_stats('$tbl')")
    val (m, _, r) = Snapshots.ndvRefreshTelemetry(tbl, Int.MaxValue).get
    assert(m == "full" && r == 150,
      s"expired merge base must fall back to the full pass: $m/$r")
    assert(Snapshots.ndvStats(tbl, None)("grp") == 12)
  }

  test("expire_snapshots cleans statistics sidecars no kept version reads " +
      "(newest sketch at-or-before each kept version survives)") {
    assert(warehouse.nonEmpty)
    import graft.spatial.Snapshots
    spark.sql("CREATE TABLE pq.db.ndvclean (id BIGINT, grp STRING) USING graft")
    val tbl = s"$warehouse/db/ndvclean"
    def sketches(): Seq[String] = {
      val d = java.nio.file.Paths.get(tbl, "_graft_stats")
      if (!java.nio.file.Files.isDirectory(d)) Nil
      else java.nio.file.Files.list(d).toArray.map(_.toString.split('/').last).toSeq.sorted
    }
    def pstats(): Seq[String] = {
      val d = java.nio.file.Paths.get(tbl, "_graft_partition_stats")
      if (!java.nio.file.Files.isDirectory(d)) Nil
      else java.nio.file.Files.list(d).toArray.map(_.toString.split('/').last).toSeq.sorted
    }
    spark.sql("INSERT INTO pq.db.ndvclean SELECT id, concat('g', id % 3) FROM range(0, 30)")
    spark.sql(s"CALL graft.system.compute_table_stats('$tbl')")
    spark.sql(s"CALL graft.system.compute_partition_stats('$tbl')")
    spark.sql("INSERT INTO pq.db.ndvclean SELECT id, concat('h', id % 3) FROM range(30, 60)")
    spark.sql(s"CALL graft.system.compute_table_stats('$tbl')")
    spark.sql(s"CALL graft.system.compute_partition_stats('$tbl')")
    spark.sql("INSERT INTO pq.db.ndvclean SELECT id, concat('k', id % 3) FROM range(60, 90)")
    spark.sql(s"CALL graft.system.compute_table_stats('$tbl')")
    // 3 stats epochs x (JSON sidecar + Puffin twin)
    assert(sketches().size == 6 && pstats().size == 2, s"${sketches()} / ${pstats()}")
    val newestEpoch = sketches().filter(_.endsWith(".json")).last // head's sketch
      .stripPrefix("ndv_sketch_").stripSuffix(".json")
    spark.sql(s"CALL graft.system.expire_snapshots('$tbl', keep => 1)")
    // head is the only kept version; the newest sketch (and its Puffin
    // twin) serves it — the older epochs' sidecars must be gone
    assert(sketches() == Seq(s"ndv_puffin_$newestEpoch.puffin",
      s"ndv_sketch_$newestEpoch.json"),
      s"stale sketches survive expire: ${sketches()}")
    assert(pstats().size == 1, s"stale partition stats survive expire: ${pstats()}")
    // the surviving sidecars still serve reads
    assert(Snapshots.ndvStats(tbl, None)("grp") == 9)
    assert(spark.sql("SELECT * FROM pq.db.ndvclean.partition_stats").count() >= 1)
  }

  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] => b.scan.asInstanceOf[GraftScan]
    }.head.planInputPartitions()
      .map(_.asInstanceOf[graft.sources.GraftInputPartition].fp.files.length).sum

  test("explicit system.bucket() predicates prune to the matching bucket dirs") {
    assert(warehouse.nonEmpty)
    // ref ReplaceStaticInvoke.scala + SparkV2Filters.java:458-475
    // (TestSystemFunctionPushDownDQL): WHERE catalog.system.bucket(4, id) = k
    // must plan only bucket k's files
    spark.sql("CREATE TABLE pq.fn.bt (id BIGINT, v DOUBLE) USING graft " +
      "PARTITIONED BY (bucket(4, id))")
    spark.sql("INSERT INTO pq.fn.bt SELECT id, CAST(id AS DOUBLE) FROM range(400)")
    val all = plannedFiles(spark.sql("SELECT * FROM pq.fn.bt"))
    assert(all >= 4, s"expected >=4 files across buckets, got $all")
    val q = spark.sql("SELECT id FROM pq.fn.bt WHERE pq.system.bucket(4, id) = 1")
    val pruned = plannedFiles(q)
    assert(pruned < all, s"bucket(4,id)=1 must prune: planned $pruned of $all")
    // parity with the row-level evaluation of the same predicate
    val expect = spark.sql("SELECT id FROM pq.fn.bt").collect()
      .map(_.getLong(0)).filter(id => Math.floorMod(
        org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction.hash(
          id, org.apache.spark.sql.types.LongType, 42L).toInt, 4) == 1).toSet
    assert(q.collect().map(_.getLong(0)).toSet == expect)
    // IN over buckets prunes too, and mismatched params don't (wrong n)
    val in2 = plannedFiles(
      spark.sql("SELECT id FROM pq.fn.bt WHERE pq.system.bucket(4, id) IN (0, 2)"))
    assert(in2 < all, s"IN must prune: $in2 of $all")
    val wrongN = spark.sql("SELECT id FROM pq.fn.bt WHERE pq.system.bucket(8, id) = 1")
    assert(plannedFiles(wrongN) == all, "bucket(8,...) over a bucket(4) table must NOT prune")
    assert(wrongN.collect().nonEmpty) // …but still evaluates correctly
  }

  test("MERGE between co-bucketed tables joins storage-partitioned: no shuffle on the join") {
    assert(warehouse.nonEmpty)
    // ref TestStoragePartitionedJoinsInRowLevelOperations: a CoW MERGE
    // whose target and source are co-bucketed on the ON key must plan the
    // full-outer merge join without exchanges under it
    spark.sql("CREATE TABLE pq.spj.mt (id BIGINT, v DOUBLE) USING graft " +
      "PARTITIONED BY (bucket(4, id))")
    spark.sql("INSERT INTO pq.spj.mt SELECT id, CAST(id AS DOUBLE) FROM range(1000)")
    spark.sql("CREATE TABLE pq.spj.ms (id BIGINT, v DOUBLE) USING graft " +
      "PARTITIONED BY (bucket(4, id))")
    spark.sql("INSERT INTO pq.spj.ms SELECT id * 2, CAST(id AS DOUBLE) * 10 FROM range(600)")
    val captured = new java.util.concurrent.CopyOnWriteArrayList[
      org.apache.spark.sql.execution.QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        captured.add(qe)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
      spark.sql(
        """MERGE INTO pq.spj.mt AS t USING (SELECT * FROM pq.spj.ms) AS s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
      // correctness first
      val got = spark.sql("SELECT id, v FROM pq.spj.mt").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // 1000 target ids + the 100 source ids (1000..1198 even) not matched
      assert(got.size == 1100, s"got ${got.size}")
      (0L until 1000L).foreach { id =>
        val expect = if (id % 2 == 0) (id / 2) * 10.0 else id.toDouble
        assert(got(id) == expect, s"id=$id")
      }
      (1000L until 1200L by 2).foreach(id => assert(got(id) == (id / 2) * 10.0, s"id=$id"))
      // the merge's own join plan: find the captured execution containing
      // a join over two GraftScan batch scans, and assert its join
      // subtree is exchange-free
      def flatten(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = {
        val nested = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            Seq(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
          case _ => Nil
        }
        p +: (p.children ++ nested).flatMap(flatten)
      }
      // allow async listener delivery
      var tries = 0
      def joins = {
        import scala.jdk.CollectionConverters._
        captured.asScala.toSeq.flatMap(qe => flatten(qe.executedPlan)).collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
            if j.joinType.toString.toLowerCase.contains("outer") => j
          case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
            if j.joinType.toString.toLowerCase.contains("outer") => j
        }
      }
      while (joins.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
      assert(joins.nonEmpty, "did not capture the merge's full-outer join plan")
      joins.foreach { j =>
        val shuffles = flatten(j).collect {
          case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
        }
        assert(shuffles.isEmpty,
          s"co-bucketed MERGE join must be storage-partitioned (zero exchanges):\n$j")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("MoR MERGE between co-bucketed tables also joins storage-partitioned") {
    assert(warehouse.nonEmpty)
    // the _file/_pos metadata columns serve as the staged-scan provenance
    // (ref's SparkStagedScan + row-position metadata), so the MoR merge
    // target reads through the catalog face and SPJs like the CoW one
    spark.sql("CREATE TABLE pq.spj.mmt (id BIGINT, v DOUBLE) USING graft " +
      "PARTITIONED BY (bucket(4, id))")
    spark.sql("INSERT INTO pq.spj.mmt SELECT id, CAST(id AS DOUBLE) FROM range(1000)")
    spark.sql("ALTER TABLE pq.spj.mmt SET TBLPROPERTIES ('write.merge.mode'='merge-on-read')")
    spark.sql("CREATE TABLE pq.spj.mms (id BIGINT, v DOUBLE) USING graft " +
      "PARTITIONED BY (bucket(4, id))")
    spark.sql("INSERT INTO pq.spj.mms SELECT id * 2, CAST(id AS DOUBLE) * 10 FROM range(600)")
    val captured = new java.util.concurrent.CopyOnWriteArrayList[
      org.apache.spark.sql.execution.QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        captured.add(qe)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val before = graft.spatial.Snapshots.readManifest(s"$warehouse/spj/mmt", None)
        .map(_.path).toSet
      spark.sql(
        """MERGE INTO pq.spj.mmt AS t USING (SELECT * FROM pq.spj.mms) AS s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
      // MoR: original data files all survive; deltas land as new files
      assert(before.subsetOf(
        graft.spatial.Snapshots.readManifest(s"$warehouse/spj/mmt", None).map(_.path).toSet),
        "MoR merge must not rewrite existing data files")
      val got = spark.sql("SELECT id, v FROM pq.spj.mmt").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.size == 1100, s"got ${got.size}")
      (0L until 1000L).foreach { id =>
        val expect = if (id % 2 == 0) (id / 2) * 10.0 else id.toDouble
        assert(got(id) == expect, s"id=$id")
      }
      (1000L until 1200L by 2).foreach(id => assert(got(id) == (id / 2) * 10.0, s"id=$id"))
      def flatten(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = {
        val nested = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            Seq(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
          case _ => Nil
        }
        p +: (p.children ++ nested).flatMap(flatten)
      }
      var tries = 0
      def joins = {
        import scala.jdk.CollectionConverters._
        captured.asScala.toSeq.flatMap(qe => flatten(qe.executedPlan)).collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
            if j.joinType.toString.toLowerCase.contains("outer") => j
          case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
            if j.joinType.toString.toLowerCase.contains("outer") => j
        }
      }
      while (joins.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
      assert(joins.nonEmpty, "did not capture the MoR merge's full-outer join plan")
      joins.foreach { j =>
        val shuffles = flatten(j).collect {
          case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
        }
        assert(shuffles.isEmpty,
          s"co-bucketed MoR MERGE join must be storage-partitioned:\n$j")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("explicit system.bucket() predicates prune files in row-level ops (CoW DELETE/UPDATE)") {
    assert(warehouse.nonEmpty)
    // ref TestSystemFunctionPushDownInRowLevelOperations: a DELETE whose
    // condition is an explicit transform call must rewrite ONLY the
    // matching bucket's files — the others stay byte-identical
    spark.sql("CREATE TABLE pq.fn.rbt (id BIGINT, v DOUBLE) USING graft " +
      "PARTITIONED BY (bucket(4, id))")
    spark.sql("INSERT INTO pq.fn.rbt SELECT id, CAST(id AS DOUBLE) FROM range(400)")
    val tbl = s"$warehouse/fn/rbt"
    val before = graft.spatial.Snapshots.readManifest(tbl, None).map(_.path).toSet
    def bucketOf(id: Long): Int = Math.floorMod(
      org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction.hash(
        id, org.apache.spark.sql.types.LongType, 42L).toInt, 4)
    spark.sql("DELETE FROM pq.fn.rbt WHERE pq.system.bucket(4, id) = 1")
    val after = graft.spatial.Snapshots.readManifest(tbl, None).map(_.path).toSet
    // every untouched bucket's files survive the rewrite unchanged
    val untouched = before.filterNot(_.contains("id_bucket=1"))
    assert(untouched.subsetOf(after),
      s"non-matching buckets must not be rewritten:\nmissing=${untouched.diff(after)}")
    assert(before.filter(_.contains("id_bucket=1")).forall(!after.contains(_)),
      "the matching bucket's files must be gone")
    val ids = spark.sql("SELECT id FROM pq.fn.rbt").collect().map(_.getLong(0)).toSet
    assert(ids == (0L until 400L).filter(bucketOf(_) != 1).toSet)
    // UPDATE through the same seat: only bucket 2's files rewrite
    val before2 = graft.spatial.Snapshots.readManifest(tbl, None).map(_.path).toSet
    spark.sql("UPDATE pq.fn.rbt SET v = v + 10000 WHERE pq.system.bucket(4, id) = 2")
    val after2 = graft.spatial.Snapshots.readManifest(tbl, None).map(_.path).toSet
    assert(before2.filterNot(_.contains("id_bucket=2")).subsetOf(after2))
    val bumped = spark.sql("SELECT id FROM pq.fn.rbt WHERE v >= 10000")
      .collect().map(_.getLong(0)).toSet
    assert(bumped == (0L until 400L).filter(bucketOf(_) == 2).toSet)
  }

  test("hours(ts) transform: layout, range pruning, explicit-call pushdown, SQL function") {
    assert(warehouse.nonEmpty)
    // ref TestSparkHoursFunction: hours since epoch over TIMESTAMP —
    // timezone-independent epoch division, so it binds for SPJ/pushdown
    // where year/month/day over timestamps deliberately degrade
    spark.sql("CREATE TABLE pq.fn.ht (ts TIMESTAMP, v BIGINT) USING graft " +
      "PARTITIONED BY (hours(ts))")
    spark.sql("INSERT INTO pq.fn.ht SELECT timestampadd(MINUTE, CAST(id * 15 AS INT), " +
      "TIMESTAMP'2024-03-01 00:00:00'), id FROM range(16)") // 4 hours x 4 rows
    val dirs = graft.spatial.Snapshots.readManifest(s"$warehouse/fn/ht", None)
      .map(_.path.split('/').head).toSet
    val h0 = java.time.Instant.parse("2024-03-01T00:00:00Z").getEpochSecond / 3600
    assert(dirs == (h0 until h0 + 4).map(h => s"ts_hour=$h").toSet, s"dirs: $dirs")
    val all = plannedFiles(spark.sql("SELECT * FROM pq.fn.ht"))
    // a timestamp range predicate prunes through the monotonic projection
    val ranged = spark.sql(
      "SELECT v FROM pq.fn.ht WHERE ts >= TIMESTAMP'2024-03-01 03:00:00'")
    assert(plannedFiles(ranged) < all, "ts range must prune hour dirs")
    assert(ranged.collect().map(_.getLong(0)).toSet == (12L until 16L).toSet)
    // explicit hours() call prunes too
    val q = spark.sql(s"SELECT v FROM pq.fn.ht WHERE pq.system.hours(ts) = ${h0 + 1}")
    assert(plannedFiles(q) < all, "hours(ts) = k must prune to one hour dir")
    assert(q.collect().map(_.getLong(0)).toSet == (4L until 8L).toSet)
    // SQL-callable and equal to the write-side derivation
    val b = spark.sql("SELECT pq.system.hours(TIMESTAMP'2024-03-01 02:30:00') AS h")
      .collect().head.getInt(0)
    assert(b == h0.toInt + 2, s"hours() must be epoch-hour: $b vs ${h0 + 2}")
  }

  test("explicit system.days() predicates prune date-transform dirs") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.fn.dt (d DATE, v BIGINT) USING graft " +
      "PARTITIONED BY (days(d))")
    spark.sql("INSERT INTO pq.fn.dt SELECT DATE_ADD(DATE'2024-01-01', CAST(id % 5 AS INT)), id " +
      "FROM range(100)")
    val all = plannedFiles(spark.sql("SELECT * FROM pq.fn.dt"))
    assert(all >= 5, s"expected >=5 day dirs, got $all")
    val day = java.time.LocalDate.of(2024, 1, 3).toEpochDay.toInt
    val q = spark.sql(s"SELECT v FROM pq.fn.dt WHERE pq.system.days(d) = $day")
    assert(plannedFiles(q) < all, "days(d) = k must prune to one day dir")
    assert(q.collect().map(_.getLong(0)).toSet ==
      (0L until 100L).filter(_ % 5 == 2).toSet)
  }

  test("split-size / file-open-cost read options and read.split.* properties steer planning") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.tp.knobs (id BIGINT, v DOUBLE) USING graft")
    spark.sql("INSERT INTO pq.tp.knobs SELECT /*+ REPARTITION(40) */ id, " +
      "CAST(id AS DOUBLE) FROM range(4000)")
    withConf("spark.sql.adaptive.enabled" -> "false") {
      // explicit split-size is ABSOLUTE (the reference's SparkReadOptions
      // SPLIT_SIZE): a huge target + zero open cost packs everything into
      // one task regardless of Spark's adaptive policy
      val one = spark.read
        .option("split-size", (64L * 1024 * 1024).toString)
        .option("file-open-cost", "0")
        .table("pq.tp.knobs")
      assert(graftScanOf(one).planInputPartitions().length == 1,
        "a 64 MB split target with zero open cost must pack all tiny files into one task")
      // the table-property form steers plain reads the same way
      spark.sql("ALTER TABLE pq.tp.knobs SET TBLPROPERTIES (" +
        "'read.split.target-size' = '1', 'read.split.open-file-cost' = '0')")
      val many = spark.table("pq.tp.knobs")
      val planned = graftScanOf(many).planInputPartitions().length
      assert(planned >= 30, s"a 1-byte target must stop bin-packing, got $planned tasks")
      // read option outranks the property
      val again = spark.read
        .option("split-size", (64L * 1024 * 1024).toString)
        .option("file-open-cost", "0")
        .table("pq.tp.knobs")
      assert(graftScanOf(again).planInputPartitions().length == 1)
      assert(spark.table("pq.tp.knobs").count() == 4000)
    }
  }

  test("aggregate-push-down kill-switch forces a real scan with identical results") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.tp.aggsw (id BIGINT) USING graft")
    spark.sql("INSERT INTO pq.tp.aggsw SELECT id FROM range(100)")
    val sql = "SELECT count(*) AS n, min(id) AS lo, max(id) AS hi FROM pq.tp.aggsw"
    // the same aggregate over the V1 read of the table's directory
    import org.apache.spark.sql.functions.{count, lit, max, min}
    def v1 = graft.spatial.GeoTable.read(spark, s"$warehouse/tp/aggsw")
      .agg(count(lit(1)).as("n"), min("id").as("lo"), max("id").as("hi"))
    val pushed = spark.sql(sql)
    assert(!pushed.queryExecution.executedPlan.toString.contains("BatchScan"),
      "default: answered from the manifest")
    assert(!v1.queryExecution.executedPlan.toString.contains("FileScan"),
      "default: the V1 rule answers from the manifest too")
    val expected = pushed.collect().toSeq
    // both paths parse the switch the same way: `1` is on; `false` and a
    // malformed value force a real scan, never an exception
    Seq("1" -> true, "false" -> false, "maybe" -> false).foreach { case (value, on) =>
      withConf("spark.sql.graft.aggregate-push-down.enabled" -> value) {
        val dsv2 = spark.sql(sql)
        assert(dsv2.queryExecution.executedPlan.toString.contains("BatchScan") != on,
          s"DSv2 with the switch at '$value'")
        assert(dsv2.collect().toSeq == expected)
        val v1Plan = v1.queryExecution.executedPlan.toString
        assert(v1Plan.contains("FileScan") != on, s"V1 with the switch at '$value':\n$v1Plan")
        assert(v1.collect().toSeq == expected)
      }
    }
  }

  test("vectorization-enabled=false forces the row path (option and property forms)") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.tp.vec (id BIGINT, v DOUBLE) USING graft")
    spark.sql("INSERT INTO pq.tp.vec SELECT id, CAST(id AS DOUBLE) FROM range(1000)")
    val cols = spark.table("pq.tp.vec")
    assert(cols.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "clean scans default to the columnar path")
    val rows = spark.read.option("vectorization-enabled", "false").table("pq.tp.vec")
    assert(!rows.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "the read option must force row readers")
    assert(rows.count() == 1000 && rows.agg(org.apache.spark.sql.functions.sum("v")).head().getDouble(0) == 499500.0)
    spark.sql("ALTER TABLE pq.tp.vec SET TBLPROPERTIES " +
      "('read.parquet.vectorization.enabled' = 'false')")
    val viaProp = spark.table("pq.tp.vec")
    assert(!viaProp.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "the table-property form steers plain reads")
    // option outranks property
    val back = spark.read.option("vectorization-enabled", "true").table("pq.tp.vec")
    assert(back.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
  }

  test("spatial predicates on DSv2 catalog tables PRUNE FILES: the pruned " +
      "shadow re-exposes on the scan for the filter form AND the spatial-" +
      "join window propagation; rows stay correct") {
    assert(warehouse.nonEmpty)
    def mkGeoTable(t: String): Unit = {
      spark.sql(s"CREATE TABLE pq.geo.$t (id BIGINT, g BINARY, g_bbox STRUCT<" +
        "xmin: DOUBLE, ymin: DOUBLE, xmax: DOUBLE, ymax: DOUBLE>) USING graft")
      (0 until 4).foreach { q =>
        val (sx, sy) = q match {
          case 0 => (1, 1); case 1 => (-1, 1); case 2 => (-1, -1); case _ => (1, -1)
        }
        spark.sql(s"INSERT INTO pq.geo.$t SELECT /*+ REPARTITION(1) */ " +
          s"id + ${q * 10}, st_point(CAST($sx * (id + 1) AS DOUBLE), " +
          s"CAST($sy * (id + 1) AS DOUBLE)), " +
          s"named_struct('xmin', CAST($sx * (id + 1) AS DOUBLE), " +
          s"'ymin', CAST($sy * (id + 1) AS DOUBLE), " +
          s"'xmax', CAST($sx * (id + 1) AS DOUBLE), " +
          s"'ymax', CAST($sy * (id + 1) AS DOUBLE)) FROM range(10)")
      }
    }
    mkGeoTable("ja")
    mkGeoTable("jb")
    // FILTER form: st_intersects against a literal window — the shadow was
    // pruned out of the scan (only g and id are referenced), so without
    // re-exposure no bbox conjunct could ever bind on the DSv2 path
    val q1 = spark.sql("SELECT id FROM pq.geo.ja WHERE st_intersects(g, " +
      "st_makeenvelope(CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), " +
      "CAST(20 AS DOUBLE), CAST(20 AS DOUBLE)))")
    assert(q1.collect().map(_.getLong(0)).toSet == (0L until 10L).toSet)
    val m1 = graftScanOf(q1).reportDriverMetrics().map(t => t.name() -> t.value()).toMap
    assert(m1("resultDataFiles") == 1L && m1("skippedDataFiles") == 3L,
      s"the re-exposed shadow must prune to the (+,+) quadrant file: $m1")

    // JOIN form: the window bound on a propagates FILE pruning to b
    val j = spark.sql("SELECT a.id AS aid, b.id AS bid FROM pq.geo.ja a " +
      "JOIN pq.geo.jb b ON st_intersects(a.g, b.g) " +
      "WHERE st_covers(st_makeenvelope(CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), " +
      "CAST(20 AS DOUBLE), CAST(20 AS DOUBLE)), a.g)")
    val rows = j.collect()
    assert(rows.length == 10 && rows.forall(r => r.getLong(0) == r.getLong(1)),
      s"quadrant-0 twins must match: ${rows.toSeq}")
    // AQE wraps exchanges in QueryStageExec LEAVES — descend into them
    def deepScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[GraftScan] =
      p.collect {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => deepScans(q.plan)
        case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] =>
          Seq(b.scan.asInstanceOf[GraftScan])
      }.flatten
    val ep = j.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = deepScans(ep)
    assert(scans.size == 2, s"both sides must stay DSv2 scans: ${scans.size}")
    scans.foreach { s =>
      val m = s.reportDriverMetrics().map(t => t.name() -> t.value()).toMap
      assert(m("resultDataFiles") == 1L && m("skippedDataFiles") == 3L,
        s"the window must prune BOTH catalog sides to one file: $m")
    }
  }

  test("shadow re-exposure cannot GROW the root schema: when V2 pruning " +
      "collapsed the Project into the scan (projection == scan output) the " +
      "rewritten Filter sits at the plan ROOT — a restoring Project keeps " +
      "the analyzed output, and the bbox prune is retained") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.geo.rootf (id BIGINT, g BINARY, g_bbox STRUCT<" +
      "xmin: DOUBLE, ymin: DOUBLE, xmax: DOUBLE, ymax: DOUBLE>) USING graft")
    (0 until 4).foreach { q =>
      val (sx, sy) = q match {
        case 0 => (1, 1); case 1 => (-1, 1); case 2 => (-1, -1); case _ => (1, -1)
      }
      spark.sql(s"INSERT INTO pq.geo.rootf SELECT /*+ REPARTITION(1) */ " +
        s"id + ${q * 10}, st_point(CAST($sx * (id + 1) AS DOUBLE), " +
        s"CAST($sy * (id + 1) AS DOUBLE)), " +
        s"named_struct('xmin', CAST($sx * (id + 1) AS DOUBLE), " +
        s"'ymin', CAST($sy * (id + 1) AS DOUBLE), " +
        s"'xmax', CAST($sx * (id + 1) AS DOUBLE), " +
        s"'ymax', CAST($sy * (id + 1) AS DOUBLE)) FROM range(10)")
    }
    // SELECT id, g: the filter references exactly the projected set, so V2
    // pruning pushes the projection into the scan and REMOVES the Project
    // node — the rewritten Filter is the optimized plan's root, and shadow
    // re-exposure would otherwise serve a trailing g_bbox the analyzed
    // schema lacks (visible to toRdd, flagged by plan-change validation)
    val q1 = spark.sql("SELECT id, g FROM pq.geo.rootf WHERE st_intersects(g, " +
      "st_makeenvelope(CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), " +
      "CAST(20 AS DOUBLE), CAST(20 AS DOUBLE)))")
    assert(q1.queryExecution.optimizedPlan.output.map(_.name) ==
      q1.queryExecution.analyzed.output.map(_.name),
      s"optimized output must match analyzed: " +
        s"${q1.queryExecution.optimizedPlan.output.map(_.name)}")
    assert(q1.collect().map(_.getLong(0)).toSet == (0L until 10L).toSet)
    val m = graftScanOf(q1).reportDriverMetrics()
      .map(t => t.name() -> t.value()).toMap
    assert(m("resultDataFiles") == 1L && m("skippedDataFiles") == 3L,
      s"the restoring Project must not cost the prune: $m")
  }

  test("scan reports pruning metrics to the driver (resultDataFiles / skippedDataFiles)") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE TABLE pq.tp.metrics (id BIGINT, v DOUBLE) USING graft")
    (0 until 4).foreach(i => spark.sql(
      s"INSERT INTO pq.tp.metrics SELECT /*+ REPARTITION(1) */ id, CAST(id AS DOUBLE) " +
        s"FROM range(${i * 1000}, ${i * 1000 + 1000})"))
    val q = spark.sql("SELECT id FROM pq.tp.metrics WHERE id < 500")
    val scan = graftScanOf(q)
    assert(scan.supportedCustomMetrics().map(_.name()).toSet ==
      Set("resultDataFiles", "skippedDataFiles", "totalFileSize", "resultDeleteFiles"))
    val m = scan.reportDriverMetrics().map(t => t.name() -> t.value()).toMap
    assert(m("resultDataFiles") == 1L, s"stats must prune to one file: $m")
    assert(m("skippedDataFiles") == 3L, s"three files lie outside id<500: $m")
    assert(m("totalFileSize") > 0L && m("resultDeleteFiles") == 0L)
    // after a MoR delete the applied delete files surface in the metrics
    spark.sql("ALTER TABLE pq.tp.metrics SET TBLPROPERTIES " +
      "('write.delete.mode' = 'merge-on-read')")
    spark.sql("DELETE FROM pq.tp.metrics WHERE id = 100")
    val q2 = spark.sql("SELECT id FROM pq.tp.metrics WHERE id < 500")
    val m2 = graftScanOf(q2).reportDriverMetrics()
      .map(t => t.name() -> t.value()).toMap
    assert(m2("resultDeleteFiles") == 1L, s"the positional delete file must count: $m2")
    assert(q2.collect().length == 499)
  }
}
