package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, when}

import graft.functions.GeoSql
import graft.spatial.{GeoTable, Snapshots}

/** One writer commits a seeded sequence of appends, merge-on-read deletes
  * and upserts to a growing table, reads its own writes every few commits
  * and compacts and expires every few dozen. Loads the metadata plane:
  * version discovery, manifest rewrite, manifest parse, delete application.
  *
  * Deletes name only `id` and `geom`, and upserts change neither, so a
  * pending delete predicate selects the same rows at read time as at commit
  * time and the op log replays to one unambiguous row set. */
object IngestCommit extends Workload {
  val BaseRows = 20000
  val BaseFiles = 8
  val AppendRows = 2000
  val AppendFiles = 4
  val UpsertRows = 400
  /** Commits per cycle: 5 appends, 3 deletes, 2 upserts in a seeded order;
    * a run times whole cycles, so every run commits the same mix. */
  val CycleKinds = 10
  val ReadEvery = 5
  val KeepVersions = 20
  private val Table = "graft.bench.ingest"

  sealed trait Kind { def name: String }
  case object Append extends Kind { val name = "append" }
  case object Delete extends Kind { val name = "delete" }
  case object Merge extends Kind { val name = "merge" }

  private def geomCol =
    when(col("x0") === col("x1") && col("y0") === col("y1"), GeoSql.st_point(col("x0"), col("y0")))
      .otherwise(GeoSql.st_makeenvelope(col("x0"), col("y0"), col("x1"), col("y1")))

  private def frame(spark: SparkSession, rows: Seq[GeoRow], parts: Int): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(rows, parts).toDS()
      .select(col("id"), col("category"), geomCol.as("geom"))
  }

  /** The op-log replay: every row the table should show, by id. */
  final class Model {
    val live = new java.util.HashMap[Long, GeoRow]()
    def add(rs: Seq[GeoRow]): Unit = rs.foreach(r => live.put(r.id, r))
    def select(w: Window, covers: Boolean): Seq[String] =
      live.values.asScala.filter(r => if (covers) w.covers(r) else w.intersects(r))
        .map(_.id.toString).toSeq.sorted
  }

  def run(spark: SparkSession, tr: Tracer, a: Args, res: Result): Unit = {
    val geo = new GeoModel(a.seed)
    val path = new File(a.work, "warehouse/bench/ingest").getPath
    val dir = new File(path)
    val model = new Model
    var nextId = BaseRows.toLong

    val t0 = System.nanoTime()
    val base = (0 until BaseRows).map(i => geo.row(3, i))
    GeoTable.write(frame(spark, base, a.cores), path, "geom", numFiles = BaseFiles)
    model.add(base)
    val buildS = (System.nanoTime() - t0) / 1e9

    /** The c-th commit of the seeded sequence: its kind, the call that
      * makes it, and the model update that replays it. */
    val mix: Seq[(Kind, Int)] = Seq(Append -> 5, Delete -> 3, Merge -> 2)
    val cycle = new scala.util.Random(a.seed)
      .shuffle(mix.flatMap { case (k, n) => Seq.fill(n)(k) }).toIndexedSeq
    def commitOp(c: Int, kind: Kind): (Kind, Long, () => Unit, () => Unit) = {
      val r = Gen.rng(a.seed, 30, c)
      // appends favour a few hotspots that drift every cycle
      val favour = Seq(0, 1, 2).map(k => (c / CycleKinds + k * 7) % GeoModel.NumHotspots)
      if (kind == Append) {
        val rows = (nextId until nextId + AppendRows).map(i => geo.row(4, i, favour))
        nextId += AppendRows
        (Append, rows.size.toLong, () => Snapshots.append(GeoTable.withBbox(frame(spark, rows, AppendFiles), "geom"), path),
          () => model.add(rows))
      } else if (kind == Delete) {
        if (r.nextBoolean()) {
          val lo = (r.nextDouble() * (nextId - 1000)).toLong
          val hi = lo + 200 + r.nextInt(600)
          (Delete, 0L, () => Snapshots.deleteMoR(spark, path, s"id >= $lo AND id < $hi"),
            () => (lo until hi).foreach(i => model.live.remove(i)))
        } else {
          val (cx, cy) = geo.location(r, 1.0, favour)
          val half = 0.1 + r.nextDouble() * 0.4
          val w = Window(cx - half, cy - half, cx + half, cy + half)
          val bound = nextId
          (Delete, 0L, () => Snapshots.deleteMoR(spark, path,
            s"ST_Intersects(geom, ${w.env}) AND id < $bound"),
            () => model.live.values.removeIf(g => g.id < bound && w.intersects(g)))
        }
      } else {
        // update the category of live recent rows, insert as many new ones
        val from = math.max(0L, nextId - 5L * AppendRows)
        val updates = Iterator.continually(from + (r.nextDouble() * (nextId - from)).toLong)
          .take(UpsertRows * 4).distinct.flatMap(i => Option(model.live.get(i))).take(UpsertRows / 2)
          .map(g => g.copy(category = geo.category(r))).toSeq
        val inserts = (nextId until nextId + UpsertRows / 2).map(i => geo.row(4, i, favour))
        nextId += UpsertRows / 2
        val src = updates ++ inserts
        (Merge, src.size.toLong, () => Snapshots.mergeInto(spark, path,
          GeoTable.withBbox(frame(spark, src, 1), "geom"), "t.id = s.id",
          Seq(Snapshots.MergeClause(matched = true, None, "update", Seq("category" -> "s.category")),
            Snapshots.MergeClause(matched = false, None, "insert"))),
          () => model.add(src))
      }
    }

    final case class Commit(kind: Kind, latMs: Double, rows: Long, afterMaintenance: Boolean,
        versionMs: Double, parseMs: Double, filesWritten: Long, metaBytes: Long)
    val commits = ArrayBuffer[(Commit, Boolean)]()
    val reads = ArrayBuffer[Double]()
    val maintenance = ArrayBuffer[Double]()
    val curve = ArrayBuffer[Map[String, Any]]()
    var afterMaintenance = false
    val totals = new TaskTotals

    def listing = Option(dir.listFiles()).toSeq.flatten.filter(_.isFile)
    def metaBytes: Long = listing.filterNot(_.getName.endsWith(".parquet")).map(_.length).sum
    def dataFiles: Long = listing.count(_.getName.endsWith(".parquet")).toLong

    def commit(c: Int, k: Kind, timed: Boolean): Unit = {
      val (kind, rows, call, replay) = commitOp(c, k)
      res.attempted += 1
      try {
        val v0 = Snapshots.currentVersion(path)
        val meta0 = if (tr.on) metaBytes else 0L
        val data0 = if (tr.on) dataFiles else 0L
        val (lat, t) = tr.op(kind.name) {
          val s = System.nanoTime()
          tr.span("spatial", kind.name)(call())
          (System.nanoTime() - s) / 1e6
        }
        replay()
        // the version check and cold manifest parse sit outside the latency
        val vs = System.nanoTime()
        val v1 = tr.span("spatial", "current_version")(Snapshots.currentVersion(path))
        val versionMs = (System.nanoTime() - vs) / 1e6
        val ps = System.nanoTime()
        if (tr.on) tr.span("spatial", "read_manifest")(Snapshots.readManifest(path))
        val parseMs = (System.nanoTime() - ps) / 1e6
        if (v1 <= v0) res.fail(s"${kind.name} #$c did not advance the version ($v0 -> $v1)")
        else if (timed) {
          commits += ((Commit(kind, lat, rows, afterMaintenance, versionMs, parseMs,
            if (tr.on) dataFiles - data0 else 0L, if (tr.on) metaBytes - meta0 else 0L), tr.on))
          if (tr.on) totals.add(t)
          afterMaintenance = false
        }
      } catch {
        case e: Exception =>
          res.fail(s"${kind.name} #$c threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }

    /** Read-your-writes: a window on the newest rows, alternating between
      * catalog SQL and GeoTable.read, checked against the replay. */
    def freshRead(c: Int): Unit = {
      val r = Gen.rng(a.seed, 31, c)
      val g = model.live.get(nextId - 1 - r.nextInt(AppendRows / 2))
      if (g == null) return
      val half = 0.05 + r.nextDouble() * 0.2
      val w = Window(g.x0 - half, g.y0 - half, g.x1 + half, g.y1 + half)
      val covers = r.nextBoolean()
      val p = if (covers) s"ST_Covers(${w.env}, geom)" else s"ST_Intersects(geom, ${w.env})"
      res.attempted += 1
      try {
        val ((lat, got), _) = tr.op("fresh_read") {
          val s = System.nanoTime()
          val out = if ((c / ReadEvery) % 2 == 0)
            tr.span("sources", "fresh_read")(spark.sql(s"SELECT id FROM $Table WHERE $p").collect())
          else tr.span("spatial", "fresh_read")(GeoTable.read(spark, path).where(expr(p)).select("id").collect())
          ((System.nanoTime() - s) / 1e6, out.map(_.get(0).toString).toSeq.sorted)
        }
        val want = model.select(w, covers)
        if (got != want) res.fail(s"fresh read #$c: ${got.size} rows, replay has ${want.size}")
        else reads += lat
      } catch {
        case e: Exception =>
          res.fail(s"fresh read #$c threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }

    def maintain(): Unit = {
      res.attempted += 1
      try {
        val s = System.nanoTime()
        tr.op("maintenance")(tr.span("spatial", "maintenance") {
          Snapshots.rewriteDataFiles(spark, path)
          Snapshots.expireSnapshots(spark, path, keep = KeepVersions)
        })
        maintenance += (System.nanoTime() - s) / 1e6
        afterMaintenance = true
      } catch {
        case e: Exception =>
          res.fail(s"maintenance threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }

    def checkpoint(c: Int): Unit = {
      val vs = System.nanoTime()
      val v = Snapshots.currentVersion(path)
      val versionMs = (System.nanoTime() - vs) / 1e6
      val ps = System.nanoTime()
      val files = Snapshots.readManifest(path).size
      val parseMs = (System.nanoTime() - ps) / 1e6
      val manifests = Option(dir.listFiles()).toSeq.flatten
        .filter(f => f.getName.startsWith("_graft_manifest_v"))
      curve += Map("commits" -> c, "version" -> v, "live_files" -> files,
        "retained_versions" -> manifests.size, "dir_entries" -> Sizes.dirEntries(dir),
        "manifest_bytes" -> manifests.map(_.length).sum,
        "current_version_ms" -> versionMs, "read_manifest_ms" -> parseMs)
    }

    /** Whole cycles from commit `first` for at least `seconds`, each
      * ending with compaction and expiry; returns the next commit number. */
    def cycles(first: Int, seconds: Double, timed: Boolean): Int = {
      val seen = scala.collection.mutable.Map[Kind, Int]().withDefaultValue(0)
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var c = first
      while (c == first || System.nanoTime() < deadline || (c - 1) % CycleKinds != 0) {
        // every second commit of each kind runs untraced
        val kind = cycle((c - 1) % CycleKinds)
        tr.paused = !(timed && tr.enabled && seen(kind) % 2 == 0)
        seen(kind) += 1
        commit(c, kind, timed)
        tr.paused = !(timed && tr.enabled)
        if (c % ReadEvery == 0) freshRead(c)
        if (c % CycleKinds == CycleKinds / 2) checkpoint(c)
        if (c % CycleKinds == 0) maintain()
        c += 1
      }
      tr.paused = true
      c
    }

    // warm-up: one whole cycle, so every kind of commit, both read paths
    // and maintenance have run before timing starts
    val w0 = System.nanoTime()
    val firstTimed = cycles(1, 0, timed = false)
    val warmS = (System.nanoTime() - w0) / 1e9
    res.e2e("setup_s") = (res.info("session_start_s").asInstanceOf[Double] + buildS + warmS, "s")
    res.info("build_s") = buildS
    res.info("warmup_s") = warmS

    reads.clear()
    maintenance.clear()
    val gc0 = Jvm.gcMs
    val loop0 = System.nanoTime()
    cycles(firstTimed, a.seconds, timed = true)
    val loopS = (System.nanoTime() - loop0) / 1e9
    val gcMs = Jvm.gcMs - gc0

    // final state: the table must hold exactly the replayed rows
    res.attempted += 1
    val finalIds = GeoTable.read(spark, path).select("id", "category").collect()
      .map(r => s"${r.getLong(0)}:${r.getString(1)}").sorted.toSeq
    val wantIds = model.live.values.asScala.map(r => s"${r.id}:${r.category}").toSeq.sorted
    if (finalIds != wantIds)
      res.fail(s"final table has ${finalIds.size} rows, the op-log replay ${wantIds.size}")

    val plain = commits.collect { case (x, false) => x }.toSeq
    val traced = commits.collect { case (x, true) => x }.toSeq
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val tableBytes = Sizes.dirBytes(dir)
    if (!tr.enabled) {
      val lat = plain.map(_.latMs)
      res.e2e("p50_geomean_ms") = (Stats.geomean(
        mix.map { case (k, _) => Stats.median(plain.filter(_.kind == k).map(_.latMs)) } :+
          med(reads.toSeq)), "ms")
      // rows of one cycle over the cycle's time with every commit, read and
      // maintenance run at its median: unlike rows / wall time it is not
      // moved by a burst of CPU steal
      val cycles = plain.size.toDouble / CycleKinds
      val cycleMs = mix.map { case (k, n) => n * Stats.median(plain.filter(_.kind == k).map(_.latMs)) }.sum +
        CycleKinds / ReadEvery * med(reads.toSeq) + med(maintenance.toSeq)
      res.e2e("work_per_s") = (plain.map(_.rows).sum / cycles / cycleMs * 1000, "1/s")
      res.info("wall_rows_per_s") = plain.map(_.rows).sum / loopS
      res.named("commit_p50_ms") = (Stats.median(lat), "ms")
      Stats.tail(lat).foreach { case (p, v) =>
        res.named("commit_tail_ms") = (v, "ms")
        res.info("commit_tail_percentile") = p
        res.info("commit_tail_n") = lat.size
      }
      res.named("ingest_rows_per_s") = res.e2e("work_per_s")
      res.named("fresh_read_p50_ms") = (med(reads.toSeq), "ms")
      val plainDir = new File(a.work, "plain")
      frame(spark, model.live.values.asScala.toSeq, a.cores).write.parquet(plainDir.getPath)
      res.named("space_amp") = (tableBytes.toDouble / Sizes.dirBytes(plainDir), "ratio")
    } else {
      def kind(k: Kind) = traced.filter(_.kind == k).map(_.latMs)
      res.layer("spatial.append_ms") = (med(kind(Append)), "ms")
      res.layer("spatial.delete_ms") = (med(kind(Delete)), "ms")
      res.layer("spatial.merge_ms") = (med(kind(Merge)), "ms")
      res.layer("spatial.current_version_ms") = (med(traced.map(_.versionMs)), "ms")
      res.layer("spatial.read_manifest_ms") = (med(traced.map(_.parseMs)), "ms")
      res.layer("spatial.files_written_per_commit") =
        (Stats.mean(traced.map(_.filesWritten.toDouble)), "count")
      res.layer("spatial.manifest_bytes_per_commit") =
        (Stats.mean(traced.map(_.metaBytes.toDouble)), "bytes")
      res.layer("spatial.maintenance_ms") = (med(maintenance.toSeq), "ms")
      res.layer("spatial.first_commit_after_maintenance_ms") =
        (med(commits.collect { case (x, _) if x.afterMaintenance => x.latMs }.toSeq), "ms")
      res.layer("jvm.gc_ms_per_op") = (gcMs.toDouble / commits.size, "ms")
      res.layer("jvm.cpu_per_wall") = (totals.cpuNs / 1e6 / (traced.map(_.latMs).sum * a.cores), "ratio")
      res.layer("spatial.tasks_per_commit") = (totals.tasks.toDouble / traced.size, "count")
      res.layer("trace.overhead_ms") = (med(traced.filter(_.kind == Append).map(_.latMs)) -
        med(plain.filter(_.kind == Append).map(_.latMs)), "ms")
      res.layer("trace.bookkeeping_ms_per_op") = (tr.bookNs / 1e6 / math.max(1, traced.size), "ms")
      res.layer("spatial.metadata_bytes_frac") = (metaBytes.toDouble / tableBytes, "ratio")
      val last = curve.last
      for ((metric, key) <- Seq("spatial.live_files" -> "live_files",
          "spatial.versions" -> "retained_versions", "spatial.dir_entries" -> "dir_entries"))
        res.layer(metric) = (last(key).toString.toDouble, "count")
    }
    res.info("commits") = commits.size
    res.info("fresh_reads") = reads.size
    res.info("maintenance_runs") = maintenance.size
    res.info("live_rows") = model.live.size
    res.info("table_bytes") = tableBytes
    res.info("curve") = curve.toSeq
    res.info("manifest_memo_footprint") = manifestFootprint(path)
    res.info("manifest_memo_cap") = 262144
  }

  /** File entries across every retained manifest: what the parse memo
    * would hold if each retained version were read once. */
  def manifestFootprint(path: String): Long = {
    val vs = Option(new File(path).listFiles()).toSeq.flatten.map(_.getName)
      .filter(n => n.startsWith("_graft_manifest_v") && n.endsWith(".json"))
      .map(_.stripPrefix("_graft_manifest_v").stripSuffix(".json").toInt)
    vs.map(v => Snapshots.readManifest(path, Some(v)).size.toLong).sum
  }
}
