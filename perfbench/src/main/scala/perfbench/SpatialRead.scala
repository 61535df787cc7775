package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr, when}

import graft.functions.GeoSql
import graft.spatial.{GeoTable, Snapshots}

/** Reads against one Hilbert-clustered table: tiny lookups, 1-10% regions
  * and a region-box join, alternating between catalog SQL (the DSv2
  * `GraftScan`) and `GeoTable.read` (the V1 `GraftFileIndex`). The write
  * path does no work in the timed loop and the one manifest stays hot. */
object SpatialRead extends Workload {
  val Rows = 300000
  val Files = 100
  val WarmSeconds = 12.0
  private val RowStream = 2L
  private val Table = "graft.bench.geo"

  sealed trait Kind { def name: String }
  case object Lookup extends Kind { val name = "lookup" }
  case object Region extends Kind { val name = "region" }
  case object Join extends Kind { val name = "join" }

  /** A query and its oracle answer, as sorted "key=value" strings. `cls`
    * splits lookups into those on data and those on empty space. */
  final case class Query(kind: Kind, cls: String, sql: String,
      v1: (SparkSession, String) => DataFrame, expected: Seq[String])

  /** Per-op record of a traced run. */
  final case class Op(kind: Kind, cls: String, dsv2: Boolean, latMs: Double, openMs: Double, execMs: Double,
      phases: Map[String, Double], files: Long, scanned: Long, matches: Long, geo: Long,
      t: TaskTotals)

  def build(spark: SparkSession, model: GeoModel, path: String, cores: Int): Unit = {
    import spark.implicits._
    val gen = spark.range(0, Rows, 1, cores * 4).map(i => model.row(RowStream, i))
    val geom = when(col("x0") === col("x1") && col("y0") === col("y1"),
      GeoSql.st_point(col("x0"), col("y0")))
      .otherwise(GeoSql.st_makeenvelope(col("x0"), col("y0"), col("x1"), col("y1")))
    GeoTable.write(gen.select(col("id"), col("category"), geom.as("geom")), path, "geom",
      numFiles = Files)
  }

  private def pred(w: Window, covers: Boolean): String =
    if (covers) s"ST_Covers(${w.env}, geom)" else s"ST_Intersects(geom, ${w.env})"

  def queries(model: GeoModel, rows: Array[GeoRow], oracle: Oracle, stream: Long,
      n: Int): IndexedSeq[Query] = {
    val lookups = (0 until n).map { k =>
      val r = Gen.rng(model.seed, stream, k)
      // on data and on empty space alternate, so every cycle has both halves
      val (cx, cy) =
        if (k % 2 == 0) { val g = rows(r.nextInt(rows.length)); (g.x0, g.y0) }
        else (GeoModel.MinX + r.nextDouble() * (GeoModel.MaxX - GeoModel.MinX),
          GeoModel.EmptyMinY + r.nextDouble() * (GeoModel.EmptyMaxY - GeoModel.EmptyMinY))
      val half = 0.005 + r.nextDouble() * 0.03
      val w = Window(cx - half, cy - half, cx + half, cy + half)
      val covers = r.nextBoolean()
      val cat = if (r.nextDouble() < 0.3) Some(model.category(r)) else None
      val p = pred(w, covers) + cat.map(c => s" AND category = '$c'").getOrElse("")
      val expected = oracle.select(w, covers).filter(g => cat.forall(_ == g.category))
        .map(_.id.toString).toSeq.sorted
      Query(Lookup, if (k % 2 == 0) "lookup_data" else "lookup_empty", s"SELECT id FROM $Table WHERE $p",
        (s, path) => GeoTable.read(s, path).where(expr(p)).select("id"), expected)
    }
    // selectivity bands cycle through 1-2, 2-4, 4-7 and 7-10% of the rows
    val bands = Seq((1, 2), (2, 4), (4, 7), (7, 10))
    val regions = (0 until n / 4).map { k =>
      val r = Gen.rng(model.seed, stream + 1, k)
      val (lo, hi) = bands(k % bands.size)
      // draw windows until one selects a share of the rows in the band
      Iterator.continually {
        val (cx, cy) = model.location(r, 0.5)
        val half = math.exp(r.nextDouble() * math.log(25.0))
        Window(cx - half, cy - half * 0.6, cx + half, cy + half * 0.6)
      }.map(w => (w, oracle.select(w, covers = false).toArray))
        .find { case (_, m) => m.length >= Rows / 100 * lo && m.length <= Rows / 100 * hi }
        .map { case (w, m) =>
          val p = pred(w, covers = false)
          Query(Region, "region", s"SELECT category, count(*) AS n FROM $Table WHERE $p GROUP BY category",
            (s, path) => GeoTable.read(s, path).where(expr(p)).groupBy("category").count(),
            m.groupBy(_.category).map { case (c, g) => s"$c=${g.length}" }.toSeq.sorted)
        }.get
    }
    val joins = (0 until n / 8).map { k =>
      val r = Gen.rng(model.seed, stream + 2, k)
      val boxes = (0 until 3).map { b =>
        val (cx, cy) = model.location(r, 0.6)
        // small and large boxes alternate between joins
        val half = if (k % 2 == 0) 0.2 + r.nextDouble() * 0.3 else 0.5 + r.nextDouble() * 0.5
        b -> Window(cx - half, cy - half, cx + half, cy + half)
      }
      val values = boxes.map { case (b, w) => s"($b, ${w.env})" }.mkString(", ")
      val regionsSql = s"SELECT * FROM VALUES $values AS r(rid, geom)"
      Query(Join, "join",
        s"SELECT r.rid, count(*) AS n FROM ($regionsSql) r JOIN $Table g " +
          "ON ST_Intersects(g.geom, r.geom) GROUP BY r.rid",
        (s, path) => s.sql(regionsSql).as("r")
          .join(GeoTable.read(s, path).as("g"), expr("ST_Intersects(g.geom, r.geom)"))
          .groupBy(col("r.rid")).count(),
        boxes.map { case (b, w) => b -> oracle.select(w, covers = false).size }
          .filter(_._2 > 0).map { case (b, c) => s"$b=$c" }.sorted)
    }
    lookups ++ regions ++ joins
  }

  private def render(rows: Array[Row]): Seq[String] =
    rows.map(r => if (r.length == 1) r.get(0).toString else s"${r.get(0)}=${r.get(1)}").toSeq.sorted

  def run(spark: SparkSession, tr: Tracer, a: Args, res: Result): Unit = {
    val model = new GeoModel(a.seed)
    val path = new File(a.work, "warehouse/bench/geo").getPath
    val t0 = System.nanoTime()
    build(spark, model, path, a.cores)
    val buildS = (System.nanoTime() - t0) / 1e9

    val rows = Array.tabulate(Rows)(i => model.row(RowStream, i))
    val oracle = new Oracle(rows)
    val pool = queries(model, rows, oracle, 10, 256)
    val warm = queries(model, rows, oracle, 20, 64)
    val manifestFiles = Snapshots.readManifest(path).size

    def runOne(q: Query, dsv2: Boolean): (Seq[String], Op) = {
      val start = System.nanoTime()
      val df =
        if (dsv2) tr.span("sources", "resolve")(spark.sql(q.sql))
        else tr.span("spatial", "open")(q.v1(spark, path))
      val opened = System.nanoTime()
      val openMs = (opened - start) / 1e6
      val out = tr.span(if (dsv2) "sources" else "spatial", "exec")(df.collect())
      val end = System.nanoTime()
      tr.planPhases(df)
      val phases = tr.phaseMs(tr.currentOp)
      val scan = if (tr.on) PlanMetrics.scans(df) else PlanMetrics.Scan(0, 0)
      val got = render(out)
      val matches = if (q.kind == Lookup) out.length.toLong
        else out.map(_.getLong(1)).sum
      val planMs = phases.getOrElse("optimization", 0.0) + phases.getOrElse("planning", 0.0)
      (got, Op(q.kind, q.cls, dsv2, (end - start) / 1e6, openMs, (end - opened) / 1e6 - planMs,
        phases, scan.files, scan.rows, matches,
        if (tr.on) PlanMetrics.geoPredicates(df) else 0L, null))
    }

    def attempt(q: Query, dsv2: Boolean): Option[Op] = {
      res.attempted += 1
      try {
        val ((got, op), totals) = tr.op(q.kind.name)(runOne(q, dsv2))
        if (got != q.expected) {
          res.fail(s"${q.kind.name} mismatch (${got.size} vs ${q.expected.size} rows): ${q.sql}")
          None
        } else Some(op.copy(t = totals))
      } catch {
        case e: Exception =>
          res.fail(s"${q.kind.name} threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    }

    // fixed class mix per cycle of 20 ops, order shuffled by the seed
    val mix: Seq[(Kind, Int)] = Seq(Lookup -> 14, Region -> 4, Join -> 2)
    val cycle = new scala.util.Random(a.seed)
      .shuffle(mix.flatMap { case (k, n) => Seq.fill(n)(k) }).toIndexedSeq

    /** Whole cycles over `qs` for at least `seconds`, so every run times
      * the same class mix; returns each checked op and whether it was traced. */
    def loop(qs: IndexedSeq[Query], seconds: Double, timed: Boolean): Seq[(Op, Boolean)] = {
      val byKind = qs.groupBy(_.kind)
      val next = scala.collection.mutable.Map[Kind, Int]().withDefaultValue(0)
      val seen = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
      val ops = ArrayBuffer[(Op, Boolean)]()
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var i = 0
      while (System.nanoTime() < deadline || i % cycle.size != 0) {
        val kind = cycle(i % cycle.size)
        val q = byKind(kind)(next(kind) % byKind(kind).size)
        next(kind) += 1
        // within each query class the path flips every two queries and
        // tracing every query, so each class runs on both paths both
        // traced and untraced
        val n = seen(q.cls)
        seen(q.cls) += 1
        val dsv2 = (n / 2) % 2 == 0
        val traced = timed && tr.enabled && n % 2 == 0
        tr.paused = !traced
        attempt(q, dsv2).foreach(op => ops += ((op, traced)))
        i += 1
      }
      tr.paused = true
      ops.toSeq
    }

    // warm-up: the same mix on both read paths until the JIT has settled;
    // latencies keep falling for about the first 10-15 s of queries
    val w0 = System.nanoTime()
    loop(warm, WarmSeconds, timed = false)
    val warmS = (System.nanoTime() - w0) / 1e9
    res.e2e("setup_s") = (res.info("session_start_s").asInstanceOf[Double] + buildS + warmS, "s")
    res.info("build_s") = buildS
    res.info("warmup_s") = warmS
    val warmAttempted = res.attempted

    val gc0 = Jvm.gcMs
    val loop0 = System.nanoTime()
    val ops = loop(pool, a.seconds, timed = true)
    val loopS = (System.nanoTime() - loop0) / 1e9
    val gcMs = Jvm.gcMs - gc0
    val timed = res.attempted - warmAttempted

    def lat(k: Option[Kind], traced: Boolean) =
      ops.collect { case (o, t) if t == traced && k.forall(_ == o.kind) => o.latMs }.toSeq
    val plain = !tr.enabled
    val all = lat(None, traced = false)
    if (plain) {
      res.e2e("p50_geomean_ms") = (Stats.geomean(
        ops.collect { case (o, false) => o }.groupBy(_.cls).values.map(os => Stats.median(os.map(_.latMs).toSeq)).toSeq), "ms")
      res.named("p50_ms") = (Stats.median(all), "ms")
      // throughput of the class mix with every query at its class median:
      // unlike ops / wall time it is not moved by a burst of CPU steal
      res.e2e("work_per_s") = (cycle.size * 1000.0 /
        mix.map { case (k, n) => n * Stats.median(lat(Some(k), traced = false)) }.sum, "1/s")
      res.info("wall_queries_per_s") = timed / loopS
      for (k <- Seq(Lookup, Region, Join)) {
        val xs = lat(Some(k), traced = false)
        res.info(s"${k.name}_n") = xs.size
        res.info(s"${k.name}_ms") = xs.map(x => math.round(x * 10) / 10.0)
        if (xs.nonEmpty) res.named(s"${k.name}_p50_ms") = (Stats.median(xs), "ms")
      }
      Stats.tail(lat(Some(Lookup), traced = false)).foreach { case (p, v) =>
        res.named("lookup_tail_ms") = (v, "ms")
        res.info("lookup_tail_percentile") = p
        res.info("lookup_tail_n") = lat(Some(Lookup), traced = false).size
      }
    } else {
      val t = ops.collect { case (o, true) => o }.toSeq
      val looks = t.filter(_.kind == Lookup)
      val reads = t.filter(_.kind != Join)
      val joins = t.filter(_.kind == Join)
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      val totals = new TaskTotals
      t.foreach(o => totals.add(o.t))
      res.layer("sources.resolve_ms") = (med(t.filter(_.dsv2).map(_.openMs)), "ms")
      res.layer("spatial.open_ms") = (med(t.filterNot(_.dsv2).map(_.openMs)), "ms")
      for (p <- Seq("analysis", "optimization", "planning"))
        res.layer(s"plans.${p}_ms") = (med(t.map(_.phases.getOrElse(p, 0.0))), "ms")
      res.layer("sources.tasks_per_query") = (totals.tasks.toDouble / t.size, "count")
      res.layer("functions.geo_predicates_per_op") = (t.map(_.geo).sum.toDouble / t.size, "count")
      res.layer("spatial.files_read_frac") =
        (looks.map(_.files).sum.toDouble / (looks.size * manifestFiles), "ratio")
      res.layer("spatial.rows_scanned_per_match") =
        (reads.map(_.scanned).sum.toDouble / math.max(1L, reads.map(_.matches).sum), "ratio")
      res.layer("sources.bytes_read_per_query") = (totals.bytesRead.toDouble / t.size, "bytes")
      res.layer("sources.exec_ms") = (med(reads.map(_.execMs)), "ms")
      res.layer("spatial.join_shuffle_bytes") =
        (joins.map(_.t.shuffleWriteBytes).sum.toDouble / math.max(1, joins.size), "bytes")
      res.layer("spatial.join_exec_ms") = (med(joins.map(_.execMs)), "ms")
      res.layer("sources.dsv2_p50_ms") = (med(looks.filter(_.dsv2).map(_.latMs)), "ms")
      res.layer("spatial.v1_p50_ms") = (med(looks.filterNot(_.dsv2).map(_.latMs)), "ms")
      res.layer("jvm.gc_ms_per_op") = (gcMs.toDouble / timed, "ms")
      res.layer("jvm.cpu_per_wall") =
        (totals.cpuNs / 1e6 / (t.map(_.latMs).sum * a.cores), "ratio")
      res.layer("trace.overhead_ms") =
        (med(lat(Some(Lookup), traced = true)) - med(lat(Some(Lookup), traced = false)), "ms")
      res.layer("trace.bookkeeping_ms_per_op") = (tr.bookNs / 1e6 / t.size, "ms")
    }
    res.info("rows") = Rows
    res.info("manifest_files") = manifestFiles
    res.info("versions") = Snapshots.currentVersion(path)
    res.info("table_bytes") = Sizes.dirBytes(new File(path))
    res.info("manifest_memo_footprint") = manifestFiles.toLong * res.info("versions").asInstanceOf[Int]
    res.info("manifest_memo_cap") = 262144
    res.info("timed_ops") = timed
  }
}
