package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run reports. `e2e` metrics come from untraced runs only;
  * `layer` metrics only from traced runs; `info` records sizes, the
  * chosen tail percentile and the like. Every value carries its unit. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val layer = mutable.LinkedHashMap[String, (Double, String)]()
  /** Per-workload user-facing metrics (lookup_p50_ms, commit_p50_ms, ...),
    * from untraced runs; printed and recorded but not gated. */
  val named = mutable.LinkedHashMap[String, (Double, String)]()
  val info = mutable.LinkedHashMap[String, Any]()

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what.linesIterator.take(1).mkString.take(400)
  }
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, cores: Int,
    work: File, out: File) {
  def traceFile: File = new File(out, s"trace-$workload-$seed.jsonl")
}

trait Workload {
  /** Builds inputs and warms up (timed as set-up), then runs the timed
    * closed loop and fills `r`. */
  def run(spark: SparkSession, tracer: Tracer, a: Args, r: Result): Unit
}

/** Benchmark entry: one process, one `local[cores]` session, one client.
  * Prints `PERFBENCH_RESULT <json>` as its last line. */
object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("cores").toInt, new File(kv("work")).getAbsoluteFile, new File(kv("out")).getAbsoluteFile)
    val workload: Workload = a.workload match {
      case "spatial_read" => SpatialRead
      case "ingest_commit" => IngestCommit
      case "curate_corpus" => CurateCorpus
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val spark = session(a)
    val parallelism = spark.sparkContext.defaultParallelism
    require(parallelism == a.cores,
      s"asked for local[${a.cores}] but the session runs $parallelism task slots")
    val r = new Result
    r.info("master") = spark.sparkContext.master
    r.info("seed") = a.seed
    r.info("seconds") = a.seconds
    r.info("session_start_s") = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val tracer = new Tracer(spark, a.trace)
    try workload.run(spark, tracer, a, r)
    catch {
      case e: Throwable =>
        r.fail(s"workload aborted: $e")
        e.printStackTrace()
    }
    if (a.trace) {
      tracer.write(a.traceFile)
      tracer.selfMsByLayer.foreach { case (layer, ms) =>
        r.layer(s"$layer.self_ms_per_op") = (ms / math.max(1, tracer.tracedOps), "ms")
      }
    }
    println("PERFBENCH_RESULT " + Json.result(r))
    System.out.flush()
    spark.stop()
  }

  def session(a: Args): SparkSession = {
    val wh = new File(a.work, "warehouse")
    SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(a.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(a.work, "spark-warehouse").getPath)
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", wh.getPath)
      // the repository's own drivers size the generated-class cache to a
      // multi-query workload; the benchmark runs the same session shape
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
  }
}

/** Minimal JSON writer for the result line. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def any(v: Any): String = v match {
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${any(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(any).mkString("[", ",", "]")
    case (x: Double, u: String) => s"""{"value":${num(x)},"unit":${str(u)}}"""
    case other => str(other.toString)
  }

  def result(r: Result): String = any(mutable.LinkedHashMap[String, Any](
    "attempted" -> r.attempted, "failed" -> r.failed, "failures" -> r.failures.toSeq,
    "e2e" -> r.e2e, "layer" -> r.layer, "named" -> r.named, "info" -> r.info))
}
