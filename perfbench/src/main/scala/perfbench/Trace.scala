package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** One timed call into a layer. `op` is the benchmark operation it belongs
  * to; `parent` is the enclosing span's id, -1 for an op's root. */
final case class Span(op: Long, id: Int, parent: Int, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Task metrics summed over every task of one op's Spark jobs. */
final class TaskTotals {
  var tasks = 0L
  var cpuNs = 0L
  var bytesRead = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  def add(o: TaskTotals): Unit = {
    tasks += o.tasks; cpuNs += o.cpuNs; bytesRead += o.bytesRead
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }
}

/** Attributes task metrics to the job group of the op that ran them. */
final class OpListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val ended = ConcurrentHashMap.newKeySet[Int]()
  val byGroup = new ConcurrentHashMap[String, TaskTotals]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => e.stageIds.foreach(s => stageGroup.put(s, g)))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val t = byGroup.computeIfAbsent(g, _ => new TaskTotals)
      t.synchronized {
        t.tasks += 1
        t.cpuNs += m.executorCpuTime
        t.bytesRead += m.inputMetrics.bytesRead
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Wait until the listener bus has delivered the end of every job. */
  def await(jobIds: Seq[Int]): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!jobIds.forall(ended.contains) && System.nanoTime() < deadline) Thread.sleep(1)
  }
}

/** In-memory span recorder. Disabled, every method is a pass-through, so
  * an untraced run pays nothing but the closure call. Spans are written
  * out only when the run ends. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = new ArrayBuffer[Span]()
  /** While paused a traced run records nothing: set-up is not traced, and
    * the timed loop pauses for every second op of a class so it can report
    * the difference tracing makes. */
  var paused = true
  /** Time spent in the tracer's own bookkeeping. */
  var bookNs = 0L
  private var opCount = 0L
  private var nextId = 0
  private var stack: List[Int] = Nil
  private val listener = if (enabled) Some(new OpListener) else None
  listener.foreach(spark.sparkContext.addSparkListener)
  // wall-clock ms (Spark's planning tracker) to this process's nanoTime
  private val nanoMinusWallNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private def group(o: Long) = s"perfbench-op-$o"

  /** Run one benchmark operation; returns its value and its task totals
    * (empty when untraced). All its jobs carry the op's job group. */
  def op[T](kind: String)(body: => T): (T, TaskTotals) = {
    opCount += 1
    val o = opCount
    if (!on) return (body, new TaskTotals)
    val sc = spark.sparkContext
    sc.setJobGroup(group(o), kind, interruptOnCancel = false)
    val v = try span("bench", kind)(body) finally sc.clearJobGroup()
    val t0 = System.nanoTime()
    listener.get.await(sc.statusTracker.getJobIdsForGroup(group(o)).toSeq)
    val totals = Option(listener.get.byGroup.remove(group(o))).getOrElse(new TaskTotals)
    bookNs += System.nanoTime() - t0
    (v, totals)
  }

  def on: Boolean = enabled && !paused

  def span[T](layer: String, name: String)(body: => T): T = {
    if (!on) return body
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      spans += Span(opCount, id, parent, layer, name, t0, t1)
    }
  }

  /** Add the Catalyst phases Spark timed for `df` as `plans` spans, each
    * under the innermost recorded span of this op that contains it. */
  def planPhases(df: DataFrame): Unit = if (on) {
    val t0 = System.nanoTime()
    val mine = spans.filter(_.op == opCount)
    df.queryExecution.tracker.phases.foreach { case (phase, s) =>
      val a = s.startTimeMs * 1000000L + nanoMinusWallNs
      val b = s.endTimeMs * 1000000L + nanoMinusWallNs
      val mid = (a + b) / 2
      val host = mine.filter(p => p.startNs <= mid && mid <= p.endNs)
        .sortBy(_.durNs).headOption
      host.foreach { h =>
        val id = nextId
        nextId += 1
        spans += Span(opCount, id, h.id, "plans", phase,
          math.max(a, h.startNs), math.min(b, h.endNs))
      }
    }
    bookNs += System.nanoTime() - t0
  }

  /** Per layer: total self time in ms — each span's duration minus the
    * part of it its children cover. */
  def selfMsByLayer: Map[String, Double] = {
    val kids = spans.groupBy(s => (s.op, s.parent))
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val cs = kids.getOrElse((s.op, s.id), Nil).map(c =>
          (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))).filter(c => c._2 > c._1)
          .sortBy(_._1)
        var covered = 0L
        var reach = s.startNs
        cs.foreach { case (a, b) =>
          val from = math.max(a, reach)
          if (b > from) { covered += b - from; reach = b }
        }
        (s.durNs - covered) / 1e6
      }.sum
    }
  }

  /** Phase durations in ms recorded for one op, by phase name. */
  def phaseMs(opId: Long): Map[String, Double] =
    spans.filter(s => s.op == opId && s.layer == "plans")
      .groupBy(_.name).map { case (k, v) => k -> v.map(_.durNs / 1e6).sum }

  def currentOp: Long = opCount

  def tracedOps: Int = spans.map(_.op).distinct.size

  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"op":${s.op},"id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Scan-node metrics of an executed query, read from its physical plan. */
object PlanMetrics extends AdaptiveSparkPlanHelper {
  final case class Scan(files: Long, rows: Long)

  def scans(df: DataFrame): Scan = {
    val found = collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec =>
        Scan(b.metrics.get("resultDataFiles").map(_.value).getOrElse(0L),
          b.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
      case f: FileSourceScanExec =>
        Scan(f.metrics.get("numFiles").map(_.value).getOrElse(0L),
          f.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
    }
    Scan(found.map(_.files).sum, found.map(_.rows).sum)
  }

  /** ST_* predicates (`graft.functions.GeoPredicate`) in the optimized plan. */
  def geoPredicates(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.collectWithSubqueries { case p =>
      p.expressions.map(_.collect { case g: graft.functions.GeoPredicate => g }.size).sum
    }.sum.toLong
}

/** Process-wide GC time of the JVM. */
object Jvm {
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
}
