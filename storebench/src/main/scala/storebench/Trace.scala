package storebench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, StorebenchBridge}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark counters at one instant. */
final case class Counts(jobs: Long, stages: Long, tasks: Long, inputRows: Long,
                        inputBytes: Long, shuffleBytes: Long, taskMs: Long,
                        files: Long, gcMs: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    inputRows - o.inputRows, inputBytes - o.inputBytes, shuffleBytes - o.shuffleBytes,
    taskMs - o.taskMs, files - o.files, gcMs - o.gcMs)
}

/**
 * The benchmark's own listeners. Jobs are also counted per layer: the
 * [[Tracer]] stamps the innermost open span's name into a thread-local
 * Spark property, which every job submitted from inside that span
 * carries (`jobsByLayer`). Files read are the `numFiles` metric of every
 * executed Parquet scan, read from each finished query's final plan.
 */
final class SparkCounters extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val jobs, stages, tasks, inputRows, inputBytes, shuffleBytes, taskMs, files =
    new AtomicLong
  val jobsByLayer = new ConcurrentHashMap[String, AtomicLong]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.LayerProp)))
      .getOrElse("")
    jobsByLayer.computeIfAbsent(layer, _ => new AtomicLong).incrementAndGet()
    ()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      inputRows.addAndGet(m.inputMetrics.recordsRead)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      taskMs.addAndGet(m.executorRunTime)
    }
    ()
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val n = collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    files.addAndGet(n); ()
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def snapshot(): Counts = Counts(jobs.get, stages.get, tasks.get, inputRows.get,
    inputBytes.get, shuffleBytes.get, taskMs.get, files.get, SparkCounters.gcMs())
  def layerJobs(): Map[String, Long] =
    jobsByLayer.asScala.map { case (k, v) => k -> v.get }.toMap
}

object SparkCounters {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}

/** `durationMs` of every streaming trigger that ingested rows. */
final class StreamProgress extends StreamingQueryListener {
  val triggers = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0)
      triggers.add(e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
}

/**
 * Spans and observations of the traced run. A span is recorded around
 * each benchmark call into a layer: (name, start, end, parent, request
 * id). Spans stay in memory and are written out when the run ends. With
 * tracing off every method is a pass-through, so the untraced run makes
 * exactly the same engine calls.
 */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  import Tracer._

  /** Cleared for the untraced cycles of a traced run. */
  var active = true
  def on: Boolean = enabled && active

  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private val obs = mutable.LinkedHashMap[String, (Double, Long)]()
  var req: Long = -1L

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val s = Span(spans.size, name, req, open.headOption.map(_.id).getOrElse(-1),
        System.nanoTime(), 0L)
      spans += s
      open = s :: open
      val prev = sc.getLocalProperty(LayerProp)
      sc.setLocalProperty(LayerProp, name)
      try body
      finally {
        s.end = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(LayerProp, prev)
      }
    }

  /** Record one observation of a per-layer quantity (mean is reported). */
  def observe(metric: String, v: Double): Unit =
    if (on) {
      val (s, n) = obs.getOrElse(metric, (0.0, 0L))
      obs(metric) = (s + v, n + 1)
    }

  /** Run `body` only in the traced run (for measurements that cost work). */
  def whenTraced(body: => Unit): Unit = if (on) body

  /** Separate planning from execution: force the optimized and physical
    * plans under their own spans; the later action reuses both. */
  def plan(df: DataFrame): DataFrame = {
    if (on) {
      span("plans.optimize")(df.queryExecution.optimizedPlan)
      span("plans.physical")(df.queryExecution.executedPlan)
    }
    df
  }

  def spanNames(request: Long): Set[String] =
    spans.iterator.filter(_.req == request).map(_.name).toSet

  def mean(metric: String): Double = obs.get(metric).map { case (s, n) => s / n }.getOrElse(0.0)
  def sum(metric: String): Double = obs.get(metric).map(_._1).getOrElse(0.0)

  /** Per span name: (occurrences, total self time in ms). Self time is the
    * span's duration minus the part its child spans cover. */
  def selfTimes(): Map[String, (Long, Double)] = {
    val childNs = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> (ss.size.toLong, ss.map(s => (s.end - s.start - childNs(s.id)) / 1e6).sum)
    }
  }

  def meanSelfMs(name: String): Double =
    selfTimes().get(name).map { case (n, ms) => ms / n }.getOrElse(0.0)

  def writeSpans(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val out = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      out.println(Json.obj("name" -> s.name, "req" -> s.req, "parent" -> s.parent,
        "start_ns" -> s.start, "end_ns" -> s.end))
    } finally out.close()
  }
}

object Tracer {
  val LayerProp = "storebench.layer"

  final case class Span(id: Int, name: String, req: Long, parent: Int, start: Long,
                        var end: Long)

  def drain(spark: SparkSession): Unit = StorebenchBridge.drain(spark.sparkContext)

  /** Does the plan filter on `column`? */
  private def filtersOn(plan: LogicalPlan, column: String): Boolean =
    plan.collect { case f: Filter => f.condition.references.exists(_.name == column) }
      .contains(true)

  /** Did optimization add a filter on `column` that the query as written
    * (its analyzed plan) lacks? For a z-key column that is the pruning
    * rule's rewrite. */
  def ruleAddedFilterOn(df: DataFrame, column: String): Boolean =
    !filtersOn(df.queryExecution.analyzed, column) &&
      filtersOn(df.queryExecution.optimizedPlan, column)
}
