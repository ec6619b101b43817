package storebench

import java.io.File

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * The store benchmark: one closed-loop client drives one workload against
 * the engine's public store APIs and prints its metrics as JSON.
 *
 * {{{
 * Main --workload <point_read|point_ingest|doc_serve> --seed <n> --seconds <s>
 *      --trace <0|1> --work <dir>
 * }}}
 *
 * Untraced (`--trace 0`): the stores are set up [[SetupRuns]] times (the
 * median is `setup_s`), one untimed cycle warms up, then a whole
 * number of schedule cycles is timed: `--seconds` divided by the
 * workload's nominal cycle time, at least one. The count never depends
 * on measured speed, so every run of a seed sends the same requests and
 * a faster engine is not given more work. Checking an answer against the
 * model happens between requests and is not timed.
 *
 * Traced (`--trace 1`): one set-up, the same warm-up, then one traced
 * cycle and one untraced cycle. The request count is fixed, so the
 * per-layer counts repeat exactly for a seed; the two cycles' rates give
 * the tracing overhead.
 *
 * The last stdout line is `{"correct", "attempted", "failed", "metrics"}`;
 * the line before it carries per-request-kind latencies and run details.
 */
object Main {
  val SetupRuns = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"))
  }

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("storebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val work = new File(args.work).getAbsoluteFile
    work.mkdirs()
    val t0 = System.nanoTime()
    val spark = session(work.getPath, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val lines = new Run(spark, args, cores, work).execute(sessionS)
      lines.foreach(println)
    } finally spark.stop()
  }
}

/** One benchmark run: set-up, warm-up, measured requests, report. */
final class Run(spark: SparkSession, args: Main.Args, cores: Int, work: File) {
  private val counters = new SparkCounters
  private val progress = new StreamProgress
  private val tracer = new Tracer(args.trace, spark.sparkContext)
  private val w = Workload(args.workload, spark, args.seed, tracer)

  private val latencies = mutable.ArrayBuffer[(String, Boolean, Double)]()  // kind, read, ms
  private var attempted, failed = 0L
  private var next = 0
  // traced-run accumulators
  private var readRowsRead, readResultRows = 0L
  private var tracedMs, untracedMs = 0.0
  private var tracedOps, untracedOps = 0L
  private var taskMs = 0L

  def execute(sessionS: Double): Seq[String] = {
    if (args.trace) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
      spark.streams.addListener(progress)
    }
    val setups = (1 to (if (args.trace) 1 else Main.SetupRuns)).map { k =>
      if (k > 1) w.discard()
      val dir = new File(work, s"stores-$k").getPath
      val s0 = System.nanoTime()
      w.setup(dir)
      (System.nanoTime() - s0) / 1e9
    }
    // warm-up is a whole cycle: with one request of each kind, doc_serve's
    // latencies spread two to four times wider across seeds
    (0 until w.cycle).foreach(_ => request(timed = false, traced = false))
    if (args.trace) {
      Tracer.drain(spark)
      progress.triggers.clear()
      for (traced <- Seq(true, false); _ <- 0 until w.cycle)
        request(timed = true, traced = traced)
    } else {
      val cycles = math.max(1, math.round(args.seconds / w.cycleSeconds).toInt)
      for (_ <- 0 until cycles * w.cycle) request(timed = true, traced = false)
    }
    val finalFailures =
      try w.finish() catch { case e: Exception => Seq(s"final check threw $e") }
    finalFailures.foreach(f => System.err.println(s"storebench: check failed: $f"))
    failed += finalFailures.size
    val details = detailLine(sessionS, setups)
    val result = Json.obj("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics(setups))
    w.close()
    if (args.trace) {
      tracer.writeSpans(new File(work.getParentFile,
        s"traces/${args.workload}-seed${args.seed}.spans.jsonl"))
      spark.sparkContext.removeSparkListener(counters)
      spark.listenerManager.unregister(counters)
      spark.streams.removeListener(progress)
    }
    Seq(details, result)
  }

  /** Send request `next`, check it, record it. */
  private def request(timed: Boolean, traced: Boolean): Unit = {
    val i = next
    next += 1
    tracer.active = traced
    tracer.req = i
    val op = w.op(i)
    val before = if (tracer.on) {
      Tracer.drain(spark)
      Some((counters.snapshot(), counters.layerJobs()))
    } else None
    attempted += 1
    val t0 = System.nanoTime()
    var ms = 0.0
    val res =
      try {
        val check = op.run()
        ms = (System.nanoTime() - t0) / 1e6
        check()
      } catch {
        case e: Exception =>
          ms = (System.nanoTime() - t0) / 1e6
          Left(s"threw $e")
      }
    res.left.foreach { why =>
      failed += 1
      System.err.println(s"storebench: request $i (${op.kind}) failed: $why")
    }
    if (timed) latencies += ((op.kind, op.read, ms))
    if (tracer.enabled && timed) {
      if (traced) { tracedMs += ms; tracedOps += 1 } else { untracedMs += ms; untracedOps += 1 }
    }
    before.foreach { case (c0, jobs0) =>
      Tracer.drain(spark)
      val d = counters.snapshot() - c0
      tracer.observe("spark.jobs_per_op", d.jobs.toDouble)
      tracer.observe("spark.stages_per_op", d.stages.toDouble)
      tracer.observe("spark.tasks_per_op", d.tasks.toDouble)
      tracer.observe("spark.files_read_per_op", d.files.toDouble)
      tracer.observe("spark.input_bytes_per_op", d.inputBytes.toDouble)
      tracer.observe("spark.shuffle_bytes_per_op", d.shuffleBytes.toDouble)
      tracer.observe("spark.gc_ms_per_op", d.gcMs.toDouble)
      taskMs += d.taskMs
      op.rowsMetric.foreach(m => tracer.observe(m, d.inputRows.toDouble))
      val jobs1 = counters.layerJobs()
      tracer.spanNames(i).foreach { n =>
        tracer.observe(s"${n}_jobs", (jobs1.getOrElse(n, 0L) - jobs0.getOrElse(n, 0L)).toDouble)
      }
      if (op.read) {
        readRowsRead += d.inputRows
        readResultRows += res.getOrElse(0L)
      }
    }
    tracer.active = true
  }

  private def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return 0.0
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  private def storeBytes: Long = {
    def size(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)
      else if (f.getName.endsWith(".crc")) 0L
      else f.length()
    w.storeDirs.map(d => size(new File(d))).sum
  }

  private def peakRssMb: Double = {
    val status = new File("/proc/self/status")
    if (!status.exists()) return Runtime.getRuntime.totalMemory() / 1048576.0
    val src = scala.io.Source.fromFile(status)
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  private def metrics(setups: Seq[Double]): Map[String, Map[String, Any]] = {
    def m(unit: String, v: Double) = Map("value" -> v, "unit" -> unit)
    val all = latencies.map(_._3).toSeq
    val reads = latencies.filter(_._2).map(_._3).toSeq
    if (!args.trace) ListMap(
      "setup_s" -> m("s", median(setups)),
      "ops_per_s" -> m("1/s", all.size / (all.sum / 1000.0)),
      "op_p50_ms" -> m("ms", median(all)),
      "op_p90_ms" -> m("ms", percentile(all, 0.9)),
      "read_p50_ms" -> m("ms", median(reads)),
      "store_bytes_per_row" -> m("bytes", storeBytes.toDouble / math.max(1L, w.liveRows)),
      "peak_rss_mb" -> m("MB", peakRssMb))
    else {
      Tracer.drain(spark)
      progress.triggers.forEach { d =>
        tracer.observe("streaming.trigger_ms", d.getOrElse("triggerExecution", 0L).toDouble)
        tracer.observe("streaming.add_batch_ms", d.getOrElse("addBatch", 0L).toDouble)
        tracer.observe("streaming.wal_commit_ms", d.getOrElse("walCommit", 0L).toDouble)
        tracer.observe("streaming.query_planning_ms", d.getOrElse("queryPlanning", 0L).toDouble)
      }
      val derived = Map(
        "zorder.false_positive_ratio" ->
          tracer.sum("zorder.fp_rows") / math.max(1.0, tracer.sum("zorder.box_rows")),
        "spark.rows_read_per_result" -> readRowsRead.toDouble / math.max(1L, readResultRows),
        "spark.task_time_ratio" -> taskMs / math.max(1e-9, tracedMs * cores),
        "trace.traced_ops_per_s" -> tracedOps / math.max(1e-9, tracedMs / 1000.0),
        "trace.untraced_ops_per_s" -> untracedOps / math.max(1e-9, untracedMs / 1000.0))
      val self = tracer.selfTimes()
      ListMap(PerLayer.Metrics.map { case (name, unit) =>
        val v = derived.getOrElse(name,
          if (name.endsWith("_ms") && self.contains(name.stripSuffix("_ms")))
            tracer.meanSelfMs(name.stripSuffix("_ms"))
          else tracer.mean(name))
        name -> m(unit, v)
      }: _*)
    }
  }

  private def detailLine(sessionS: Double, setups: Seq[Double]): String = {
    val byKind = latencies.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, xs) =>
      val ms = xs.map(_._3).toSeq
      k -> ListMap("n" -> ms.size, "p50_ms" -> median(ms), "p90_ms" -> percentile(ms, 0.9))
    }
    val spans = tracer.selfTimes().toSeq.sortBy(_._1).map { case (n, (c, ms)) =>
      n -> ListMap("count" -> c, "self_ms" -> ms)
    }
    Json.render(ListMap[String, Any](
      "details" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
      "cores" -> cores, "session_s" -> sessionS, "setup_runs_s" -> setups,
      "timed_requests" -> latencies.size, "attempted" -> attempted, "failed" -> failed,
      "error_rate" -> failed.toDouble / math.max(1L, attempted)) ++ w.details ++ ListMap(
      "requests" -> ListMap(byKind: _*), "spans" -> ListMap(spans: _*)))
  }
}
