package storebench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{PostingsStore, PointStore, VectorStore}

/** Input generation is a pure function of the seed. Every spec here runs
  * the workloads at the sizes the benchmark runs them. */
class GenSpec extends AnyFunSuite {
  private val off = new Tracer(false, null)

  private def inputs(seed: Long): Seq[String] = {
    val read = new PointRead(null, seed, off)
    val ingest = new PointIngest(null, seed, off)
    val docs = new DocServe(null, seed, off)
    Seq(
      Gen.digest(Seq(read.inputs)),
      Gen.digest(Seq(ingest.inputs, ingest.batch(3, PointIngest.BaseRows + 1L))),
      Gen.digest(docs.corpus("base", 1L, DocServe.BaseDocs) ++
        docs.corpus("batch-5", DocServe.BaseDocs + 1L, 10)))
  }

  test("the same seed gives byte-identical inputs") {
    assert(inputs(11) == inputs(11))
  }

  test("different seeds give different inputs") {
    inputs(11).zip(inputs(12)).foreach { case (a, b) => assert(a != b) }
  }
}

/** The model-based checks pass on the engine's answers and catch a wrong
  * one: each test corrupts a store behind the model's back. */
class CheckerSpec extends AnyFunSuite {
  private lazy val spark = StorebenchSpec.session
  private val off = new Tracer(false, null)

  private def results(w: Workload, from: Int, n: Int): Seq[Either[String, Long]] =
    (from until from + n).map { i =>
      val op = w.op(i)
      op.run()()
    }

  test("point_read: a store with duplicated rows fails the checks") {
    val dir = StorebenchSpec.tempDir("storebench-read")
    val w = new PointRead(spark, 5, off)
    w.setup(dir)
    assert(results(w, 0, w.cycle).forall(_.isRight))
    val pts = PointStore.points(PointRead.frame(spark, w.inputs), col("id"), col("x"), col("y"))
    PointStore.append(pts, s"$dir/points2")
    assert(results(w, w.cycle, w.cycle).exists(_.isLeft))
  }

  test("point_ingest: rows written behind the model fail the checks") {
    val dir = StorebenchSpec.tempDir("storebench-ingest")
    val w = new PointIngest(spark, 5, off)
    w.setup(dir)
    try {
      assert(results(w, 0, w.cycle).forall(_.isRight))
      val base = PointRead.frame(spark, w.inputs).withColumn("seq", lit(0L))
      PointStore.append(PointIngest.Layout.derive(base), s"$dir/store")
      assert(results(w, w.cycle, w.cycle).exists(_.isLeft))
    } finally w.close()
  }

  test("doc_serve: documents appended behind the model fail the checks") {
    val dir = StorebenchSpec.tempDir("storebench-docs")
    val w = new DocServe(spark, 5, off)
    w.setup(dir)
    assert(results(w, 0, w.cycle).forall(_.isRight))
    assert(w.finish().isEmpty)
    val extra = w.corpus("base", 100000L, 300)
    import spark.implicits._
    PostingsStore.appendBatch(extra.map(d => (d.id, d.text)).toDF("doc_id", "text"),
      s"$dir/postings", 1000L)
    VectorStore.appendBatch(extra.map(d => (d.id, d.vec.toSeq)).toDF("vec_id", "v"),
      s"$dir/vectors", 1000L)
    assert(results(w, w.cycle, w.cycle).exists(_.isLeft))
  }
}

/** Two traced runs of one seed, each in its own JVM as the benchmark
  * runs them, report the same counts on every workload. */
class DeterminismSpec extends AnyFunSuite {
  // every per-layer count; a count a workload never produces reads 0 on
  // both runs
  private val counts = Seq("zorder.intervals", "zorder.false_positive_ratio",
    "plans.pruning_fired", "point_store.knn_probe_jobs", "point_store.pending_markers",
    "streaming.files_per_batch", "streaming.store_files",
    "postings_store.rows_read_per_query", "postings_store.layers",
    "vector_store.rows_read_per_query", "vector_store.recall_at_10",
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.rows_read_per_result", "spark.files_read_per_op", "spark.input_bytes_per_op",
    "spark.shuffle_bytes_per_op")

  private def traced(workload: String, seed: Long): Map[String, Double] = {
    val work = StorebenchSpec.tempDir("storebench-trace")
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filter(a => a.startsWith("--add-opens") || a.contains("=ALL-UNNAMED") || a.startsWith("-Xmx"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ jvmArgs ++ Seq(
      "-cp", sys.props("java.class.path"), "storebench.Main", "--workload", workload,
      "--seed", seed.toString, "--seconds", "6", "--trace", "1", "--work", work)
    val out = scala.sys.process.Process(cmd).!!(scala.sys.process.ProcessLogger(_ => ()))
    implicit val formats: Formats = DefaultFormats
    val res = parse(out.trim.linesIterator.toSeq.last)
    assert((res \ "correct").extract[Boolean])
    counts.map(n => n -> (res \ "metrics" \ n \ "value").extract[Double]).toMap
  }

  private def repeats(workload: String, produced: String*): Unit = {
    val a = traced(workload, 9)
    (Seq("spark.jobs_per_op", "spark.tasks_per_op") ++ produced).foreach(n => assert(a(n) > 0, n))
    assert(traced(workload, 9) == a)
  }

  test("point_read: counts repeat exactly for a seed") {
    repeats("point_read", "zorder.intervals", "plans.pruning_fired",
      "point_store.knn_probe_jobs", "spark.input_bytes_per_op")
  }

  test("point_ingest: counts repeat exactly for a seed") {
    repeats("point_ingest", "point_store.pending_markers", "streaming.files_per_batch",
      "streaming.store_files", "spark.shuffle_bytes_per_op")
  }

  test("doc_serve: counts repeat exactly for a seed") {
    repeats("doc_serve", "postings_store.rows_read_per_query", "postings_store.layers",
      "vector_store.rows_read_per_query", "vector_store.recall_at_10")
  }
}

object StorebenchSpec {
  /** A fresh directory, deleted when the test JVM exits. */
  def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    sys.addShutdownHook(new scala.reflect.io.Directory(d).deleteRecursively())
    d.getPath
  }

  lazy val session: SparkSession =
    Main.session(StorebenchSpec.tempDir("storebench-spark"),
      Runtime.getRuntime.availableProcessors())
}
