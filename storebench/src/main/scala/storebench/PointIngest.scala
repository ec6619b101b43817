package storebench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.PointStore
import graft.streaming.StreamingIngest
import graft.zorder.IntRange

/**
 * `point_ingest`: the point store with writes beside reads. A streaming
 * ingest over a file source the benchmark feeds appends micro-batches;
 * equality and range tombstones delete; reads go through the live view
 * and as-of snapshots; `compactDeletes` and `recluster` run on a fixed
 * schedule. Every row carries a monotone `seq`, so markers and as-of
 * reads have a sequence to compare against.
 */
final class PointIngest(spark: SparkSession, seed: Long, t: Tracer) extends Workload {
  import PointIngest._
  import PointRead.{idSumFrame, idSumOf, span}

  // the same order for every seed: the seed changes inputs, not structure.
  // The range right after the delete reads pending markers and, like asof,
  // costs more than the other three; with three cheap ranges of five reads,
  // the read median falls inside the cheap ones, not between the two groups
  private val kinds = IndexedSeq("insert", "delete", "range", "delete_range", "asof",
    "compact", "recluster", "insert", "range", "insert", "range", "insert", "range")
  val cycle: Int = kinds.size
  val cycleSeconds = 5.0
  private val spots = Gen.spots(seed, 12)

  private var dir: String = _
  private var store: PointStore = _
  private var query: StreamingQuery = _
  private var model: Model = _
  private var seq = 0L      // last sequence number handed out
  private var foldSeq = 0L  // sequence at the last compactDeletes
  private var pendingMarkers = 0L
  private var nextId = 0L
  private var fileNo = 0

  private def storePath = s"$dir/store"
  private def statsPath = s"$dir/stats"
  private def sourceDir = s"$dir/source"

  def inputs: Gen.Points = Gen.skewedPoints(Gen.rng(seed, "base"), spots, BaseRows, 1L)

  /** The micro-batch that request `i` inserts, with ids from `firstId`. */
  def batch(i: Int, firstId: Long): Gen.Points =
    Gen.skewedPoints(Gen.rng(seed, s"batch-$i"), spots, BatchRows, firstId)

  def setup(d: String): Unit = {
    dir = d
    val base = inputs
    model = new Model
    model.add(base, 0L)
    seq = 0L; foldSeq = 0L; pendingMarkers = 0L; fileNo = 0
    nextId = base.size + 1L
    val df = PointRead.frame(spark, base).withColumn("seq", lit(0L))
    PointStore.write(Layout.derive(df), storePath, 8)
    new File(sourceDir).mkdirs()
    query = StreamingIngest.start(
      spark.readStream.schema(SourceSchema).csv(sourceDir),
      storePath, statsPath, s"$dir/checkpoint", SplitThreshold, Layout)
    store = PointStore.open(spark, storePath)
  }

  override def discard(): Unit = if (query != null) {
    query.stop()
    query = null
  }

  def storeDirs: Seq[String] =
    Seq(storePath, s"$storePath.tombstones", s"$storePath.rangetombs", statsPath)
  def liveRows: Long = model.live

  def op(i: Int): Op = {
    val r = Gen.rng(seed, s"request-$i")
    kinds(i % cycle) match {
      case "insert" => insert(i)
      case "range" => range(box(r))
      case "asof" => asof(box(r), foldSeq + r.nextLong(seq - foldSeq + 1))
      case "delete" => delete(r)
      case "delete_range" => deleteRange(r)
      case "compact" => compact()
      case "recluster" => recluster()
    }
  }

  private def insert(i: Int): Op = {
    seq += 1
    val s = seq
    val pts = batch(i, nextId)
    nextId += BatchRows
    fileNo += 1
    val csv = pts.id.indices.map(j => s"${pts.id(j)},${pts.x(j)},${pts.y(j)},$s")
      .mkString("", "\n", "\n")
    val name = f"batch-$fileNo%06d.csv"
    val before = if (t.on) ingestFiles() else Set.empty[String]
    Op("insert", read = false, () => {
      t.span("source.write") {
        // hidden name first: the file source never sees a partial file
        val tmp = new File(sourceDir, s".$name.tmp").toPath
        Files.write(tmp, csv.getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, new File(sourceDir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
      }
      t.span("streaming.process")(query.processAllAvailable())
      () => {
        model.add(pts, s)
        t.whenTraced(t.observe("streaming.files_per_batch", (ingestFiles() -- before).size))
        Right(BatchRows.toLong)
      }
    })
  }

  private def range(b: PointRead.Box): Op =
    Op("range", read = true, () => {
      val live = t.span("point_store.open")(store.live(SeqCols))
      val q = idSumFrame(PointStore.rangeQuery(live, b.x, b.y))
      t.plan(q)
      val got = t.span("point_store.exec")(idSumOf(q))
      () => {
        traceReadState()
        val want = model.sum(i => model.deadAt(i) == Long.MaxValue && b.holds(model.x(i), model.y(i)))
        if (got == want) Right(got.count) else Left(s"range $b: got $got, want $want")
      }
    })

  private def asof(b: PointRead.Box, bound: Long): Op =
    Op("asof", read = true, () => {
      val snap = t.span("point_store.open")(store.snapshotAsOf(SeqCols, Seq(lit(bound))))
      val q = idSumFrame(PointStore.rangeQuery(snap, b.x, b.y))
      t.plan(q)
      val got = t.span("point_store.exec")(idSumOf(q))
      () => {
        traceReadState()
        val want = model.sum(i => model.seq(i) <= bound && model.deadAt(i) > bound &&
          b.holds(model.x(i), model.y(i)))
        if (got == want) Right(got.count) else Left(s"asof $bound $b: got $got, want $want")
      }
    })

  private def delete(r: java.util.SplittableRandom): Op = {
    seq += 1
    val s = seq
    val victims = (0 until 20).map(_ => model.randomLive(r)).filter(_ >= 0).distinct
    val rows = victims.map(i => (model.id(i), model.x(i), model.y(i), s))
    Op("delete", read = false, () => {
      import spark.implicits._
      t.span("point_store.delete")(store.delete(rows.toDF("id", "x", "y", "seq")))
      () => {
        victims.foreach(model.kill(_, s))
        pendingMarkers += rows.size
        Right(rows.size.toLong)
      }
    })
  }

  private def deleteRange(r: java.util.SplittableRandom): Op = {
    seq += 1
    val s = seq
    val c = model.randomLive(r)
    val (cx, cy) = if (c >= 0) (model.x(c), model.y(c)) else (0, 0)
    val d = Array.tabulate(model.size)(i =>
      math.max(math.abs(model.x(i) - cx), math.abs(model.y(i) - cy)).toLong)
    val h = Gen.select(d, math.min(30, model.size) - 1).toInt
    val (rx, ry) = (span(cx, h), span(cy, h))
    Op("delete_range", read = false, () => {
      import spark.implicits._
      t.span("point_store.delete")(store.deleteRange(
        Seq((rx.min, rx.max, ry.min, ry.max, s)).toDF("xmin", "xmax", "ymin", "ymax", "seq")))
      () => {
        val before = model.live
        for (i <- 0 until model.size if rx.include(model.x(i)) && ry.include(model.y(i)))
          model.kill(i, s)
        pendingMarkers += 1
        Right(before - model.live)
      }
    })
  }

  private def compact(): Op =
    Op("compact", read = false, () => {
      t.span("point_store.compact")(store.compactDeletes(SeqCols))
      () => {
        model.dropDead()
        foldSeq = seq
        pendingMarkers = 0
        Right(model.live)
      }
    })

  private def recluster(): Op =
    Op("recluster", read = false, () => {
      t.span("streaming.recluster")(
        StreamingIngest.recluster(spark, storePath, SplitThreshold, Layout))
      () => Right(model.live)
    })

  private def box(r: java.util.SplittableRandom): PointRead.Box = {
    val p = r.nextInt(model.size)
    val (cx, cy) = (model.x(p), model.y(p))
    val d = Array.tabulate(model.size)(i =>
      math.max(math.abs(model.x(i) - cx), math.abs(model.y(i) - cy)).toLong)
    val h = Gen.select(d, math.min(1000, model.size) - 1).toInt
    PointRead.Box(span(cx, h), span(cy, h), IntRange(0, Gen.MaxCoord))
  }

  private def dataFiles(): Array[String] =
    Option(new File(storePath).list()).getOrElse(Array.empty[String])
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_"))

  private def ingestFiles(): Set[String] = dataFiles().filter(_.startsWith("ingest-")).toSet

  private def traceReadState(): Unit = t.whenTraced {
    t.observe("point_store.pending_markers", pendingMarkers.toDouble)
    t.observe("streaming.store_files", dataFiles().length.toDouble)
  }
}

object PointIngest {
  val BaseRows = 50000
  /** Points per inserted micro-batch. */
  val BatchRows = 1000
  /** Rows at which the ingest splits a store file. */
  val SplitThreshold = 20000L
  val SeqCols = Seq("seq")

  val SourceSchema: StructType = StructType(Seq(StructField("id", LongType),
    StructField("x", IntegerType), StructField("y", IntegerType), StructField("seq", LongType)))

  /** The 2-D point layout with the `seq` column carried through. */
  val Layout: StreamingIngest.IngestLayout = StreamingIngest.IngestLayout(
    keyCol = "zkey",
    derive = b => PointStore.points(b, col("id"), col("x"), col("y"), Seq(col("seq"))),
    write = (pts, path, parts) => PointStore.write(pts, path, parts))

  /** The benchmark's model of the store: every row ever written and not
    * yet folded away, with the sequence of the marker that killed it. */
  final class Model {
    var size = 0
    var id = new Array[Long](1024)
    var x = new Array[Int](1024)
    var y = new Array[Int](1024)
    var seq = new Array[Long](1024)
    var deadAt = new Array[Long](1024)
    var live = 0L

    private def grow(to: Int): Unit = if (to > id.length) {
      val c = math.max(to, id.length * 2)
      id = java.util.Arrays.copyOf(id, c); x = java.util.Arrays.copyOf(x, c)
      y = java.util.Arrays.copyOf(y, c); seq = java.util.Arrays.copyOf(seq, c)
      deadAt = java.util.Arrays.copyOf(deadAt, c)
    }

    def add(p: Gen.Points, s: Long): Unit = {
      grow(size + p.size)
      p.id.indices.foreach { j =>
        id(size) = p.id(j); x(size) = p.x(j); y(size) = p.y(j); seq(size) = s
        deadAt(size) = Long.MaxValue
        size += 1
      }
      live += p.size
    }

    def kill(i: Int, s: Long): Unit = if (deadAt(i) == Long.MaxValue) {
      deadAt(i) = s
      live -= 1
    }

    def randomLive(r: java.util.SplittableRandom): Int = {
      var tries = 0
      while (tries < 64) {
        val i = r.nextInt(size)
        if (deadAt(i) == Long.MaxValue) return i
        tries += 1
      }
      -1
    }

    def sum(in: Int => Boolean): Workload.IdSum = {
      var s = Workload.EmptySum
      var i = 0
      while (i < size) { if (in(i)) s = s + id(i); i += 1 }
      s
    }

    def dropDead(): Unit = {
      var w = 0
      for (i <- 0 until size if deadAt(i) == Long.MaxValue) {
        id(w) = id(i); x(w) = x(i); y(w) = y(i); seq(w) = seq(i); deadAt(w) = deadAt(i)
        w += 1
      }
      size = w
      live = w
    }
  }
}
