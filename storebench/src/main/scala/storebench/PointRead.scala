package storebench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{PointStore, SpatioTemporal, SpatioTemporalStore}
import graft.zorder.{IntRange, ZOrder, ZOrder3, ZRanges, ZRanges3}

/**
 * `point_read`: read-only requests over a skewed 2-D point store and its
 * 3-D (x, y, t) twin. Every request goes through the z-order read path:
 * codec and decomposer, the pruning rule, Parquet footer pruning and the
 * kNN probe loop. No writes, compaction, streaming or text work.
 */
final class PointRead(spark: SparkSession, seed: Long, t: Tracer) extends Workload {
  import PointRead._

  // the same order for every seed: the seed changes inputs, not structure.
  // knn_sparse, the costliest kind, is a seventh of the mix, so p90 falls
  // inside its latencies rather than on the edge between two kinds
  private val kinds = IndexedSeq("get", "range_small", "knn_dense", "range_medium",
    "range3_small", "range_large", "knn_sparse", "knn3", "range3_medium",
    "get", "range_small", "range_medium", "knn_dense", "get", "range_large",
    "knn_sparse", "range_small", "knn3", "get", "range_medium", "knn_sparse")
  val cycle: Int = kinds.size
  val cycleSeconds = 6.5
  private val spots = Gen.spots(seed, 12)
  // dense queries aim at the tightest hot spots: a random data point
  // would land in a wide spot or the uniform background a third of the
  // time, so "dense" kNN would take anywhere from one probe to five
  private val denseSpots = spots.filter(_.sigma == spots.map(_.sigma).min)

  private var pts: Gen.Points = _
  private var dir: String = _
  private var store: PointStore = _
  private var store3: SpatioTemporalStore = _
  private lazy val zkeys = Array.tabulate(N)(i => ZOrder.zorder(pts.x(i), pts.y(i)))
  private lazy val z3keys = Array.tabulate(N)(i => ZOrder3.zorder3(pts.x(i), pts.y(i), pts.t(i)))

  def inputs: Gen.Points = Gen.skewedPoints(Gen.rng(seed, "points"), spots, N, 1L)

  def setup(d: String): Unit = {
    dir = d
    pts = inputs
    val df = frame(spark, pts)
    PointStore.write(PointStore.points(df, col("id"), col("x"), col("y")), s"$d/points2", Files)
    SpatioTemporal.write(
      SpatioTemporal.points3(df, col("id"), col("x"), col("y"), col("t")), s"$d/points3", Files)
    store = PointStore.open(spark, s"$d/points2")
    store3 = SpatioTemporal.open(spark, s"$d/points3")
  }

  def storeDirs: Seq[String] = Seq(s"$dir/points2", s"$dir/points3")
  def liveRows: Long = N

  def op(i: Int): Op = {
    val r = Gen.rng(seed, s"request-$i")
    kinds(i % cycle) match {
      case "get" => get(r)
      case "range_small" => range("range_small", box2(r, 10, dense = true))
      case "range_medium" => range("range_medium", box2(r, 1000, dense = true), plain = true)
      case "range_large" => rangeCount(box2(r, N / 40, dense = false))
      case "knn_dense" => val (x, y, _) = denseQuery(r)
        knn("knn_dense", x, y)
      case "knn_sparse" => knn("knn_sparse", r.nextInt(Gen.MaxCoord), r.nextInt(Gen.MaxCoord))
      case "range3_small" => range3("range3_small", box3(r, 10))
      case "range3_medium" => range3("range3_medium", box3(r, 1000), plain = true)
      case "knn3" => val (x, y, t) = denseQuery(r)
        knn3(x, y, t)
    }
  }

  private def open2(): DataFrame = t.span("point_store.open")(store.df)
  private def open3(): DataFrame = t.span("point_store3.open")(store3.df)
  private def exec[A](layer: String, df: DataFrame)(f: DataFrame => A): A = {
    t.plan(df)
    t.span(s"$layer.exec")(f(df))
  }

  private def get(r: java.util.SplittableRandom): Op = {
    val p = r.nextInt(N)
    val (x, y) = (pts.x(p), pts.y(p))
    Op("get", read = true, () => {
      val q = PointStore.get(open2(), x, y).select("id")
      val got = exec("point_store", q)(_.collect().map(_.getLong(0)).sorted.toSeq)
      () => {
        val want = pts.id.indices.filter(i => pts.x(i) == x && pts.y(i) == y).map(pts.id(_)).sorted
        if (got == want) Right(got.size.toLong) else Left(s"get($x,$y): ids $got, want $want")
      }
    })
  }

  /** A range over the 2-D store. `plain` sends the box as a plain x/y
    * filter, so the z-key conjunct is the pruning rule's to add; otherwise
    * it goes through `rangeQuery`, which adds the conjunct itself. */
  private def range(kind: String, b: Box, plain: Boolean = false): Op =
    Op(kind, read = true, () => {
      val d = open2()
      val q = idSumFrame(
        if (plain) d.filter(boxFilter(b, withT = false)) else PointStore.rangeQuery(d, b.x, b.y))
      val got = exec("point_store", q)(idSumOf)
      () => {
        traceZ2(b, q, plain)
        val want = modelSum(i => b.holds(pts.x(i), pts.y(i)))
        if (got == want) Right(got.count) else Left(s"range $b: got $got, want $want")
      }
    })

  private def rangeCount(b: Box): Op =
    Op("range_large", read = true, () => {
      val q = PointStore.rangeQuery(open2(), b.x, b.y).agg(count(lit(1)).as("cnt"))
      val got = exec("point_store", q)(_.collect()(0).getLong(0))
      () => {
        traceZ2(b, q, plain = false)
        val want = pts.id.indices.count(i => b.holds(pts.x(i), pts.y(i))).toLong
        if (got == want) Right(got) else Left(s"rangeCount $b: got $got, want $want")
      }
    })

  private def knn(kind: String, qx: Int, qy: Int): Op =
    Op(kind, read = true, () => {
      val d = open2()
      val q = t.span("point_store.knn_probe")(PointStore.knn(d, qx, qy, K))
        .select("dist2", "id")
      val got = exec("point_store", q)(_.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
      () => {
        val want = nearest(K, i => {
          val dx = pts.x(i).toLong - qx; val dy = pts.y(i).toLong - qy
          dx * dx + dy * dy
        })
        if (got == want) Right(got.size.toLong) else Left(s"knn($qx,$qy): got $got, want $want")
      }
    })

  private def range3(kind: String, b: Box, plain: Boolean = false): Op =
    Op(kind, read = true, () => {
      val d = open3()
      val q = idSumFrame(
        if (plain) d.filter(boxFilter(b, withT = true))
        else SpatioTemporal.rangeQuery3(d, b.x, b.y, b.t))
      val got = exec("point_store3", q)(idSumOf)
      () => {
        traceZ3(b, q, plain)
        val want = modelSum(i => b.holds(pts.x(i), pts.y(i), pts.t(i)))
        if (got == want) Right(got.count) else Left(s"range3 $b: got $got, want $want")
      }
    })

  private def knn3(qx: Int, qy: Int, qt: Int): Op =
    Op("knn3", read = true, () => {
      val d = open3()
      val q = t.span("point_store3.knn_probe")(SpatioTemporal.knn3(d, qx, qy, qt, K))
        .select("dist3", "id")
      val got = exec("point_store3", q)(_.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
      () => {
        val want = nearest(K, i => {
          val dx = pts.x(i).toLong - qx; val dy = pts.y(i).toLong - qy
          val dt = pts.t(i).toLong - qt
          dx * dx + dy * dy + dt * dt
        })
        if (got == want) Right(got.size.toLong)
        else Left(s"knn3($qx,$qy,$qt): got $got, want $want")
      }
    })

  /** The model's k nearest as (dist², id), ties broken by id. */
  private def nearest(k: Int, dist: Int => Long): Seq[(Long, Long)] = {
    val d = Array.tabulate(N)(dist)
    val kth = Gen.select(d.clone(), math.min(k, N) - 1)
    pts.id.indices.filter(d(_) <= kth).map(i => (d(i), pts.id(i))).sorted.take(k)
  }

  private def modelSum(in: Int => Boolean): Workload.IdSum = {
    var s = Workload.EmptySum
    var i = 0
    while (i < N) { if (in(i)) s = s + pts.id(i); i += 1 }
    s
  }

  /** A query location within half a spread of a tightest hot spot's
    * centre (the spot's time spread is four times its spatial one). */
  private def denseQuery(r: java.util.SplittableRandom): (Int, Int, Int) = {
    val s = denseSpots(r.nextInt(denseSpots.length))
    def near(c: Int, sigma: Double) =
      math.max(0, math.min(Gen.MaxCoord, math.round(c + Gen.gaussian(r) * sigma / 2).toInt))
    (near(s.x, s.sigma), near(s.y, s.sigma), near(s.t, s.sigma * 4))
  }

  /** A box around a data point (`dense`) or a uniform location whose
    * Chebyshev radius is the model's `target`-th smallest: it holds about
    * `target` rows. */
  private def box2(r: java.util.SplittableRandom, target: Int, dense: Boolean): Box = {
    val (cx, cy) =
      if (dense) { val p = r.nextInt(N); (pts.x(p), pts.y(p)) }
      else (r.nextInt(Gen.MaxCoord), r.nextInt(Gen.MaxCoord))
    val d = Array.tabulate(N)(i => math.max(math.abs(pts.x(i) - cx), math.abs(pts.y(i) - cy)).toLong)
    val h = Gen.select(d, math.min(target, N) - 1).toInt
    Box(span(cx, h), span(cy, h), IntRange(0, Gen.MaxCoord))
  }

  private def box3(r: java.util.SplittableRandom, target: Int): Box = {
    val p = r.nextInt(N)
    val (cx, cy, ct) = (pts.x(p), pts.y(p), pts.t(p))
    val d = Array.tabulate(N)(i => math.max(math.max(math.abs(pts.x(i) - cx),
      math.abs(pts.y(i) - cy)), math.abs(pts.t(i) - ct)).toLong)
    val h = Gen.select(d, math.min(target, N) - 1).toInt
    Box(span(cx, h), span(cy, h), span(ct, h))
  }

  // --- traced-only layer measurements (run in the untimed check) ---------

  // `plans.pruning_fired` is observed on the plain-filter ranges only:
  // there the rule is what adds the key conjunct (`rangeQuery` adds its
  // own, which the rule then leaves alone).
  private def traceZ2(b: Box, q: DataFrame, plain: Boolean): Unit = t.whenTraced {
    val t0 = System.nanoTime()
    val iv = ZRanges.decompose(b.x, b.y, 16)
    t.observe("zorder.decompose_us", (System.nanoTime() - t0) / 1e3)
    t.observe("zorder.intervals", iv.size)
    falsePositives(iv, zkeys, i => b.holds(pts.x(i), pts.y(i)))
    if (plain) t.observe("plans.pruning_fired", if (Tracer.ruleAddedFilterOn(q, "zkey")) 1 else 0)
  }

  private def traceZ3(b: Box, q: DataFrame, plain: Boolean): Unit = t.whenTraced {
    val t0 = System.nanoTime()
    val iv = ZRanges3.decompose(b.x, b.y, b.t, 16)
    t.observe("zorder.decompose_us", (System.nanoTime() - t0) / 1e3)
    t.observe("zorder.intervals", iv.size)
    falsePositives(iv, z3keys, i => b.holds(pts.x(i), pts.y(i), pts.t(i)))
    if (plain) t.observe("plans.pruning_fired", if (Tracer.ruleAddedFilterOn(q, "z3")) 1 else 0)
  }

  /** Rows inside the z-intervals but outside the box, against rows inside
    * the box; the ratio of the two sums is the reported metric. */
  private def falsePositives(iv: Seq[(Long, Long)], keys: Array[Long], inBox: Int => Boolean): Unit = {
    val sorted = iv.sortBy(_._1).toArray
    val los = sorted.map(_._1)
    var inside, fp = 0L
    var i = 0
    while (i < N) {
      if (inBox(i)) inside += 1
      else {
        val j = java.util.Arrays.binarySearch(los, keys(i))
        val k = if (j >= 0) j else -j - 2
        if (k >= 0 && keys(i) <= sorted(k)._2) fp += 1
      }
      i += 1
    }
    t.observe("zorder.box_rows", inside.toDouble)
    t.observe("zorder.fp_rows", fp.toDouble)
  }
}

object PointRead {
  /** Points in each store, and the files each store is written as. */
  val N = 100000
  val Files = 16
  val K = 10

  final case class Box(x: IntRange, y: IntRange, t: IntRange) {
    def holds(px: Int, py: Int): Boolean = x.include(px) && y.include(py)
    def holds(px: Int, py: Int, pt: Int): Boolean = holds(px, py) && t.include(pt)
  }

  def span(c: Int, h: Int): IntRange =
    IntRange(math.max(0, c - h), math.min(Gen.MaxCoord, c + h))

  def frame(spark: SparkSession, p: Gen.Points): DataFrame = {
    import spark.implicits._
    spark.sparkContext
      .parallelize(p.id.indices.map(i => (p.id(i), p.x(i), p.y(i), p.t(i))),
        spark.sparkContext.defaultParallelism)
      .toDF("id", "x", "y", "t")
  }

  /** The box as plain coordinate bounds, with no z-key conjunct. */
  def boxFilter(b: Box, withT: Boolean): Column = {
    def in(c: String, r: IntRange) = col(c) >= r.min && col(c) <= r.max
    val xy = in("x", b.x) && in("y", b.y)
    if (withT) xy && in("t", b.t) else xy
  }

  def idSumFrame(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), coalesce(sum(col("id")), lit(0L)),
      coalesce(bit_xor(col("id") * lit(2654435761L)), lit(0L)))

  def idSumOf(df: DataFrame): Workload.IdSum = {
    val r = df.collect()(0)
    Workload.IdSum(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
