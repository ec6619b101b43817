package storebench

import java.util.SplittableRandom

/** Seeded input generation. Every input of a run derives from the
  * workload seed plus a fixed stream name, so one seed always gives the
  * same points, documents, embeddings, queries and mutation batches. */
object Gen {
  /** Coordinates live in [0, 2^20): inside both the 2-D codec's and the
    * 3-D codec's 21-bit domain. */
  val CoordBits = 20
  val MaxCoord: Int = (1 << CoordBits) - 1

  def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong)

  /** Points with 2-D position and a time coordinate. */
  final case class Points(id: Array[Long], x: Array[Int], y: Array[Int], t: Array[Int]) {
    def size: Int = id.length
  }

  /** Hot-spot centers shared by the data and the query generators. */
  final case class Spot(x: Int, y: Int, t: Int, sigma: Double)

  /** `n` hot spots at seeded positions. Their spreads are the same for
    * every seed (2^9 to 2^12, in turn), so seeds move the data, not its
    * density profile. */
  def spots(seed: Long, n: Int): Array[Spot] = {
    val r = rng(seed, "spots")
    Array.tabulate(n)(i => Spot(r.nextInt(MaxCoord), r.nextInt(MaxCoord), r.nextInt(MaxCoord),
      math.pow(2, 9 + i % 4)))
  }

  private def clamp(v: Double): Int = math.max(0, math.min(MaxCoord, math.round(v).toInt))

  /** Skewed points: `hotShare` of them Gaussian around the hot spots
    * (position and time), the rest uniform. Ids are `firstId` upward. */
  def skewedPoints(r: SplittableRandom, spotArr: Array[Spot], n: Int, firstId: Long,
                   hotShare: Double = 0.7): Points = {
    val p = Points(Array.tabulate(n)(i => firstId + i), new Array[Int](n), new Array[Int](n),
      new Array[Int](n))
    var i = 0
    while (i < n) {
      if (r.nextDouble() < hotShare) {
        val s = spotArr(r.nextInt(spotArr.length))
        p.x(i) = clamp(s.x + gaussian(r) * s.sigma)
        p.y(i) = clamp(s.y + gaussian(r) * s.sigma)
        p.t(i) = clamp(s.t + gaussian(r) * s.sigma * 4)
      } else {
        p.x(i) = r.nextInt(MaxCoord + 1); p.y(i) = r.nextInt(MaxCoord + 1)
        p.t(i) = r.nextInt(MaxCoord + 1)
      }
      i += 1
    }
    p
  }

  def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian of its own
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** The vocabulary word of a Zipf rank: lowercase letters only, so the
    * engine's whitespace tokenizer returns it unchanged. */
  def word(rank: Int): String = {
    val b = new StringBuilder
    var v = rank
    do { b += ('a' + v % 26).toChar; v /= 26 } while (v > 0)
    b ++= "qz"
    b.toString
  }

  /** The `k`-th smallest value of `a` (0-based); reorders `a`. */
  def select(a: Array[Long], k: Int): Long = {
    var lo = 0; var hi = a.length - 1
    while (lo < hi) {
      val pivot = a((lo + hi) >>> 1)
      var i = lo; var j = hi
      while (i <= j) {
        while (a(i) < pivot) i += 1
        while (a(j) > pivot) j -= 1
        if (i <= j) { val t = a(i); a(i) = a(j); a(j) = t; i += 1; j -= 1 }
      }
      if (k <= j) hi = j else if (k >= i) lo = i else return a(k)
    }
    a(k)
  }

  /** SHA-256 over a canonical byte rendering of generated inputs. */
  def digest(parts: Iterable[Any]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def feed(v: Any): Unit = v match {
      case a: Array[Long] => a.foreach(x => feed(x))
      case a: Array[Int] => a.foreach(x => feed(x))
      case a: Array[_] => a.foreach(feed)
      case xs: Iterable[_] => xs.foreach(feed)
      case p: Product => p.productIterator.foreach(feed)
      case x => md.update((x.toString + "\u0000").getBytes("UTF-8"))
    }
    parts.foreach(feed)
    md.digest().map("%02x".format(_)).mkString
  }
}
