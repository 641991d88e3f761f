package graft.dist

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

/** Kernel fixtures from the reference's dummy_partition
  * (code/src/distance_measures.py:91-110) + distance axioms checked over
  * seeded random series (deterministic, no framework dependency).
  */
class DistancesSpec extends AnyFunSuite {
  import Distances._

  private val ts1 = Array(1.0, 2.0, 3.0, 4.0)
  private val ex1a = Array(1.0, 2.0, 2.0, 3.0)
  private val ex1b = Array(2.0, 3.0, 4.0, 5.0)
  private val ts2 = Array(5.0, 4.0, 3.0, 2.0)
  private val ex2a = Array(5.0, 5.0, 4.0, 3.0)
  private val ex2b = Array(3.0, 3.0, 2.0, 1.0)

  test("manhattan matches reference dummy_partition values") {
    assert(Manhattan(ts1, ex1a) === 2.0)
    assert(Manhattan(ts1, ex1b) === 4.0)
    assert(Manhattan(ts2, ex2a) === 3.0)
    assert(Manhattan(ts2, ex2b) === 5.0)
  }

  test("euclidean matches hand-computed values") {
    assert(math.abs(Euclidean(ts1, ex1a) - math.sqrt(2.0)) < 1e-12)
    assert(math.abs(Euclidean(ts1, ex1b) - 2.0) < 1e-12)
    assert(math.abs(Euclidean(ts2, ex2a) - math.sqrt(3.0)) < 1e-12)
    assert(math.abs(Euclidean(ts2, ex2b) - math.sqrt(7.0)) < 1e-12)
  }

  test("cosine is 0 for parallel, 1 for orthogonal / zero vectors") {
    assert(math.abs(Cosine(Array(1.0, 2.0), Array(2.0, 4.0))) < 1e-12)
    assert(math.abs(Cosine(Array(1.0, 0.0), Array(0.0, 1.0)) - 1.0) < 1e-12)
    assert(Cosine(Array(0.0, 0.0), Array(1.0, 1.0)) === 1.0)
  }

  test("dtw of identical series is 0; shifted constant is sqrt-sum-of-squares") {
    assert(dtw(Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0)) === 0.0)
    // all-diagonal path, cost 1 per step
    assert(math.abs(dtw(Array(0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0)) - math.sqrt(3.0)) < 1e-12)
  }

  test("dtw warps: shifted spike aligns to zero cost") {
    val a = Array(0.0, 1.0, 0.0, 0.0, 0.0)
    val b = Array(0.0, 0.0, 1.0, 0.0, 0.0)
    assert(dtw(a, b) === 0.0) // perfect warp alignment
    assert(Euclidean(a, b) > 0.0)
  }

  test("dtw handles unequal lengths; guards return +inf") {
    assert(dtw(Array(1.0, 2.0), Array(1.0, 1.5, 2.0)).isFinite)
    assert(Euclidean(Array(1.0), Array(1.0, 2.0)).isPosInfinity)
    assert(Euclidean(null, Array(1.0)).isPosInfinity)
    assert(dtw(null, Array(1.0)).isPosInfinity)
    assert(dtw(Array.emptyDoubleArray, Array(1.0)).isPosInfinity)
  }

  private def randomSeries(rng: Random, n: Int): Array[Double] =
    Array.fill(n)(rng.nextDouble() * 200 - 100)

  test("wdtw/lcss/erp/twe/msm hand checks") {
    // identical series cost 0 under every edit/warp measure
    val s = Array(0.1, 0.5, 0.9, 0.3)
    assert(wdtw(s, s, 0.05) === 0.0)
    assert(lcss(s, s, 0.01) === 0.0)
    assert(erp(s, s, 0.0) === 0.0)
    assert(twe(s, s, 0.005, 1.0) === 0.0)
    assert(msm(s, s, 0.5) === 0.0)
    // lcss: within-epsilon series match fully -> distance 0
    assert(lcss(Array(0.0, 0.5), Array(0.04, 0.54), epsilon = 0.05) === 0.0)
    // lcss: nothing matches -> distance 1
    assert(lcss(Array(0.0, 0.0), Array(1.0, 1.0), epsilon = 0.1) === 1.0)
    // erp with g=0: deleting against zero costs |x|; ([1],[ ]) impossible so
    // compare ([1,2],[1]) = cost of deleting the 2 against g=0
    assert(erp(Array(1.0, 2.0), Array(1.0), 0.0) === 2.0)
    // msm: single move costs |x-y|
    assert(msm(Array(1.0), Array(3.0), 0.5) === 2.0)
    // erp is a metric: triangle inequality on seeded trials
    val rng = new Random(5)
    (1 to 100).foreach { _ =>
      val n = 2 + rng.nextInt(10)
      val x = randomSeries(rng, n); val y = randomSeries(rng, n); val z = randomSeries(rng, n)
      assert(erp(x, z, 0.0) <= erp(x, y, 0.0) + erp(y, z, 0.0) + 1e-9)
      assert(msm(x, z, 0.5) <= msm(x, y, 0.5) + msm(y, z, 0.5) + 1e-9)
    }
  }

  test("property: symmetry and identity for all measures (200 seeded trials)") {
    val rng = new Random(7)
    val measures = Seq(Euclidean, SquaredEuclidean, Manhattan, Cosine, DtwFull,
      DtwWindow(0.1), Ddtw(-1), Wdtw(0.05), Wddtw(0.05), Lcss(0.05), Erp(0.0),
      Twe(0.005, 1.0), Msm(0.5))
    (1 to 200).foreach { _ =>
      val n = 2 + rng.nextInt(24)
      val a = randomSeries(rng, n)
      val b = randomSeries(rng, n)
      measures.foreach { m =>
        assert(math.abs(m(a, b) - m(b, a)) < 1e-9, s"${m.name} not symmetric")
        assert(m(a, a) < 1e-9, s"${m.name} identity violated")
      }
    }
  }

  test("property: dtw <= euclidean on equal lengths; windowed dtw >= full dtw") {
    val rng = new Random(11)
    (1 to 200).foreach { _ =>
      val n = 2 + rng.nextInt(24)
      val a = randomSeries(rng, n)
      val b = randomSeries(rng, n)
      assert(dtw(a, b) <= Euclidean(a, b) + 1e-9)
      assert(dtw(a, b, window = 1) >= dtw(a, b) - 1e-9)
    }
  }

  test("property: triangle-ish sanity — metric measures satisfy triangle inequality") {
    val rng = new Random(13)
    (1 to 200).foreach { _ =>
      val n = 2 + rng.nextInt(16)
      val a = randomSeries(rng, n)
      val b = randomSeries(rng, n)
      val c = randomSeries(rng, n)
      assert(Euclidean(a, c) <= Euclidean(a, b) + Euclidean(b, c) + 1e-9)
      assert(Manhattan(a, c) <= Manhattan(a, b) + Manhattan(b, c) + 1e-9)
    }
  }

  test("nearestIndex picks the argmin with earliest-wins ties") {
    val ex = IndexedSeq(Array(0.0, 0.0), Array(1.0, 1.0), Array(0.0, 0.0))
    assert(nearestIndex(Euclidean, Array(0.1, 0.1), ex) === 0)
    assert(nearestIndex(Euclidean, Array(1.0, 1.0), ex) === 1)
    assert(nearestIndex(Euclidean, Array(5.0, 5.0), IndexedSeq.empty) === -1)
  }

  // ---- fast kernels vs. their reference twins (ReferenceKernels below) ----

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  /** Seeded pairs: lengths 1–40 (1–3 on about 1 in 8 series), unequal
    * lengths on about 10 % of pairs, values on a coarse grid on 1 pair in 5
    * so equal cells and ties occur, and `poison` cells per series (up to
    * that many) set to NaN, +Infinity or −Infinity.
    */
  private def twinPairs(seed: Long, count: Int, poison: Int): Seq[(Array[Double], Array[Double])] = {
    val rng = new Random(seed)
    def len(): Int = if (rng.nextInt(8) == 0) 1 + rng.nextInt(3) else 4 + rng.nextInt(37)
    def series(n: Int, grid: Boolean): Array[Double] = {
      val s = Array.fill(n)(if (grid) rng.nextInt(4) / 4.0 else rng.nextDouble())
      (0 until rng.nextInt(poison + 1)).foreach { _ =>
        s(rng.nextInt(n)) = rng.nextInt(3) match {
          case 0 => Double.NaN
          case 1 => Double.PositiveInfinity
          case _ => Double.NegativeInfinity
        }
      }
      s
    }
    (1 to count).map { _ =>
      val n = len()
      val m = if (rng.nextInt(10) == 0) len() else n
      val grid = rng.nextInt(5) == 0
      (series(n, grid), series(m, grid))
    }
  }

  /** Every pair under one measure drawn by `sampleMeasure` and rebuilt by
    * `byName`, plus `dtw` and `lcss` on a band from −1 (unbounded) to twice
    * the longer length; returns (measure name, new, reference) triples.
    */
  private def twinResults(pairs: Seq[(Array[Double], Array[Double])], seed: Long): Seq[(String, Double, Double)] = {
    val rng = new Random(seed)
    pairs.flatMap { case (a, b) =>
      val m = byName(sampleMeasure(rng, 0.3, a.length).name)
      val w = rng.nextInt(2 * math.max(a.length, b.length) + 2) - 1
      val eps = rng.nextDouble() * 0.5
      Seq(
        (m.name, m(a, b), ReferenceKernels(m, a, b)),
        (s"dtw band $w", dtw(a, b, w), ReferenceKernels.dtw(a, b, w)),
        (s"lcss band $w", lcss(a, b, eps, w), ReferenceKernels.lcss(a, b, eps, w)))
    }
  }

  test("elastic kernels equal their reference twins bit for bit (3,000 sampled measures)") {
    val pairs = twinPairs(101L, 3000, poison = 0)
    val results = twinResults(pairs, 202L)
    val diffs = results.filter { case (_, got, ref) => bits(got) != bits(ref) }
    assert(diffs.isEmpty, s"${diffs.size} differ, first: ${diffs.take(5).mkString("; ")}")
    // all 11 sampled families (name minus its parameters), about 270 pairs each
    val families = results.map(_._1).filterNot(_.contains(" band "))
      .groupBy(_.replaceAll("_[-0-9.E]+", "")).map { case (f, ns) => f -> ns.size }
    assert(families.keySet === Set("euclidean", "dtw_full", "dtw_window", "ddtw_full",
      "ddtw_window", "wdtw", "wddtw", "lcss", "erp", "twe", "msm"), families)
    assert(families.values.forall(_ >= 150), families)
    // short series, unequal lengths and bands at or past the series length occur
    assert(pairs.count { case (a, _) => a.length <= 3 } > 200)
    assert(pairs.count { case (a, b) => a.length != b.length } > 200)
    assert(pairs.zip(results.filter(_._1.startsWith("dtw band "))).count { case ((a, b), (n, _, _)) =>
      n.stripPrefix("dtw band ").toInt >= math.max(a.length, b.length)
    } > 1000)
  }

  test("elastic kernels equal their reference twins on NaN and ±Infinity cells") {
    val results = twinResults(twinPairs(303L, 3000, poison = 3), 404L)
    // NaN exactly where the reference gives NaN (doubleToLongBits makes
    // every NaN one value), equal bits everywhere else
    val diffs = results.filter { case (_, got, ref) => bits(got) != bits(ref) }
    assert(diffs.isEmpty, s"${diffs.size} differ, first: ${diffs.take(5).mkString("; ")}")
    assert(results.count(_._3.isNaN) > 1000)
    assert(results.count(r => !r._3.isNaN && r._3.isInfinite) > 100)
  }

  test("dtw/wdtw/erp/twe/msm return NaN for a NaN input value") {
    val a = Array(0.1, Double.NaN, 0.3, 0.7)
    val b = Array(0.2, 0.4, 0.5, 0.9)
    Seq[(String, (Array[Double], Array[Double]) => Double)](
      "dtw" -> ((x, y) => dtw(x, y)),
      "dtw band 1" -> ((x, y) => dtw(x, y, 1)),
      "wdtw" -> ((x, y) => wdtw(x, y, 0.05)),
      "erp" -> ((x, y) => erp(x, y, 0.0)),
      "twe" -> ((x, y) => twe(x, y, 0.005, 1.0)),
      "msm" -> ((x, y) => msm(x, y, 0.5))).foreach { case (name, f) =>
      assert(f(a, b).isNaN, name)
      assert(f(b, a).isNaN, s"$name, swapped")
    }
  }
}

/** The elastic kernels before the branchy `min`, the per-call tables and
  * the band-only row resets, kept verbatim: the fast kernels in
  * [[Distances]] must return the same bits.
  */
private object ReferenceKernels {
  import Distances._

  def apply(m: DistanceMeasure, a: Array[Double], b: Array[Double]): Double = m match {
    case Euclidean => Euclidean(a, b) // not an elastic kernel
    case DtwFull => dtw(a, b)
    case DtwWindow(fraction) =>
      dtw(a, b, math.max(1, (math.max(a.length, b.length) * fraction).toInt))
    case Ddtw(fraction) =>
      val da = derivative(a); val db = derivative(b)
      if (fraction < 0) dtw(da, db)
      else dtw(da, db, math.max(1, (math.max(da.length, db.length) * fraction).toInt))
    case Wdtw(g) => wdtw(a, b, g)
    case Wddtw(g) => wdtw(derivative(a), derivative(b), g)
    case Lcss(epsilon, window) => lcss(a, b, epsilon, window)
    case Erp(g) => erp(a, b, g)
    case Twe(nu, lambda) => twe(a, b, nu, lambda)
    case Msm(c) => msm(a, b, c)
    case other => throw new IllegalArgumentException(s"no reference for ${other.name}")
  }

  def dtw(a: Array[Double], b: Array[Double], window: Int = -1): Double = {
    if (a == null || b == null || a.length == 0 || b.length == 0)
      return Double.PositiveInfinity
    val n = a.length; val m = b.length
    val w =
      if (window < 0) math.max(n, m)
      else math.max(window, math.abs(n - m)) // band must reach the corner
    val inf = Double.PositiveInfinity
    var prev = Array.fill(m + 1)(inf)
    var curr = Array.fill(m + 1)(inf)
    prev(0) = 0.0
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(curr, inf)
      val jLo = math.max(1, i - w)
      val jHi = math.min(m, i + w)
      var j = jLo
      while (j <= jHi) {
        val d = a(i - 1) - b(j - 1)
        val cost = d * d
        val best = math.min(prev(j), math.min(prev(j - 1), curr(j - 1)))
        curr(j) = cost + best
        j += 1
      }
      val t = prev; prev = curr; curr = t
      i += 1
    }
    math.sqrt(prev(m))
  }
  def wdtw(a: Array[Double], b: Array[Double], g: Double): Double = {
    if (a == null || b == null || a.length == 0 || b.length == 0)
      return Double.PositiveInfinity
    val n = a.length; val m = b.length
    val half = math.max(n, m) / 2.0
    val inf = Double.PositiveInfinity
    var prev = Array.fill(m + 1)(inf)
    var curr = Array.fill(m + 1)(inf)
    prev(0) = 0.0
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(curr, inf)
      var j = 1
      while (j <= m) {
        val d = a(i - 1) - b(j - 1)
        val w = 1.0 / (1.0 + math.exp(-g * (math.abs(i - j) - half)))
        val cost = w * d * d
        curr(j) = cost + math.min(prev(j), math.min(prev(j - 1), curr(j - 1)))
        j += 1
      }
      val t = prev; prev = curr; curr = t
      i += 1
    }
    math.sqrt(prev(m))
  }
  def lcss(a: Array[Double], b: Array[Double], epsilon: Double, window: Int = -1): Double = {
    if (a == null || b == null || a.length == 0 || b.length == 0)
      return Double.PositiveInfinity
    val n = a.length; val m = b.length
    val w = if (window < 0) math.max(n, m) else math.max(window, math.abs(n - m))
    var prev = new Array[Int](m + 1)
    var curr = new Array[Int](m + 1)
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(curr, 0)
      val jLo = math.max(1, i - w)
      val jHi = math.min(m, i + w)
      var j = jLo
      while (j <= jHi) {
        curr(j) =
          if (math.abs(a(i - 1) - b(j - 1)) <= epsilon) prev(j - 1) + 1
          else math.max(prev(j), curr(j - 1))
        j += 1
      }
      val t = prev; prev = curr; curr = t
      i += 1
    }
    // running max isn't kept by the banded recurrence; prev(m) is the LCSS
    // of the full sequences, which is what the distance uses
    1.0 - prev(m).toDouble / math.min(n, m)
  }
  def erp(a: Array[Double], b: Array[Double], g: Double): Double = {
    if (a == null || b == null || a.length == 0 || b.length == 0)
      return Double.PositiveInfinity
    val n = a.length; val m = b.length
    var prev = new Array[Double](m + 1)
    var curr = new Array[Double](m + 1)
    var j = 1
    prev(0) = 0.0
    while (j <= m) { prev(j) = prev(j - 1) + math.abs(b(j - 1) - g); j += 1 }
    var i = 1
    while (i <= n) {
      curr(0) = prev(0) + math.abs(a(i - 1) - g)
      var jj = 1
      while (jj <= m) {
        val subst = prev(jj - 1) + math.abs(a(i - 1) - b(jj - 1))
        val delA = prev(jj) + math.abs(a(i - 1) - g)
        val delB = curr(jj - 1) + math.abs(b(jj - 1) - g)
        curr(jj) = math.min(subst, math.min(delA, delB))
        jj += 1
      }
      val t = prev; prev = curr; curr = t
      i += 1
    }
    prev(m)
  }
  def twe(a: Array[Double], b: Array[Double], nu: Double, lambda: Double): Double = {
    if (a == null || b == null || a.length == 0 || b.length == 0)
      return Double.PositiveInfinity
    val n = a.length; val m = b.length
    val inf = Double.PositiveInfinity
    var prev = Array.fill(m + 1)(inf)
    var curr = Array.fill(m + 1)(inf)
    prev(0) = 0.0
    var j = 1
    while (j <= m) {
      val bPrev = if (j >= 2) b(j - 2) else 0.0
      prev(j) = prev(j - 1) + math.abs(b(j - 1) - bPrev) + nu + lambda
      j += 1
    }
    var i = 1
    while (i <= n) {
      val aPrev = if (i >= 2) a(i - 2) else 0.0
      curr(0) = prev(0) + math.abs(a(i - 1) - aPrev) + nu + lambda
      var jj = 1
      while (jj <= m) {
        val bPrev = if (jj >= 2) b(jj - 2) else 0.0
        // match: align a(i) with b(j) (+ previous-point continuity term)
        val matchPrevDiff =
          if (i >= 2 && jj >= 2) math.abs(a(i - 2) - b(jj - 2)) else 0.0
        val mCost = prev(jj - 1) + math.abs(a(i - 1) - b(jj - 1)) +
          matchPrevDiff + nu * 2.0 * math.abs(i - jj)
        // delete in a / delete in b
        val delA = prev(jj) + math.abs(a(i - 1) - aPrev) + nu + lambda
        val delB = curr(jj - 1) + math.abs(b(jj - 1) - bPrev) + nu + lambda
        curr(jj) = math.min(mCost, math.min(delA, delB))
        jj += 1
      }
      val t = prev; prev = curr; curr = t
      i += 1
    }
    prev(m)
  }
  def msm(a: Array[Double], b: Array[Double], c: Double): Double = {
    if (a == null || b == null || a.length == 0 || b.length == 0)
      return Double.PositiveInfinity
    @inline def splitMergeCost(newPoint: Double, x: Double, y: Double): Double =
      if ((x <= newPoint && newPoint <= y) || (y <= newPoint && newPoint <= x)) c
      else c + math.min(math.abs(newPoint - x), math.abs(newPoint - y))
    val n = a.length; val m = b.length
    var prev = new Array[Double](m + 1)
    var curr = new Array[Double](m + 1)
    prev(0) = 0.0
    var j = 1
    prev(1) = math.abs(a(0) - b(0))
    while (j <= m) {
      if (j >= 2) prev(j) = prev(j - 1) + splitMergeCost(b(j - 1), a(0), b(j - 2))
      j += 1
    }
    // row 1 corresponds to a(0); start DP from row 2
    var i = 2
    while (i <= n) {
      curr(0) = Double.PositiveInfinity
      curr(1) = prev(1) + splitMergeCost(a(i - 1), a(i - 2), b(0))
      var jj = 2
      while (jj <= m) {
        val move = prev(jj - 1) + math.abs(a(i - 1) - b(jj - 1))
        val split = prev(jj) + splitMergeCost(a(i - 1), a(i - 2), b(jj - 1))
        val merge = curr(jj - 1) + splitMergeCost(b(jj - 1), a(i - 1), b(jj - 2))
        curr(jj) = math.min(move, math.min(split, merge))
        jj += 1
      }
      val t = prev; prev = curr; curr = t
      i += 1
    }
    prev(m)
  }
}
