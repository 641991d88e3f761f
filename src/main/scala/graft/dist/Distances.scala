package graft.dist

/** Time-series distance kernels (reference: code/src/distance_measures.py:16-88,
  * code/src/global_model_manager.py:60-85).
  *
  * Pure JVM code — these run inside `mapPartitions`/UDF closures on
  * executors, so they are written as tight loops over `Array[Double]` (no
  * boxing, no Breeze). The loops themselves allocate nothing; each elastic
  * call allocates its two rolling DP rows and any per-call table (WDTW
  * weights, ERP gap costs, TWE step and stiffness costs). Each kernel is a
  * [[DistanceMeasure]] so the tree learner's measure pool stays pluggable
  * (SURVEY §2.8: aeon's 11-measure pool, all of which ship here).
  */
trait DistanceMeasure extends Serializable {
  def name: String
  def apply(a: Array[Double], b: Array[Double]): Double
}

object Distances {

  /** D5 — guard semantics of the reference's fast_euclidean
    * (global_model_manager.py:60-85): null / empty / length-mismatch
    * → +Infinity instead of throwing.
    */
  @inline private def guarded(a: Array[Double], b: Array[Double])(f: => Double): Double =
    if (a == null || b == null || a.length == 0 || a.length != b.length)
      Double.PositiveInfinity
    else f

  /** The min of DP cells in `dtw`, `wdtw`, `erp` and `twe`. `math.min`
    * also orders −0.0 below 0.0, and that branch-free code costs more than
    * the rest of a DTW cell. This min returns NaN exactly when `math.min`
    * does, and it differs only on a −0.0/0.0 pair, which no DP cell holds:
    * a sum is −0.0 only when both terms are, and every cell adds a cost to
    * an earlier cell, starting from 0.0 or an absolute value. So each kernel
    * returns the same distance as with `math.min`. `msm` keeps `math.min`:
    * its split and merge costs are themselves data-dependent branches, and
    * on noisy series (white noise, or the ECG-like benchmark input) this
    * min's branch mispredicts so often that `msm` gets slower, not faster.
    */
  @inline private def min(a: Double, b: Double): Double =
    if (a <= b) a else if (b < a) b else Double.NaN

  /** D2/D5 — Euclidean (L2). */
  object Euclidean extends DistanceMeasure {
    val name = "euclidean"
    def apply(a: Array[Double], b: Array[Double]): Double = guarded(a, b) {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      math.sqrt(s)
    }
  }

  /** Squared L2 — same argmin as Euclidean, cheaper for nearest-exemplar. */
  object SquaredEuclidean extends DistanceMeasure {
    val name = "squared_euclidean"
    def apply(a: Array[Double], b: Array[Double]): Double = guarded(a, b) {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
  }

  /** D3 — Manhattan (L1) (distance_measures.py:54-70). */
  object Manhattan extends DistanceMeasure {
    val name = "manhattan"
    def apply(a: Array[Double], b: Array[Double]): Double = guarded(a, b) {
      var s = 0.0; var i = 0
      while (i < a.length) { s += math.abs(a(i) - b(i)); i += 1 }
      s
    }
  }

  /** D4 — cosine distance = 1 − cosine similarity (distance_measures.py:72-88).
    * Zero-norm input → distance 1.0 (orthogonal-by-convention, matches
    * sklearn's cosine_distances on zero vectors).
    */
  object Cosine extends DistanceMeasure {
    val name = "cosine"
    def apply(a: Array[Double], b: Array[Double]): Double = guarded(a, b) {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0.0) 1.0 else 1.0 - dot / denom
    }
  }

  /** D1 — DTW with squared local cost and sqrt at the end, matching
    * `dtaidistance.dtw.distance` (distance_measures.py:16-33). `window` is
    * the Sakoe-Chiba band half-width; `window < 0` means unconstrained.
    * O(n·m) time, O(m) space (two rolling rows). Unequal lengths allowed
    * (null/empty still guarded to +Infinity).
    */
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
      val jLo = math.max(1, i - w)
      val jHi = math.min(m, i + w)
      // the next row reads this one only on [jLo - 1, jHi + 1]. Right of the
      // band the row is still +Infinity from its allocation (the band only
      // moves right), so only the cell left of the band needs resetting
      curr(jLo - 1) = inf
      val ai = a(i - 1)
      var left = inf
      var j = jLo
      while (j <= jHi) {
        val d = ai - b(j - 1)
        left = d * d + min(prev(j), min(prev(j - 1), left))
        curr(j) = left
        j += 1
      }
      val t = prev; prev = curr; curr = t
      i += 1
    }
    math.sqrt(prev(m))
  }

  /** Full (unconstrained) DTW as a pool measure. */
  object DtwFull extends DistanceMeasure {
    val name = "dtw_full"
    def apply(a: Array[Double], b: Array[Double]): Double = dtw(a, b)
  }

  /** Windowed DTW: band half-width = fraction × series length. */
  final case class DtwWindow(fraction: Double) extends DistanceMeasure {
    val name = s"dtw_window_$fraction"
    def apply(a: Array[Double], b: Array[Double]): Double =
      dtw(a, b, math.max(1, (math.max(a.length, b.length) * fraction).toInt))
  }

  /** First-difference transform used by derivative DTW. */
  def derivative(a: Array[Double]): Array[Double] = {
    if (a == null || a.length < 2) return Array.emptyDoubleArray
    val out = new Array[Double](a.length - 1)
    var i = 1
    while (i < a.length) { out(i - 1) = a(i) - a(i - 1); i += 1 }
    out
  }

  /** Derivative DTW (pool measure from the Proximity Forest paper). */
  final case class Ddtw(fraction: Double = -1) extends DistanceMeasure {
    val name = if (fraction < 0) "ddtw_full" else s"ddtw_window_$fraction"
    def apply(a: Array[Double], b: Array[Double]): Double = {
      val da = derivative(a); val db = derivative(b)
      if (fraction < 0) dtw(da, db)
      else dtw(da, db, math.max(1, (math.max(da.length, db.length) * fraction).toInt))
    }
  }

  /** Weighted DTW (Jeong et al.): local cost scaled by a logistic weight of
    * the warp amount |i−j|; `g` controls stiffness (PF paper samples g in
    * [0,1]). Degenerates to plain DTW at g=0 up to the constant 0.5 factor.
    */
  def wdtw(a: Array[Double], b: Array[Double], g: Double): Double = {
    if (a == null || b == null || a.length == 0 || b.length == 0)
      return Double.PositiveInfinity
    val n = a.length; val m = b.length
    val half = math.max(n, m) / 2.0
    // the weight depends on the cell only through k = |i − j|
    val weight = new Array[Double](math.max(n, m))
    var k = 0
    while (k < weight.length) {
      weight(k) = 1.0 / (1.0 + math.exp(-g * (k - half)))
      k += 1
    }
    val inf = Double.PositiveInfinity
    var prev = Array.fill(m + 1)(inf)
    var curr = Array.fill(m + 1)(inf)
    prev(0) = 0.0
    var i = 1
    while (i <= n) {
      // every other cell of the row is rewritten; cell 0 still holds row 0's
      // 0.0 after the first swap
      curr(0) = inf
      val ai = a(i - 1)
      var left = inf
      var j = 1
      while (j <= m) {
        val d = ai - b(j - 1)
        left = weight(math.abs(i - j)) * d * d + min(prev(j), min(prev(j - 1), left))
        curr(j) = left
        j += 1
      }
      val t = prev; prev = curr; curr = t
      i += 1
    }
    math.sqrt(prev(m))
  }

  final case class Wdtw(g: Double) extends DistanceMeasure {
    val name = s"wdtw_$g"
    def apply(a: Array[Double], b: Array[Double]): Double = wdtw(a, b, g)
  }

  /** Weighted derivative DTW — WDTW over first differences (completes the
    * PF paper's wdtw/wddtw pair). */
  final case class Wddtw(g: Double) extends DistanceMeasure {
    val name = s"wddtw_$g"
    def apply(a: Array[Double], b: Array[Double]): Double =
      wdtw(derivative(a), derivative(b), g)
  }

  /** LCSS distance: 1 − |LCSS| / min(n, m). Points match when within
    * `epsilon`; `window` bounds the matching band (<0 = unbounded).
    */
  def lcss(a: Array[Double], b: Array[Double], epsilon: Double, window: Int = -1): Double = {
    if (a == null || b == null || a.length == 0 || b.length == 0)
      return Double.PositiveInfinity
    val n = a.length; val m = b.length
    val w = if (window < 0) math.max(n, m) else math.max(window, math.abs(n - m))
    var prev = new Array[Int](m + 1)
    var curr = new Array[Int](m + 1)
    var i = 1
    while (i <= n) {
      val jLo = math.max(1, i - w)
      val jHi = math.min(m, i + w)
      // as in dtw: only the cell left of the band needs resetting
      curr(jLo - 1) = 0
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

  final case class Lcss(epsilon: Double, window: Int = -1) extends DistanceMeasure {
    val name = s"lcss_${epsilon}_$window"
    def apply(a: Array[Double], b: Array[Double]): Double = lcss(a, b, epsilon, window)
  }

  /** ERP (Edit distance with Real Penalty, Chen & Ng): L1-style edit
    * distance where gaps cost |x − g| against the constant reference `g`.
    * A metric (satisfies triangle inequality) unlike DTW.
    */
  def erp(a: Array[Double], b: Array[Double], g: Double): Double = {
    if (a == null || b == null || a.length == 0 || b.length == 0)
      return Double.PositiveInfinity
    val n = a.length; val m = b.length
    val gapB = new Array[Double](m) // gapB(j) = |b(j) − g|
    var prev = new Array[Double](m + 1)
    var curr = new Array[Double](m + 1)
    var j = 1
    while (j <= m) {
      gapB(j - 1) = math.abs(b(j - 1) - g)
      prev(j) = prev(j - 1) + gapB(j - 1)
      j += 1
    }
    var i = 1
    while (i <= n) {
      val ai = a(i - 1)
      val gapA = math.abs(ai - g)
      var left = prev(0) + gapA
      curr(0) = left
      var jj = 1
      while (jj <= m) {
        val subst = prev(jj - 1) + math.abs(ai - b(jj - 1))
        val delA = prev(jj) + gapA
        val delB = left + gapB(jj - 1)
        left = min(subst, min(delA, delB))
        curr(jj) = left
        jj += 1
      }
      val t = prev; prev = curr; curr = t
      i += 1
    }
    prev(m)
  }

  final case class Erp(g: Double) extends DistanceMeasure {
    val name = s"erp_$g"
    def apply(a: Array[Double], b: Array[Double]): Double = erp(a, b, g)
  }

  /** TWE (Time Warp Edit, Marteau): stiffness `nu` penalizes warping,
    * `lambda` penalizes deletions. Uses unit timestamps (1..n), the aeon
    * convention for untimestamped series.
    */
  def twe(a: Array[Double], b: Array[Double], nu: Double, lambda: Double): Double = {
    if (a == null || b == null || a.length == 0 || b.length == 0)
      return Double.PositiveInfinity
    val n = a.length; val m = b.length
    // stepB(j) = |b(j) − b(j − 1)| (b(−1) = 0); stiffness(k) is the warp
    // penalty of a match at k = |i − j|
    val stepB = new Array[Double](m)
    val stiffness = new Array[Double](math.max(n, m))
    var k = 0
    while (k < stiffness.length) { stiffness(k) = nu * 2.0 * k; k += 1 }
    val inf = Double.PositiveInfinity
    var prev = Array.fill(m + 1)(inf)
    var curr = Array.fill(m + 1)(inf)
    prev(0) = 0.0
    var j = 1
    while (j <= m) {
      val bPrev = if (j >= 2) b(j - 2) else 0.0
      stepB(j - 1) = math.abs(b(j - 1) - bPrev)
      prev(j) = prev(j - 1) + stepB(j - 1) + nu + lambda
      j += 1
    }
    var i = 1
    while (i <= n) {
      val ai = a(i - 1)
      val aPrev = if (i >= 2) a(i - 2) else 0.0
      val stepA = math.abs(ai - aPrev)
      var left = prev(0) + stepA + nu + lambda
      curr(0) = left
      var jj = 1
      while (jj <= m) {
        // match: align a(i) with b(j) (+ previous-point continuity term)
        val matchPrevDiff =
          if (i >= 2 && jj >= 2) math.abs(aPrev - b(jj - 2)) else 0.0
        val mCost = prev(jj - 1) + math.abs(ai - b(jj - 1)) +
          matchPrevDiff + stiffness(math.abs(i - jj))
        // delete in a / delete in b
        val delA = prev(jj) + stepA + nu + lambda
        val delB = left + stepB(jj - 1) + nu + lambda
        left = min(mCost, min(delA, delB))
        curr(jj) = left
        jj += 1
      }
      val t = prev; prev = curr; curr = t
      i += 1
    }
    prev(m)
  }

  final case class Twe(nu: Double, lambda: Double) extends DistanceMeasure {
    val name = s"twe_${nu}_$lambda"
    def apply(a: Array[Double], b: Array[Double]): Double = twe(a, b, nu, lambda)
  }

  /** MSM (Move-Split-Merge, Stefan et al.): metric edit distance where
    * moves cost |x − y| and split/merge cost `c` (+ an alignment term).
    */
  def msm(a: Array[Double], b: Array[Double], c: Double): Double = {
    if (a == null || b == null || a.length == 0 || b.length == 0)
      return Double.PositiveInfinity
    @inline def splitMergeCost(newPoint: Double, x: Double, y: Double): Double =
      if ((x <= newPoint && newPoint <= y) || (y <= newPoint && newPoint <= x)) c
      else c + math.min(math.abs(newPoint - x), math.abs(newPoint - y))
    val n = a.length; val m = b.length
    // column 0 is never read: every row starts at column 1
    var prev = new Array[Double](m + 1)
    var curr = new Array[Double](m + 1)
    prev(1) = math.abs(a(0) - b(0))
    var j = 2
    while (j <= m) {
      prev(j) = prev(j - 1) + splitMergeCost(b(j - 1), a(0), b(j - 2))
      j += 1
    }
    // row 1 corresponds to a(0); start DP from row 2
    var i = 2
    while (i <= n) {
      val ai = a(i - 1); val aPrev = a(i - 2)
      var left = prev(1) + splitMergeCost(ai, aPrev, b(0))
      curr(1) = left
      var jj = 2
      while (jj <= m) {
        val move = prev(jj - 1) + math.abs(ai - b(jj - 1))
        val split = prev(jj) + splitMergeCost(ai, aPrev, b(jj - 1))
        val merge = left + splitMergeCost(b(jj - 1), ai, b(jj - 2))
        left = math.min(move, math.min(split, merge)) // see `min`
        curr(jj) = left
        jj += 1
      }
      val t = prev; prev = curr; curr = t
      i += 1
    }
    prev(m)
  }

  final case class Msm(c: Double) extends DistanceMeasure {
    val name = s"msm_$c"
    def apply(a: Array[Double], b: Array[Double]): Double = msm(a, b, c)
  }

  private val fixedByName: Map[String, DistanceMeasure] = {
    val fixed: Seq[DistanceMeasure] = Seq(
      Euclidean, SquaredEuclidean, Manhattan, Cosine, DtwFull,
      DtwWindow(0.1), Ddtw(-1), Ddtw(0.1),
      Wdtw(0.05), Wddtw(0.05), Lcss(0.05), Lcss(0.05, 10), Erp(0.0),
      Twe(0.005, 1.0), Msm(0.5))
    fixed.map(m => m.name -> m).toMap
  }

  /** Measure by stable name — the serialized-model vocabulary. Names carry
    * their parameters (`wdtw_0.3715…`, `lcss_0.21_35`), so any measure the
    * per-candidate sampler draws round-trips through the JSON model sink:
    * `byName(m.name) == m` for every constructible measure.
    */
  def byName(name: String): DistanceMeasure =
    fixedByName.getOrElse(name, parse(name))

  private def parse(name: String): DistanceMeasure = {
    def num(s: String): Double = s.toDouble
    name match {
      case s if s.startsWith("dtw_window_")  => DtwWindow(num(s.stripPrefix("dtw_window_")))
      case s if s.startsWith("ddtw_window_") => Ddtw(num(s.stripPrefix("ddtw_window_")))
      case "ddtw_full"                       => Ddtw(-1)
      case s if s.startsWith("wdtw_")        => Wdtw(num(s.stripPrefix("wdtw_")))
      case s if s.startsWith("wddtw_")       => Wddtw(num(s.stripPrefix("wddtw_")))
      case s if s.startsWith("lcss_") =>
        // only the two-token form is ever produced (Lcss.name always embeds
        // the window, -1 when unbounded); no one-token fallback, so a
        // malformed name fails loudly instead of parsing as a second format
        s.stripPrefix("lcss_").split('_') match {
          case Array(eps, w) => Lcss(num(eps), w.toInt)
          case _ => throw new IllegalArgumentException(s"bad lcss name: $s")
        }
      case s if s.startsWith("erp_") => Erp(num(s.stripPrefix("erp_")))
      case s if s.startsWith("twe_") =>
        s.stripPrefix("twe_").split('_') match {
          case Array(nu, lambda) => Twe(num(nu), num(lambda))
          case _ => throw new IllegalArgumentException(s"bad twe name: $s")
        }
      case s if s.startsWith("msm_") => Msm(num(s.stripPrefix("msm_")))
      case other =>
        throw new IllegalArgumentException(s"unknown distance measure: $other")
    }
  }

  /** Default measure pool for ProximityTree candidate splits — the eleven
    * Proximity-Forest-paper measure families (SURVEY §2.8: aeon's pool).
    * The paper re-samples measure PARAMETERS per splitter
    * ([[sampleMeasure]], `Params.sampleParams = true`); this fixed pool is
    * the reproducible-representative alternative (params assume
    * min-max-normalized inputs).
    */
  val defaultPool: IndexedSeq[DistanceMeasure] =
    IndexedSeq(Euclidean, DtwFull, DtwWindow(0.1), Wdtw(0.05),
      Ddtw(-1), Ddtw(0.1), Wddtw(0.05), Lcss(0.05, 10), Erp(0.0),
      Twe(0.005, 1.0), Msm(0.5))

  // Parameter grids from the Proximity Forest paper (Lucas et al. 2019,
  // §5.2.5 "similarity measures and parameter ranges"); TWE's nu/lambda and
  // MSM's c are the paper's published discrete grids, the rest are
  // continuous uniform ranges.
  private val tweNuGrid: Array[Double] =
    Array(1e-5, 1e-4, 5e-4, 1e-3, 5e-3, 1e-2, 5e-2, 0.1, 0.5, 1.0)
  private val tweLambdaGrid: Array[Double] = Array.tabulate(10)(i => i / 90.0)
  private val msmCGrid: Array[Double] =
    Array.tabulate(100)(i => 0.01 * math.pow(10000.0, i / 99.0)) // log-spaced 0.01..100

  /** Draw one measure with freshly sampled parameters — the Proximity
    * Forest paper's per-candidate-splitter parameterization:
    *   - dtw / ddtw: full window, or Sakoe-Chiba fraction ~ U(0, 0.25)
    *   - wdtw / wddtw: g ~ U(0, 1)
    *   - lcss: epsilon ~ U(sigma/5, sigma), window ~ U[0, (n+1)/4]
    *   - erp: gap value g ~ U(sigma/5, sigma)
    *   - twe: nu / lambda from the paper's 10-point grids
    *   - msm: c from the paper's 100-point exponential grid on [0.01, 100]
    * `dataStd` is the training-set value std (sigma above); `seriesLen`
    * bounds the LCSS window. Sampled measures carry their parameters in
    * their `name`, so they survive the JSON model sink: `byName(m.name)`
    * reconstructs `m` exactly.
    */
  def sampleMeasure(
      rng: scala.util.Random,
      dataStd: Double,
      seriesLen: Int): DistanceMeasure = {
    val sigma = if (java.lang.Double.isNaN(dataStd) || dataStd <= 0.0) 1.0 else dataStd
    rng.nextInt(11) match {
      case 0  => Euclidean
      case 1  => DtwFull
      case 2  => DtwWindow(rng.nextDouble() * 0.25)
      case 3  => Ddtw(-1)
      case 4  => Ddtw(rng.nextDouble() * 0.25)
      case 5  => Wdtw(rng.nextDouble())
      case 6  => Wddtw(rng.nextDouble())
      case 7 =>
        val eps = sigma / 5.0 + rng.nextDouble() * (sigma - sigma / 5.0)
        Lcss(eps, rng.nextInt(math.max(1, (seriesLen + 1) / 4) + 1))
      case 8 =>
        Erp(sigma / 5.0 + rng.nextDouble() * (sigma - sigma / 5.0))
      case 9 =>
        Twe(tweNuGrid(rng.nextInt(tweNuGrid.length)),
          tweLambdaGrid(rng.nextInt(tweLambdaGrid.length)))
      case 10 => Msm(msmCGrid(rng.nextInt(msmCGrid.length)))
    }
  }

  /** Index of the nearest exemplar under `measure`; ties break to the
    * earliest exemplar (stable, matching a sequential argmin loop).
    * Returns -1 for an empty exemplar set.
    */
  def nearestIndex(
      measure: DistanceMeasure,
      ts: Array[Double],
      exemplars: IndexedSeq[Array[Double]]): Int = {
    var best = -1; var bestD = Double.PositiveInfinity
    var i = 0
    while (i < exemplars.length) {
      val d = measure(ts, exemplars(i))
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }
}
