package graft.tree

import scala.collection.mutable
import scala.util.Random

import graft.dist.{DistanceMeasure, Distances}

/** Native Scala Proximity Tree (Lucas et al., "Proximity Forest: an
  * effective and scalable distance-based classifier for time series", 2019).
  *
  * The reference delegates this learner to aeon's `ProximityTree`
  * (reference: code/src/local_model_manager.py:15,162-192 configures only
  * `n_splitters`, `max_depth`, `min_samples_split` at code/src/config.py:22-27).
  * aeon has no JVM port, so this is a ground-up implementation of the
  * published algorithm: at every node, draw `nSplitters` candidate splits
  * (random measure from the pool + one random exemplar per class present),
  * keep the candidate with the lowest weighted Gini of its induced
  * partition, and route each series to its nearest exemplar's branch.
  *
  * The learner is deliberately Spark-free: it trains inside
  * `mapPartitions` closures (local path), and its split policy is the one
  * the distributed level-synchronous trainer applies (global path).
  */
object ProximityTree {

  /** One training series. */
  final case class Instance(ts: Array[Double], label: Int)

  /** `sampleParams = true` switches candidate draws from the fixed
    * representative pool to per-candidate parameter sampling
    * ([[Distances.sampleMeasure]], the Proximity Forest paper's scheme).
    * `dataStd` feeds the lcss/erp sampling ranges; leave NaN to have the
    * trainer compute it from the training values.
    */
  final case class Params(
      nSplitters: Int = 5,
      maxDepth: Int = -1, // -1 = unlimited
      minSamplesSplit: Int = 2,
      poolNames: Seq[String] = Distances.defaultPool.map(_.name),
      seed: Long = 42L,
      sampleParams: Boolean = false,
      dataStd: Double = Double.NaN) {
    def pool: IndexedSeq[DistanceMeasure] =
      poolNames.map(Distances.byName).toIndexedSeq
  }

  /** Bound on root-to-leaf steps when routing a series for prediction. */
  private[tree] val MaxPredictDepth = 1000

  def gini(counts: Iterable[Long]): Double = {
    val total = counts.sum.toDouble
    if (total == 0) 0.0
    else 1.0 - counts.map(c => (c / total) * (c / total)).sum
  }

  // ---- the split policy both trainers share --------------------------------
  // ProximityTree.grow applies it to in-memory instances; GlobalTrainer.fit
  // applies it to the class counts its Spark aggregates return.

  /** A node becomes a leaf when it is pure, holds fewer than
    * `minSamplesSplit` rows, or sits at the depth cap.
    */
  def isLeaf(classCounts: Map[Int, Long], depth: Int, params: Params): Boolean =
    classCounts.size <= 1 || classCounts.values.sum < params.minSamplesSplit ||
      (params.maxDepth >= 0 && depth >= params.maxDepth)

  /** The most frequent label; ties go to the smallest label. */
  def majorityLabel(classCounts: Map[Int, Long]): Int =
    classCounts.maxBy { case (lbl, n) => (n, -lbl) }._1

  /** One candidate's measure: a parameter draw scaled by `params.dataStd`
    * when `sampleParams` is set, else a uniform pick from the fixed pool.
    */
  def drawMeasure(
      rng: Random,
      params: Params,
      pool: IndexedSeq[DistanceMeasure],
      seriesLen: Int): DistanceMeasure =
    if (params.sampleParams) Distances.sampleMeasure(rng, params.dataStd, seriesLen)
    else pool(rng.nextInt(pool.length))

  /** The branch a series takes at a split: its nearest exemplar.
    * `nearestIndex` yields -1 when every distance is +Infinity (empty or
    * length-mismatched series under aligned measures); such series take
    * branch 0, so no row is stranded at a split node.
    */
  def branchOf(
      measure: DistanceMeasure,
      ts: Array[Double],
      exemplars: IndexedSeq[Array[Double]]): Int = {
    val b = Distances.nearestIndex(measure, ts, exemplars)
    if (b < 0) 0 else b
  }

  /** Weighted Gini of a candidate split, from its class counts per branch
    * (branches in exemplar order; the caller fixes the class order, which
    * sets the summation order). None when fewer than two branches are
    * non-empty: such a candidate separates nothing.
    */
  def weightedGini(branchClassCounts: IndexedSeq[Iterable[Long]]): Option[Double] = {
    val sizes = branchClassCounts.map(_.sum)
    if (sizes.count(_ > 0) < 2) None
    else {
      val n = sizes.sum.toDouble
      Some(branchClassCounts.indices.map { b =>
        if (sizes(b) == 0) 0.0 else (sizes(b) / n) * gini(branchClassCounts(b))
      }.sum)
    }
  }

  private def classCounts(data: Seq[Instance]): Map[Int, Long] =
    data.groupMapReduce(_.label)(_ => 1L)(_ + _)

  /** Std of every value in the training matrix — sigma for the lcss/erp
    * parameter-sampling ranges (PF paper: epsilon, g ~ U(sigma/5, sigma)).
    */
  def valueStd(data: IndexedSeq[Instance]): Double = {
    var s = 0.0; var s2 = 0.0; var n = 0L
    data.foreach { inst =>
      val ts = inst.ts; var i = 0
      while (i < ts.length) { val v = ts(i); s += v; s2 += v * v; n += 1; i += 1 }
    }
    if (n == 0) 1.0
    else {
      val mean = s / n
      math.sqrt(math.max(0.0, s2 / n - mean * mean))
    }
  }

  def fit(data: IndexedSeq[Instance], params: Params): ProximityTreeModel = {
    require(data.nonEmpty, "cannot fit a ProximityTree on empty data")
    val p =
      if (params.sampleParams && java.lang.Double.isNaN(params.dataStd))
        params.copy(dataStd = valueStd(data))
      else params
    val rng = new Random(p.seed)
    val pool = p.pool
    val root = grow(data, depth = 0, p, pool, rng)
    ProximityTreeModel(root, majorityLabel(classCounts(data)))
  }

  private def grow(
      data: IndexedSeq[Instance],
      depth: Int,
      params: Params,
      pool: IndexedSeq[DistanceMeasure],
      rng: Random): PNode = {
    val counts = classCounts(data)
    if (isLeaf(counts, depth, params)) return PLeaf(majorityLabel(counts))

    bestSplit(data, params, pool, rng) match {
      case None => PLeaf(majorityLabel(counts))
      case Some(split) =>
        val children = split.branches.zipWithIndex.map { case (branchData, i) =>
          if (branchData.isEmpty)
            // empty branch: predict the exemplar's own class
            PLeaf(split.exemplarLabels(i))
          else grow(branchData, depth + 1, params, pool, rng)
        }
        PSplit(split.measure.name, split.exemplarLabels, split.exemplars, children)
    }
  }

  private final case class CandidateSplit(
      measure: DistanceMeasure,
      exemplarLabels: IndexedSeq[Int],
      exemplars: IndexedSeq[Array[Double]],
      branches: IndexedSeq[IndexedSeq[Instance]],
      weightedGini: Double)

  /** Draw `nSplitters` candidates; return the lowest-weighted-Gini one that
    * actually separates the data (at least two non-empty branches). None if
    * every candidate is degenerate.
    */
  private def bestSplit(
      data: IndexedSeq[Instance],
      params: Params,
      pool: IndexedSeq[DistanceMeasure],
      rng: Random): Option[CandidateSplit] = {
    val byLabel = data.groupBy(_.label).toSeq.sortBy(_._1)
    var best: Option[CandidateSplit] = None
    var k = 0
    while (k < params.nSplitters) {
      val measure = drawMeasure(rng, params, pool, data.head.ts.length)
      val chosen = byLabel.map { case (lbl, insts) =>
        (lbl, insts(rng.nextInt(insts.size)).ts)
      }
      val exemplarLabels = chosen.map(_._1).toIndexedSeq
      val exemplars = chosen.map(_._2).toIndexedSeq
      val buckets = Array.fill(exemplars.length)(mutable.ArrayBuffer.empty[Instance])
      data.foreach(inst => buckets(branchOf(measure, inst.ts, exemplars)) += inst)
      weightedGini(buckets.toIndexedSeq.map(_.groupBy(_.label).map(_._2.size.toLong)))
        .foreach { wg =>
          if (best.forall(_.weightedGini > wg))
            best = Some(CandidateSplit(measure, exemplarLabels, exemplars,
              buckets.map(_.toIndexedSeq).toIndexedSeq, wg))
        }
      k += 1
    }
    best
  }
}

/** Tree nodes — a serializable sum type (JSON codec in [[ModelJson]]). */
sealed trait PNode extends Serializable
final case class PLeaf(label: Int) extends PNode
final case class PSplit(
    measureName: String,
    exemplarLabels: IndexedSeq[Int],
    exemplars: IndexedSeq[Array[Double]],
    children: IndexedSeq[PNode]) extends PNode

/** A fitted model that labels one series: a tree or a forest. */
trait SeriesClassifier extends Serializable {
  def predictOne(ts: Array[Double]): Int
}

/** A fitted Proximity Tree. `majority` is the whole-training-set majority
  * class, used as the prediction fallback (reference:
  * code/src/global_model_manager.py:475 coalesce).
  */
final case class ProximityTreeModel(root: PNode, majority: Int) extends SeriesClassifier {

  /** Route a series root→leaf by nearest exemplar at each split.
    * Depth-guarded like the reference traversal UDF (MAX_DEPTH=50 at
    * code/src/global_model_manager.py:430); the guard falls back to the
    * majority class rather than looping.
    */
  def predictOne(ts: Array[Double]): Int = {
    var node = root
    var steps = 0
    while (steps < ProximityTree.MaxPredictDepth) {
      node match {
        case PLeaf(lbl) => return lbl
        case PSplit(m, _, exemplars, children) =>
          val measure = Distances.byName(m)
          val idx = Distances.nearestIndex(measure, ts, exemplars)
          if (idx < 0) return majority
          node = children(idx)
      }
      steps += 1
    }
    majority
  }

  def depth: Int = {
    def d(n: PNode): Int = n match {
      case _: PLeaf => 1
      case s: PSplit => 1 + s.children.map(d).max
    }
    d(root)
  }

  def numLeaves: Int = {
    def c(n: PNode): Int = n match {
      case _: PLeaf => 1
      case s: PSplit => s.children.map(c).sum
    }
    c(root)
  }

  def numSplits: Int = {
    def c(n: PNode): Int = n match {
      case _: PLeaf => 0
      case s: PSplit => 1 + s.children.map(c).sum
    }
    c(root)
  }
}

/** A fitted forest: majority vote, optionally weighted by per-tree OOB
  * accuracy (reference: code/src/local_model_manager.py:133-146 weighted
  * predict_proba monkey-patch — here weighting is a constructor flag).
  */
final case class ProximityForestModel(
    trees: IndexedSeq[ProximityTreeModel],
    weights: IndexedSeq[Double],
    useWeighting: Boolean) extends SeriesClassifier {
  require(trees.nonEmpty, "forest needs at least one tree")
  require(trees.length == weights.length, "one weight per tree")

  def predictOne(ts: Array[Double]): Int = {
    val votes = mutable.Map.empty[Int, Double]
    var i = 0
    while (i < trees.length) {
      val lbl = trees(i).predictOne(ts)
      val w = if (useWeighting) weights(i) else 1.0
      votes(lbl) = votes.getOrElse(lbl, 0.0) + w
      i += 1
    }
    // deterministic tie-break: highest vote mass, then smallest label
    votes.toSeq.maxBy { case (lbl, v) => (v, -lbl) }._1
  }
}
