package graft.tree

import scala.collection.mutable
import scala.reflect.ClassTag
import scala.util.Random

import graft.dist.{DistanceMeasure, Distances}
import graft.prep.DeterministicSampling

/** Native Scala Proximity Tree (Lucas et al., "Proximity Forest: an
  * effective and scalable distance-based classifier for time series", 2019).
  *
  * The reference delegates this learner to aeon's `ProximityTree`
  * (reference: code/src/local_model_manager.py:15,162-192 configures only
  * `n_splitters`, `max_depth`, `min_samples_split` at code/src/config.py:22-27).
  * aeon has no JVM port, so this is a ground-up implementation of the
  * published algorithm: at every node, draw `nSplitters` candidate splits
  * (random measure from the pool + one exemplar per class present), keep
  * the candidate with the lowest weighted Gini of its induced partition,
  * and route each series to its nearest exemplar's branch.
  *
  * One grower, two row sources. [[growLevels]] builds the tree level by level;
  * per level it asks a [[RowSource]] for two statistics and tells it how to
  * route. Each statistic is a pure fold over `(label, series, node)` rows
  * with an associative merge, so a source may fold its rows in any number
  * of parts: [[fit]] folds an in-memory sequence (the local strategy, run
  * inside `mapPartitions`), `GlobalTrainer.fit` folds every partition of a
  * DataFrame and merges the partials on the driver. Every choice is a
  * function of the rows and the seed alone — exemplars are the smallest
  * content keys, counts are exact, measure draws come from one seeded RNG
  * in level order — so the same rows yield the same tree on either path.
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

  // ---- the split policy ----------------------------------------------------

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

  // ---- the level statistics: pure folds with associative merges -------------

  /** One row as the level statistics read it: (label, series, node id). */
  type Row = (Int, Array[Double], Int)

  /** A candidate split of one node: a measure and one exemplar per class
    * of the node, classes ascending; branch b is exemplar b's.
    */
  final case class Candidate(
      measureName: String,
      labels: IndexedSeq[Int],
      exemplars: IndexedSeq[Array[Double]])

  /** A node's winner, its index among the node's candidates, a child per branch. */
  final case class Split(index: Int, candidate: Candidate, childIds: IndexedSeq[Int])

  /** (node, class) -> its k smallest (key, series), and (node, candidate,
    * branch, label) -> rows: the two per-level statistics.
    */
  type Exemplars = Map[(Int, Int), Vector[(Long, Array[Double])]]
  type Scores = Map[(Int, Int, Int, Int), Long]

  /** Rows per label. Merge: [[addCounts]]. */
  def classCountsFold(rows: Iterator[Row]): Map[Int, Long] =
    rows.foldLeft(Map.empty[Int, Long])((acc, r) => acc.updated(r._1, acc.getOrElse(r._1, 0L) + 1L))

  /** The sum of two count partials. */
  def addCounts[K](a: Map[K, Long], b: Map[K, Long]): Map[K, Long] =
    b.foldLeft(a) { case (acc, (key, n)) => acc.updated(key, acc.getOrElse(key, 0L) + n) }

  /** Exemplar order: by key, then by series, so no tie depends on arrival. */
  private def before(a: (Long, Array[Double]), b: (Long, Array[Double])): Boolean =
    a._1 < b._1 || (a._1 == b._1 && java.util.Arrays.compare(a._2, b._2) < 0)

  /** Over the rows at `nodes`: (node, class) -> its k rows with the
    * smallest `DeterministicSampling.seriesKey(seed, label, series)`, as
    * (key, series) in [[before]] order. Merge: [[mergeExemplars]] — the k
    * smallest of a union are the k smallest of the parts' k smallest.
    */
  def exemplarFold(rows: Iterator[Row], nodes: Set[Int], seed: Long, k: Int): Exemplars =
    rows.filter(r => nodes(r._3)).foldLeft(Map.empty: Exemplars) { case (acc, (lbl, series, nid)) =>
      mergeExemplars(k)(acc,
        Map((nid, lbl) -> Vector((DeterministicSampling.seriesKey(seed, lbl, series), series))))
    }

  def mergeExemplars(k: Int)(a: Exemplars, b: Exemplars): Exemplars =
    b.foldLeft(a) { case (acc, (g, top)) =>
      acc.updated(g, (acc.getOrElse(g, Vector.empty) ++ top).sortWith(before).take(k))
    }

  /** Over the rows at the candidates' nodes: (node, candidate, branch,
    * label) -> rows; `record` sees each such row's branch per candidate, in
    * row order. Merge: [[addCounts]].
    */
  def scoreFold(
      rows: Iterator[Row],
      candidates: Map[Int, IndexedSeq[Candidate]],
      record: Array[Int] => Unit = _ => ()): Scores = {
    val measures = candidates.map { case (nid, cs) =>
      nid -> cs.map(c => Distances.byName(c.measureName))
    }
    val acc = mutable.HashMap.empty[(Int, Int, Int, Int), Long]
    rows.foreach { case (lbl, series, nid) =>
      candidates.get(nid).foreach { cs =>
        val branches = Array.tabulate(cs.length)(ci =>
          branchOf(measures(nid)(ci), series, cs(ci).exemplars))
        branches.indices.foreach { ci =>
          val key = (nid, ci, branches(ci), lbl)
          acc(key) = acc.getOrElse(key, 0L) + 1L
        }
        record(branches)
      }
    }
    acc.toMap
  }

  /** Where the grower's rows live, in one or more parts. Every row sits at
    * one node (the root, 0, at the start).
    */
  trait RowSource {
    /** `fold` run over each part's rows: one partial per part. */
    def partials[T: ClassTag](fold: Iterator[Row] => T): Seq[T]

    def exemplars(nodes: Set[Int], seed: Long, k: Int): Exemplars =
      partials(exemplarFold(_, nodes, seed, k)).foldLeft(Map.empty: Exemplars)(mergeExemplars(k))

    def scores(candidates: Map[Int, IndexedSeq[Candidate]]): Scores =
      partials(scoreFold(_, candidates)).foldLeft(Map.empty: Scores)(addCounts)

    /** Move each row of a split node to its winner's branch's child. */
    def route(splits: Map[Int, Split], level: Int): Unit
  }

  /** Grow one tree breadth-first, one level per step: per level, the k
    * smallest keys per (node, class) give each node's candidates (the
    * measure draws in node order, exemplar `c % size` of each class), one
    * scoring fold counts every candidate's (branch, label) rows, the
    * weighted-Gini argmin wins (first candidate on ties), and its counts
    * are its children's class histograms. An empty branch is a leaf of its
    * exemplar's class. `rootCounts` is [[classCountsFold]] over all rows;
    * `params.dataStd` must already be resolved when sampling.
    */
  def growLevels(
      source: RowSource,
      rootCounts: Map[Int, Long],
      params: Params,
      seriesLen: Int): ProximityTreeModel = {
    require(rootCounts.values.sum > 0, "cannot fit on empty data")
    val rng = new Random(params.seed)
    val pool = params.pool

    // the tree under construction
    val leaves = mutable.Map.empty[Int, Int]    // nodeId -> predicted label
    val splits = mutable.Map.empty[Int, Split]  // nodeId -> winning split
    var nextId = 1
    var open = List((0, 0)) // (nodeId, depth)
    // class histograms of the open nodes: the root's from the caller, every
    // later node's from its parent's winning scoring counts (scoring and
    // routing share one branch function, so those counts are exact)
    var hist = Map(0 -> rootCounts)
    var level = 0

    while (open.nonEmpty) {
      val depthOf = open.toMap
      val (leafNow, splitting) = open.partition { case (nid, depth) =>
        isLeaf(hist(nid), depth, params)
      }
      leafNow.foreach { case (nid, _) => leaves(nid) = majorityLabel(hist(nid)) }

      if (splitting.isEmpty) {
        open = Nil
      } else {
        val splittingIds = splitting.map(_._1)
        // W2: the k smallest content keys per (node, class) (reference:
        // global_model_manager.py:225-233 orders by unseeded rand — SURVEY
        // §4 "P3")
        val sampled = source.exemplars(splittingIds.toSet, params.seed + level, params.nSplitters)

        // candidate splits: measure + one exemplar per class
        val candidates: Map[Int, IndexedSeq[Candidate]] =
          splittingIds.map { nid =>
            val classLabels = hist(nid).keys.toIndexedSeq.sorted
            nid -> (0 until params.nSplitters).map { c =>
              val measure = drawMeasure(rng, params, pool, seriesLen)
              Candidate(measure.name, classLabels, classLabels.map { lbl =>
                val ex = sampled((nid, lbl))
                ex(c % ex.size)._2
              })
            }
          }.toMap

        // (node, cand) -> class histogram per branch
        val scores = source.scores(candidates)
        val tables: Map[(Int, Int), IndexedSeq[Map[Int, Long]]] =
          candidates.flatMap { case (nid, cs) =>
            cs.indices.map { ci =>
              val labels = cs(ci).labels
              (nid, ci) -> labels.indices.map { b =>
                labels.flatMap(lbl => scores.get((nid, ci, b, lbl)).map(lbl -> _)).toMap
              }
            }
          }

        // A5: weighted-Gini argmin per node, first candidate on ties
        val won = mutable.Map.empty[Int, Split] // this level's splits
        splittingIds.foreach { nid =>
          var best = -1; var bestG = Double.PositiveInfinity
          candidates(nid).indices.foreach { ci =>
            weightedGini(tables((nid, ci)).map(_.toSeq.sortBy(_._1).map(_._2)))
              .foreach { wg => if (wg < bestG) { bestG = wg; best = ci } }
          }
          if (best < 0) {
            leaves(nid) = majorityLabel(hist(nid))
          } else {
            val cand = candidates(nid)(best)
            val childIds = cand.labels.map { _ => val id = nextId; nextId += 1; id }
            won(nid) = Split(best, cand, childIds)
          }
        }

        if (won.nonEmpty) {
          splits ++= won
          // U2: every row of a split node moves to its child (reference:
          // global_model_manager.py:351-371)
          source.route(won.toMap, level)
          val children = for {
            (nid, s) <- won.toList
            i <- s.childIds.indices
          } yield (s.childIds(i), s.candidate.labels(i), tables((nid, s.index))(i), depthOf(nid) + 1)
          val (empty, grown) = children.partition(_._3.isEmpty)
          empty.foreach { case (cid, lbl, _, _) => leaves(cid) = lbl }
          open = grown.map { case (cid, _, _, depth) => (cid, depth) }
          hist = grown.map { case (cid, _, h, _) => cid -> h }.toMap
        } else {
          open = Nil
        }
      }
      level += 1
    }

    def build(nid: Int): PNode =
      splits.get(nid) match {
        case Some(s) =>
          PSplit(s.candidate.measureName, s.candidate.labels, s.candidate.exemplars,
            s.childIds.map(build))
        case None =>
          PLeaf(leaves(nid))
      }
    ProximityTreeModel(build(0), majorityLabel(rootCounts))
  }

  /** The in-memory row source, one part: scoring records every row's
    * branch per candidate, so routing reads the winner's and computes no
    * distance.
    */
  private final class InMemoryRows(data: IndexedSeq[Instance]) extends RowSource {
    private val node = new Array[Int](data.length)
    // the rows the last scoring pass saw, and their branch per candidate
    private var scored: IndexedSeq[Int] = IndexedSeq.empty
    private var branches: IndexedSeq[Array[Int]] = IndexedSeq.empty

    private def rows(idx: Iterator[Int]): Iterator[Row] =
      idx.map(i => (data(i).label, data(i).ts, node(i)))

    def partials[T: ClassTag](fold: Iterator[Row] => T): Seq[T] =
      Seq(fold(rows(data.indices.iterator)))

    override def scores(candidates: Map[Int, IndexedSeq[Candidate]]): Scores = {
      scored = data.indices.filter(i => candidates.contains(node(i)))
      val seen = IndexedSeq.newBuilder[Array[Int]]
      val counts = scoreFold(rows(scored.iterator), candidates, seen += _)
      branches = seen.result()
      counts
    }

    def route(splits: Map[Int, Split], level: Int): Unit =
      scored.indices.foreach { j =>
        val i = scored(j)
        splits.get(node(i)).foreach(s => node(i) = s.childIds(branches(j)(s.index)))
      }
  }

  def fit(data: IndexedSeq[Instance], params: Params): ProximityTreeModel = {
    require(data.nonEmpty, "cannot fit a ProximityTree on empty data")
    val p =
      if (params.sampleParams && java.lang.Double.isNaN(params.dataStd))
        params.copy(dataStd = valueStd(data))
      else params
    growLevels(new InMemoryRows(data),
      classCountsFold(data.iterator.map(i => (i.label, i.ts, 0))), p, data.head.ts.length)
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

  /** Bottom-up fold: `leaf` per leaf, `split` over a split's children. */
  private def walk(leaf: Int, split: IndexedSeq[Int] => Int): Int = {
    def go(n: PNode): Int = n match {
      case _: PLeaf => leaf
      case s: PSplit => split(s.children.map(go))
    }
    go(root)
  }

  def depth: Int = walk(1, 1 + _.max)
  def numLeaves: Int = walk(1, _.sum)
  def numSplits: Int = walk(0, 1 + _.sum)
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
