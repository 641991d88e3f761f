package graft.tree

import java.math.{BigDecimal => JBigDecimal}

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
  * One grower, two row sources. [[growLevels]] builds the tree level by level
  * over a [[RowSource]], which only folds its rows and rewrites them: the
  * grower's own rewrites record each row's branch per candidate (scoring)
  * and move it to its winner's branch (routing), so both sources route by
  * one rule. Each statistic is a pure fold over [[Row]]s with an
  * associative merge, so a source may hold its rows in any number of
  * parts: [[fit]] holds an in-memory array (the local strategy, run inside
  * `mapPartitions`), `GlobalTrainer.fit` an RDD whose partials are merged
  * on the driver. Every choice is a function of the rows and the seed
  * alone — exemplars are the smallest content keys, counts are exact,
  * measure draws come from one seeded RNG in level order — so the same
  * rows yield the same tree on either path.
  */
object ProximityTree {

  /** One training series. */
  final case class Instance(ts: Array[Double], label: Int)

  /** `sampleParams = true` switches candidate draws from the fixed
    * representative pool to per-candidate parameter sampling
    * ([[Distances.sampleMeasure]], the Proximity Forest paper's scheme).
    * `dataStd` feeds the lcss/erp sampling ranges; leave NaN to have
    * [[growLevels]] compute it from the tree's rows with [[valueSumsFold]].
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

  // ---- the level statistics: pure folds with associative merges -------------

  /** One training row as the grower moves it: its node and, from the
    * scoring pass of its node's level until routing, its branch per
    * candidate of that node (else empty).
    */
  final case class Row(
      label: Int,
      series: Array[Double],
      node: Int,
      branches: Array[Int] = Array.emptyIntArray)

  /** A candidate split of one node: a measure and one exemplar per class
    * of the node, classes ascending; branch b is exemplar b's.
    */
  final case class Candidate(
      measure: DistanceMeasure,
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
    rows.foldLeft(Map.empty[Int, Long])((acc, r) => acc.updated(r.label, acc.getOrElse(r.label, 0L) + 1L))

  /** The sum of two count partials. */
  def addCounts[K](a: Map[K, Long], b: Map[K, Long]): Map[K, Long] =
    b.foldLeft(a) { case (acc, (key, n)) => acc.updated(key, acc.getOrElse(key, 0L) + n) }

  /** `n` values, their sum and sum of squares held exactly, and whether
    * every series' sums were finite (no NaN or infinite value, no overflow).
    */
  final case class ValueSums(n: Long, sum: JBigDecimal, sumSq: JBigDecimal, finite: Boolean) {
    def +(o: ValueSums): ValueSums =
      ValueSums(n + o.n, sum.add(o.sum), sumSq.add(o.sumSq), finite && o.finite)
  }

  private val NoValues = ValueSums(0L, JBigDecimal.ZERO, JBigDecimal.ZERO, finite = true)

  /** Each series' Σv and Σv² are doubles summed in series order, so its
    * content fixes that order; they are added across series exactly
    * (`java.math.BigDecimal.add` never rounds, where `scala.math.BigDecimal`
    * rounds to DECIMAL128), so the sums depend only on the multiset of
    * series. Merge: `+`.
    */
  def valueSumsFold(series: Iterator[Array[Double]]): ValueSums =
    series.foldLeft(NoValues) { (acc, ts) =>
      var s = 0.0; var s2 = 0.0; var i = 0
      while (i < ts.length) { val v = ts(i); s += v; s2 += v * v; i += 1 }
      // new BigDecimal(NaN or ±Infinity) throws: such a series only clears the flag
      acc + (if (java.lang.Double.isFinite(s) && java.lang.Double.isFinite(s2))
        ValueSums(ts.length, new JBigDecimal(s), new JBigDecimal(s2), finite = true)
      else ValueSums(ts.length, JBigDecimal.ZERO, JBigDecimal.ZERO, finite = false))
    }

  /** The population std of the values behind some [[valueSumsFold]]
    * partials — sigma of the lcss/erp parameter-sampling ranges (PF paper:
    * epsilon, g ~ U(sigma/5, sigma)). 1.0 with no values; NaN when a value
    * is not finite, which `Distances.sampleMeasure` reads as sigma = 1.
    */
  def valueStd(partials: Seq[ValueSums]): Double = {
    val t = partials.foldLeft(NoValues)(_ + _)
    if (!t.finite) Double.NaN
    else if (t.n == 0) 1.0
    else {
      val mean = t.sum.doubleValue / t.n
      math.sqrt(math.max(0.0, t.sumSq.doubleValue / t.n - mean * mean))
    }
  }

  /** Exemplar order: by key, then by series, so no tie depends on arrival. */
  private def before(a: (Long, Array[Double]), b: (Long, Array[Double])): Boolean =
    a._1 < b._1 || (a._1 == b._1 && java.util.Arrays.compare(a._2, b._2) < 0)

  /** Over the rows at `nodes`: (node, class) -> its k rows with the
    * smallest `DeterministicSampling.seriesKey(seed, label, series)`, as
    * (key, series) in [[before]] order. Merge: [[mergeExemplars]] — the k
    * smallest of a union are the k smallest of the parts' k smallest.
    */
  def exemplarFold(rows: Iterator[Row], nodes: Set[Int], seed: Long, k: Int): Exemplars =
    rows.filter(r => nodes(r.node)).foldLeft(Map.empty: Exemplars) { (acc, r) =>
      mergeExemplars(k)(acc, Map((r.node, r.label) ->
        Vector((DeterministicSampling.seriesKey(seed, r.label, r.series), r.series))))
    }

  def mergeExemplars(k: Int)(a: Exemplars, b: Exemplars): Exemplars =
    b.foldLeft(a) { case (acc, (g, top)) =>
      acc.updated(g, (acc.getOrElse(g, Vector.empty) ++ top).sortWith(before).take(k))
    }

  /** Over the rows with recorded branches: (node, candidate, branch,
    * label) -> rows. Merge: [[addCounts]].
    */
  def scoreFold(rows: Iterator[Row]): Scores = {
    val acc = mutable.HashMap.empty[(Int, Int, Int, Int), Long]
    rows.foreach { r =>
      r.branches.indices.foreach { ci =>
        val key = (r.node, ci, r.branches(ci), r.label)
        acc(key) = acc.getOrElse(key, 0L) + 1L
      }
    }
    acc.toMap
  }

  /** Where the grower's rows live, in one or more parts. Every row starts
    * at the root, node 0, with no branches; [[growLevels]] alone rewrites
    * rows, so both sources score and route by one rule.
    */
  trait RowSource {
    /** `fold` run over each part's rows: one partial per part. */
    def partials[T: ClassTag](fold: Iterator[Row] => T): Seq[T]

    /** Replace every row by `f(row)`, part by part. */
    def update(f: Row => Row): Unit
  }

  /** Grow one tree breadth-first, one level per step: per level, the k
    * smallest keys per (node, class) give each node's candidates (the
    * measure draws in node order, exemplar `c % size` of each class), each
    * row of a splitting node records its branch per candidate, one count
    * fold gives every candidate's (branch, label) rows, the weighted-Gini
    * argmin wins (first candidate on ties), its counts are its children's
    * class histograms, and each row moves to its recorded branch's child
    * without another distance. An empty branch is a leaf of its
    * exemplar's class. `rootCounts` is [[classCountsFold]] over all rows.
    * When sampling with a NaN `params.dataStd`, sigma is [[valueStd]] of
    * the rows' [[valueSumsFold]] partials.
    */
  def growLevels(
      source: RowSource,
      rootCounts: Map[Int, Long],
      params: Params,
      seriesLen: Int): ProximityTreeModel = {
    require(rootCounts.values.sum > 0, "cannot fit on empty data")
    val rng = new Random(params.seed)
    val pool = params.pool
    val dataStd =
      if (params.sampleParams && java.lang.Double.isNaN(params.dataStd))
        valueStd(source.partials(rows => valueSumsFold(rows.map(_.series))))
      else params.dataStd

    // the tree under construction
    val leaves = mutable.Map.empty[Int, Int]    // nodeId -> predicted label
    val splits = mutable.Map.empty[Int, Split]  // nodeId -> winning split
    var nextId = 1
    var open = List((0, 0)) // (nodeId, depth)
    // class histograms of the open nodes: the root's from the caller, every
    // later node's from its parent's winning scoring counts (routing reads
    // the branches those counts were taken from, so they are exact)
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
        val (nodes, seed, k) = (splittingIds.toSet, params.seed + level, params.nSplitters)
        val sampled = source.partials(exemplarFold(_, nodes, seed, k))
          .foldLeft(Map.empty: Exemplars)(mergeExemplars(k))

        // candidate splits: measure + one exemplar per class
        val candidates: Map[Int, IndexedSeq[Candidate]] =
          splittingIds.map { nid =>
            val classLabels = hist(nid).keys.toIndexedSeq.sorted
            nid -> (0 until params.nSplitters).map { c =>
              // a parameter draw scaled by sigma, or a pick from the fixed pool
              val measure =
                if (params.sampleParams) Distances.sampleMeasure(rng, dataStd, seriesLen)
                else pool(rng.nextInt(pool.length))
              Candidate(measure, classLabels, classLabels.map { lbl =>
                val ex = sampled((nid, lbl))
                ex(c % ex.size)._2
              })
            }
          }.toMap

        // U1: each row of a splitting node records its branch per candidate
        // (reference: global_model_manager.py:274-280)
        source.update { r =>
          candidates.get(r.node).fold(r) { cs =>
            r.copy(branches = cs.map(c => branchOf(c.measure, r.series, c.exemplars)).toArray)
          }
        }

        // (node, cand) -> class histogram per branch
        val scores = source.partials(scoreFold).foldLeft(Map.empty: Scores)(addCounts)
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
          // U2: every row of a split node moves to its winner's recorded
          // branch's child (reference: global_model_manager.py:351-371);
          // every row leaves without branches
          val moves = won.map { case (nid, s) => nid -> (s.index, s.childIds) }.toMap
          source.update { r =>
            moves.get(r.node) match {
              case Some((ci, childIds)) => Row(r.label, r.series, childIds(r.branches(ci)))
              case None => if (r.branches.isEmpty) r else r.copy(branches = Array.emptyIntArray)
            }
          }
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
          PSplit(s.candidate.measure, s.candidate.labels, s.candidate.exemplars,
            s.childIds.map(build))
        case None =>
          PLeaf(leaves(nid))
      }
    ProximityTreeModel(build(0), majorityLabel(rootCounts))
  }

  /** The in-memory row source: one part, an array of rows. */
  private final class InMemoryRows(rows: Array[Row]) extends RowSource {
    def partials[T: ClassTag](fold: Iterator[Row] => T): Seq[T] = Seq(fold(rows.iterator))

    def update(f: Row => Row): Unit = rows.mapInPlace(f)
  }

  def fit(data: IndexedSeq[Instance], params: Params): ProximityTreeModel = {
    require(data.nonEmpty, "cannot fit a ProximityTree on empty data")
    val rows = data.iterator.map(i => Row(i.label, i.ts, 0)).toArray
    growLevels(new InMemoryRows(rows), classCountsFold(rows.iterator), params, data.head.ts.length)
  }
}

/** Tree nodes — a serializable sum type (JSON codec in [[ModelJson]]). */
sealed trait PNode extends Serializable
final case class PLeaf(label: Int) extends PNode
final case class PSplit(
    measure: DistanceMeasure,
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
        case PSplit(measure, _, exemplars, children) =>
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
