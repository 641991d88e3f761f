package graft.global

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.dist.Distances
import graft.tree._
import graft.tree.ProximityTree.{branchOf, drawMeasure, isLeaf, majorityLabel, weightedGini}

/** Global-model strategy: ONE Proximity Tree grown breadth-first,
  * level-synchronously, with every split decision expressed as distributed
  * DataFrame computation (reference: code/src/global_model_manager.py:168-402).
  *
  * Scale redesign (this is deliberately NOT a port): the reference scores
  * each (open node × candidate) with its own chain of Spark jobs —
  * broadcast, UDF labeling, three aggregations, `first()`
  * (global_model_manager.py:271-295) — i.e. O(nodes × n_splitters) jobs per
  * level, which is why its global training takes 1900–5300 s on 4k rows.
  * Here one (label -> count) aggregate before the loop gives the row
  * total, the root's class histogram and the whole-set majority, and each
  * level then costs a FIXED number of jobs regardless of node count:
  *   1. exemplar sampling: the k smallest rand() per (node, class), kept by
  *      a bounded aggregate that ships at most k rows per group per partition
  *   2. ALL candidates scored in one pass: each row emits one
  *      (node, candidate, branch, label) key per candidate of its node and
  *      a map-side-combined count feeds the driver's weighted-Gini argmin;
  *      the winner's counts are also its children's class histograms
  *   3. routing: one broadcast map + one projection, persist/unpersist
  * The split policy — leaf test, majority label, measure draw, weighted
  * Gini, branch of an all-Infinity row — is [[ProximityTree]]'s, the one
  * the local learner applies; an empty child is a leaf of its exemplar's
  * class in both.
  * Driver state stays tiny (exemplars + per-node class counts); data never
  * leaves executors except as aggregate counts. On a 1000-executor cluster
  * the shape is identical — broadcasts fan out the split table, the level
  * barrier is the only synchronization.
  */
object GlobalTrainer {

  /** Minimum rows a level-frame partition should hold before extra
    * partitions stop buying parallelism and start buying per-task
    * overhead (see the right-sizing note in [[fit]]).
    */
  private val MinRowsPerTask = 64L

  private final case class SplitSpec(
      measureName: String,
      branchLabels: IndexedSeq[Int],
      exemplars: IndexedSeq[Array[Double]],
      childIds: IndexedSeq[Int])

  /** Population std over every element of `arrayCol` in one map-side-
    * combined aggregate. Callers fitting many trees on the same data
    * (sweeps, forests) should call this ONCE and pass the value through
    * `Params.dataStd` — fit() recomputes it per tree otherwise.
    */
  def computeDataStd(df: DataFrame, arrayCol: String = "time_series"): Double = {
    val r = df.select(explode(col(arrayCol)).as("v"))
      .agg(sum(col("v")).as("s"), sum(col("v") * col("v")).as("s2"),
        count(lit(1)).as("n"))
      .head()
    val n = r.getLong(2).toDouble
    if (n == 0) 1.0
    else {
      val mean = r.getDouble(0) / n
      math.sqrt(math.max(0.0, r.getDouble(1) / n - mean * mean))
    }
  }

  /** Wide-column variant of [[computeDataStd]]. */
  def computeDataStdWide(df: DataFrame, featureCols: Seq[String]): Double =
    computeDataStd(
      df.select(array(featureCols.map(c => col(c).cast("double")): _*)
        .as("time_series")))

  /** The k smallest (r, series) pairs of one group, ordered by r and then
    * by series (`java.util.Arrays.compare`), so no tie depends on arrival
    * order. The buffer holds k pairs per (group, partition), so map-side
    * combining ships at most k rows per group per partition.
    */
  private final class SmallestK(k: Int) extends Aggregator[
      (Double, Array[Double]), Seq[(Double, Array[Double])], Seq[(Double, Array[Double])]] {
    private def before(a: (Double, Array[Double]), b: (Double, Array[Double])): Boolean =
      a._1 < b._1 || (a._1 == b._1 && java.util.Arrays.compare(a._2, b._2) < 0)
    def zero: Seq[(Double, Array[Double])] = Nil
    def reduce(b: Seq[(Double, Array[Double])], v: (Double, Array[Double]))
        : Seq[(Double, Array[Double])] =
      if (b.length == k && !before(v, b.last)) b // fast reject above the bar
      else (b :+ v).sortWith(before).take(k)
    def merge(a: Seq[(Double, Array[Double])], b: Seq[(Double, Array[Double])])
        : Seq[(Double, Array[Double])] =
      (a ++ b).sortWith(before).take(k)
    def finish(b: Seq[(Double, Array[Double])]): Seq[(Double, Array[Double])] = b
    def bufferEncoder: Encoder[Seq[(Double, Array[Double])]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[(Double, Array[Double])]] = ExpressionEncoder()
  }

  /** (node, class) -> the series of its k rows with the smallest `r`, in
    * `r` order. `frame` has columns node_id, true_label, r, time_series.
    */
  private[global] def smallestK(frame: DataFrame, k: Int)
      : Map[(Int, Int), IndexedSeq[Array[Double]]] = {
    import frame.sparkSession.implicits._
    val top = udaf(new SmallestK(k), ExpressionEncoder[(Double, Array[Double])]())
    frame.groupBy(col("node_id"), col("true_label"))
      .agg(top(col("r"), col("time_series")).as("top"))
      .select(col("node_id"), col("true_label"), col("top._2"))
      .as[(Int, Int, Seq[Array[Double]])]
      .collect()
      .map { case (nid, lbl, series) => (nid, lbl) -> series.toIndexedSeq }
      .toMap
  }

  /** Fit one distributed Proximity Tree. Returns the same model type as the
    * sequential learner — prediction, complexity metrics, and the JSON sink
    * are shared.
    */
  def fit(
      spark: SparkSession,
      df: DataFrame,
      labelCol: String,
      featureCols: Seq[String],
      params: ProximityTree.Params): ProximityTreeModel = {
    import spark.implicits._

    // _to_ts_df (reference: global_model_manager.py:121-159): array-pack +
    // int label. row_id is unnecessary in this design — rows carry only
    // their node assignment.
    val ts0 = df.select(
      col(labelCol).cast("int").as("true_label"),
      array(featureCols.map(c => col(c).cast("double")): _*).as("time_series"),
      lit(0).as("node_id"))
    var assign = ts0.persist(StorageLevel.MEMORY_AND_DISK)
    // superseded level's cache, dropped only after the successor's lazy
    // persist has been materialized by the next level's first action
    var pendingUnpersist: Option[DataFrame] = None

    // One aggregate before the level loop: the root's class histogram,
    // which also gives the row total and the whole-set majority.
    val rootHist = assign.groupBy(col("true_label")).agg(count(lit(1)))
      .as[(Int, Long)].collect().toMap
    val total = rootHist.values.sum
    require(total > 0, "cannot fit on empty data")
    val globalMajority = majorityLabel(rootHist)

    // Right-size the level frame to the DATA, not the core count: every
    // level job re-scans this exact frame, and partitions holding fewer
    // than ~MinRowsPerTask rows each just multiply per-task fixed cost
    // (launch, broadcast fetch, codegen instance) across the whole level
    // loop — measured 34 s of executor time collapsing to ~1.5 s on the
    // 400-row fixture. At any real training size total/MinRowsPerTask
    // exceeds the core count and this is a no-op, so the cluster shape is
    // untouched. (Values change only through rand()'s partition
    // dependence — the same freedom any repartition of the caller's input
    // already has; determinism per (data, partitioning, seed) holds.)
    // The resized frame persists lazily, like every routed level below.
    val rightParts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      total / MinRowsPerTask)).toInt
    if (rightParts < assign.rdd.getNumPartitions) {
      pendingUnpersist = Some(assign)
      assign = ts0.repartition(rightParts).persist(StorageLevel.MEMORY_AND_DISK)
    }

    // sigma for per-candidate lcss/erp parameter sampling — one startup
    // linear aggregate, paid only when sampling is enabled and the caller
    // didn't supply a std. Callers fitting MANY trees on the same data
    // (forests, partition sweeps) should compute this once via
    // [[computeDataStd]] and thread it through params.dataStd — otherwise
    // every fit() repeats an identical full-scan job.
    val p =
      if (params.sampleParams && java.lang.Double.isNaN(params.dataStd))
        params.copy(dataStd = computeDataStd(assign))
      else params
    val rng = new Random(p.seed)
    val pool = p.pool

    // driver-side tree under construction
    val leaves = mutable.Map.empty[Int, Int]        // nodeId -> predicted label
    val splits = mutable.Map.empty[Int, SplitSpec]  // nodeId -> split
    var nextId = 1
    var open = List((0, 0)) // (nodeId, depth)
    // class histograms of the open nodes: the root's from the aggregate
    // above, every later node's from its parent's winning scoring counts
    // (scoring and routing share one deterministic branch function, so
    // those counts are exact)
    var hist = Map(0 -> rootHist)
    var level = 0

    while (open.nonEmpty) {
      val depthOf = open.toMap
      val (leafNow, splitting) = open.partition { case (nid, depth) =>
        isLeaf(hist(nid), depth, p)
      }
      leafNow.foreach { case (nid, _) => leaves(nid) = majorityLabel(hist(nid)) }

      if (splitting.isEmpty) {
        open = Nil
      } else {
        val splittingIds = splitting.map(_._1)
        val active = assign.filter(col("node_id").isin(splittingIds: _*))

        // (1) W2 — distributed exemplar sampling: the k smallest rand() per
        // (node, class) (reference: global_model_manager.py:225-233, seeded
        // per SURVEY §4 "P3"), kept by a bounded aggregate instead of a
        // window sort that would shuffle every row each level
        val sampled = smallestK(
          active.withColumn("r", rand(p.seed + level)), p.nSplitters)
        // that collect was this level's first action over `assign`: it ran
        // every partition, so a lazily-persisted frame is now fully cached
        // and the superseded parent can go
        pendingUnpersist.foreach(_.unpersist())
        pendingUnpersist = None

        // driver assembles candidate splits: measure + one exemplar/class
        val candidates: Map[Int, IndexedSeq[(String, IndexedSeq[Int], IndexedSeq[Array[Double]])]] =
          splittingIds.map { nid =>
            val classLabels = hist(nid).keys.toIndexedSeq.sorted
            nid -> (0 until p.nSplitters).map { c =>
              val measure = drawMeasure(rng, p, pool, featureCols.length)
              (measure.name, classLabels, classLabels.map { lbl =>
                val ex = sampled((nid, lbl))
                ex(c % ex.size)
              })
            }
          }.toMap
        val bcCand = spark.sparkContext.broadcast(candidates)

        // (2) ALL candidates scored in ONE job: per row, one record per
        // candidate of its node; hash aggregate does map-side combine so
        // the shuffle carries only distinct (node,cand,branch,label) keys.
        val counts = active
          .select(col("node_id"), col("true_label"), col("time_series"))
          .as[(Int, Int, Array[Double])]
          .flatMap { case (nid, lbl, series) =>
            bcCand.value(nid).iterator.zipWithIndex.map { case ((mName, _, exemplars), ci) =>
              (nid, ci, branchOf(Distances.byName(mName), series, exemplars), lbl)
            }
          }
          .toDF("node_id", "cand", "branch", "lbl")
          .groupBy("node_id", "cand", "branch", "lbl")
          .agg(count(lit(1)).as("cnt"))
          .as[(Int, Int, Int, Int, Long)]
          .collect()
        bcCand.destroy()

        // (node, cand) -> class histogram per branch
        val tables: Map[(Int, Int), IndexedSeq[Map[Int, Long]]] =
          counts.groupBy(t => (t._1, t._2)).map { case (key @ (nid, ci), rows) =>
            key -> IndexedSeq.tabulate(candidates(nid)(ci)._2.size) { b =>
              rows.collect { case (_, _, `b`, lbl, n) => lbl -> n }.toMap
            }
          }

        // driver: weighted-Gini argmin per node (A5), first candidate on ties
        val chosen = mutable.Map.empty[Int, Int] // nodeId -> winning cand idx
        splittingIds.foreach { nid =>
          var best = -1; var bestG = Double.PositiveInfinity
          candidates(nid).indices.foreach { ci =>
            weightedGini(tables((nid, ci)).map(_.toSeq.sortBy(_._1).map(_._2)))
              .foreach { wg => if (wg < bestG) { bestG = wg; best = ci } }
          }
          if (best < 0) {
            leaves(nid) = majorityLabel(hist(nid))
          } else {
            val (mName, branchLabels, exemplars) = candidates(nid)(best)
            val childIds = branchLabels.map { _ => val id = nextId; nextId += 1; id }
            splits(nid) = SplitSpec(mName, branchLabels, exemplars, childIds)
            chosen(nid) = best
          }
        }

        // (3) U2 — route every row of a split node to its child; identity
        // elsewhere (reference: global_model_manager.py:351-371)
        if (chosen.nonEmpty) {
          val routeTable: Map[Int, (String, IndexedSeq[Array[Double]], IndexedSeq[Int])] =
            chosen.keys.map { nid =>
              val s = splits(nid)
              nid -> ((s.measureName, s.exemplars, s.childIds))
            }.toMap
          val bcRoute = spark.sparkContext.broadcast(routeTable)
          val routeUdf = udf((nid: Int, series: Seq[Double]) =>
            bcRoute.value.get(nid) match {
              case Some((mName, exemplars, childIds)) =>
                childIds(branchOf(Distances.byName(mName), series.toArray, exemplars))
              case None => nid
            })
          // every few levels cut the lineage: the routed plan stacks one
          // projection per level, and a depth-20 tree otherwise carries a
          // 20-deep UDF chain into every subsequent job's planning
          val routed = assign
            .withColumn("node_id", routeUdf(col("node_id"), col("time_series")))
          val newAssign =
            if (level % 8 == 7) {
              // eager: safe to drop the parent immediately
              val c = routed.localCheckpoint(true)
              assign.unpersist()
              c
            } else {
              // LAZY persist: the next level's first action (the exemplar-
              // sampling scan) populates the cache while doing real work —
              // an explicit count() here would be a whole extra pass per
              // level. The superseded parent must stay cached until then
              // (dropping it now would make that first action recompute the
              // full routing lineage), so its unpersist is deferred.
              pendingUnpersist = Some(assign)
              routed.persist(StorageLevel.MEMORY_AND_DISK)
            }
          assign = newAssign

          // children: an empty branch is a leaf of its exemplar's class, as
          // in the local learner; the rest open with the winning candidate's
          // counts as their class histograms
          val children = for {
            (nid, ci) <- chosen.toList
            s = splits(nid)
            i <- s.childIds.indices
          } yield (s.childIds(i), s.branchLabels(i), tables((nid, ci))(i), depthOf(nid) + 1)
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
    pendingUnpersist.foreach(_.unpersist())
    assign.unpersist()

    // materialize the driver tree as the shared model type
    def build(nid: Int): PNode =
      splits.get(nid) match {
        case Some(s) =>
          PSplit(s.measureName, s.branchLabels, s.exemplars, s.childIds.map(build))
        case None =>
          PLeaf(leaves(nid))
      }
    ProximityTreeModel(build(0), globalMajority)
  }
}
