package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-source BFS / unweighted shortest paths — the graph-traversal
  * primitive beside [[PageRank]] (influence), triangles (structure), and
  * the dedup clusters' hash-min components (connectivity): distance-to-
  * nearest-seed labels drive crawl-frontier scheduling, link-spam radius
  * checks, and citation-depth features.
  *
  * Scale shape: label propagation over the full label frame — per
  * iteration ONE equi join (labels ⋈ edges on src) + ONE min aggregate
  * keyed on node, both shuffling node-scale frames on their natural keys.
  * K iterations = exact distances ≤ K (the caller bounds the radius, the
  * standard cluster formulation). Lineage discipline is [[PageRank]]'s:
  * loop-invariant edges pinned once, the label frame cut with a blocking
  * localCheckpoint every [[PageRank.CheckpointEvery]]-th span so shallow
  * runs pay one materialization while the unrolled-plan depth stays
  * bounded; superseded checkpoint blocks freed eagerly.
  *
  * Two formulations, identical values (BfsSpec pins bit-for-bit
  * equality): [[distancesFp]] re-joins the FULL label frame every
  * iteration — O(K·|labeled|) join work, trivially unrollable to the
  * oracle's CTEs — while [[distances]]' distributed tier joins only the round's
  * newly-labeled frontier — O(Σ|frontier_i|) = O(|reachable|) total join
  * work, the production form on high-diameter graphs (a K-hop crawl
  * radius over a web graph re-probes every settled node K times under
  * the full-frame form; the frontier form probes each node once, when
  * it is first reached). Equivalence argument: on an unweighted graph a
  * node's first-assigned distance is already minimal (induction on BFS
  * layers), so nodes outside the frontier can never improve and skipping
  * them drops no relaxation that matters. The frontier form also exits
  * early when the frontier empties (the full-frame form must run all K
  * iterations to mirror the oracle's fixed CTE unroll).
  *
  * Determinism: distances are exact integers (min over unions is order-
  * independent), so the K-iteration run unrolls to SQL CTEs verbatim —
  * q_bfs_dist is bit-for-bit oracled. Unreached nodes carry no row
  * (absent ≠ dist 0; the oracle's aggregate drops them identically).
  */
object Bfs {

  /** Production two-tier entry (r16 verdict task 5 — the driverComponents
    * design): exact driver BFS at or under [[PageRank.DriverEdgeCap]]
    * distinct edges (the catalog fixture's 2,990-edge graph ran a
    * scheduler-bound distributed loop for a microsecond computation),
    * the delta-frontier loop above it. Both tiers spec-pinned
    * bit-equal; same contract as [[distancesFp]].
    */
  def distances(edges0: DataFrame, srcCol: String, dstCol: String,
      seedPred: Column => Column, iterations: Int = 4,
      driverEdgeCap: Long = PageRank.DriverEdgeCap): DataFrame =
    PageRank.edgesUnderCap(edges0, srcCol, dstCol, driverEdgeCap) match {
      case Left(es) =>
        driverDistances(edges0.sparkSession, es, seedPred, iterations)
      case Right(edges) => deltaStatsCore(edges, seedPred, iterations)._1
    }

  /** Exact driver BFS — layer-by-layer over an adjacency map, first
    * assignment is final (unweighted minimality), unreached nodes carry
    * no row: the [[distancesFp]] semantics verbatim. The seed predicate
    * is a Column, evaluated by ONE tiny Spark filter over the ≤cap-scale
    * node list so both tiers share predicate semantics by construction.
    */
  private def driverDistances(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)], seedPred: Column => Column,
      iterations: Int): DataFrame = {
    import spark.implicits._
    val adj = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.ArrayBuffer[Long]]
    val nodeSet = scala.collection.mutable.LongMap.empty[Unit]
    edges.foreach { case (s, d) =>
      adj.getOrElseUpdate(s, scala.collection.mutable.ArrayBuffer.empty) += d
      nodeSet.update(s, ()); nodeSet.update(d, ())
    }
    if (nodeSet.isEmpty) return Seq.empty[(Long, Long)].toDF("node", "dist")
    val seeds = nodeSet.keys.toSeq.toDF("node")
      .filter(seedPred(col("node"))).as[Long].collect()
    val dist = scala.collection.mutable.LongMap.empty[Long]
    var frontier = seeds.toSeq
    frontier.foreach(dist.update(_, 0L))
    var d = 1L
    while (d <= iterations && frontier.nonEmpty) {
      val next = scala.collection.mutable.ArrayBuffer.empty[Long]
      frontier.foreach { u =>
        adj.get(u).foreach(_.foreach { v =>
          if (!dist.contains(v)) { dist.update(v, d); next += v }
        })
      }
      frontier = next.toSeq
      d += 1L
    }
    dist.toSeq.toDF("node", "dist")
  }

  /** Distances ≤ `iterations` hops from the seed set (`seedPred` over the
    * node column) along directed edges. Returns (node, dist).
    */
  def distancesFp(edges0: DataFrame, srcCol: String, dstCol: String,
      seedPred: Column => Column, iterations: Int = 4,
      eager: Boolean = true): DataFrame = {
    def pin(df: DataFrame): DataFrame = if (eager) df.persist() else df
    val edges = pin(edges0
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct())
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    var dist = nodes.filter(seedPred(col("node")))
      .select(col("node"), lit(0L).as("dist"))
    var prevCp: DataFrame = null
    for (i <- 1 to iterations) {
      val relaxed = edges.join(dist, col("src") === col("node"))
        .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
      val next = dist.union(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      if (eager && (i % 3 == 0 || i == iterations)) {
        dist = next.localCheckpoint(true)
        if (prevCp != null) PageRank.freeCheckpoint(prevCp)
        prevCp = dist
      } else dist = next
    }
    if (eager) edges.unpersist(blocking = false)
    dist
  }

  /** The delta-frontier loop of [[distances]] plus the per-round
    * frontier sizes (index 0 = the seed set) — the join-probe work
    * measure BfsSpec uses to prove the frontier form does strictly less
    * work than the full-frame form on a high-diameter graph.
    */
  def distancesDeltaStats(edges0: DataFrame, srcCol: String, dstCol: String,
      seedPred: Column => Column, iterations: Int = 4): (DataFrame, Seq[Long]) =
    deltaStatsCore(edges0
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct().persist(), seedPred, iterations)

  /** The frontier loop over an already-canonical PINNED edge frame
    * (unpersisted before return) — shared by [[distancesDeltaStats]] and
    * the two-tier [[distances]] gate so tier selection never costs a
    * second distinct.
    */
  private def deltaStatsCore(edges: DataFrame,
      seedPred: Column => Column, iterations: Int): (DataFrame, Seq[Long]) = {
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    // each round's frontier is checkpointed: the count below (needed for
    // the early exit anyway) is the materializing action, and `dist`
    // becomes a union of small materialized disjoint frames — total
    // footprint one node-scale frame, no unbounded lineage
    var frontier = nodes.filter(seedPred(col("node")))
      .select(col("node"), lit(0L).as("dist"))
      .localCheckpoint(false)
    val sizes = scala.collection.mutable.ArrayBuffer(frontier.count())
    var pinned: List[DataFrame] = List(frontier)
    var dist = frontier
    var i = 1
    while (i <= iterations && sizes.last > 0L) {
      val relaxed = edges.join(frontier, col("src") === col("node"))
        .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
      // a node re-reached this round already carries its (minimal) first
      // distance — the anti-join against the settled set is what makes
      // the frontier a DELTA instead of the full frame
      val newNodes = relaxed.groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .join(dist.select(col("node")), Seq("node"), "left_anti")
        .localCheckpoint(false)
      sizes += newNodes.count()
      pinned = newNodes :: pinned
      dist = dist.union(newNodes)
      frontier = newNodes
      i += 1
    }
    edges.unpersist(blocking = false)
    // ONE blocking materialization of the result, then free every
    // per-round frontier block (the distancesFp / freeCheckpoint
    // discipline) — without this, a bench session strands one
    // checkpointed frame per BFS round per call until GC; the caller
    // gets exactly one lineage-free node-scale frame
    val out = dist.localCheckpoint(true)
    pinned.foreach(PageRank.freeCheckpoint)
    (out, sizes.toSeq)
  }
}
