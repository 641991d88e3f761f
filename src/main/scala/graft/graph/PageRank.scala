package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Tables

/** Distributed PageRank over an edge list — the link-authority signal a
  * crawl-curation pipeline ranks domains/pages by before deciding what to
  * fetch deeper (the original Brin–Page formulation, power iteration with
  * damping and dangling-mass redistribution).
  *
  * Execution shape per iteration (the standard cluster decomposition):
  * one equi join of the rank vector to the edge list on `src` (both sides
  * hash-partitioned on the join key — on a real cluster the edge list's
  * partitioning is REUSED across iterations while only the small rank
  * vector moves), one aggregate of contributions by `dst`, and two 1-row
  * broadcast scalars (node count, dangling mass). Iterations inside a
  * checkpoint span pin their rank vector with a LAZY `persist()` (no
  * blocking materialization — the cache fills as the next span consumes
  * it); every `CheckpointEvery`-th iteration AND the final one cut
  * lineage with a blocking `localCheckpoint(true)`, at which point every
  * superseded frame in the span (and the previous checkpoint) is freed
  * at once. That keeps the two 100×-scale bounds — plan depth ≤ span
  * length, cached-block residency ≤ span+1 node-scale frames transiently
  * and exactly ONE after return — while paying ceil(K/span) blocking
  * materializations instead of K (the per-iteration eager variant cost
  * ~4× latency at shallow K for memory the fixture never needed). The
  * support frames (edges/nodes/deg) are unpersisted before return, so
  * repeated catalog or bench invocations leave nothing behind but the
  * returned lineage-free result.
  *
  * Arithmetic is FIXED-POINT (rank × 10^12 as BIGINT, `div` for every
  * division): integer sums are associative/commutative, so the result is
  * partition-order independent and replays bit-for-bit on any engine —
  * float ranks would drift with shuffle order and hash-break the oracle
  * (the [[graft.quality.DataQuality]] decimal-sum doctrine). The floor
  * in `div` leaks ≤1 unit (10^-12) of mass per term per iteration —
  * immaterial at rank scale and identically reproduced everywhere.
  */
object PageRank {

  private val Scale = 1000000000000L // 10^12: fixed-point 1.0
  private val BaseNum = 150000000000L // Scale * (1 - 0.85)

  /** Iterations per checkpoint span: lineage is cut (and superseded
    * frames freed) every this-many iterations, not every one. 3 keeps
    * the unrolled plan shallow while shallow runs (K ≤ 3, the catalog
    * fixture) pay exactly ONE blocking materialization.
    */
  private val CheckpointEvery = 3

  /** Driver-tier edge cap for the two-tier graph operators (r16 verdict
    * task 5 — the [[graft.dedup.Dedup]] driverComponents design applied
    * to BFS/PageRank/PPR): at or under this many distinct edges the
    * exact algorithm runs on the driver — the catalog fixture's
    * 2,990-edge graph spent ~1 s/query on pure scheduler latency for a
    * computation a single thread finishes in microseconds — while the
    * distributed loop (the correct shape at 100 TB) runs above it.
    * Memory math at the cap: 250k edges × 2 longs boxed in driver arrays
    * ≈ 4 MB, plus O(nodes) rank/degree arrays — trivially inside any
    * driver heap, same boxed-row reasoning as Dedup's driverEdgeCap.
    */
  val DriverEdgeCap = 250000L

  /** Production two-tier PageRank: exact dense power iteration on the
    * driver at or under `driverEdgeCap` distinct edges (identical
    * fixed-point arithmetic — spec-pinned bit-equal to the distributed
    * loop), the distributed [[pageRankImpl]] loop above it.
    */
  def pageRank(edges0: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3, driverEdgeCap: Long = DriverEdgeCap): DataFrame =
    twoTier(edges0, srcCol, dstCol, None, iterations, driverEdgeCap)

  /** Two-tier personalized PageRank: the teleport vector concentrates
    * on `seedPred`-nodes (see [[pageRankImpl]]); an empty seed set
    * refuses loudly on both tiers.
    */
  def personalizedPageRank(edges0: DataFrame, srcCol: String,
      dstCol: String,
      seedPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      iterations: Int = 3, driverEdgeCap: Long = DriverEdgeCap): DataFrame =
    twoTier(edges0, srcCol, dstCol, Some(seedPred), iterations, driverEdgeCap)

  /** Shared two-tier gate (used by this object and [[Bfs.distances]] —
    * one body, not two drifting copies): ONE canonical distinct
    * (src, dst) frame is pinned and ONE bounded cap+1 limit-collect
    * decides the tier AND feeds it — under the cap the limited collect
    * IS the whole edge set (frame already unpersisted); over it, at
    * most cap+1 rows ever crossed to the driver and the callee receives
    * the pinned canonical frame (and owns its unpersist). cap <= 0
    * forces the distributed tier on any non-empty graph; the empty
    * graph takes the driver tier, where both tiers return identically
    * empty results.
    */
  private[graph] def edgesUnderCap(edges0: DataFrame, srcCol: String,
      dstCol: String, cap: Long): Either[Array[(Long, Long)], DataFrame] = {
    val canon = edges0
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      // a null endpoint (null input or a failed cast) is not an edge:
      // without this the driver tier NPEs on getLong while the
      // distributed tier would thread a phantom null node through its
      // joins — behavior diverging by GRAPH SIZE. Dropped for both tiers.
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct().persist()
    val capInt = math.max(0L, math.min(cap, Int.MaxValue - 1L)).toInt
    val head = canon.limit(capInt + 1).collect()
    if (head.length <= cap || head.isEmpty) {
      canon.unpersist(blocking = false)
      Left(head.map(r => (r.getLong(0), r.getLong(1))))
    } else Right(canon)
  }

  private def twoTier(edges0: DataFrame, srcCol: String, dstCol: String,
      seedPred: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column],
      iterations: Int, driverEdgeCap: Long): DataFrame =
    edgesUnderCap(edges0, srcCol, dstCol, driverEdgeCap) match {
      case Left(es) =>
        driverPageRank(edges0.sparkSession, es, seedPred, iterations)
      case Right(canon) =>
        pageRankImpl(canon, "src", "dst", seedPred, iterations,
          canonPinned = Some(canon))
    }

  /** Exact driver power iteration — the [[pageRankFpInner]] arithmetic
    * verbatim on arrays: same fixed-point init (Scale div ns on seeds),
    * same per-edge `r div outdeg` contributions, same dangling mass
    * returned to the seeds, same `(Base + 85·(csum + dang div ns)) div
    * 100` update. All terms non-negative longs, so Java `/` IS `div` and
    * the result replays bit-for-bit against the distributed loop
    * (PageRankSpec pins both tiers equal). The seed predicate is a
    * Column, so it is evaluated by ONE tiny Spark filter over the
    * ≤cap-scale node list — semantics identical to the distributed tier
    * by construction.
    */
  private def driverPageRank(spark: SparkSession,
      edges: Array[(Long, Long)],
      seedPred: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column],
      iterations: Int): DataFrame = {
    import spark.implicits._
    val idx = scala.collection.mutable.LongMap.empty[Int]
    def id(x: Long): Int = idx.getOrElseUpdate(x, idx.size)
    edges.foreach { case (s, d) => id(s); id(d); () }
    val n = idx.size
    if (n == 0) return Seq.empty[(Long, Long)].toDF("node", "r")
    val nodeIds = new Array[Long](n)
    idx.foreach { case (v, i) => nodeIds(i) = v }
    val srcIdx = edges.map(e => idx(e._1))
    val dstIdx = edges.map(e => idx(e._2))
    val outdeg = new Array[Long](n)
    srcIdx.foreach(outdeg(_) += 1L)
    val seed = new Array[Boolean](n)
    seedPred match {
      case None => java.util.Arrays.fill(seed, true)
      case Some(p) =>
        nodeIds.toSeq.toDF("node").filter(p(col("node")))
          .as[Long].collect().foreach(v => seed(idx(v)) = true)
    }
    val ns = seed.count(identity).toLong
    require(seedPred.isEmpty || ns > 0L,
      "personalizedPageRank: seed predicate matched no node")
    var r = Array.tabulate(n)(v => if (seed(v)) Scale / ns else 0L)
    for (_ <- 1 to iterations) {
      val csum = new Array[Long](n)
      var i = 0
      while (i < srcIdx.length) {
        csum(dstIdx(i)) += r(srcIdx(i)) / outdeg(srcIdx(i))
        i += 1
      }
      var dang = 0L
      var v = 0
      while (v < n) { if (outdeg(v) == 0L) dang += r(v); v += 1 }
      r = Array.tabulate(n)(v =>
        (if (seed(v)) BaseNum / ns else 0L) +
          (85L * (csum(v) + (if (seed(v)) dang / ns else 0L))) / 100L)
    }
    (0 until n).map(v => (nodeIds(v), r(v))).toDF("node", "r")
  }

  /** The distributed power iteration behind both tiers' callers:
    * PageRank after `iterations` steps, damping 0.85, returning (node, r)
    * with r = rank × 10^12 as BIGINT. With `seedPred` the teleport
    * vector concentrates on the seed nodes (personalized PageRank): the
    * ONLY changes are the restart term (Scale·(1−d)/|S| on seeds, 0
    * elsewhere) and the dangling mass returning to the seeds rather than
    * everywhere. Uniform PageRank IS the special case seedPred ≡ true
    * (PageRankSpec pins the two bit-for-bit equal). A node unreachable
    * from the seed set converges to rank 0 — absent mass, not absent row.
    */
  private def pageRankImpl(edges0: DataFrame, srcCol: String, dstCol: String,
      seedPred: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column],
      iterations: Int,
      canonPinned: Option[DataFrame] = None): DataFrame = {
    // Let AQE size the ITERATION frames' partitioning from observed data
    // instead of inheriting the static shuffle.partitions: cached-plan
    // compilation pins output partitioning by default
    // (canChangeCachedPlanOutputPartitioning=false), which froze every
    // node-scale micro-frame at 32 partitions — ~25 stages x 32 near-empty
    // tasks of pure scheduling overhead per run at fixture scale. With the
    // conf scoped on, AQE coalesces those to single-task stages here and
    // picks real partition counts at cluster scale — the decision belongs
    // to the runtime, not the static conf. Restored on exit.
    val spark = edges0.sparkSession
    val scopedConfs = Seq(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")
    val prev = scopedConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
    scopedConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try pageRankFpInner(edges0, srcCol, dstCol, seedPred, iterations,
      canonPinned)
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def pageRankFpInner(edges0: DataFrame, srcCol: String, dstCol: String,
      seedPred: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column],
      iterations: Int,
      canonPinned: Option[DataFrame] = None): DataFrame = {
    // persist() the frames every iteration re-reads: the unrolled plan
    // references edges and nodeDeg and ranks_k from 2-3 consumers each,
    // so without a cache the base scan recomputes O(consumers^iterations)
    // times (measured 10.8 s → sub-second at sf0.1). persist keeps full
    // lineage (lint- and optimizer-transparent), and these frames are
    // nodes/edges-sized — the small side of the computation by design.
    // canonPinned = the two-tier gate's already-canonical cached frame,
    // reused so tier selection never costs a second distinct.
    val edges = canonPinned.getOrElse((edges0
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()).persist())
    // loop-invariant (node, outdeg|null) frame in ONE aggregation: each
    // distinct edge contributes its src endpoint flagged 1 and its dst
    // endpoint flagged 0; summing flags per node IS the out-degree, and a
    // node seen only as a destination sums to 0 → NULL outdeg (dangling).
    // This replaces the former nodes-distinct + deg-groupBy + left-outer
    // join (three shuffles) with one shuffle. The rank STATE carries
    // outdeg through every iteration, so the hot loop never re-joins deg
    // (the former ranks ⋈ deg was evaluated twice per iteration — once
    // under the dangling aggregate, once under perSrc — pure stage
    // overhead at fixture scale, a repeated node-scale shuffle at 100 TB)
    // the seed flag rides nodeDeg (and thence the rank state) the same
    // way outdeg does — the hot loop never re-evaluates the predicate.
    // Uniform PageRank = every node a seed; __ns then equals __n and the
    // arithmetic below reduces to the classic form term for term.
    val isSeed = seedPred.map(p => p(col("node"))).getOrElse(lit(true))
    val nodeDeg = edges
      .select(explode(array(
        struct(col("src").as("node"), lit(1L).as("__isSrc")),
        struct(col("dst").as("node"), lit(0L).as("__isSrc")))).as("ep"))
      .select(col("ep.node").as("node"), col("ep.__isSrc").as("__isSrc"))
      .groupBy(col("node"))
      .agg(when(sum(col("__isSrc")) > 0L, sum(col("__isSrc"))).as("outdeg"))
      .withColumn("seed", isSeed)
      .persist()
    val nTotal = nodeDeg.agg(count(lit(1)).cast("long").as("__n"),
      coalesce(sum(when(col("seed"), 1L)), lit(0L)).as("__ns"))
    if (seedPred.isDefined) {
      // a silent empty seed set would converge every rank to 0 via NULL
      // division — refuse loudly instead
      require(nTotal.head().getLong(1) > 0L,
        "personalizedPageRank: seed predicate matched no node")
    }

    var ranks = nodeDeg.crossJoin(broadcast(nTotal))
      .select(col("node"),
        expr(s"case when seed then ${Scale}L div __ns else 0L end").as("r"),
        col("outdeg"), col("seed"))
    var prevCp: DataFrame = null
    var spanPinned: List[DataFrame] = Nil
    for (i <- 1 to iterations) {
      // ONE join + ONE aggregate per iteration: the right-outer keeps
      // dangling nodes (no out-edge) as dst=NULL rows, so the same
      // groupBy(dst) that sums per-destination contributions also folds
      // the dangling mass into the NULL group — the former separate
      // dangling filter+aggregate chain (its own stages + broadcast every
      // iteration) collapses into a 1-row probe of the cached aggregate.
      // `r div outdeg` is NULL exactly on the dangling rows, so __csum is
      // untouched by them; values are bit-identical to the two-chain form.
      val contrib = edges.join(ranks, col("src") === col("node"), "right_outer")
        .groupBy(col("dst"))
        .agg(sum(expr("r div outdeg")).as("__csum"),
          sum(when(col("outdeg").isNull, col("r"))).as("__dangp"))
      // contrib has two consumers (the scalar probe and the rank update):
      // pin it — this replaces the former per-iteration rank pin; freed at
      // the span boundary below
      val contribP = contrib.persist()
      spanPinned = contribP :: spanPinned
      // one combined 1-row scalar broadcast per iteration (dangling mass
      // x node count); the aggregate guards the no-dangling-row case —
      // a bare filter(dst IS NULL) would yield an EMPTY frame there and
      // annihilate the crossJoin
      val scalars = contribP
        .agg(coalesce(sum(when(col("dst").isNull, col("__dangp"))), lit(0L))
          .as("__dang"))
        .crossJoin(nTotal)
      val next = nodeDeg
        .join(contribP.filter(col("dst").isNotNull), col("node") === col("dst"),
          "left_outer")
        .crossJoin(broadcast(scalars))
        .select(col("node"),
          expr(s"case when seed then ${BaseNum}L div __ns else 0L end + " +
            "(85 * (coalesce(__csum, 0L) + " +
            "case when seed then __dang div __ns else 0L end)) div 100").as("r"),
          col("outdeg"), col("seed"))
      if (i % CheckpointEvery == 0 || i == iterations) {
        // span boundary: cut lineage with ONE blocking materialization,
        // then free every frame the new checkpoint supersedes (integer
        // fixed-point, so the early materialization cannot perturb values)
        ranks = next.localCheckpoint(true)
        spanPinned.foreach(_.unpersist(blocking = false))
        spanPinned = Nil
        if (prevCp != null) freeCheckpoint(prevCp)
        prevCp = ranks
      } else {
        // inside a span the chain ranks -> contrib -> ranks is linear
        // (contrib is the only multiply-consumed frame, pinned above), so
        // the rank frame itself needs no pin
        ranks = next
      }
    }
    // the result is lineage-free (checkpointed), so the support caches
    // are dead weight from here — free them rather than waiting on LRU
    // eviction across repeated invocations
    edges.unpersist(blocking = false)
    nodeDeg.unpersist(blocking = false)
    // outdeg was loop state, not output — project it away (narrow op over
    // the checkpointed frame; lineage stays cut)
    ranks.select(col("node"), col("r"))
  }

  /** Drop the cached blocks behind a superseded `localCheckpoint(true)`d
    * rank frame (the ContextCleaner only frees them on GC — too late for
    * an iterative loop; same helper shape as [[graft.dedup.Dedup]]).
    */
  private[graph] def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false))
}

/** Catalog queries for the graph operators. */
object GraphQueries {

  /** Deterministic in-plan link graph over document-id residue classes:
    * src space 0..96, dst space 0..100 — nodes 97..100 appear only as
    * destinations, so the graph HAS dangling nodes and the
    * dangling-mass path is exercised, not just compiled.
    */
  private[graft] def docEdges(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      pmod(col("doc_id"), lit(97L)).as("src"),
      pmod(col("doc_id") * 31L + 7L, lit(101L)).as("dst"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TWO-TIER (r17): the fixture graph is 2,990 edges, so the catalog
    // runs the exact driver power iteration (spec-pinned bit-equal to
    // the distributed loop that runs above the edge cap).
    "q_pagerank" -> ((s, d) => PageRank.pageRank(docEdges(s, d), "src", "dst")),

    // Personalized PageRank: teleport restricted to the node % 31 == 0
    // seed residue class (the q_bfs_dist seed set — rank is now
    // proximity-to-seeds authority). Same integer fixed point; the 3
    // iterations unroll to oracle CTEs with the seed CASE inlined.
    "q_ppr" -> ((s, d) => PageRank.personalizedPageRank(docEdges(s, d),
      "src", "dst", node => pmod(node, lit(31L)) === 0L)),

    // Multi-source BFS (Bfs.scala): distances <= 4 hops from the seed
    // residue class node % 31 == 0 over the directed doc graph. Two-tier:
    // exact driver BFS at fixture scale; above the edge cap the
    // DELTA-FRONTIER form (join work O(nodes reached), the 100 TB shape).
    // The full-frame distancesFp is the oracle twin — BfsSpec pins all
    // tiers bit-for-bit equal, and the oracle CTEs unroll the full-frame
    // iteration verbatim. Unreached nodes carry no row on both engines.
    "q_bfs_dist" -> ((s, d) =>
      Bfs.distances(docEdges(s, d), "src", "dst",
        node => pmod(node, lit(31L)) === 0L, iterations = 4)),

    // Triangle count — the clustering-coefficient / community-structure
    // primitive. Undirected simple graph (least/greatest canonical
    // orientation, self-loops dropped), triangles enumerated a<b<c by
    // two equi self-joins: e(a,b) ⋈ e(b,c) ⋈ e(a,c) — each triangle
    // counted exactly once. At 100 TB edge scale the same plan applies
    // after degree-orientation (point edges low→high DEGREE instead of
    // low→high id) so join fan-out is bounded by sqrt(m) per node —
    // the id orientation here keeps the oracle exact; the shape is
    // identical. One summary row: nodes, unique undirected edges,
    // triangles.
    "q_triangles" -> ((s, d) => {
      val raw = docEdges(s, d).filter(col("src") =!= col("dst"))
      val e = raw.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v")).distinct()
      val e1 = e.select(col("u").as("a"), col("v").as("b"))
      val e2 = e.select(col("u").as("b2"), col("v").as("c"))
      val e3 = e.select(col("u").as("a3"), col("v").as("c3"))
      val tri = e1.join(e2, col("b") === col("b2"))
        .join(e3, col("a") === col("a3") && col("c") === col("c3"))
        .agg(count(lit(1)).as("n_triangles"))
      val nodes = e.select(col("u").as("node"))
        .union(e.select(col("v").as("node"))).distinct()
        .agg(count(lit(1)).as("n_nodes"))
      val edges = e.agg(count(lit(1)).as("n_edges"))
      nodes.crossJoin(edges).crossJoin(tri)
    }))

  /** The same fixed-point power iteration unrolled as CTEs; `//` is
    * DuckDB's integer `div`, every sum cast back from HUGEINT.
    */
  val oracles: Map[String, String] = {
    def step(prev: String, cur: String): String =
      s"""$cur AS (
        |  SELECT nd.node,
        |    CAST((150000000000 // (SELECT n FROM nn))
        |      + (85 * (CAST(coalesce(c.csum, 0) AS BIGINT)
        |               + ((SELECT CAST(coalesce(sum(r), 0) AS BIGINT) FROM $prev
        |                   WHERE node NOT IN (SELECT src FROM deg))
        |                  // (SELECT n FROM nn)))) // 100 AS BIGINT) AS r
        |  FROM n nd LEFT JOIN (
        |    SELECT e.dst AS node, CAST(sum(p.r // deg.outdeg) AS BIGINT) AS csum
        |    FROM e JOIN deg USING (src) JOIN $prev p ON p.node = e.src
        |    GROUP BY e.dst) c USING (node))""".stripMargin
    Map(
      "q_pagerank" ->
        s"""WITH e AS (
          |  SELECT DISTINCT doc_id % 97 AS src, (doc_id * 31 + 7) % 101 AS dst
          |  FROM documents),
          |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
          |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
          |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM n),
          |r0 AS (SELECT node, 1000000000000 // (SELECT n FROM nn) AS r FROM n),
          |${step("r0", "r1")},
          |${step("r1", "r2")},
          |${step("r2", "r3")}
          |SELECT node, r FROM r3""".stripMargin,

      "q_ppr" -> {
        // the uniform step with the seed CASE inlined: restart mass and
        // the dangling return land on node % 31 = 0 only, divided by the
        // SEED count; same truncating integer ops in the same order
        def pstep(prev: String, cur: String): String =
          s"""$cur AS (
            |  SELECT nd.node,
            |    CAST((CASE WHEN nd.node % 31 = 0
            |        THEN 150000000000 // (SELECT ns FROM nn) ELSE 0 END)
            |      + (85 * (CAST(coalesce(c.csum, 0) AS BIGINT)
            |               + (CASE WHEN nd.node % 31 = 0
            |                   THEN ((SELECT CAST(coalesce(sum(r), 0) AS BIGINT) FROM $prev
            |                          WHERE node NOT IN (SELECT src FROM deg))
            |                         // (SELECT ns FROM nn))
            |                   ELSE 0 END))) // 100 AS BIGINT) AS r
            |  FROM n nd LEFT JOIN (
            |    SELECT e.dst AS node, CAST(sum(p.r // deg.outdeg) AS BIGINT) AS csum
            |    FROM e JOIN deg USING (src) JOIN $prev p ON p.node = e.src
            |    GROUP BY e.dst) c USING (node))""".stripMargin
        s"""WITH e AS (
          |  SELECT DISTINCT doc_id % 97 AS src, (doc_id * 31 + 7) % 101 AS dst
          |  FROM documents),
          |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
          |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
          |nn AS (SELECT CAST(count(*) FILTER (WHERE node % 31 = 0) AS BIGINT) AS ns FROM n),
          |r0 AS (SELECT node, CASE WHEN node % 31 = 0
          |  THEN 1000000000000 // (SELECT ns FROM nn) ELSE 0 END AS r FROM n),
          |${pstep("r0", "r1")},
          |${pstep("r1", "r2")},
          |${pstep("r2", "r3")}
          |SELECT node, r FROM r3""".stripMargin
      },

      "q_bfs_dist" -> {
        def bstep(prev: String, cur: String): String =
          s"""$cur AS (
            |  SELECT node, min(dist) AS dist FROM (
            |    SELECT node, dist FROM $prev
            |    UNION ALL
            |    SELECT e.dst AS node, p.dist + 1 AS dist
            |    FROM e JOIN $prev p ON e.src = p.node) u
            |  GROUP BY node)""".stripMargin
        s"""WITH e AS (
          |  SELECT DISTINCT doc_id % 97 AS src, (doc_id * 31 + 7) % 101 AS dst
          |  FROM documents),
          |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
          |d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM n WHERE node % 31 = 0),
          |${bstep("d0", "d1")},
          |${bstep("d1", "d2")},
          |${bstep("d2", "d3")},
          |${bstep("d3", "d4")}
          |SELECT node, dist FROM d4""".stripMargin
      },

      "q_triangles" ->
        """WITH raw AS (
          |  SELECT DISTINCT doc_id % 97 AS src, (doc_id * 31 + 7) % 101 AS dst
          |  FROM documents),
          |e AS (
          |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
          |  FROM raw WHERE src <> dst)
          |SELECT
          |  (SELECT count(*) FROM
          |    (SELECT u AS node FROM e UNION SELECT v FROM e)) AS n_nodes,
          |  (SELECT count(*) FROM e) AS n_edges,
          |  (SELECT count(*) FROM e e1
          |     JOIN e e2 ON e2.u = e1.v
          |     JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles""".stripMargin)
  }
}
