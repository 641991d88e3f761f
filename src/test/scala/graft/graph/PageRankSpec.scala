package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** PageRank invariants the oracle can't see from one fixture run: mass
  * conservation under floor leakage, uniformity on symmetric graphs,
  * dangling-mass redistribution, and sink accumulation on a directed
  * chain.
  */
class PageRankSpec extends AnyFunSuite with SparkSpec {

  private val Scale = 1000000000000L

  private def edges(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  private def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("uniform cycle stays uniform at every iteration count") {
    val cycle = edges(1L -> 2L, 2L -> 3L, 3L -> 1L)
    for (k <- 1 to 4) {
      val r = ranks(PageRank.pageRank(cycle, "src", "dst",
        iterations = k, driverEdgeCap = 0L))
      assert(r.size === 3)
      // exact uniform fixed point: every node keeps 10^12 div 3
      assert(r.values.toSet.size === 1, s"cycle ranks diverged at k=$k: $r")
    }
  }

  test("mass is conserved up to deterministic floor leakage") {
    val g = edges(1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 1L, 4L -> 1L)
    val r = ranks(PageRank.pageRank(g, "src", "dst",
      iterations = 3, driverEdgeCap = 0L))
    val mass = r.values.sum
    // each div floors at most 1 unit per term; 3 iterations x ~10 terms
    assert(mass <= Scale && mass > Scale - 1000L, s"mass drifted: $mass")
  }

  test("dangling node's mass is redistributed, not lost") {
    // 1 -> 2, 2 has no out-edges (dangling): without redistribution the
    // graph bleeds rank; with it, node 1 still receives the dangling share
    val g = edges(1L -> 2L)
    val r = ranks(PageRank.pageRank(g, "src", "dst",
      iterations = 3, driverEdgeCap = 0L))
    assert(r.keySet === Set(1L, 2L))
    assert(r.values.sum > Scale - 100L, s"dangling mass lost: $r")
    // the sink end of the edge outranks the source
    assert(r(2L) > r(1L))
  }

  test("residency: at most one node-scale frame stays cached after return") {
    // the checkpoint-cadence rewrite must keep the 100x-scale bound the
    // per-iteration eager variant bought: whatever K, once the distributed loop
    // returns only the FINAL checkpointed rank frame may hold blocks —
    // span-internal persists and superseded checkpoints are freed.
    val g = edges(1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 1L, 4L -> 1L)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // K=7 spans three checkpoint boundaries (3, 6, 7) plus span persists
    val r = PageRank.pageRank(g, "src", "dst", iterations = 7, driverEdgeCap = 0L)
    r.collect()
    // unpersist(blocking=false) is async — give the block manager a beat
    val deadline = System.nanoTime() + 5000000000L
    def leftover = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    while (leftover.size > 1 && System.nanoTime() < deadline) Thread.sleep(50)
    assert(leftover.size <= 1, s"residency bound broken: ${leftover.size} frames held")
  }

  test("personalized: all-seeds reduces bit-for-bit to uniform PageRank") {
    val g = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L, 5L -> 1L)
    val uniform = ranks(PageRank.pageRank(g, "src", "dst",
      iterations = 3, driverEdgeCap = 0L))
    val allSeed = ranks(PageRank.personalizedPageRank(g, "src", "dst",
      _ => lit(true), iterations = 3, driverEdgeCap = 0L))
    assert(allSeed === uniform)
  }

  test("personalized: mass concentrates near the seed; unreachable nodes rank 0") {
    // seed 1 reaches {1,2,3} (cycle with a backlink so the pulse damps);
    // {10,11} is a separate component the surfer can never restart into.
    // 12 iterations: contraction 0.67^12 ~ 0.8% — ordering is the
    // steady state's, not a transient's
    val g = edges(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 1L,
      10L -> 11L, 11L -> 10L)
    val r = ranks(PageRank.personalizedPageRank(g, "src", "dst",
      n => n === 1L, iterations = 12, driverEdgeCap = 0L))
    assert(r.size === 5, "every node reports a row")
    assert(r(10L) === 0L && r(11L) === 0L,
      "teleport-unreachable nodes carry zero mass")
    assert(r(1L) > r(2L) && r(2L) > r(3L),
      s"rank should decay with distance from the seed: $r")
    // restart mass lands on the seed every iteration
    assert(r(1L) > Scale * 15 / 100, s"seed keeps at least the restart term: $r")
  }

  test("a null edge endpoint is dropped, not an NPE — and both tiers agree") {
    // a null src/dst (null input, or a cast that yields null) is not an
    // edge; before the fix the driver tier NPE'd on getLong while the
    // distributed tier threaded a phantom null node — behavior diverging
    // by graph SIZE
    import spark.implicits._
    val g = Seq((Some(1L), Some(2L)), (Some(2L), Option.empty[Long]),
      (Option.empty[Long], Some(3L)), (Some(2L), Some(3L)))
      .toDF("src", "dst")
    val clean = edges(1L -> 2L, 2L -> 3L)
    val want = ranks(PageRank.pageRank(clean, "src", "dst", iterations = 3))
    assert(ranks(PageRank.pageRank(g, "src", "dst", iterations = 3)) === want,
      "driver tier must drop null-endpoint edges")
    assert(ranks(PageRank.pageRank(g, "src", "dst", iterations = 3,
      driverEdgeCap = 0L)) === want,
      "distributed tier must drop null-endpoint edges")
    // BFS shares edgesUnderCap — same contract
    val seed = (n: org.apache.spark.sql.Column) => n === 1L
    val dWant = Bfs.distances(clean, "src", "dst", seed).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dGot = Bfs.distances(g, "src", "dst", seed).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dGot === dWant)
  }

  test("personalized: empty seed set refuses loudly") {
    val g = edges(1L -> 2L)
    intercept[IllegalArgumentException] {
      PageRank.personalizedPageRank(g, "src", "dst",
        n => n === 99L, iterations = 2, driverEdgeCap = 0L).collect()
    }
  }

  test("two-tier: driver power iteration bit-equals the forced " +
      "distributed loop, uniform and personalized") {
    // dangling node, multi-out-degree, a node that is only a destination
    val g = edges(1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 1L, 4L -> 1L, 2L -> 5L)
    for (k <- 1 to 4) {
      val dist = ranks(PageRank.pageRank(g, "src", "dst",
        iterations = k, driverEdgeCap = 0L))
      // default cap -> driver tier
      assert(ranks(PageRank.pageRank(g, "src", "dst", iterations = k))
        === dist, s"uniform driver tier diverged at k=$k")
      // cap 0 forces the distributed loop through the same entry
      assert(ranks(PageRank.pageRank(g, "src", "dst", iterations = k,
        driverEdgeCap = 0L)) === dist)
    }
    val seed = (n: org.apache.spark.sql.Column) => n % 3L === 1L
    val pDist = ranks(PageRank.personalizedPageRank(g, "src", "dst",
      seed, iterations = 3, driverEdgeCap = 0L))
    assert(ranks(PageRank.personalizedPageRank(g, "src", "dst", seed,
      iterations = 3)) === pDist)
    assert(ranks(PageRank.personalizedPageRank(g, "src", "dst", seed,
      iterations = 3, driverEdgeCap = 0L)) === pDist)
    // the driver tier refuses an empty seed set like the distributed one
    intercept[IllegalArgumentException] {
      PageRank.personalizedPageRank(g, "src", "dst", n => n === 99L,
        iterations = 2).collect()
    }
  }

  test("chain orders ranks by depth and matches closed-form hand iteration") {
    // 1 -> 2 -> 3 (3 a dangling sink): deeper nodes accumulate more rank
    val g = edges(1L -> 2L, 2L -> 3L)
    val r = ranks(PageRank.pageRank(g, "src", "dst",
      iterations = 2, driverEdgeCap = 0L))
    assert(r(3L) > r(2L) && r(2L) >= r(1L), s"chain order violated: $r")
    // hand-rolled fixed-point iteration (same div floors)
    def step(prev: Map[Long, Long]): Map[Long, Long] = {
      val n = 3L
      val dang = prev(3L)
      val base = 150000000000L / n
      def nr(contrib: Long) = base + 85L * (contrib + dang / n) / 100L
      Map(1L -> nr(0L), 2L -> nr(prev(1L) / 1L), 3L -> nr(prev(2L) / 1L))
    }
    val r0 = Map(1L -> Scale / 3, 2L -> Scale / 3, 3L -> Scale / 3)
    assert(r === step(step(r0)))
  }
}
