package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkSpec

class BfsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // 0→1→2→3→4→5 chain plus a shortcut 0→3 and an isolated pair 10→11
  private def chain = Seq(
    (0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (0L, 3L), (10L, 11L)
  ).toDF("s", "t")

  test("exact hop distances, shortcut taken, unreached nodes absent") {
    val got = Bfs.distancesFp(chain, "s", "t", n => n === 0L, iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // shortcut 0→3 beats 0→1→2→3; 5 is 3 hops via the shortcut
    assert(got === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 2L, 5L -> 3L))
    // 10/11 unreached: no row, not dist 0
  }

  test("radius bound: iterations cap the frontier") {
    val got = Bfs.distancesFp(chain, "s", "t", n => n === 1L, iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("multi-source: labels take the nearest seed") {
    val got = Bfs.distancesFp(chain, "s", "t", n => n === 0L || n === 10L,
      iterations = 4).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(11L) === 1L)
    assert(got(5L) === 3L)
  }

  // ---- delta-frontier form: values identical, work strictly smaller ----

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("delta-frontier: bit-for-bit equal to full-frame on every shape") {
    // chain + shortcut + disjoint pair, single and multi seed, radius cap
    for ((pred, iters) <- Seq(
        ((n: org.apache.spark.sql.Column) => n === 0L, 4),
        ((n: org.apache.spark.sql.Column) => n === 1L, 2),
        ((n: org.apache.spark.sql.Column) => n === 0L || n === 10L, 4),
        ((n: org.apache.spark.sql.Column) => n === 999L, 3))) { // no seeds
      val fp = asMap(Bfs.distancesFp(chain, "s", "t", pred, iters))
      val de = asMap(Bfs.distances(chain, "s", "t", pred, iters, driverEdgeCap = 0L))
      assert(de === fp)
    }
    // pseudo-random graph: residue edges, several components, cross edges
    val rnd = spark.range(0, 400).select(
      (col("id") % 53).as("s"), ((col("id") * 17 + 3) % 59).as("t"))
    val fp = asMap(Bfs.distancesFp(rnd, "s", "t",
      n => n % 7L === 0L, iterations = 5))
    val de = asMap(Bfs.distances(rnd, "s", "t",
      n => n % 7L === 0L, iterations = 5, driverEdgeCap = 0L))
    assert(de === fp)
  }

  test("two-tier: driver BFS and the forced distributed loop agree with " +
      "the full-frame oracle twin on every shape") {
    for ((pred, iters) <- Seq(
        ((n: org.apache.spark.sql.Column) => n === 0L, 4),
        ((n: org.apache.spark.sql.Column) => n === 0L || n === 10L, 4),
        ((n: org.apache.spark.sql.Column) => n === 999L, 3))) { // no seeds
      val fp = asMap(Bfs.distancesFp(chain, "s", "t", pred, iters))
      // default cap -> the driver tier
      assert(asMap(Bfs.distances(chain, "s", "t", pred, iters)) === fp)
      // cap 0 FORCES the distributed frontier loop through the same entry
      assert(asMap(Bfs.distances(chain, "s", "t", pred, iters,
        driverEdgeCap = 0L)) === fp)
    }
    val rnd = spark.range(0, 400).select(
      (col("id") % 53).as("s"), ((col("id") * 17 + 3) % 59).as("t"))
    val fp = asMap(Bfs.distancesFp(rnd, "s", "t",
      n => n % 7L === 0L, iterations = 5))
    assert(asMap(Bfs.distances(rnd, "s", "t",
      n => n % 7L === 0L, iterations = 5)) === fp)
    assert(asMap(Bfs.distances(rnd, "s", "t",
      n => n % 7L === 0L, iterations = 5, driverEdgeCap = 0L)) === fp)
  }

  test("delta-frontier wins on a high-diameter graph: probe work is " +
      "O(reached), not O(settled x rounds)") {
    // a 60-node path: the full-frame form joins ALL settled nodes every
    // round — sum over 30 rounds of |settled_i| = 1+2+...+30 probes —
    // while the frontier form probes exactly one node per round
    val n = 60
    val path = spark.range(0, n - 1).select(col("id").as("s"),
      (col("id") + 1L).as("t"))
    val rounds = 30
    val (dist, frontiers) = Bfs.distancesDeltaStats(path, "s", "t",
      c => c === 0L, iterations = rounds)
    assert(asMap(dist) === (0 to rounds).map(i => i.toLong -> i.toLong).toMap)
    // frontier form: one node per layer
    assert(frontiers === (0 to rounds).map(_ => 1L))
    val deltaProbes = frontiers.sum
    // full-frame probe work on the same run: round i joins all i settled
    val fullProbes = (1 to rounds).map(_.toLong).sum
    assert(deltaProbes === (rounds + 1).toLong)
    assert(fullProbes === 465L)
    assert(deltaProbes * 10 < fullProbes,
      "frontier form must do an order of magnitude less probe work here")
  }

  test("delta-frontier exits early when the frontier empties") {
    // component exhausted after 1 hop; 50 requested iterations must not
    // run 50 rounds (frontier sizes stop right after the first empty)
    val (dist, frontiers) = Bfs.distancesDeltaStats(chain, "s", "t",
      c => c === 10L, iterations = 50)
    assert(asMap(dist) === Map(10L -> 0L, 11L -> 1L))
    assert(frontiers === Seq(1L, 1L, 0L))
  }

  test("partition invariance and eager/declarative agreement") {
    val a = Bfs.distancesFp(chain, "s", "t", n => n === 0L, iterations = 4)
      .orderBy("node").collect().toSeq
    val b = Bfs.distancesFp(chain.repartition(5), "s", "t", n => n === 0L,
      iterations = 4).orderBy("node").collect().toSeq
    val c = Bfs.distancesFp(chain, "s", "t", n => n === 0L, iterations = 4,
      eager = false).orderBy("node").collect().toSeq
    assert(a === b)
    assert(a === c)
  }
}
