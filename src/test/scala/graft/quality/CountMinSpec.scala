package graft.quality

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkSpec

class CountMinSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val D = 4
  private val W = 64

  private def keysDf = Seq.tabulate(200)(i => s"k${i % 17}").toDF("k")

  test("estimates are exact when no buckets collide, and never underestimate") {
    val sk = CountMin.sketch(keysDf, "k", D, W)
    val probes = keysDf.groupBy("k").agg(count(lit(1)).as("true_n"))
    val est = CountMin.estimate(probes, "k", sk, D, W).collect()
    assert(est.length === 17)
    est.foreach { r =>
      val (t, e) = (r.getAs[Long]("true_n"), r.getAs[Long]("est_n"))
      assert(e >= t, s"CMS underestimated: $r") // the structural guarantee
    }
    // 17 keys in 4x64 buckets: a full-collision chain across all 4 rows is
    // vanishingly unlikely — at least most estimates are exact
    assert(est.count(r => r.getAs[Long]("true_n") == r.getAs[Long]("est_n")) >= 15)
  }

  test("per-batch sketches merge into the one-shot sketch exactly") {
    val whole = CountMin.sketch(keysDf, "k", D, W).collect()(0).getSeq[Long](0)
    // the same 200-key stream split into two deterministic batches
    val a = CountMin.sketch(Seq.tabulate(100)(i => s"k${i % 17}").toDF("k"), "k", D, W)
    val b = CountMin.sketch(
      Seq.tabulate(100)(i => s"k${(i + 100) % 17}").toDF("k"), "k", D, W)
    // a sketch is linear: merging is the element-wise counter sum
    def counters(sk: org.apache.spark.sql.DataFrame) = sk.collect()(0).getSeq[Long](0)
    val merged = counters(a).zip(counters(b)).map { case (x, y) => x + y }
    assert(merged === whole)
  }

  test("sketch totals: every depth row sums to the stream length") {
    val sk = CountMin.sketch(keysDf, "k", D, W).collect()(0).getSeq[Long](0)
    assert(sk.length === D * W)
    (0 until D).foreach { r =>
      assert(sk.slice(r * W, (r + 1) * W).sum === 200L)
    }
  }

  test("build is one global typed aggregate; estimate never shuffles probes") {
    val sk = CountMin.sketch(keysDf, "k", D, W)
    val plan = sk.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      plan.take(500))
    assert(!plan.contains("Generate"), plan.take(500))
    val est = CountMin.estimate(keysDf.distinct(), "k", sk, D, W)
    val eplan = est.queryExecution.executedPlan.toString
    assert(eplan.contains("BroadcastNestedLoopJoin"), eplan.take(500))
  }

  test("result is invariant to input partitioning") {
    val a = CountMin.sketch(keysDf, "k", D, W).collect()(0).getSeq[Long](0)
    val b = CountMin.sketch(keysDf.repartition(13), "k", D, W)
      .collect()(0).getSeq[Long](0)
    assert(a === b)
  }
}
