package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** GraftSession ships `spark.sql.adaptive.skewJoin` on, and OperatorsSpec
  * asserts the CONF — but a conf is not a lever until the split is seen
  * happening (the CboStatsSpec doctrine). This builds a celebrity-key
  * join, drops AQE's skew thresholds to fixture scale, and pins the FLIP:
  * the executed SortMergeJoin is marked skew=true with the skewed side
  * split into more tasks than the static partitioning, and values are
  * identical with the optimization off.
  */
class SkewJoinSpec extends AnyFunSuite with SparkSpec {

  // ~90% of fact rows on key 0 — the celebrity-hub histogram AQE's
  // OptimizeSkewedJoin exists for
  private def fact = {
    import spark.implicits._
    spark.range(0, 200000).select(
      when(col("id") % 10 < 9, 0L).otherwise(pmod(col("id"), lit(997L)))
        .as("k"),
      col("id").as("payload"))
  }

  private def dim = {
    import spark.implicits._
    spark.range(0, 997).select(col("id").as("k"),
      (col("id") * 7L).as("attr"))
  }

  private def scoped[A](pairs: (String, String)*)(body: => A): A = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def run(skewOn: Boolean) = scoped(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> skewOn.toString,
    // fixture-scale thresholds: the 90%-key partition is a few MB, not
    // the 256 MB a cluster profile calls skewed
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64k",
    // keep AQE from coalescing the contrast away
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
    val joined = fact.join(dim, Seq("k"))
      .agg(count(lit(1)).as("n"), sum(col("payload") + col("attr")).as("s"))
    val row = joined.collect()(0)
    // executedPlan AFTER the action = AQE's final plan
    (row.getLong(0), row.getLong(1),
      joined.queryExecution.executedPlan.toString)
  }

  test("AQE splits the celebrity partition: skew=true in the final plan") {
    val (n, s, plan) = run(skewOn = true)
    assert(plan.contains("skew=true"),
      s"expected a skew-split SortMergeJoin in the final AQE plan:\n$plan")
    val (n2, s2, plan2) = run(skewOn = false)
    assert(!plan2.contains("skew=true"), "contrast run still split")
    assert((n, s) === (n2, s2), "skew split must not perturb values")
    assert(n === 200000L)
  }
}
