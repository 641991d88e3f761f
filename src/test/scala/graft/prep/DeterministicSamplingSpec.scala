package graft.prep

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class DeterministicSamplingSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val ids = spark.range(0, 2000).toDF("id")

  test("draws are uniform-ish in [0,1) and a pure function of the id") {
    val draws = ids.select(col("id"),
        DeterministicSampling.uniformDraw(col("id")).as("u"))
      .as[(Long, Double)].collect().toMap
    assert(draws.values.forall(u => u >= 0.0 && u < 1.0))
    val mean = draws.values.sum / draws.size
    assert(math.abs(mean - 0.5) < 0.02, s"mean $mean")
    // replay: the same ids produce byte-identical draws (no RNG state)
    val again = ids.repartition(7).select(col("id"),
        DeterministicSampling.uniformDraw(col("id")).as("u"))
      .as[(Long, Double)].collect().toMap
    assert(again === draws, "draws must not depend on partitioning")
  }

  test("weight boundaries: >=1 keeps all, 0 keeps none, 0.3 keeps ~30%") {
    def kept(w: Double) = ids.filter(
      DeterministicSampling.weightedKeep(col("id"), lit(w))).count()
    assert(kept(1.5) === 2000L)
    assert(kept(0.0) === 0L)
    val frac = kept(0.3) / 2000.0
    assert(math.abs(frac - 0.3) < 0.04, s"kept fraction $frac")
  }

  test("content draws: in [0,1) on rows with nulls; salted seeds draw independently") {
    import DeterministicSampling._
    val rows = ids.select(col("id"),
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id") * 0.5).as("x"))
    val d = rows.select(
        contentDraw(5L ^ SampleSalt, col("id"), col("x")).as("a"),
        contentDraw(5L ^ SplitSalt, col("id"), col("x")).as("b"))
      .as[(Option[Double], Option[Double])].collect()
    assert(d.forall { case (a, b) => a.isDefined && b.isDefined })
    val ab = d.map { case (a, b) => (a.get, b.get) }
    assert(ab.forall { case (a, b) => a >= 0.0 && a < 1.0 && b >= 0.0 && b < 1.0 })
    val both = ab.count { case (a, b) => a < 0.5 && b < 0.5 } / 2000.0
    assert(math.abs(both - 0.25) < 0.03, s"P(a < .5 and b < .5) = $both")
  }
}
