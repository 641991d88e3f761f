package graft.pipeline

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.global.GlobalTrainer
import graft.local.LocalTrainer
import graft.prep.Preprocessing
import graft.split.Splits
import graft.tree.{ModelJson, ProximityTree}

/** The pipeline's random choices are functions of the rows and the seed:
  * the same rows, read in another order or partitioning, give the same
  * split, the same balanced groups, the same forest and the same tree.
  */
class LayoutInvarianceSpec extends AnyFunSuite with SparkSpec {

  private val feats = (1 to 6).map(i => s"_c$i")

  /** 3 classes of noisy level-shifted series, plus two exact duplicates. */
  private val rows: Seq[(Int, Double, Double, Double, Double, Double, Double)] = {
    val rng = new Random(17)
    val base = (0 until 3).flatMap(lbl => Seq.fill(150) {
      def v = lbl * 0.8 + rng.nextGaussian()
      (lbl, v, v, v, v, v, v)
    })
    base ++ base.take(2)
  }

  private def frame(rs: Seq[(Int, Double, Double, Double, Double, Double, Double)]) =
    spark.createDataFrame(rs).toDF("label" +: feats: _*)

  private lazy val original = frame(rows)
  /** The same rows, shuffled and spread over 7 partitions. */
  private lazy val moved = frame(new Random(3).shuffle(rows)).repartition(7)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString(",")).sorted.toSeq

  test("split, balanced groups and the local forest do not depend on the input's layout") {
    val (trA, teA) = Splits.stratifiedSplit(original, "label", 0.8, seed = 123)
    val (trB, teB) = Splits.stratifiedSplit(moved, "label", 0.8, seed = 123)
    assert(sortedRows(trA) === sortedRows(trB))
    assert(sortedRows(teA) === sortedRows(teB))

    def groups(df: DataFrame) =
      sortedRows(Preprocessing.classBalancedPartition(df, "label", 4, seed = 5))
    assert(groups(original) === groups(moved))

    Seq(ProximityTree.Params(nSplitters = 3, seed = 9),
        ProximityTree.Params(nSplitters = 3, seed = 9, sampleParams = true)).foreach { params =>
      def forest(df: DataFrame) = ModelJson.forestJson(LocalTrainer.trainEnsemble(
        spark, df, "label", feats, numPartitions = 3, params, holdoutFraction = 0.2))
      assert(forest(original) === forest(moved), params)
    }
  }

  test("GlobalTrainer.fit grows a byte-identical tree on roundRobin(k), k in {1, 2, 4, 7}") {
    val params = ProximityTree.Params(nSplitters = 3, maxDepth = 4, seed = 11,
      sampleParams = true)
    val trees = Seq(1, 2, 4, 7).map { k =>
      val input = Preprocessing.roundRobin(moved, k)
      assert(input.rdd.getNumPartitions === k)
      k -> ModelJson.treeJson(GlobalTrainer.fit(spark, input, "label", feats, params))
    }
    trees.tail.foreach { case (k, json) =>
      assert(json === trees.head._2, s"roundRobin($k) grew a different tree")
    }
    assert(trees.head._2.contains("exemplars"))
  }
}
