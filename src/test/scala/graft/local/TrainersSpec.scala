package graft.local

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.eval.Metrics
import graft.global.GlobalTrainer
import graft.tree.{ModelJson, PLeaf, PSplit, ProximityTree}

/** End-to-end Spark training tests for both strategies on the reference
  * smoke-test shape (code/src/test.py:58-122): separable clusters, assert
  * accuracy — not tree identity (SURVEY §7 hard part (c)).
  */
class TrainersSpec extends AnyFunSuite with SparkSpec {

  private def clusterDf(rng: Random, perClass: Int) = {
    val centers = Seq((0.0, 0.0), (10.0, 10.0), (-10.0, 10.0))
    val rows = centers.zipWithIndex.flatMap { case ((cx, cy), lbl) =>
      (1 to perClass).map(_ =>
        (lbl + 1, cx + rng.nextGaussian(), cy + rng.nextGaussian()))
    }
    spark.createDataFrame(rows).toDF("label", "_c1", "_c2")
  }

  test("local path: per-partition ensemble reaches high accuracy") {
    val train = clusterDf(new Random(42), perClass = 20)
    val test = clusterDf(new Random(7), perClass = 6)
    val forest = LocalTrainer.trainEnsemble(
      spark, train, "label", Seq("_c1", "_c2"),
      numPartitions = 3,
      params = ProximityTree.Params(nSplitters = 5, seed = 1))
    assert(forest.trees.size === 3) // one tree per partition
    // a repeated call trains the same forest
    val again = LocalTrainer.trainEnsemble(
      spark, train, "label", Seq("_c1", "_c2"),
      numPartitions = 3,
      params = ProximityTree.Params(nSplitters = 5, seed = 1))
    assert(ModelJson.forestJson(again) === ModelJson.forestJson(forest))
    val pred = LocalTrainer.predict(spark, forest, test, Seq("_c1", "_c2"))
    assert(Metrics.accuracyDF(pred, "label", "prediction").head().getDouble(0) >= 0.9)
  }

  test("local path: a partition's tree and weight do not depend on its row order") {
    val rng = new Random(21)
    val rows = (1 to 3).flatMap(lbl => (1 to 12).map(_ =>
      ProximityTree.Instance(Array(lbl * 3 + rng.nextGaussian(), rng.nextGaussian()), lbl)))
    val params = ProximityTree.Params(nSplitters = 3, seed = 8)
    val (tree, weight) = LocalTrainer.fitPartition(rows, params, holdoutFraction = 0.2)
    (1 to 3).foreach { i =>
      val (t, w) = LocalTrainer.fitPartition(new Random(i).shuffle(rows), params, 0.2)
      assert(ModelJson.treeJson(t) === ModelJson.treeJson(tree))
      assert(w === weight)
    }
  }

  test("local path: holdout weighting produces per-tree weights in [0,1]") {
    val train = clusterDf(new Random(11), perClass = 20)
    val forest = LocalTrainer.trainEnsemble(
      spark, train, "label", Seq("_c1", "_c2"),
      numPartitions = 2,
      params = ProximityTree.Params(seed = 2),
      holdoutFraction = 0.2, useWeighting = true)
    assert(forest.weights.forall(w => w >= 0.0 && w <= 1.0))
    assert(forest.useWeighting)
  }

  test("stratified holdout keeps every class in train") {
    val data = (1 to 3).flatMap(lbl =>
      (1 to 10).map(_ => ProximityTree.Instance(Array(lbl.toDouble), lbl)))
    val (train, hold) = LocalTrainer.stratifiedHoldout(data.toIndexedSeq, 0.2, seed = 5)
    assert(train.size + hold.size === data.size)
    assert(train.map(_.label).distinct.sorted === Seq(1, 2, 3))
    assert(hold.size === 6) // 2 of 10 per class
  }

  test("global path: distributed level-synchronous tree reaches high accuracy") {
    val train = clusterDf(new Random(42), perClass = 15)
    val test = clusterDf(new Random(9), perClass = 5)
    val tree = GlobalTrainer.fit(
      spark, train, "label", Seq("_c1", "_c2"),
      ProximityTree.Params(nSplitters = 3, seed = 1))
    assert(tree.numSplits >= 1)
    val pred = LocalTrainer.predictTree(spark, tree, test, Seq("_c1", "_c2"))
    assert(Metrics.accuracyDF(pred, "label", "prediction").head().getDouble(0) >= 0.9)
  }

  test("an empty child is a leaf of its exemplar's class in both trainers") {
    // class 2 sits on class 0's point: exemplars 0 and 2 tie, the first
    // wins, so no row takes branch 2
    val rows = Seq.fill(5)((0, 0.0, 0.0)) ++ Seq.fill(5)((1, 10.0, 10.0)) ++
      Seq.fill(2)((2, 0.0, 0.0))
    val params = ProximityTree.Params(nSplitters = 3, seed = 4, poolNames = Seq("euclidean"))
    val local = ProximityTree.fit(
      rows.map { case (l, a, b) => ProximityTree.Instance(Array(a, b), l) }.toIndexedSeq,
      params)
    val global = GlobalTrainer.fit(spark, spark.createDataFrame(rows).toDF("label", "_c1", "_c2"),
      "label", Seq("_c1", "_c2"), params)
    Seq("local" -> local, "global" -> global).foreach { case (name, m) =>
      m.root match {
        case s: PSplit =>
          assert(s.exemplarLabels === Seq(0, 1, 2), name)
          assert(s.children(2) === PLeaf(2), name)
        case leaf => fail(s"$name: root is $leaf, expected a split")
      }
    }
  }

  test("global path respects maxDepth and handles tiny input") {
    val train = clusterDf(new Random(5), perClass = 8)
    val capped = GlobalTrainer.fit(
      spark, train, "label", Seq("_c1", "_c2"),
      ProximityTree.Params(nSplitters = 2, maxDepth = 1, seed = 3))
    assert(capped.depth <= 2)
  }
}
