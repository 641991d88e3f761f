package graft.tree

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.tree.ProximityTree.{Instance, Params}

/** Sequential learner tests on cluster data shaped like the reference's
  * smoke test (code/src/test.py:58-122: Gaussian-ish clusters, depth-1 tree,
  * accuracy assertion).
  */
class ProximityTreeSpec extends AnyFunSuite {

  /** Three well-separated 2-D clusters, 45 rows, seeded. */
  private def clusterData(rng: Random, perClass: Int = 15): IndexedSeq[Instance] = {
    val centers = Seq((0.0, 0.0), (10.0, 10.0), (-10.0, 10.0))
    centers.zipWithIndex.flatMap { case ((cx, cy), lbl) =>
      (1 to perClass).map { _ =>
        Instance(Array(cx + rng.nextGaussian(), cy + rng.nextGaussian()), lbl + 1)
      }
    }.toIndexedSeq
  }

  test("fits separable clusters to high train accuracy, deterministically") {
    val data = clusterData(new Random(42))
    val model = ProximityTree.fit(data, Params(nSplitters = 5, seed = 1))
    val acc = data.count(i => model.predictOne(i.ts) == i.label).toDouble / data.size
    assert(acc >= 0.95, s"train accuracy $acc")
    // determinism: same seed -> identical predictions
    val model2 = ProximityTree.fit(data, Params(nSplitters = 5, seed = 1))
    assert(data.forall(i => model.predictOne(i.ts) == model2.predictOne(i.ts)))
  }

  test("generalizes to held-out points from the same clusters") {
    val train = clusterData(new Random(42))
    val test = clusterData(new Random(99), perClass = 5)
    val model = ProximityTree.fit(train, Params(seed = 7))
    val acc = test.count(i => model.predictOne(i.ts) == i.label).toDouble / test.size
    assert(acc >= 0.9, s"test accuracy $acc")
  }

  test("pure node becomes a leaf; singleton data trains") {
    val pure = IndexedSeq(
      Instance(Array(1.0, 1.0), 3), Instance(Array(2.0, 2.0), 3))
    val m = ProximityTree.fit(pure, Params(seed = 5))
    assert(m.root === PLeaf(3))
    val single = ProximityTree.fit(IndexedSeq(Instance(Array(1.0), 9)), Params(seed = 5))
    assert(single.predictOne(Array(123.0)) === 9)
  }

  test("maxDepth caps growth; complexity metrics are consistent") {
    val data = clusterData(new Random(3))
    val shallow = ProximityTree.fit(data, Params(maxDepth = 1, seed = 2))
    assert(shallow.depth <= 2) // root split + leaves
    val m = ProximityTree.fit(data, Params(seed = 2))
    // every split has >= 2 children, so leaves > splits
    assert(m.numLeaves >= m.numSplits + 1)
    assert(m.numLeaves >= 3) // at least one leaf per class
    assert(m.depth >= 2)
  }

  test("minSamplesSplit stops splitting small nodes") {
    val data = clusterData(new Random(4), perClass = 3)
    val m = ProximityTree.fit(data, Params(minSamplesSplit = 100, seed = 2))
    // root itself is below the threshold -> majority leaf
    assert(m.root.isInstanceOf[PLeaf])
  }

  test("forest majority vote and weighted vote") {
    val data = clusterData(new Random(8))
    val forest = ProximityForest.fit(data, Params(seed = 21), numTrees = 5)
    val acc = data.count(i => forest.predictOne(i.ts) == i.label).toDouble / data.size
    assert(acc >= 0.95)
    // weighting: a dominant-weight tree decides alone
    val t1 = ProximityTree.fit(data, Params(seed = 1))
    val constLeaf = ProximityTreeModel(PLeaf(1), 1)
    val rigged = ProximityForestModel(
      IndexedSeq(t1, constLeaf, constLeaf), IndexedSeq(0.1, 10.0, 10.0),
      useWeighting = true)
    assert(rigged.predictOne(Array(10.0, 10.0)) === 1) // outvoted by weight
  }

  test("JSON model sink/source roundtrip preserves predictions") {
    val data = clusterData(new Random(15))
    val tree = ProximityTree.fit(data, Params(seed = 3))
    val back = ModelJson.treeFromJson(ModelJson.treeJson(tree))
    assert(data.forall(i => tree.predictOne(i.ts) == back.predictOne(i.ts)))
    assert(back.majority === tree.majority)

    val forest = ProximityForest.fit(data, Params(seed = 3), numTrees = 3)
    val fBack = ModelJson.forestFromJson(ModelJson.forestJson(forest))
    assert(data.forall(i => forest.predictOne(i.ts) == fBack.predictOne(i.ts)))
    assert(fBack.weights === forest.weights)
  }

  test("gini helper matches hand values") {
    assert(ProximityTree.gini(Seq(5, 5)) === 0.5)
    assert(ProximityTree.gini(Seq(10)) === 0.0)
    assert(math.abs(ProximityTree.gini(Seq(1, 1, 1)) - 2.0 / 3.0) < 1e-12)
    assert(ProximityTree.gini(Nil) === 0.0)
    // weighted Gini: each branch's Gini times its share of the rows
    assert(ProximityTree.weightedGini(IndexedSeq(Seq(5L, 5L), Seq(10L))) === Some(0.25))
    val uneven = ProximityTree.weightedGini(IndexedSeq(Seq(3L, 1L), Seq(2L), Nil))
    assert(math.abs(uneven.get - (4.0 / 6) * (1 - 10.0 / 16)) < 1e-12)
    assert(ProximityTree.weightedGini(IndexedSeq(Seq(4L), Nil, Seq(4L))) === Some(0.0))
    // fewer than two non-empty branches separate nothing
    assert(ProximityTree.weightedGini(IndexedSeq(Seq(3L, 1L), Nil)) === None)
    // majority label: ties go to the smallest label
    assert(ProximityTree.majorityLabel(Map(3 -> 4L, 1 -> 4L, 2 -> 1L)) === 1)
    assert(ProximityTree.majorityLabel(Map(7 -> 2L)) === 7)
  }

  test("sampled measures round-trip through byName and are seeded-deterministic") {
    import graft.dist.Distances
    val rng = new Random(77)
    val pair = (Array.fill(24)(rng.nextGaussian()), Array.fill(24)(rng.nextGaussian()))
    (1 to 300).foreach { _ =>
      val m = Distances.sampleMeasure(rng, dataStd = 0.31, seriesLen = 24)
      val back = Distances.byName(m.name)
      assert(back.name === m.name)
      assert(back(pair._1, pair._2) === m(pair._1, pair._2), m.name)
    }
    // same seed -> identical draw sequence (reproducible training)
    val a = new Random(5); val b = new Random(5)
    val drawsA = (1 to 50).map(_ => Distances.sampleMeasure(a, 0.2, 100).name)
    val drawsB = (1 to 50).map(_ => Distances.sampleMeasure(b, 0.2, 100).name)
    assert(drawsA === drawsB)
  }

  /** ECG5000 rows from the in-repo reference file: label \t 140 features. */
  private def ecgInstances(n: Int): IndexedSeq[Instance] = {
    val src = scala.io.Source.fromFile(graft.TestData.ecg5000Path)
    try src.getLines().take(n).map { line =>
      val parts = line.split('\t')
      Instance(parts.tail.map(_.toDouble), parts.head.trim.toDouble.toInt)
    }.toIndexedSeq
    finally src.close()
  }

  test("per-candidate parameter sampling holds the ECG5000 accuracy band") {
    assume(graft.TestData.ecg5000Available, "reference ECG5000 checkout absent")
    val all = ecgInstances(300)
    // deterministic interleaved holdout: every 3rd row tests
    val (test, train) = all.zipWithIndex.partition(_._2 % 3 == 2)
    val trainD = train.map(_._1); val testD = test.map(_._1)
    def acc(sample: Boolean): Double = {
      val m = ProximityTree.fit(trainD,
        Params(nSplitters = 5, minSamplesSplit = 5, seed = 11, sampleParams = sample))
      testD.count(i => m.predictOne(i.ts) == i.label).toDouble / testD.size
    }
    val fixed = acc(sample = false)
    val sampled = acc(sample = true)
    // ECG5000 majority class is ~58%; both schemes must clear it, and
    // sampling must not regress materially vs the fixed pool
    assert(sampled > 0.75, s"sampled-params accuracy $sampled")
    assert(sampled >= fixed - 0.06, s"sampled $sampled vs fixed $fixed")
  }
}
