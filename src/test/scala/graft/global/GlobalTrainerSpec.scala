package graft.global

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.ops.TscQueries
import graft.prep.{DeterministicSampling, Preprocessing}
import graft.tree.{ModelJson, ProximityTree}

/** The shared grower's level statistics and its two row sources. */
class GlobalTrainerSpec extends AnyFunSuite with SparkSpec {

  test("exemplarFold equals sort-and-take-k, whole or in merged chunks") {
    val rnd = new Random(31)
    // group sizes 1..12 around k = 5, plus a one-row group; series drawn
    // from few values so identical rows (equal keys) occur; node 7's rows
    // are outside the folded node set
    val groups = (0 until 6).flatMap(nid => (0 until 3).map(lbl => (nid, lbl))) ++
      Seq((9, 9), (7, 0))
    val rows: Seq[ProximityTree.Row] = groups.flatMap { case g @ (nid, lbl) =>
      val n = if (g == ((9, 9))) 1 else 1 + rnd.nextInt(12)
      Seq.fill(n)(ProximityTree.Row(lbl, Array.fill(2)(rnd.nextInt(3).toDouble), nid))
    }
    val nodes = Set(0, 1, 2, 3, 4, 5, 9)
    val k = 5
    val seed = 17L
    val whole = ProximityTree.exemplarFold(rows.iterator, nodes, seed, k)
    val chunks = rows.grouped((rows.size + 3) / 4).toSeq
    assert(chunks.size === 4)
    val merged = chunks.map(c => ProximityTree.exemplarFold(c.iterator, nodes, seed, k))
      .reduce(ProximityTree.mergeExemplars(k))

    val expected = rows.filter(r => nodes(r.node)).groupBy(r => (r.node, r.label)).map { case (g, rs) =>
      g -> rs.map(r => (DeterministicSampling.seriesKey(seed, r.label, r.series), r.series)).sortWith { (a, b) =>
        a._1 < b._1 || (a._1 == b._1 && java.util.Arrays.compare(a._2, b._2) < 0)
      }.take(k).map { case (key, s) => (key, s.toSeq) }
    }
    Seq("one fold" -> whole, "merged chunks" -> merged).foreach { case (name, got) =>
      assert(got.keySet === expected.keySet, name)
      expected.foreach { case (g, top) =>
        assert(got(g).map { case (key, s) => (key, s.toSeq) } === top, s"$name group $g")
      }
    }
    assert(whole((9, 9)).size === 1)
    assert(expected.values.exists(_.size < k) && expected.values.exists(_.size == k))
  }

  test("seriesKey equals the contentKey column") {
    val rows = Seq(
      (0, Seq(0.0, -0.0, 1.5)),
      (0, Seq(-0.0, 0.0, 1.5)),
      (-3, Seq(Double.NaN, 2.0)),
      (Int.MinValue, Seq(Double.PositiveInfinity, Double.NegativeInfinity, -1e-300)),
      (7, Seq.empty[Double]),
      (-1, Seq(-0.0)),
      (2, Seq(0.0 / 0.0, java.lang.Double.longBitsToDouble(0x7ff8000000000001L))))
    Seq(0L, 42L, -9L, Long.MaxValue).foreach { seed =>
      val got = spark.createDataFrame(rows).toDF("label", "series")
        .select(col("label"), col("series"),
          DeterministicSampling.contentKey(seed, col("label"), col("series")).as("key"))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1), r.getLong(2)))
      assert(got.length === rows.length)
      got.foreach { case (lbl, series, key) =>
        assert(DeterministicSampling.seriesKey(seed, lbl, series.toArray) === key,
          s"seed $seed label $lbl series $series")
      }
    }
  }

  test("GlobalTrainer.fit on roundRobin(k) equals ProximityTree.fit") {
    val rows = TscQueries.fixtureSeries(5000L, 150)
    val feats = (0 until 16).map(i => s"_t$i")
    val df = spark.createDataFrame(rows.map { case (_, l, ts) => (l, ts.toSeq) })
      .toDF("label", "ts")
      .select(col("label") +: (0 until 16).map(i => col("ts").getItem(i).as(s"_t$i")): _*)
    val instances = rows.map { case (_, l, ts) => ProximityTree.Instance(ts, l) }.toIndexedSeq
    val configs = Seq(
      "euclidean" -> ProximityTree.Params(poolNames = Seq("euclidean"), seed = 3),
      "default pool" -> ProximityTree.Params(seed = 5),
      "sampled" -> ProximityTree.Params(sampleParams = true, seed = 8),
      "capped" -> ProximityTree.Params(maxDepth = 3, minSamplesSplit = 10,
        poolNames = Seq("euclidean", "dtw_full"), seed = 2),
      "deep" -> ProximityTree.Params(nSplitters = 1, poolNames = Seq("euclidean"), seed = 2))
    val depths = configs.map { case (name, params) =>
      val localTree = ProximityTree.fit(instances, params)
      assert(localTree.numSplits >= 2, name)
      val local = ModelJson.treeJson(localTree)
      Seq(1, 4).foreach { k =>
        // every level's rows are unpersisted by the time fit returns
        val cached = spark.sparkContext.getPersistentRDDs.keySet
        val global = GlobalTrainer.fit(spark, Preprocessing.roundRobin(df, k), "label", feats,
          params)
        assert(ModelJson.treeJson(global) === local, s"$name, k = $k")
        assert(spark.sparkContext.getPersistentRDDs.keySet === cached, s"$name, k = $k")
      }
      name -> localTree.depth
    }.toMap
    // over 8 levels: each level's rows are checkpointed and freed many times
    assert(depths("deep") > 8)
    // the sweep's sigma is the grower's, bit for bit
    assert(GlobalTrainer.computeDataStdWide(Preprocessing.roundRobin(df, 4), feats) ===
      ProximityTree.valueStd(Seq(ProximityTree.valueSumsFold(instances.iterator.map(_.ts)))))
  }
}
