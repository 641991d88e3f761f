package graft.global

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The global trainer's exemplar sampler against a sort-and-take reference. */
class GlobalTrainerSpec extends AnyFunSuite with SparkSpec {

  test("smallestK equals sort-by-rand-and-take-k on every group") {
    val rnd = new Random(31)
    // group sizes 1..12 around k = 5, plus a one-row group; r drawn from 20
    // values so ties occur and the series tie-break decides them
    val groups = (0 until 6).flatMap(nid => (0 until 3).map(lbl => (nid, lbl))) :+ ((9, 9))
    val rows = groups.flatMap { case g @ (nid, lbl) =>
      val n = if (g == ((9, 9))) 1 else 1 + rnd.nextInt(12)
      Seq.fill(n)((nid, lbl, rnd.nextInt(20) / 20.0,
        Seq.fill(3)(rnd.nextInt(4).toDouble)))
    }
    val frame = spark.createDataFrame(rows)
      .toDF("node_id", "true_label", "r", "time_series").repartition(4)
    val k = 5
    val got = GlobalTrainer.smallestK(frame, k)

    val expected = rows.groupBy(t => (t._1, t._2)).map { case (g, rs) =>
      g -> rs.map(t => (t._3, t._4.toArray)).sortWith { (a, b) =>
        a._1 < b._1 || (a._1 == b._1 && java.util.Arrays.compare(a._2, b._2) < 0)
      }.take(k).map(_._2.toSeq)
    }
    assert(got.keySet === expected.keySet)
    expected.foreach { case (g, series) =>
      assert(got(g).map(_.toSeq) === series, s"group $g")
    }
    assert(got((9, 9)).size === 1)
    assert(expected.values.exists(_.size < k) && expected.values.exists(_.size == k))
  }
}
