package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.dist.Distances

class DtwExpressionSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    (1L, Seq(0.0, 1.0, 0.0, 0.0), Seq(0.0, 0.0, 1.0, 0.0)),
    (2L, Seq(1.0, 2.0, 3.0, 4.0), Seq(1.0, 2.0, 2.0, 3.0)),
    (3L, Seq(0.0, 0.0), Seq(1.0, 1.0))
  ).toDF("id", "a", "b")

  test("native expression matches the pure-Scala kernel, in SQL and Column API") {
    GraftFunctions.register(spark)
    val out = df.select($"id",
      expr("dtw_distance(a, b)").as("d"),
      expr("euclidean_distance(a, b)").as("e"))
      .as[(Long, Double, Double)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    val rows = df.as[(Long, Seq[Double], Seq[Double])].collect()
    rows.foreach { case (id, a, b) =>
      assert(math.abs(out(id)._1 - Distances.dtw(a.toArray, b.toArray)) < 1e-12)
      assert(math.abs(out(id)._2 - Distances.Euclidean(a.toArray, b.toArray)) < 1e-12)
    }
    // SQL surface
    df.createOrReplaceTempView("dtw_in")
    val sqlOut = spark.sql(
      "SELECT id, dtw_distance(a, b) AS d FROM dtw_in ORDER BY id")
      .as[(Long, Double)].collect().toMap
    assert(math.abs(sqlOut(1L) - 0.0) < 1e-12) // shifted spike aligns free
  }

  test("expression stays inside whole-stage codegen") {
    GraftFunctions.register(spark)
    // local Seq data folds to LocalTableScan — use a range-backed plan
    val ranged = spark.range(100).select(
      array(col("id").cast("double"), (col("id") + 1).cast("double")).as("a"),
      array((col("id") * 2).cast("double"), col("id").cast("double")).as("b"))
    val q = ranged.select(expr("dtw_distance(a, b)").as("d"))
    val plan = q.queryExecution.executedPlan.toString
    // "*(n)" marks operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [dtw_distance"), plan)
    assert(q.count() === 100)
  }

  test("null inputs yield null (binary expression null semantics)") {
    GraftFunctions.register(spark)
    val withNull = Seq((1L, Option.empty[Seq[Double]], Some(Seq(1.0))))
      .toDF("id", "a", "b")
    val r = withNull.select(expr("dtw_distance(a, b)")).head()
    assert(r.isNullAt(0))
  }

  test("type mismatch is rejected at analysis") {
    GraftFunctions.register(spark)
    val bad = Seq((1, "x")).toDF("id", "s")
    assertThrows[org.apache.spark.sql.AnalysisException] {
      bad.select(expr("dtw_distance(s, s)")).collect()
    }
  }

  test("lb_keogh: matches a reference fold, lower-bounds banded DTW, codegen") {
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(20260817L)
    val rows = Seq.fill(50) {
      val q = Array.fill(16)(rnd.nextDouble() * 4 - 2)
      val x = Array.fill(16)(rnd.nextDouble() * 4 - 2)
      val band = 3
      val u = Array.tabulate(16)(i =>
        (math.max(0, i - band) to math.min(15, i + band)).map(q).max)
      val l = Array.tabulate(16)(i =>
        (math.max(0, i - band) to math.min(15, i + band)).map(q).min)
      (x.toSeq, u.toSeq, l.toSeq, q.toSeq)
    }
    val df = rows.toDF("x", "u", "l", "q")
    val got = df.select(GraftFunctions.lbKeogh($"x", $"u", $"l").as("lb"),
        expr("dtw_distance(x, q)").as("d"))
      .as[(Double, Double)].collect()
    got.zip(rows).foreach { case ((lb, _), (x, u, l, _)) =>
      val ref = math.sqrt(x.indices.map { i =>
        if (x(i) > u(i)) (x(i) - u(i)) * (x(i) - u(i))
        else if (x(i) < l(i)) (l(i) - x(i)) * (l(i) - x(i))
        else 0.0
      }.sum)
      assert(math.abs(lb - ref) < 1e-9)
    }
    // the pruning contract: lb <= banded DTW with the same band, every row
    got.zip(rows).foreach { case ((lb, _), (x, _, _, q)) =>
      val d = graft.dist.Distances.dtw(x.toArray, q.toArray, 3)
      assert(lb <= d + 1e-9, s"lb $lb exceeds banded dtw $d")
    }
    // SQL surface
    df.createOrReplaceTempView("lbk_in")
    assert(spark.sql("SELECT lb_keogh(x, u, l) FROM lbk_in").count() === 50)
  }
}
