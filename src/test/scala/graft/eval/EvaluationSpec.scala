package graft.eval

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.tree.{PLeaf, ProximityTreeModel}

class EvaluationSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val preds = Seq(
    (1, 1), (1, 1), (1, 2), (2, 2), (2, 2), (2, 2), (3, 3), (3, 1), (3, 3)
  ).toDF("label", "prediction")

  test("performance metrics agree with hand computation") {
    val p = Evaluation.performance(preds, "label", "prediction")
    assert(math.abs(p.accuracy - 7.0 / 9.0) < 1e-9)
    // recalls: 2/3, 3/3, 2/3 -> balanced = 7/9
    assert(math.abs(p.balancedAccuracy - 0.777778) < 1e-5)
    assert(p.f1 > 0 && p.f1 <= 1)
    assert(p.weightedPrecision > 0 && p.weightedRecall > 0)
  }

  test("confusion matrix and per-class metrics") {
    val (labels, matrix, per) = Evaluation.classWise(preds, "label", "prediction")
    assert(labels === Seq(1.0, 2.0, 3.0))
    assert(matrix(0)(0) === 2.0) // label 1 predicted 1 twice
    assert(matrix(0)(1) === 1.0) // label 1 predicted 2 once
    assert(matrix(1)(1) === 3.0)
    val m1 = per.find(_.label == 2.0).get
    assert(m1.recall === 1.0)
  }

  test("stage timer records elapsed stages") {
    val t = new Evaluation.StageTimer
    val x = t.time("work") { Thread.sleep(10); 42 }
    assert(x === 42)
    assert(t.timings("work") >= 0.005)
  }

  test("report JSON is well-formed and parseable") {
    val r = Evaluation.Report(
      modelKind = "local", iteration = 4,
      performance = Evaluation.Performance(0.9, 0.8, 0.91, 0.9, 0.905),
      timings = Map("train" -> 1.5, "predict" -> 0.2),
      memoryMb = 123.4,
      complexities = Seq(Evaluation.Complexity(3, 5, 4)),
      classWise = Seq(Evaluation.ClassMetrics(1.0, 0.9, 0.8, 0.85)),
      meta = Map("partitions" -> "4", "note" -> "quote\" and \nnewline"))
    val json = Evaluation.reportJson(r)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(node.get("model").asText() === "local")
    assert(node.get("performance").get("accuracy").asDouble() === 0.9)
    assert(node.get("complexity").get(0).get("leaves").asInt() === 5)
    assert(node.get("_meta").get("note").asText().contains("quote\""))
  }

  test("complexity of a leaf-only model") {
    val c = Evaluation.complexity(ProximityTreeModel(PLeaf(1), 1))
    assert(c === Evaluation.Complexity(1, 1, 0))
  }

  test("driver memory probe returns a positive MB figure") {
    assert(Evaluation.driverMemoryMb() > 0)
  }

  test("performance equals the ML evaluator and the balanced-accuracy chain") {
    import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
    import org.apache.spark.sql.functions.col
    // 5 actual classes, skewed shares, ~30% errors, and a predicted class
    // (6) that never occurs as a label
    val rnd = new scala.util.Random(17)
    val rows = (1 to 3000).map { _ =>
      val l = 1 + math.min(4, (rnd.nextDouble() * rnd.nextDouble() * 6).toInt)
      (l, if (rnd.nextDouble() < 0.7) l else 1 + rnd.nextInt(6))
    }
    val df = rows.toDF("label", "prediction").repartition(7)
    val p = Evaluation.performance(df, "label", "prediction")
    val d = df.select(col("label").cast("double"), col("prediction").cast("double"))
    def m(name: String) = new MulticlassClassificationEvaluator()
      .setMetricName(name).evaluate(d)
    assert(p.accuracy === m("accuracy"))
    assert(p.weightedPrecision === m("weightedPrecision"))
    assert(p.weightedRecall === m("weightedRecall"))
    assert(p.f1 === m("f1"))
    assert(p.balancedAccuracy ===
      Metrics.balancedAccuracyDF(d, "label", "prediction").head().getDouble(0))
  }
}
