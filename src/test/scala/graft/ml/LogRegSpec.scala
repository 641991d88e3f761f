package graft.ml

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** In-plan logistic regression semantics: gradient direction on
  * separable data, monotone training loss, determinism, and the loud
  * guards — the catalog query (q_quality_lr) pins the cross-engine
  * gradient replay itself.
  */
class LogRegSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** σ(w·x + b) of a one-feature binary model. */
  private def sigma(x: org.apache.spark.sql.Column, w: Array[Double]) =
    lit(1.0) / (lit(1.0) + exp(-(x * lit(w(0)) + lit(w(1)))))

  // linearly separable in one feature: x > 0 <=> label 1
  private lazy val separable = (1 to 40).map { i =>
    val x = if (i % 2 == 0) 1.0 + (i % 5) * 0.1 else -1.0 - (i % 5) * 0.1
    (x, if (x > 0) 1 else 0)
  }.toDF("x", "label")

  test("separable data: the learned weight points the right way and separates") {
    val w = LogReg.train(separable, Seq(col("x")), col("label"),
      iters = 50, lr = 1.0)
    assert(w(0) > 0, s"feature weight should be positive: ${w.toSeq}")
    val scored = separable.withColumn("p",
      sigma(col("x"), w))
    val wrong = scored.filter(
      (col("p") >= 0.5) =!= (col("label") === 1)).count()
    assert(wrong === 0, "separable data must separate at 50 iterations")
  }

  test("training loss is non-increasing in iteration count") {
    def logLoss(w: Array[Double]): Double = {
      val p = sigma(col("x"), w)
      separable.select(avg(
        when(col("label") === 1, -log(p)).otherwise(-log(lit(1.0) - p)))
        .as("ll")).head().getDouble(0)
    }
    val losses = Seq(1, 3, 10, 30).map(k =>
      logLoss(LogReg.train(separable, Seq(col("x")), col("label"),
        iters = k, lr = 1.0)))
    assert(losses.zip(losses.tail).forall { case (a, b) => b <= a + 1e-12 },
      s"log-loss must not increase with more iterations: $losses")
  }

  test("training is deterministic across runs and partitionings") {
    val a = LogReg.train(separable, Seq(col("x")), col("label"), 5, 0.5)
    val b = LogReg.train(separable.repartition(7), Seq(col("x")),
      col("label"), 5, 0.5)
    // decimal gradient sums are combine-order independent, so a
    // different partitioning must yield BIT-identical weights
    assert(a.toSeq === b.toSeq)
  }

  test("readout shape and guards") {
    val out = LogReg.trainReadout(separable, Seq(col("x")), Seq("w_x"),
      col("label"), iters = 2, lr = 0.5)
    assert(out.columns.toSeq === Seq("term", "weight"))
    assert(out.select("term").as[String].collect().toSet ===
      Set("w_x", "bias"))
    intercept[IllegalArgumentException] {
      LogReg.train(separable, Seq.empty, col("label"), 1, 0.5)
    }
    intercept[IllegalArgumentException] {
      LogReg.train(separable, Seq(col("x")), col("label"), 0, 0.5)
    }
    intercept[IllegalArgumentException] {
      LogReg.train(separable.limit(0), Seq(col("x")), col("label"), 1, 0.5)
    }
    intercept[IllegalArgumentException] {
      LogReg.classify(Seq(col("x")), Seq("1" -> Array(1.0))) // bias missing
    }
  }

  // three-class planted data, separable on two features
  private lazy val multi = (1 to 60).map { i =>
    val cls = i % 3
    val (x0, x1) = cls match {
      case 0 => (1.0 + (i % 5) * 0.1, -1.0)
      case 1 => (-1.0 - (i % 5) * 0.1, -1.0)
      case _ => (0.0, 1.0 + (i % 5) * 0.1)
    }
    (x0, x1, Seq("a", "b", "c")(cls))
  }.toDF("x0", "x1", "lang")

  test("trainMulti with one class is bit-identical to binary train (r18)") {
    val fs = Seq(col("x0"), col("x1"))
    val m = LogReg.trainMulti(multi, fs, col("lang"), Seq("a"), 5, 0.5)
    val b = LogReg.train(multi, fs,
      (col("lang") === "a").cast("double"), 5, 0.5)
    assert(m.size === 1 && m.head._1 === "a")
    assert(m.head._2.toSeq === b.toSeq,
      "each OVR chain must replay the binary steps exactly")
  }

  test("trainMulti is deterministic across partitionings (decimal sums)") {
    val fs = Seq(col("x0"), col("x1"))
    val cs = Seq("a", "b", "c")
    val a = LogReg.trainMulti(multi, fs, col("lang"), cs, 4, 0.5)
    val b = LogReg.trainMulti(multi.repartition(7), fs, col("lang"),
      cs, 4, 0.5)
    assert(a.map { case (c, w) => (c, w.toSeq) } ===
      b.map { case (c, w) => (c, w.toSeq) })
  }

  test("classify: argmax serving separates the planted classes; ties " +
      "break to the lower class index") {
    val fs = Seq(col("x0"), col("x1"))
    val models = LogReg.trainMulti(multi, fs, col("lang"),
      Seq("a", "b", "c"), iters = 50, lr = 1.0)
    val wrong = multi.withColumn("pred", LogReg.classify(fs, models))
      .filter(col("pred") =!= col("lang")).count()
    assert(wrong === 0, "separable 3-class data must classify exactly")
    // exact tie (identical models) → the first class listed wins
    val w = Array(0.0, 0.0, 0.0)
    val tie = multi.withColumn("pred",
      LogReg.classify(fs, Seq("z" -> w, "a" -> w))).select("pred")
      .distinct().as[String].collect().toSeq
    assert(tie === Seq("z"), "ties must break to the lower class index")
  }

  test("trainMulti guards: duplicate classes, empty classes, null labels") {
    val fs = Seq(col("x0"), col("x1"))
    intercept[IllegalArgumentException] {
      LogReg.trainMulti(multi, fs, col("lang"), Seq("a", "a"), 1, 0.5)
    }
    intercept[IllegalArgumentException] {
      LogReg.trainMulti(multi, fs, col("lang"), Seq.empty, 1, 0.5)
    }
    val withNullLabel = multi.withColumn("lang",
      when(col("x1") > 0, col("lang"))) // nulls on one class
    val e = intercept[IllegalArgumentException] {
      LogReg.trainMulti(withNullLabel, fs, col("lang"),
        Seq("a", "b"), 1, 0.5)
    }
    assert(e.getMessage.contains("null feature or label"),
      "a null label must refuse, not silently read as 'not this class'")
    intercept[IllegalArgumentException] {
      LogReg.classify(fs, Seq("a" -> Array(1.0))) // bias missing
    }
  }

  test("trainMultiReadout shape: one row per class x (feature | bias)") {
    val out = LogReg.trainMultiReadout(multi, Seq(col("x0"), col("x1")),
      Seq("w0", "w1"), col("lang"), Seq("a", "b"), iters = 2, lr = 0.5)
    assert(out.columns.toSeq === Seq("class", "term", "weight"))
    assert(out.count() === 6)
    assert(out.select("class").distinct().as[String].collect().toSet
      === Set("a", "b"))
  }

  test("softmax: separates planted classes; probabilities are a proper " +
      "posterior (sum to 1)") {
    val fs = Seq(col("x0"), col("x1"))
    val models = LogReg.trainSoftmax(multi, fs, col("lang"),
      Seq("a", "b", "c"), iters = 50, lr = 1.0)
    // argmax over the σ scores = argmax over the softmax: both monotone in w·x
    val wrong = multi.withColumn("pred", LogReg.classify(fs, models))
      .filter(col("pred") =!= col("lang")).count()
    assert(wrong === 0, "separable 3-class data must classify exactly")
    // gradient mass balance: at every step Σ_c g_c(row) = Σ_c p_c − 1 = 0,
    // so the learned per-term weights sum to ~0 across classes (exact 0
    // up to the round(12) gradient quantization × iters)
    Seq(0, 1, 2).foreach { j =>
      val s = models.map(_._2(j)).sum
      assert(math.abs(s) < 1e-9,
        s"softmax weight column $j should balance across classes: $s")
    }
  }

  test("softmax is deterministic across partitionings (decimal sums)") {
    val fs = Seq(col("x0"), col("x1"))
    val cs = Seq("a", "b", "c")
    val a = LogReg.trainSoftmax(multi, fs, col("lang"), cs, 4, 0.5)
    val b = LogReg.trainSoftmax(multi.repartition(7), fs, col("lang"),
      cs, 4, 0.5)
    assert(a.map { case (c, w) => (c, w.toSeq) } ===
      b.map { case (c, w) => (c, w.toSeq) })
  }

  test("softmax guards: uncovered labels refuse (no rest bucket); " +
      "fewer than 2 classes refuse") {
    val fs = Seq(col("x0"), col("x1"))
    val e = intercept[IllegalArgumentException] {
      LogReg.trainSoftmax(multi, fs, col("lang"), Seq("a", "b"), 1, 0.5)
    }
    assert(e.getMessage.contains("total label coverage"),
      s"an uncovered label must refuse loudly: ${e.getMessage}")
    intercept[IllegalArgumentException] {
      LogReg.trainSoftmax(multi, fs, col("lang"), Seq("a"), 1, 0.5)
    }
    // null labels hit the n_ok guard, same as OVR
    val withNullLabel = multi.withColumn("lang",
      when(col("lang") =!= "c", col("lang")))
    val e2 = intercept[IllegalArgumentException] {
      LogReg.trainSoftmax(withNullLabel, fs, col("lang"),
        Seq("a", "b", "c"), 1, 0.5)
    }
    assert(e2.getMessage.contains("null feature or label"))
  }

  test("null features or labels refuse loudly instead of damping the gradient") {
    // sum() skips null contributions while the row count doesn't — an
    // unguarded nullable column would silently bias every step
    val withNulls = separable.withColumn("x",
      when(col("label") === 1, col("x"))) // nulls on one class
    val e = intercept[IllegalArgumentException] {
      LogReg.train(withNulls, Seq(col("x")), col("label"), 2, 0.5)
    }
    assert(e.getMessage.contains("null feature or label"))
  }
}
