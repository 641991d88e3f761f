package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-plan logistic regression — the trainable face of the quality
  * family (q_text_quality scores by hand-tuned ratios; this learns the
  * weights from weak labels, the fastText-style quality-classifier
  * recipe every large corpus pipeline ends up needing).
  *
  * Training is batch gradient descent where each iteration is ONE
  * global aggregate over the feature frame: per-row gradient
  * contributions (σ(w·x) − y)·x_j are rounded to 12 decimals and summed
  * as DECIMAL(38,12) — the repo's exact-aggregation doctrine
  * (QualityQueries: "integer-exact or decimal-summed"), which makes the
  * sum independent of partition combine order and therefore replayable
  * bit-for-bit by the DuckDB oracle's unrolled-CTE twin. Weights update
  * on the driver in plain double arithmetic (w_j − lr·(g_j/n)), the
  * same ops the oracle's CTE chain runs.
  *
  * Scale shape: `iters` passes over a persisted narrow projection, each
  * pass one map-side-combined aggregate with a (d+1)-element buffer —
  * the KMeans/Pca loop shape: no shuffle of data rows, no window, no
  * join, weights ride as literals.
  */
object LogReg {

  /** Trained weights, features first, bias LAST. Deterministic: zero
    * init, fixed iteration count, decimal-exact gradient sums.
    */
  def train(df: DataFrame, features: Seq[Column], label: Column,
      iters: Int, lr: Double): Array[Double] = {
    require(features.nonEmpty, "at least one feature")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(lr > 0, s"learning rate must be > 0, got $lr")
    val d = features.size
    val base = projection(df, features, label).persist()
    try {
      var w = Array.fill(d + 1)(0.0)
      for (_ <- 1 to iters) {
        val r = gradientPass(base, d, w).collect()(0)
        val n = r.getLong(d + 1)
        require(n > 0, "no training rows after the feature projection")
        // loud, not biased (review fix): sum() skips NULL contributions
        // while n counts the row — a nullable feature/label would
        // silently damp every step by the null fraction
        require(r.getLong(d + 2) == n,
          s"${n - r.getLong(d + 2)} rows have a null feature or label — " +
            "filter them before training")
        w = w.zipWithIndex.map { case (wj, j) =>
          wj - lr * (r.getDecimal(j).doubleValue / n)
        }
      }
      w
    } finally {
      base.unpersist(blocking = false)
      ()
    }
  }

  /** One gradient pass as an UN-collected plan over the projected
    * (x0..x_{d-1}, y) frame: z and p as pure codegen'd expressions (no
    * UDF; z associates left-to-right, the order the oracle's SQL
    * replays), per-row contributions decimal-summed. Package-visible so
    * the catalog lint can screen the per-pass shape the driver-built
    * readout hides ([[lintPass]]).
    */
  private[graft] def gradientPass(projected: DataFrame, d: Int,
      w: Array[Double]): DataFrame = {
    val p = sigmoid((0 until d).map(i => col(s"x$i")), w)
    val g = p - col("y")
    val aggs = ((0 until d).map(i =>
      sum(round(g * col(s"x$i"), 12).cast("decimal(38,12)")).as(s"g$i"))
      :+ sum(round(g * lit(1.0), 12).cast("decimal(38,12)")).as("gb")
      :+ count(lit(1)).as("n")
      :+ count(g).as("n_ok")) // g is null iff any feature or y is null
    projected.agg(aggs.head, aggs.tail: _*)
  }

  /** σ(w·x) — ONE definition shared by training ([[gradientPass]]) and
    * serving ([[classify]]); z associates left-to-right, the order the
    * oracle's SQL replays.
    */
  private def sigmoid(features: Seq[Column], weights: Array[Double]): Column = {
    val z = features.zipWithIndex
      .map { case (f, i) => f * lit(weights(i)) }
      .reduceLeft(_ + _) + lit(weights.last)
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** The training projection — ONE definition shared by [[train]] and
    * the lint twin so the screened plan cannot drift from the real one.
    */
  private def projection(df: DataFrame, features: Seq[Column],
      label: Column): DataFrame =
    df.select(features.zipWithIndex.map { case (f, i) =>
      f.cast("double").as(s"x$i")
    } :+ label.cast("double").as("y"): _*)

  /** The lint twin: the gradient-pass plan at zero weights (shape is
    * weight-independent; never executed by the lint).
    */
  private[graft] def lintPass(df: DataFrame, features: Seq[Column],
      label: Column): DataFrame =
    gradientPass(projection(df, features, label), features.size,
      Array.fill(features.size + 1)(0.0))

  /** [[train]] as a catalog-shaped readout: one (term, weight) row per
    * feature plus the bias, weights rounded to 6 (the cross-engine
    * publication precision every float-emitting oracle uses).
    */
  def trainReadout(df: DataFrame, features: Seq[Column],
      names: Seq[String], label: Column, iters: Int,
      lr: Double): DataFrame = {
    require(names.size == features.size, "one name per feature")
    val w = train(df, features, label, iters, lr)
    val spark = df.sparkSession
    import spark.implicits._
    (names :+ "bias").zip(w).toSeq.toDF("term", "weight")
      .select(col("term"), round(col("weight"), 6).as("weight"))
  }

  /** One-vs-rest multiclass (r17 verdict task 4) — the k-way face real
    * quality/langid corpus filters need: per class an independent
    * binary regression against `label == class`, with ALL k gradient
    * vectors computed in ONE map-side-combined aggregate per iteration
    * (k·(d+1) decimal sums in a single buffer — one corpus scan per
    * step regardless of k, still zero shuffle of data rows). Each
    * class's steps are bit-identical to [[train]] on the same binary
    * target (spec-pinned), so the per-class unrolled-CTE oracle carries
    * over unchanged. Returns (class, weights) in the given class order;
    * weights features-first, bias last. A null label or feature refuses
    * loudly (the [[train]] guard — equality null-propagates, never
    * coerces to "not this class").
    */
  def trainMulti(df: DataFrame, features: Seq[Column], label: Column,
      classes: Seq[String], iters: Int,
      lr: Double): Seq[(String, Array[Double])] = {
    require(features.nonEmpty, "at least one feature")
    require(classes.nonEmpty && classes.distinct.size == classes.size,
      s"classes must be non-empty and distinct, got $classes")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(lr > 0, s"learning rate must be > 0, got $lr")
    val d = features.size
    val k = classes.size
    val base = projectionMulti(df, features, label).persist()
    try {
      var ws = Array.fill(k)(Array.fill(d + 1)(0.0))
      for (_ <- 1 to iters) {
        val r = gradientPassMulti(base, d, classes, ws.toSeq).collect()(0)
        val n = r.getLong(k * (d + 1))
        require(n > 0, "no training rows after the feature projection")
        require(r.getLong(k * (d + 1) + 1) == n,
          s"${n - r.getLong(k * (d + 1) + 1)} rows have a null feature " +
            "or label — filter them before training")
        ws = ws.zipWithIndex.map { case (w, c) =>
          w.zipWithIndex.map { case (wj, j) =>
            wj - lr * (r.getDecimal(c * (d + 1) + j).doubleValue / n)
          }
        }
      }
      classes.zip(ws.map(w => w: Array[Double])).toSeq
    } finally {
      base.unpersist(blocking = false)
      ()
    }
  }

  /** One multiclass gradient pass as an UN-collected plan: k sigmoids
    * over the shared projection, k·(d+1) decimal sums + the row/null
    * counters in ONE aggregate. The binary target is
    * `(y == class) cast double` — null label → null target → null
    * contribution, caught by the n_ok guard (count over the first
    * class's contribution; nullness is class-independent).
    */
  private[graft] def gradientPassMulti(projected: DataFrame, d: Int,
      classes: Seq[String], ws: Seq[Array[Double]]): DataFrame = {
    val xs = (0 until d).map(i => col(s"x$i"))
    def gOf(cls: String, w: Array[Double]): Column =
      sigmoid(xs, w) - (col("y") === lit(cls)).cast("double")
    val perClass = classes.zip(ws).flatMap { case (cls, w) =>
      val g = gOf(cls, w)
      (0 until d).map(i =>
        sum(round(g * xs(i), 12).cast("decimal(38,12)"))) :+
        sum(round(g * lit(1.0), 12).cast("decimal(38,12)"))
    }
    val aggs = perClass :+ count(lit(1)).as("n") :+
      count(gOf(classes.head, ws.head)).as("n_ok")
    projected.agg(aggs.head, aggs.tail: _*)
  }

  /** The multiclass training projection: features plus the label AS A
    * STRING (per-class binary targets are derived inside the pass, so
    * one projection serves all k classes).
    */
  private def projectionMulti(df: DataFrame, features: Seq[Column],
      label: Column): DataFrame =
    df.select(features.zipWithIndex.map { case (f, i) =>
      f.cast("double").as(s"x$i")
    } :+ label.cast("string").as("y"): _*)

  /** The multiclass lint twin (gradient-pass plan at zero weights). */
  private[graft] def lintPassMulti(df: DataFrame, features: Seq[Column],
      label: Column, classes: Seq[String]): DataFrame =
    gradientPassMulti(projectionMulti(df, features, label), features.size,
      classes, classes.map(_ => Array.fill(features.size + 1)(0.0)))

  /** [[trainMulti]] as a catalog-shaped readout: one (class, term,
    * weight) row per class × (feature | bias), weights rounded to 6.
    */
  def trainMultiReadout(df: DataFrame, features: Seq[Column],
      names: Seq[String], label: Column, classes: Seq[String],
      iters: Int, lr: Double): DataFrame = {
    require(names.size == features.size, "one name per feature")
    val models = trainMulti(df, features, label, classes, iters, lr)
    val spark = df.sparkSession
    import spark.implicits._
    models.flatMap { case (cls, w) =>
      (names :+ "bias").zip(w).map { case (t, wt) => (cls, t, wt) }
    }.toDF("class", "term", "weight")
      .select(col("class"), col("term"), round(col("weight"), 6).as("weight"))
  }

  /** The multiclass serving expression: argmax over the k one-vs-rest
    * σ(w·x) scores — greatest over (p, −index, class) structs, ties to
    * the LOWER class index, deterministic. Shares the ONE [[sigmoid]]
    * definition with training; pure codegen'd expression, weights as
    * literals.
    */
  def classify(features: Seq[Column],
      models: Seq[(String, Array[Double])]): Column = {
    require(models.nonEmpty, "at least one class model")
    models.foreach { case (cls, w) =>
      require(w.length == features.size + 1,
        s"class $cls: weights = features + bias (trainMulti output)")
    }
    val fs = features.map(_.cast("double"))
    argmaxClass(models.map { case (_, w) => sigmoid(fs, w) },
      models.map(_._1))
  }

  /** Argmax with deterministic low-index tie-break. Over softmax models
    * it picks the same class as over their σ scores: both are monotone in
    * w·x.
    */
  private def argmaxClass(ps: Seq[Column], classes: Seq[String]): Column = {
    val structs = ps.zip(classes).zipWithIndex.map { case ((p, cls), i) =>
      struct(p.as("p"), lit(-i).as("ni"), lit(cls).as("cls"))
    }
    (if (structs.size == 1) structs.head else greatest(structs: _*))
      .getField("cls")
  }

  /** TRUE softmax multinomial — the proper coupled posterior beside
    * [[trainMulti]]'s k independent one-vs-rest fits: p_c = exp(z_c) /
    * Σ_j exp(z_j), gradient (p_c − 1{y=c})·x_j. Identical plan shape:
    * `iters` passes over the persisted projection, each ONE
    * map-side-combined aggregate carrying all k·(d+1) decimal sums —
    * zero shuffle of data rows, weights as literals.
    *
    * Unlike OVR the softmax likelihood has NO "rest" bucket: `classes`
    * must cover the observed label domain, and an uncovered non-null
    * label refuses loudly IN the same pass (it would otherwise push
    * every class toward "not it" with no class absorbing the mass — a
    * silently mis-normalized model). exp(z) is evaluated bare, no
    * max-shift: corpus-filter features are standardized and z stays
    * small, and the bare form is what the oracle's SQL replays exactly
    * (documented trade, the no-UDF doctrine).
    *
    * Returns (class, weights) in the given class order; weights
    * features-first, bias last. Deterministic: zero init, fixed
    * iteration count, decimal-exact gradient sums (repartition-
    * invariant, spec-pinned).
    */
  def trainSoftmax(df: DataFrame, features: Seq[Column], label: Column,
      classes: Seq[String], iters: Int,
      lr: Double): Seq[(String, Array[Double])] = {
    require(features.nonEmpty, "at least one feature")
    require(classes.size >= 2 && classes.distinct.size == classes.size,
      s"softmax needs >= 2 distinct classes, got $classes")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(lr > 0, s"learning rate must be > 0, got $lr")
    val d = features.size
    val k = classes.size
    val base = projectionMulti(df, features, label).persist()
    try {
      var ws = Array.fill(k)(Array.fill(d + 1)(0.0))
      for (_ <- 1 to iters) {
        val r = gradientPassSoftmax(base, d, classes, ws.toSeq).collect()(0)
        val n = r.getLong(k * (d + 1))
        require(n > 0, "no training rows after the feature projection")
        require(r.getLong(k * (d + 1) + 1) == n,
          s"${n - r.getLong(k * (d + 1) + 1)} rows have a null feature " +
            "or label — filter them before training")
        require(r.getLong(k * (d + 1) + 2) == 0L,
          s"${r.getLong(k * (d + 1) + 2)} rows carry labels outside " +
            s"$classes — softmax needs total label coverage (OVR " +
            "tolerates a rest bucket; this likelihood does not)")
        ws = ws.zipWithIndex.map { case (w, c) =>
          w.zipWithIndex.map { case (wj, j) =>
            wj - lr * (r.getDecimal(c * (d + 1) + j).doubleValue / n)
          }
        }
      }
      classes.zip(ws.map(w => w: Array[Double])).toSeq
    } finally {
      base.unpersist(blocking = false)
      ()
    }
  }

  /** One softmax gradient pass as an UN-collected plan: the k coupled
    * probabilities over the shared projection, k·(d+1) decimal sums
    * plus the row / null / uncovered-label counters in ONE aggregate.
    */
  private[graft] def gradientPassSoftmax(projected: DataFrame, d: Int,
      classes: Seq[String], ws: Seq[Array[Double]]): DataFrame = {
    val xs = (0 until d).map(i => col(s"x$i"))
    val ps = softmaxProbs(xs, ws)
    def gOf(cls: String, p: Column): Column =
      p - (col("y") === lit(cls)).cast("double")
    val perClass = classes.zip(ps).flatMap { case (cls, p) =>
      val g = gOf(cls, p)
      (0 until d).map(i =>
        sum(round(g * xs(i), 12).cast("decimal(38,12)"))) :+
        sum(round(g * lit(1.0), 12).cast("decimal(38,12)"))
    }
    val aggs = perClass :+ count(lit(1)).as("n") :+
      count(gOf(classes.head, ps.head)).as("n_ok") :+
      // non-null labels outside the class set (null labels are n_ok's)
      count(when(!col("y").isin(classes: _*), lit(1))).as("n_uncovered")
    projected.agg(aggs.head, aggs.tail: _*)
  }

  /** exp(z_c) / Σ_j exp(z_j) with z and the normalizer both associating
    * left-to-right in class order — used by training
    * ([[gradientPassSoftmax]]) in the order the oracle's SQL replays.
    */
  private def softmaxProbs(features: Seq[Column],
      ws: Seq[Array[Double]]): Seq[Column] = {
    val es = ws.map { w =>
      exp(features.zipWithIndex
        .map { case (f, i) => f * lit(w(i)) }
        .reduceLeft(_ + _) + lit(w.last))
    }
    val denom = es.reduceLeft(_ + _)
    es.map(_ / denom)
  }

  /** The softmax lint twin (gradient-pass plan at zero weights). */
  private[graft] def lintPassSoftmax(df: DataFrame, features: Seq[Column],
      label: Column, classes: Seq[String]): DataFrame =
    gradientPassSoftmax(projectionMulti(df, features, label), features.size,
      classes, classes.map(_ => Array.fill(features.size + 1)(0.0)))

  /** [[trainSoftmax]] as a catalog-shaped readout: one (class, term,
    * weight) row per class × (feature | bias), weights rounded to 6.
    */
  def trainSoftmaxReadout(df: DataFrame, features: Seq[Column],
      names: Seq[String], label: Column, classes: Seq[String],
      iters: Int, lr: Double): DataFrame = {
    require(names.size == features.size, "one name per feature")
    val models = trainSoftmax(df, features, label, classes, iters, lr)
    val spark = df.sparkSession
    import spark.implicits._
    models.flatMap { case (cls, w) =>
      (names :+ "bias").zip(w).map { case (t, wt) => (cls, t, wt) }
    }.toDF("class", "term", "weight")
      .select(col("class"), col("term"), round(col("weight"), 6).as("weight"))
  }
}
