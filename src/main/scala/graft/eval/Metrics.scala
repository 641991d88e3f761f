package graft.eval

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Evaluation operators expressed as DataFrame chains
  * (reference: code/src/evaluation.py:102-155, 513-620).
  * Everything here aggregates to a handful of rows, so the heavy lifting is
  * one or two hash aggregations over the predictions table; the joins are on
  * tiny per-class frames that Catalyst broadcast-joins automatically.
  */
object Metrics {

  /** E2 — balanced accuracy as a DataFrame chain
    * (reference: code/src/evaluation.py:119-155):
    * per-class recall = TP / actual-count (A2 + J3 + P9 + P10), then mean.
    * Returns a 1-row, 1-column DataFrame `balanced_accuracy`.
    */
  def balancedAccuracyDF(pred: DataFrame, labelCol: String, predCol: String): DataFrame = {
    val actual = pred.groupBy(col(labelCol).as("cls"))
      .agg(count(lit(1)).as("actual_total"))
    val tp = pred.filter(col(labelCol) === col(predCol))
      .groupBy(col(labelCol).as("cls")).agg(count(lit(1)).as("tp"))
    actual.join(tp, Seq("cls"), "left_outer")
      .na.fill(0L, Seq("tp"))
      .select(when(col("actual_total") > 0, col("tp") / col("actual_total"))
        .otherwise(lit(0.0)).as("recall"))
      .agg(round(avg(col("recall")), 6).as("balanced_accuracy"))
  }

  /** P11 + A6 — plain accuracy as avg of boolean-to-int
    * (reference: code/src/test.py:119-122). */
  def accuracyDF(pred: DataFrame, labelCol: String, predCol: String): DataFrame =
    pred.agg(round(avg((col(labelCol) === col(predCol)).cast("int")), 6)
      .as("accuracy"))

  /** Per-class recall table (the intermediate of E2), kept as an operator in
    * its own right: (cls, actual_total, tp, recall). */
  def perClassRecallDF(pred: DataFrame, labelCol: String, predCol: String): DataFrame = {
    val actual = pred.groupBy(col(labelCol).as("cls"))
      .agg(count(lit(1)).as("actual_total"))
    val tp = pred.filter(col(labelCol) === col(predCol))
      .groupBy(col(labelCol).as("cls")).agg(count(lit(1)).as("tp"))
    actual.join(tp, Seq("cls"), "left_outer")
      .na.fill(0L, Seq("tp"))
      .select(col("cls"), col("actual_total"), col("tp"),
        round(when(col("actual_total") > 0, col("tp") / col("actual_total"))
          .otherwise(lit(0.0)), 6).as("recall"))
  }

  /** Per-class precision table: (cls, predicted_total, tp, precision) —
    * the column-wise complement of [[perClassRecallDF]]. */
  def perClassPrecisionDF(pred: DataFrame, labelCol: String, predCol: String): DataFrame = {
    val predicted = pred.groupBy(col(predCol).as("cls"))
      .agg(count(lit(1)).as("predicted_total"))
    val tp = pred.filter(col(labelCol) === col(predCol))
      .groupBy(col(predCol).as("cls")).agg(count(lit(1)).as("tp"))
    predicted.join(tp, Seq("cls"), "left_outer")
      .na.fill(0L, Seq("tp"))
      .select(col("cls"), col("predicted_total"), col("tp"),
        round(when(col("predicted_total") > 0, col("tp") / col("predicted_total"))
          .otherwise(lit(0.0)), 6).as("precision"))
  }

  /** A5 — the weighted-Gini pipeline as DataFrame ops
    * (reference: code/src/global_model_manager.py:286-295): per-branch class
    * counts -> branch totals (J2 equi-join) -> p^2 -> gini_b = 1 - sum(p^2)
    * -> weighted = sum((n_b / N) * gini_b). Returns per-branch rows
    * (branch, total, gini).
    */
  def branchGiniDF(df: DataFrame, branchCol: String, classCol: String): DataFrame = {
    val counts = df.groupBy(col(branchCol).as("branch"), col(classCol).as("cls"))
      .agg(count(lit(1)).as("cnt"))
    val totals = df.groupBy(col(branchCol).as("branch"))
      .agg(count(lit(1)).as("total"))
    counts.join(totals, Seq("branch"))
      .withColumn("prob_sq", (col("cnt") / col("total")) * (col("cnt") / col("total")))
      .groupBy(col("branch"), col("total"))
      .agg((lit(1.0) - sum(col("prob_sq"))).as("gini"))
  }

  /** Weighted Gini across branches: a single-row DataFrame. One aggregation
    * tree over the input — N is recovered as sum(total) over the per-branch
    * rows (branches partition the input), not a separate df.count() scan.
    */
  def weightedGiniDF(df: DataFrame, branchCol: String, classCol: String): DataFrame =
    branchGiniDF(df, branchCol, classCol)
      .agg(round(sum(col("total") * col("gini")) / sum(col("total")), 6)
        .as("weighted_gini"))
}
