package graft.eval

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.mllib.evaluation.MulticlassMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.tree.{PLeaf, PNode, PSplit, ProximityForestModel, ProximityTreeModel}

/** Model evaluation suite (SURVEY §2.10, reference: code/src/evaluation.py).
  * Headline metrics come from mllib's MulticlassMetrics, the class the
  * Spark ML evaluator the reference wraps from Python (E1/E3/E4) delegates
  * to, so numbers agree by construction; balanced accuracy (E2) is derived
  * from the same object with [[Metrics.balancedAccuracyDF]]'s semantics.
  */
object Evaluation {

  final case class Performance(
      accuracy: Double,
      balancedAccuracy: Double,
      weightedPrecision: Double,
      weightedRecall: Double,
      f1: Double)

  final case class ClassMetrics(
      label: Double, precision: Double, recall: Double, f1: Double)

  /** (prediction, label) cast to double, as the evaluator requires
    * (evaluation.py:99-100); its counts are one Spark job, on first use. */
  private def metrics(pred: DataFrame, labelCol: String, predCol: String)
      : MulticlassMetrics =
    new MulticlassMetrics(pred.select(
      col(predCol).cast("double"), col(labelCol).cast("double"))
      .rdd.map(r => (r.getDouble(0), r.getDouble(1))))

  /** E1 — accuracy / weightedPrecision / weightedRecall / f1, the values
    * MulticlassClassificationEvaluator reports (evaluation.py:102-117), and
    * E2 — the mean per-class recall over the actual labels, rounded HALF_UP
    * to 6 places like [[Metrics.balancedAccuracyDF]]. One pass over `pred`.
    */
  def performance(pred: DataFrame, labelCol: String, predCol: String): Performance = {
    val mm = metrics(pred, labelCol, predCol)
    val recalls = mm.labels.map(mm.recall)
    require(recalls.nonEmpty, "performance: no predictions to evaluate")
    Performance(
      accuracy = mm.accuracy,
      balancedAccuracy = BigDecimal(recalls.sum / recalls.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      weightedPrecision = mm.weightedPrecision,
      weightedRecall = mm.weightedRecall,
      f1 = mm.weightedFMeasure)
  }

  /** E3/E4 — confusion matrix + per-class precision/recall/F1 via mllib
    * MulticlassMetrics (evaluation.py:513-620). Returns (sorted labels,
    * row-major confusion matrix, per-class metrics).
    */
  def classWise(pred: DataFrame, labelCol: String, predCol: String)
      : (Seq[Double], Array[Array[Double]], Seq[ClassMetrics]) = {
    val mm = metrics(pred, labelCol, predCol)
    val labels = mm.labels.toSeq
    val cm = mm.confusionMatrix
    val matrix = Array.tabulate(cm.numRows, cm.numCols)((i, j) => cm(i, j))
    val per = labels.map(l =>
      ClassMetrics(l, mm.precision(l), mm.recall(l), mm.fMeasure(l)))
    (labels, matrix, per)
  }

  /** E5 — wall-clock stage timers (evaluation.py:54-77). */
  final class StageTimer {
    private val t0 = mutable.Map.empty[String, Long]
    private val out = mutable.LinkedHashMap.empty[String, Double]
    def start(stage: String): Unit = t0(stage) = System.nanoTime()
    def record(stage: String): Double = {
      val sec = (System.nanoTime() - t0(stage)) / 1e9
      out(stage) = sec
      sec
    }
    def time[T](stage: String)(body: => T): T = {
      start(stage)
      try body finally { record(stage); () }
    }
    def timings: Map[String, Double] = out.toMap
  }

  /** E6 — driver memory probe, JVM equivalent of the psutil RSS read
    * (evaluation.py:79-88). */
  def driverMemoryMb(): Double = {
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  /** E7 — model-complexity metrics by tree traversal (evaluation.py:161-294). */
  final case class Complexity(depth: Int, leaves: Int, splits: Int)

  def complexity(t: ProximityTreeModel): Complexity =
    Complexity(t.depth, t.numLeaves, t.numSplits)

  def complexity(f: ProximityForestModel): Seq[Complexity] =
    f.trees.map(complexity)

  /** E8 — nested experiment report → JSON (evaluation.py:297-403,
    * controller_loop.py:381-401). Hand-rolled writer: keys are
    * code-controlled, values numeric/string.
    */
  final case class Report(
      modelKind: String,
      iteration: Int,
      performance: Performance,
      timings: Map[String, Double],
      memoryMb: Double,
      complexities: Seq[Complexity],
      classWise: Seq[ClassMetrics],
      meta: Map[String, String])

  def reportJson(r: Report): String = {
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else d.toString
    def str(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val perf =
      s"""{"accuracy":${num(r.performance.accuracy)},"balanced_accuracy":${num(r.performance.balancedAccuracy)},""" +
        s""""weighted_precision":${num(r.performance.weightedPrecision)},"weighted_recall":${num(r.performance.weightedRecall)},"f1":${num(r.performance.f1)}}"""
    val timing = r.timings.map { case (k, v) => s"${str(k)}:${num(v)}" }
      .mkString("{", ",", "}")
    val comp = r.complexities.map(c =>
        s"""{"depth":${c.depth},"leaves":${c.leaves},"splits":${c.splits}}""")
      .mkString("[", ",", "]")
    val cls = r.classWise.map(c =>
        s"""{"label":${num(c.label)},"precision":${num(c.precision)},"recall":${num(c.recall)},"f1":${num(c.f1)}}""")
      .mkString("[", ",", "]")
    val meta = r.meta.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")
    s"""{"model":${str(r.modelKind)},"iteration":${r.iteration},"performance":$perf,""" +
      s""""timing":$timing,"memory_mb":${num(r.memoryMb)},"complexity":$comp,""" +
      s""""class_wise":$cls,"_meta":$meta}"""
  }

  /** S6 — report sink. */
  def writeReports(reports: Seq[Report], path: String): Unit = {
    val body = reports.map(r => s"${"\""}${r.iteration}${"\""}: ${reportJson(r)}")
      .mkString("{", ",\n", "}")
    Files.write(Paths.get(path), body.getBytes(StandardCharsets.UTF_8))
  }
}
