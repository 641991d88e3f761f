package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.io.Ingestion

/** Seeded bootstrap synthesis: scale a small labeled training file up to the
  * reference's published scale so accuracy/complexity bands are comparable
  * (the only reference data shipped in-repo is the 500-row
  * `ECG5000_TRAIN.tsv`; the reference's numbers are on the full 5,000-row
  * dataset — reference: code/src/data_ingestion.py:37-64).
  *
  * Method: every source row is replicated exactly `factor` times — replica 0
  * is the original, replicas 1..factor-1 add per-feature Gaussian jitter with
  * σ = `jitterFrac` × the feature's std — so class proportions scale exactly
  * (stratified ×factor, no multinomial drift) and no two rows are byte-equal.
  * Everything is declarative: one aggregation for the stds, then a single
  * explode + projection that whole-stage-codegens; at any input size this is
  * one scan plus one generate, no driver materialization.
  */
object BootstrapData {

  /** Per-feature sample std in ONE aggregation job (like
    * Preprocessing.computeMinMax — n expressions, one pass).
    */
  def featureStds(df: DataFrame, featureCols: Seq[String]): Map[String, Double] = {
    val exprs = featureCols.map(c => stddev_samp(col(c)).cast("double").as(s"sd_$c"))
    val row = df.agg(exprs.head, exprs.tail: _*).head()
    featureCols.zipWithIndex.map { case (c, i) =>
      c -> (if (row.isNullAt(i)) 0.0 else row.getDouble(i))
    }.toMap
  }

  /** Replicate+jitter as a pure plan: explode a 0..factor-1 sequence, keep
    * replica 0 verbatim, jitter the rest. `randn(seed+i)` gives each
    * (row, feature) an independent deterministic draw.
    */
  def replicateJitter(
      df: DataFrame,
      labelCol: String,
      featureCols: Seq[String],
      factor: Int,
      jitterFrac: Double = 0.05,
      seed: Long = 123L): DataFrame = {
    require(factor >= 1, "factor must be >= 1")
    val stds = featureStds(df, featureCols)
    val exploded = df.withColumn("_rep",
      explode(sequence(lit(0), lit(factor - 1))))
    val jittered = featureCols.zipWithIndex.map { case (c, i) =>
      val sigma = stds(c) * jitterFrac
      when(col("_rep") === 0, col(c))
        .otherwise(col(c) + randn(seed + i) * lit(sigma))
        .as(c)
    }
    exploded.select(col(labelCol) +: jittered: _*)
  }

  private def writeTsv(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").option("sep", "\t").option("header", "false")
      .csv(dir)

  /** CLI, two modes:
    *   runMain graft.pipeline.BootstrapData <inTsv> <outDir> [factor] [jitterFrac] [seed] [numFeatures]
    *     — bootstrap the whole file ×factor (protocol-faithful: the sweep
    *       then splits in-pipeline, so jittered replicas of one source row
    *       can land on both sides — quantifies the reference protocol, but
    *       inflates accuracy).
    *   runMain graft.pipeline.BootstrapData split <inTsv> <trainOut> <testOut> [factor] [jitterFrac] [seed] [numFeatures]
    *     — stratified-split the SOURCE rows 80/20 first, then bootstrap each
    *       side ×factor (source-disjoint: the honest generalization
    *       measurement at reference scale).
    */
  def main(args: Array[String]): Unit = {
    val splitMode = args.headOption.contains("split")
    val a = if (splitMode) args.drop(1) else args
    val inPath = a.lift(0).getOrElse("/root/reference/ECG5000/ECG5000_TRAIN.tsv")
    val out1 = a.lift(1).getOrElse("/tmp/ecg5000_boot")
    val out2 = if (splitMode) a.lift(2).getOrElse("/tmp/ecg5000_boot_test") else ""
    val rest = if (splitMode) a.drop(3) else a.drop(2)
    val factor = rest.lift(0).map(_.toInt).getOrElse(10)
    val jitter = rest.lift(1).map(_.toDouble).getOrElse(0.05)
    val seed = rest.lift(2).map(_.toLong).getOrElse(123L)
    val numFeatures = rest.lift(3).map(_.toInt).getOrElse(140)
    val spark = GraftSession.local(appName = "graft-bootstrap")
    val feats = Ingestion.featureCols(numFeatures)
    val src = Ingestion.readUcrTsv(spark, inPath, numFeatures)
    if (splitMode) {
      val (tr, te) = graft.split.Splits.stratifiedSplit(src, "label", 0.8, seed)
      writeTsv(replicateJitter(tr.cache(), "label", feats, factor, jitter, seed), out1)
      writeTsv(replicateJitter(te.cache(), "label", feats, factor, jitter, seed + 1), out2)
      println(s"bootstrap split: ${factor}x -> $out1 / $out2")
    } else {
      writeTsv(replicateJitter(src, "label", feats, factor, jitter, seed), out1)
      println(s"bootstrap: ${factor}x -> $out1")
    }
    spark.stop()
  }
}
