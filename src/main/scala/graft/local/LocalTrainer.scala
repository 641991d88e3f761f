package graft.local

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.prep.Preprocessing
import graft.tree._

/** Local-models strategy (reference: code/src/local_model_manager.py:148-217):
  * split the data into k class-balanced partitions, train one sequential
  * Proximity Tree per partition inside `mapPartitions`, collect the (small)
  * fitted trees to the driver, and ensemble them into a forest.
  *
  * Scale shape: one shuffle (the class-balanced repartition, which puts
  * group i in partition i), then training is embarrassingly parallel with
  * zero further data movement — only the fitted trees (KBs) cross the
  * wire. The Python reference pays pandas/pickle conversion per partition
  * (local_model_manager.py:166-173); here rows deserialize straight into
  * primitive arrays.
  */
object LocalTrainer {

  /** In-partition stratified holdout (T3, reference:
    * code/src/local_model_manager.py:180-182): per label, seeded shuffle and
    * hold out `fraction` (at least 1 row stays in train per class).
    */
  def stratifiedHoldout(
      data: IndexedSeq[ProximityTree.Instance],
      fraction: Double,
      seed: Long): (IndexedSeq[ProximityTree.Instance], IndexedSeq[ProximityTree.Instance]) = {
    val rng = new Random(seed)
    val train = IndexedSeq.newBuilder[ProximityTree.Instance]
    val hold = IndexedSeq.newBuilder[ProximityTree.Instance]
    data.groupBy(_.label).toSeq.sortBy(_._1).foreach { case (_, insts) =>
      val shuffled = rng.shuffle(insts)
      val nHold = math.min(insts.size - 1, (insts.size * fraction).toInt)
      hold ++= shuffled.take(nHold)
      train ++= shuffled.drop(nHold)
    }
    (train.result(), hold.result())
  }

  /** One partition's tree and its holdout weight (1.0 without a holdout).
    * The rows are first sorted by (label, series), so the holdout draw, and
    * with it the tree, depends on the partition's contents, not on the
    * order its rows arrived in.
    */
  private[local] def fitPartition(
      rows: Seq[ProximityTree.Instance],
      params: ProximityTree.Params,
      holdoutFraction: Double): (ProximityTreeModel, Double) = {
    val data = rows.sortWith { (a, b) =>
      a.label < b.label ||
        (a.label == b.label && java.util.Arrays.compare(a.ts, b.ts) < 0)
    }.toIndexedSeq
    val (trainData, holdData) =
      if (holdoutFraction > 0) stratifiedHoldout(data, holdoutFraction, params.seed)
      else (data, IndexedSeq.empty[ProximityTree.Instance])
    val model = ProximityTree.fit(trainData, params)
    val weight =
      if (holdData.nonEmpty)
        holdData.count(i => model.predictOne(i.ts) == i.label).toDouble / holdData.size
      else 1.0
    (model, weight)
  }

  /** Train one tree per partition; returns the assembled forest.
    *
    * @param df          input with `labelCol` + `featureCols`
    * @param holdoutFraction 0 disables the OOB holdout (weight 1.0/tree)
    */
  def trainEnsemble(
      spark: SparkSession,
      df: DataFrame,
      labelCol: String,
      featureCols: Seq[String],
      numPartitions: Int,
      params: ProximityTree.Params,
      holdoutFraction: Double = 0.0,
      useWeighting: Boolean = false): ProximityForestModel = {
    import spark.implicits._

    // pack first: the balanced order keys, sorts and shuffles two columns,
    // not one per feature
    val packed = Preprocessing.classBalancedPartition(
        df.select(
          col(labelCol).cast("int").as("label"),
          Preprocessing.seriesColumn(featureCols).as("ts")),
        "label", numPartitions, seed = params.seed)
      .select(col("_partition_id"), col("label"), col("ts"))
      .as[(Int, Int, Array[Double])]

    // partition i holds balanced group i alone, so it fits tree i; the
    // trees come back in partition order
    val fitted = packed.rdd.mapPartitionsWithIndex { (index, it) =>
      val rows = it.map { case (pid, label, ts) =>
        require(pid == index, s"group $pid reached partition $index")
        ProximityTree.Instance(ts, label)
      }.toIndexedSeq
      if (rows.isEmpty) Iterator.empty
      else Iterator(fitPartition(rows, params.copy(seed = params.seed + index), holdoutFraction))
    }.collect()

    require(fitted.nonEmpty, "no partition produced a tree (empty input?)")
    val (trees, weights) = fitted.toIndexedSeq.unzip
    ProximityForestModel(trees, weights, useWeighting)
  }

  /** U4 — prediction: broadcast the fitted tree or forest and route every
    * row through it (reference: code/src/prediction_manager.py:81-125).
    * JVM-native closure — the Arrow/pickle boundary of the reference
    * disappears.
    */
  def predict(
      spark: SparkSession,
      model: SeriesClassifier,
      df: DataFrame,
      featureCols: Seq[String],
      predictionCol: String = "prediction"): DataFrame = {
    val bc = spark.sparkContext.broadcast(model)
    val predictUdf = udf((ts: Seq[Double]) => bc.value.predictOne(ts.toArray))
    df.withColumn(predictionCol,
      predictUdf(Preprocessing.seriesColumn(featureCols)))
  }

  /** Single-tree prediction; forwards to [[predict]]. */
  def predictTree(
      spark: SparkSession,
      tree: ProximityTreeModel,
      df: DataFrame,
      featureCols: Seq[String],
      predictionCol: String = "prediction"): DataFrame =
    predict(spark, tree, df, featureCols, predictionCol)
}
