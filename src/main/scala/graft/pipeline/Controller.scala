package graft.pipeline

import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.eval.{Evaluation, Plots}
import graft.global.GlobalTrainer
import graft.io.Ingestion
import graft.local.LocalTrainer
import graft.prep.Preprocessing
import graft.split.Splits
import graft.tree.{ModelJson, ProximityTree, SeriesClassifier}

/** Experiment configuration (reference: code/src/config.py:11-44). */
final case class SweepConfig(
    dataPath: String,
    numFeatures: Int = 140,
    labelCol: String = "label",
    dataPercentage: Double = 1.0,
    tsv: Boolean = false,
    localMaxPartitions: Int = 20,
    globalMaxPartitions: Int = 10,
    nSplitters: Int = 5,
    maxDepth: Int = -1,
    minSamplesSplit: Int = 5,
    seed: Long = 123L,
    trainFraction: Double = 0.8,
    holdoutFraction: Double = 0.2,
    useWeighting: Boolean = false,
    // full PF-paper measure pool (aeon's default) — the reference's learner
    // draws from the same families
    poolNames: Seq[String] = graft.dist.Distances.defaultPool.map(_.name),
    // per-candidate measure-parameter sampling (PF paper / aeon behavior);
    // false = fixed representative parameterizations
    sampleParams: Boolean = false,
    // pre-split held-out test file: when set, `dataPath` is ALL train and
    // this is ALL test (no in-pipeline split) — the layout for synthesized
    // source-disjoint parity runs, where splitting after synthesis would
    // leak jittered replicas of one source row across the boundary
    testDataPath: Option[String] = None,
    modelsDir: Option[String] = None,
    reportsDir: Option[String] = None,
    // when set, both E9 figures (eval/Plots) render per iteration under
    // <plotsDir>/<kind>_<iteration>/ — the post-evaluation artifacts the
    // reference's controller imports its visualization module for
    plotsDir: Option[String] = None)

/** The experiment sweep (reference: code/src/controller_loop.py:109-412):
  * for each iteration i (= partition count), run
  * ingest → min-max → stratified split → preprocess → train (local and
  * global) → predict → evaluate → sinks, and emit one aggregated report per
  * strategy at the end.
  *
  * The stage pipeline is identical for every scale: actions are limited to
  * the few driver-side decisions (min-max stats, the global tree's level
  * partials, model collection), so the same code runs unchanged on a real
  * cluster.
  */
object Controller {

  final case class IterationResult(
      modelKind: String, iteration: Int, report: Evaluation.Report)

  def treeParams(cfg: SweepConfig, dataStd: Double = Double.NaN): ProximityTree.Params =
    ProximityTree.Params(
      nSplitters = cfg.nSplitters,
      maxDepth = cfg.maxDepth,
      minSamplesSplit = cfg.minSamplesSplit,
      poolNames = cfg.poolNames,
      seed = cfg.seed,
      sampleParams = cfg.sampleParams,
      dataStd = dataStd)

  /** Ingest + shared preprocessing: S1-S3, A1, T2, P2.
    * Returns (normalizedTrain, normalizedTest, featureCols).
    */
  def prepare(spark: SparkSession, cfg: SweepConfig, timer: Evaluation.StageTimer)
      : (DataFrame, DataFrame, Seq[String]) = {
    val features = Ingestion.featureCols(cfg.numFeatures)
    def read(path: String): DataFrame = {
      val schema = Ingestion.wideSchema(cfg.numFeatures, cfg.labelCol)
      if (cfg.tsv) Ingestion.readCsv(spark, path, schema, header = false, sep = "\t")
      else Ingestion.readCsv(spark, path, schema, header = true)
    }
    val raw = timer.time("ingestion") {
      Ingestion.validateNonEmpty(
        Ingestion.sample(read(cfg.dataPath), cfg.dataPercentage, cfg.seed))
    }
    val (train, test, stats) = timer.time("split_minmax") {
      val (tr, te) = cfg.testDataPath match {
        case Some(tePath) => (raw, Ingestion.validateNonEmpty(read(tePath)))
        case None => Splits.stratifiedSplit(raw, cfg.labelCol, cfg.trainFraction, cfg.seed)
      }
      val st = Preprocessing.computeMinMax(tr, features)
      (tr, te, st)
    }
    val (trainNorm, testNorm) = timer.time("preprocess") {
      val trN = Preprocessing.minMaxNormalize(
        Preprocessing.dropAllNull(train), stats, features, Seq(cfg.labelCol))
        .cache()
      val teN = Preprocessing.minMaxNormalize(
        Preprocessing.dropAllNull(test), stats, features, Seq(cfg.labelCol))
        .cache()
      trN.count(); teN.count() // materialize shared inputs once, timed here
      (trN, teN)
    }
    (trainNorm, testNorm, features)
  }

  /** The tail both iterations share: predict the test set, evaluate, and
    * render the plots under `<plotsDir>/<kind>_<iteration>` when configured.
    */
  private def predictAndEvaluate(
      spark: SparkSession, cfg: SweepConfig, kind: String, iteration: Int,
      model: SeriesClassifier, test: DataFrame, features: Seq[String],
      timer: Evaluation.StageTimer): (Evaluation.Performance, Seq[Evaluation.ClassMetrics]) = {
    val pred = timer.time("prediction") {
      val p = LocalTrainer.predict(spark, model, test, features).cache()
      p.count(); p
    }
    val (perf, (labels, cm, classWise)) = timer.time("evaluation")(
      Evaluation.evaluate(pred, cfg.labelCol, "prediction"))
    pred.unpersist()
    cfg.plotsDir.foreach(dir =>
      Plots.writeAll(labels, cm, classWise, s"$dir/${kind}_$iteration"))
    (perf, classWise)
  }

  def runLocalIteration(
      spark: SparkSession, cfg: SweepConfig, iteration: Int,
      train: DataFrame, test: DataFrame, features: Seq[String]): IterationResult = {
    val timer = new Evaluation.StageTimer
    val forest = timer.time("training") {
      LocalTrainer.trainEnsemble(
        spark, train, cfg.labelCol, features,
        numPartitions = iteration,
        params = treeParams(cfg),
        holdoutFraction = cfg.holdoutFraction,
        useWeighting = cfg.useWeighting)
    }
    val (perf, classWise) =
      predictAndEvaluate(spark, cfg, "local", iteration, forest, test, features, timer)
    cfg.modelsDir.foreach { dir =>
      new java.io.File(dir).mkdirs()
      ModelJson.saveForest(forest, s"$dir/local_forest_$iteration.json")
    }
    IterationResult("local", iteration, Evaluation.Report(
      "local", iteration, perf, timer.timings, Evaluation.driverMemoryMb(),
      Evaluation.complexity(forest), classWise,
      Map("partitions" -> iteration.toString, "trees" -> forest.trees.size.toString)))
  }

  def runGlobalIteration(
      spark: SparkSession, cfg: SweepConfig, iteration: Int,
      train: DataFrame, test: DataFrame, features: Seq[String],
      dataStd: Double = Double.NaN): IterationResult = {
    val timer = new Evaluation.StageTimer
    val prepared = Preprocessing.roundRobin(train, iteration)
    val tree = timer.time("training") {
      GlobalTrainer.fit(spark, prepared, cfg.labelCol, features,
        treeParams(cfg, dataStd))
    }
    val (perf, classWise) =
      predictAndEvaluate(spark, cfg, "global", iteration, tree, test, features, timer)
    cfg.modelsDir.foreach { dir =>
      new java.io.File(dir).mkdirs()
      ModelJson.saveTree(tree, s"$dir/global_tree_$iteration.json")
    }
    IterationResult("global", iteration, Evaluation.Report(
      "global", iteration, perf, timer.timings, Evaluation.driverMemoryMb(),
      Seq(Evaluation.complexity(tree)), classWise,
      Map("partitions" -> iteration.toString,
        ModelHash -> DigestUtils.sha256Hex(ModelJson.treeJson(tree)).take(16))))
  }

  /** The report `meta` key of a global tree's hash: 16 hex digits of the
    * SHA-256 of its JSON. */
  val ModelHash = "model_hash"

  /** Throws when the global trees of one sweep differ: the same rows and
    * sigma give the same tree for every partition count. Local forests
    * change with the partition count by design and are not checked.
    */
  def checkGlobalHashes(results: Seq[IterationResult]): Unit = {
    val hashes = results.filter(_.modelKind == "global").map(r => r.iteration -> r.report.meta(ModelHash))
    val off = hashes.filter(_._2 != hashes.head._2)
    if (off.nonEmpty) throw new IllegalStateException(
      s"global trees differ across the sweep: iteration ${hashes.head._1} hashes ${hashes.head._2}, but " +
        off.map { case (i, h) => s"iteration $i hashes $h" }.mkString(", "))
  }

  /** First iteration (= partition count) of both strategies' sweeps
    * (reference: controller_loop.py:158).
    */
  val MinIteration = 2

  /** The full sweep: local iterations then global ones, each from
    * [[MinIteration]] to its max partition count. Returns all iteration
    * reports (also written to
    * `reportsDir` when configured, one aggregated JSON per strategy —
    * reference: controller_loop.py:381-401). Then throws, by
    * [[checkGlobalHashes]], when the global trees differ.
    */
  def run(spark: SparkSession, cfg: SweepConfig): Seq[IterationResult] = {
    val prepTimer = new Evaluation.StageTimer
    val (train, test, features) = prepare(spark, cfg, prepTimer)
    val results = Seq.newBuilder[IterationResult]
    (MinIteration to cfg.localMaxPartitions).foreach { i =>
      results += runLocalIteration(spark, cfg, i, train, test, features)
    }
    // sigma, bit for bit what each global fit would compute from the same
    // rows, once for the sweep instead of once per fit
    val dataStd =
      if (cfg.sampleParams) GlobalTrainer.computeDataStdWide(train, features)
      else Double.NaN
    (MinIteration to cfg.globalMaxPartitions).foreach { i =>
      results += runGlobalIteration(spark, cfg, i, train, test, features, dataStd)
    }
    train.unpersist(); test.unpersist()
    val all = results.result()
    cfg.reportsDir.foreach { dir =>
      new java.io.File(dir).mkdirs()
      all.groupBy(_.modelKind).foreach { case (kind, rs) =>
        Evaluation.writeReports(rs.map(_.report), s"$dir/report_${kind}_ALL.json")
      }
    }
    checkGlobalHashes(all)
    all
  }
}
