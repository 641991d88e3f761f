package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.dist.Distances
import graft.eval.Evaluation
import graft.global.GlobalTrainer
import graft.io.Ingestion
import graft.local.LocalTrainer
import graft.pipeline.{Controller, SweepConfig}
import graft.prep.Preprocessing
import graft.split.Splits
import graft.tree.{ModelJson, ProximityForestModel, ProximityTree, ProximityTreeModel}

/** The paper's time-series-classification pipeline, timed from outside:
  * ingest → stratified split + min-max → normalize → local forest (k = 4)
  * → global tree (4 partitions) → predict → evaluate, on seeded ECG-like
  * rows ([[EcgData]]).
  *
  * Usage: GraftBench --workload W --seed N --seconds S --trace 0|1
  *                   --work DIR --out FILE
  *
  * One run: build a SparkSession, generate the seeded input and run one
  * full-size warm-up pass, so JIT and codegen are done before timing
  * (setup_s is JVM start to this point). Then repeat whole pipeline passes
  * for S seconds (at least one) and report medians. An untraced pass makes
  * the Controller's own calls. With `--trace 1` traced and untraced passes
  * alternate, traced first; the traced pass calls each layer on its own,
  * materializes its output (cache + count) so work is charged to the layer
  * that did it, and records a span with Spark counters per call. Every
  * timed pass checks its predictions; results go to FILE as JSON.
  */
object GraftBench {

  /** `maxDepth` caps both trainers (the sweep's max_depth setting): the
    * global trainer pays a fixed job cost per level, so an uncapped tree's
    * cost follows its deepest path, which varies widely from seed to seed.
    */
  final case class Workload(
      name: String, rows: Int, poolNames: Seq[String], sampleParams: Boolean, maxDepth: Int)

  val Workloads: Map[String, Workload] = Seq(
    // the paper protocol: full 11-measure pool, sampled parameters
    Workload("tsc_elastic", rows = 1200,
      poolNames = Distances.defaultPool.map(_.name), sampleParams = true, maxDepth = 4),
    // same stages and trainers, euclidean only: Spark jobs, not kernels
    Workload("tsc_euclid_wide", rows = 5000,
      poolNames = Seq("euclidean"), sampleParams = false, maxDepth = 10)
  ).map(w => w.name -> w).toMap

  /** Both strategies run at this partition count: the Controller's
    * iteration number, the local forest's k and the global tree's
    * partitions.
    */
  val Partitions = 4
  val Splitters = 5
  private val Pred = "prediction"

  def config(w: Workload, csv: String): SweepConfig = SweepConfig(
    dataPath = csv, numFeatures = EcgData.Length, nSplitters = Splitters,
    maxDepth = w.maxDepth, poolNames = w.poolNames, sampleParams = w.sampleParams)

  // ---- timing ----------------------------------------------------------

  /** Sums wall seconds per stage name; the traced variant also records one
    * span per call.
    */
  class Clock {
    val seconds = mutable.LinkedHashMap.empty[String, Double]
    protected def run[T](name: String)(body: => T): T = body
    def apply[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try run(name)(body)
      finally seconds(name) = seconds.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
    }
  }

  final class TracedClock(tracer: Tracer) extends Clock {
    override protected def run[T](name: String)(body: => T): T = tracer.span(name)(body)
  }

  private def now: Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  // ---- one pipeline pass -----------------------------------------------

  final case class PassResult(
      traced: Boolean,
      wallS: Double,
      stages: Map[String, Double],
      reportGapS: Double,
      testRows: Long,
      localAccuracy: Double,
      globalAccuracy: Double,
      forest: ProximityForestModel,
      tree: ProximityTreeModel,
      problems: Seq[String]) {
    def stage(n: String): Double = stages.getOrElse(n, 0.0)
    def localTrainS: Double = stage("local.train")
    def globalTrainS: Double = stage("global.std") + stage("global.fit")
    def predictRowsPerS: Double =
      2.0 * testRows / (stage("local.predict") + stage("global.predict"))
  }

  /** One untraced pass: the calls `Controller.run` makes for a single
    * partition count — `prepare`, `runLocalIteration`, the data std the
    * sweep computes once for its global iterations, `runGlobalIteration`.
    * Stage times come from the iteration reports' StageTimers. The models
    * go to `modelsDir` (the Controller's own sink), and the checks predict
    * the test set again with the saved models.
    */
  def plainPass(spark: SparkSession, cfg0: SweepConfig, modelsDir: File,
      checked: Boolean = true): PassResult = {
    val cfg = cfg0.copy(modelsDir = Some(modelsDir.getPath))
    val timer = new Evaluation.StageTimer
    val t0 = now
    val (train, test, feats) = Controller.prepare(spark, cfg, timer)
    val prepareS = secs(t0, now)
    val local = Controller.runLocalIteration(spark, cfg, Partitions, train, test, feats).report
    val t1 = now
    val dataStd =
      if (cfg.sampleParams) GlobalTrainer.computeDataStdWide(train, feats) else Double.NaN
    val stdS = secs(t1, now)
    val global = Controller.runGlobalIteration(
      spark, cfg, Partitions, train, test, feats, dataStd).report
    val wall = secs(t0, now)

    // output checks, outside the timed pass
    val forest = ModelJson.loadForest(new File(modelsDir, s"local_forest_$Partitions.json").getPath)
    val tree = ModelJson.loadTree(new File(modelsDir, s"global_tree_$Partitions.json").getPath)
    val lp = LocalTrainer.predict(spark, forest, test, feats)
    val gp = LocalTrainer.predictTree(spark, tree, test, feats)
    val (testRows, problems) =
      if (!checked) (test.count(), Nil)
      else check(train, test, cfg.labelCol, Seq(
        ("local", lp, local.performance.accuracy, local.classWise.map(_.label)),
        ("global", gp, global.performance.accuracy, global.classWise.map(_.label))))
    train.unpersist(); test.unpersist()
    def t(r: Evaluation.Report, k: String) = r.timings.getOrElse(k, Double.NaN)
    val stages = Map(
      "pipeline.prepare" -> prepareS,
      "local.train" -> t(local, "training"), "local.predict" -> t(local, "prediction"),
      "local.evaluate" -> t(local, "evaluation"),
      "global.std" -> stdS,
      "global.fit" -> t(global, "training"), "global.predict" -> t(global, "prediction"),
      "global.evaluate" -> t(global, "evaluation"))
    PassResult(traced = false, wall, stages, prepareS - timer.timings.values.sum, testRows,
      local.performance.accuracy, global.performance.accuracy, forest, tree, problems)
  }

  private def materialize(df: DataFrame): DataFrame = { df.cache(); df.count(); df }

  /** Traced prepare: the same calls Controller.prepare makes, one layer at
    * a time, each output materialized before the next layer starts.
    */
  private def prepareTraced(spark: SparkSession, cfg: SweepConfig, clock: Clock)
      : (DataFrame, DataFrame, Seq[String]) = {
    val feats = Ingestion.featureCols(cfg.numFeatures)
    val raw = clock("io.ingest")(materialize(Ingestion.validateNonEmpty(Ingestion.sample(
      Ingestion.readCsv(spark, cfg.dataPath, Ingestion.wideSchema(cfg.numFeatures, cfg.labelCol)),
      cfg.dataPercentage, cfg.seed))))
    val (tr, te) = clock("split.stratified") {
      val (a, b) = Splits.stratifiedSplit(raw, cfg.labelCol, cfg.trainFraction, cfg.seed)
      (materialize(a), materialize(b))
    }
    val stats = clock("prep.minmax")(Preprocessing.computeMinMax(tr, feats))
    val (trN, teN) = clock("prep.normalize") {
      def norm(df: DataFrame) = materialize(Preprocessing.minMaxNormalize(
        Preprocessing.dropAllNull(df), stats, feats, Seq(cfg.labelCol)))
      (norm(tr), norm(te))
    }
    Seq(raw, tr, te).foreach(_.unpersist())
    (trN, teN, feats)
  }

  /** One traced pass: the layer calls the untraced pass makes through the
    * Controller, each in its own span with its output materialized.
    * `local.balance` runs the class-balanced shuffle on its own; the
    * `local.train` call that follows balances again inside
    * `trainEnsemble`, so the two spans both pay for balancing.
    */
  def tracedPass(spark: SparkSession, cfg: SweepConfig, tracer: Tracer): PassResult = {
    val clock = new TracedClock(tracer)
    val label = cfg.labelCol
    val t0 = now
    val (train, test, feats) = prepareTraced(spark, cfg, clock)
    val treeParams = Controller.treeParams(cfg)

    clock("local.balance") {
      materialize(Preprocessing.classBalancedPartition(
        train, label, Partitions, seed = treeParams.seed)).unpersist()
    }
    val forest = clock("local.train")(LocalTrainer.trainEnsemble(
      spark, train, label, feats, Partitions, treeParams,
      cfg.holdoutFraction, cfg.useWeighting))
    val lp = clock("local.predict")(materialize(LocalTrainer.predict(spark, forest, test, feats)))
    val lPerf = clock("eval.performance")(Evaluation.performance(lp, label, Pred))
    val lLabels = clock("eval.classwise")(Evaluation.classWise(lp, label, Pred))._1

    val dataStd = clock("global.std")(
      if (cfg.sampleParams) GlobalTrainer.computeDataStdWide(train, feats) else Double.NaN)
    val rr = clock("prep.roundrobin")(materialize(Preprocessing.roundRobin(train, Partitions)))
    val tree = clock("global.fit")(GlobalTrainer.fit(
      spark, rr, label, feats, Controller.treeParams(cfg, dataStd)))
    val gp = clock("global.predict")(materialize(LocalTrainer.predictTree(spark, tree, test, feats)))
    val gPerf = clock("eval.performance")(Evaluation.performance(gp, label, Pred))
    val gLabels = clock("eval.classwise")(Evaluation.classWise(gp, label, Pred))._1
    val wall = secs(t0, now)

    val (testRows, problems) = check(train, test, label, Seq(
      ("local", lp, lPerf.accuracy, lLabels), ("global", gp, gPerf.accuracy, gLabels)))
    Seq(lp, gp, rr, train, test).foreach(_.unpersist())
    PassResult(traced = true, wall, clock.seconds.toMap, Double.NaN, testRows,
      lPerf.accuracy, gPerf.accuracy, forest, tree, problems)
  }

  /** Checks each model's predictions of the test set: one row per test
    * row, every prediction inside the training label domain, the accuracy
    * the pipeline reported equal to the accuracy of these predictions, the
    * labels its evaluator saw inside the domain, and accuracy at least the
    * test set's majority-class share. Returns (test rows, problems).
    */
  def check(train: DataFrame, test: DataFrame, label: String,
      models: Seq[(String, DataFrame, Double, Seq[Double])]): (Long, Seq[String]) = {
    val testRows = test.count()
    val domain = train.select(label).distinct().collect().map(_.getInt(0)).toSet
    val majorityShare =
      test.groupBy(label).count().collect().map(_.getLong(1)).max.toDouble / testRows
    val problems = models.flatMap { case (model, pred, reported, evalLabels) =>
      val r = pred.agg(
        count(lit(1)), count(col(Pred)),
        sum(when(col(Pred).isin(domain.toSeq: _*), 0).otherwise(1)),
        sum(when(col(Pred) === col(label), 1).otherwise(0))).head()
      def long(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
      val accuracy = long(3).toDouble / testRows
      val unknown = evalLabels.filterNot(l => domain.contains(l.toInt))
      Seq(
        (long(0) != testRows) -> s"$model: ${long(0)} prediction rows for $testRows test rows",
        (long(1) != testRows) -> s"$model: ${testRows - long(1)} test rows without a prediction",
        (long(2) != 0) -> s"$model: ${long(2)} predictions outside the label domain $domain",
        (unknown.nonEmpty) -> s"$model: evaluated labels $unknown outside the label domain $domain",
        (math.abs(accuracy - reported) > 1e-9) ->
          f"$model: reported accuracy $reported%.6f, predictions give $accuracy%.6f",
        (accuracy < majorityShare) ->
          f"$model: accuracy $accuracy%.4f below majority share $majorityShare%.4f"
      ).collect { case (true, msg) => msg }
    }
    (testRows, problems)
  }

  // ---- layer probes (traced runs) --------------------------------------

  /** Median microseconds per call of `body`, timed in batches of `batch`. */
  private def microbench(batch: Int)(body: Int => Double): (Double, Double) = {
    var sink = 0.0
    val samples = mutable.ArrayBuffer.empty[Double]
    val stop = now + 200000000L
    while (samples.size < 5 || (now < stop && samples.size < 100)) {
      val t0 = now
      var i = 0
      while (i < batch) { sink += body(i); i += 1 }
      samples += (now - t0) / 1e3 / batch
    }
    (median(samples.toSeq), sink)
  }

  /** `Distances.byName(m)(a, b)` for every pool measure, and
    * `Distances.nearestIndex` against 5 exemplars with the pool's measures
    * in turn (the tree's routing call), on the generated series.
    */
  def distProbe(series: Array[Array[Double]]): Seq[(String, Double)] = {
    val n = 32
    var sink = 0.0
    val perMeasure = Distances.defaultPool.map { m0 =>
      val m = Distances.byName(m0.name)
      val (us, s) = microbench(n)(i => m(series(i), series(i + 1)))
      sink += s
      s"dist.${m0.name}.us_per_eval" -> us
    }
    val exemplars = series.slice(n + 1, n + 6).toIndexedSeq
    val pool = Distances.defaultPool
    val (nearestUs, s) = microbench(n)(i =>
      Distances.nearestIndex(pool(i % pool.length), series(i), exemplars).toDouble)
    sink += s
    System.err.println(s"[perfbench] dist probe checksum $sink")
    perMeasure :+ ("dist.nearest5.us_per_call" -> nearestUs)
  }

  /** A single-thread `ProximityTree.fit` on one local partition's share
    * (every k-th row of the prepared training set in a canonical order).
    */
  def treeProbe(spark: SparkSession, cfg: SweepConfig): Seq[(String, Double)] = {
    val (train, test, feats) = Controller.prepare(spark, cfg, new Evaluation.StageTimer)
    val rows = train.select(col(cfg.labelCol) +: feats.map(col): _*).collect().map { r =>
      ProximityTree.Instance(Array.tabulate(feats.length)(i => r.getDouble(i + 1)), r.getInt(0))
    }
    train.unpersist(); test.unpersist()
    val canonical = rows.sortBy(i => (i.label, i.ts.toSeq))(
      Ordering.Tuple2(Ordering.Int, Ordering.Implicits.seqOrdering[Seq, Double](Ordering.Double.TotalOrdering)))
    val share = canonical.indices.filter(_ % Partitions == 0).map(canonical)
    val t0 = now
    val model = ProximityTree.fit(share, Controller.treeParams(cfg))
    Seq("tree.fit_s" -> secs(t0, now), "tree.depth" -> model.depth.toDouble,
      "tree.leaves" -> model.numLeaves.toDouble)
  }

  /** First 52 bits of SHA-256 over the forest's model JSON, as a number. */
  def forestHash(f: ProximityForestModel): Long = {
    val d = MessageDigest.getInstance("SHA-256")
      .digest(f.trees.map(ModelJson.treeJson).mkString("\n").getBytes("UTF-8"))
    d.take(7).foldLeft(0L)((h, b) => (h << 8) | (b & 0xff)) >>> 4
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  // ---- the run ---------------------------------------------------------

  final case class Args(workload: Workload, seed: Long, seconds: Double, trace: Boolean,
      work: File, out: File)

  def parseArgs(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = Workloads.getOrElse(need("workload"),
      throw new IllegalArgumentException(s"unknown workload ${need("workload")}; " +
        s"known: ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(need("work")), new File(need("out")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val w = a.workload
    val cores = Runtime.getRuntime.availableProcessors()
    a.work.mkdirs()
    val csv = new File(a.work, "data.csv").getPath
    val modelsDir = new File(a.work, "models")
    val problems = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    val passes = mutable.ArrayBuffer.empty[PassResult]

    /** Runs one pass and books its two operations (the local and the
      * global model's predictions); a model whose checks fail is one failed
      * operation. Returns None if the pass threw.
      */
    def attempt(what: String)(body: => PassResult): Option[PassResult] = {
      attempted += 2
      try {
        val p = body
        if (p.problems.nonEmpty) {
          failed += p.problems.map(_.takeWhile(_ != ':')).distinct.size
          problems ++= p.problems.map(what + " " + _)
        }
        System.err.println(f"[perfbench] $what traced=${p.traced} wall=${p.wallS}%.3f s")
        Some(p)
      } catch {
        case NonFatal(e) =>
          failed += 2
          problems += s"$what failed: $e"
          e.printStackTrace()
          None
      }
    }

    // set-up: session, generated input, one full-size warm-up pass
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceJvmStart = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val spark = GraftSession.local(cores, s"perfbench-${w.name}")
    val listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)
    val data = EcgData.generate(w.rows, a.seed)
    val fingerprint = EcgData.writeCsv(csv, data)
    val again = EcgData.generate(w.rows, a.seed)
    if (!data.corresponds(again)((x, y) => x._1 == y._1 && java.util.Arrays.equals(x._2, y._2)))
      problems += "generator not deterministic: one seed gave two inputs"
    val series = data.map(_._2)
    val sessionS = sinceJvmStart
    val cfg = config(w, csv)
    val tWarm = now
    // the warm-up is discarded, so its outputs go unchecked; a warm-up that
    // throws is one failed operation and ends the run
    val warm =
      try Some(plainPass(spark, cfg, modelsDir, checked = false))
      catch {
        case NonFatal(e) =>
          attempted += 1; failed += 1
          problems += s"warm-up pass failed: $e"
          e.printStackTrace()
          None
      }
    val warmupS = secs(tWarm, now)
    val setupS = sinceJvmStart
    System.err.println(s"[perfbench] session + input $sessionS s; warm-up $warmupS s; " +
      s"JVM start to warm $setupS s")

    // measurement window; a traced run makes each traced pass followed by
    // an untraced one
    val tracer = new Tracer(spark, listener)
    heapPools.foreach(_.resetPeakUsage())
    val deadline = now + (a.seconds * 1e9).toLong
    var broken = warm.isEmpty
    def plainCount = passes.count(!_.traced)
    def tracedCount = passes.count(_.traced)
    while (!broken && (now < deadline || plainCount == 0 || (a.trace && tracedCount == 0))) {
      val traced = a.trace && tracedCount <= plainCount
      val p =
        if (traced) {
          tracer.pass += 1
          attempt(s"pass ${passes.size + 1}")(
            tracer.span("pipeline.pass")(tracedPass(spark, cfg, tracer)))
        } else attempt(s"pass ${passes.size + 1}")(plainPass(spark, cfg, modelsDir))
      p.foreach(passes += _)
      broken = p.isEmpty
    }
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

    val plain = passes.filter(!_.traced).toSeq
    val traced = passes.filter(_.traced).toSeq
    val endToEnd: Seq[(String, Double)] = if (plain.isEmpty) Nil else Seq(
      "setup_s" -> setupS,
      "pipeline_s" -> median(plain.map(_.wallS)),
      "local_train_s" -> median(plain.map(_.localTrainS)),
      "global_train_s" -> median(plain.map(_.globalTrainS)),
      "local_accuracy" -> median(plain.map(_.localAccuracy)),
      "global_accuracy" -> median(plain.map(_.globalAccuracy)))

    val perLayer: Seq[(String, Double)] =
      if (!a.trace || traced.isEmpty || plain.isEmpty || broken) Nil
      else {
        // the same untraced pass with the euclidean measure only: what the
        // pass costs without its elastic kernels
        val untracedS = median(plain.map(_.wallS))
        val elasticShare =
          if (w.poolNames == Seq("euclidean")) Some(0.0)
          else attempt("euclidean-only pass")(plainPass(spark,
            cfg.copy(poolNames = Seq("euclidean"), sampleParams = false), modelsDir))
            .map(p => 1.0 - p.wallS / untracedS)
        Seq("setup.session_s" -> sessionS, "setup.warmup_s" -> warmupS) ++
          elasticShare.map("dist.elastic_share" -> _) ++
          layerMetrics(tracer, cores, warm, plain, traced, heapPeakMb) ++
          distProbe(series) ++ treeProbe(spark, cfg)
      }

    val out = new PrintWriter(a.out)
    try {
      def obj(kvs: Seq[(String, Double)]) =
        kvs.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString("{", ", ", "}")
      def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      out.println(s"""{"workload": "${w.name}", "seed": ${a.seed}, "cores": $cores,""")
      out.println(s""" "correct": ${failed == 0 && problems.isEmpty}, "attempted": $attempted, "failed": $failed,""")
      out.println(s""" "problems": ${problems.map(str).mkString("[", ", ", "]")},""")
      out.println(s""" "fingerprint": ${fingerprint.json},""")
      out.println(s""" "setup_s": ${num(setupS)}, "session_s": ${num(sessionS)}, "warmup_s": ${num(warmupS)},""")
      out.println(s""" "passes": ${(warm.toSeq ++ passes).map(p => obj(Seq(
        "traced" -> (if (p.traced) 1.0 else 0.0), "wall_s" -> p.wallS,
        "local_accuracy" -> p.localAccuracy, "global_accuracy" -> p.globalAccuracy,
        "forest_hash" -> forestHash(p.forest).toDouble,
        "global_depth" -> p.tree.depth.toDouble, "global_leaves" -> p.tree.numLeaves.toDouble) ++
        p.stages.toSeq)).mkString("[\n  ", ",\n  ", "]")},""")
      out.println(s""" "end_to_end": ${obj(endToEnd)},""")
      out.println(s""" "per_layer": ${obj(perLayer)},""")
      out.println(s""" "spans": ${tracer.json(cores)}}""")
    } finally out.close()
    spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  /** Per-layer metrics from the traced passes' spans (medians over passes). */
  def layerMetrics(
      tracer: Tracer, cores: Int, warm: Option[PassResult], plain: Seq[PassResult],
      traced: Seq[PassResult], heapPeakMb: Double): Seq[(String, Double)] = {
    def med(f: PassResult => Double) = median(traced.map(f))
    // layer spans: the children of each traced pass's root span
    def spansOf(pass: Int, prefix: String) = tracer.spans.filter(s =>
      s.pass == pass && s.parent != 0 && s.name.startsWith(prefix)).toSeq
    def total(ss: Seq[Span]): Counters = { val c = new Counters; ss.foreach(s => c.add(s.counters)); c }
    val passIds = tracer.spans.map(_.pass).distinct.toSeq
    val passTotals = passIds.map(p => total(spansOf(p, "")))
    def perPass(f: Counters => Double) = median(passTotals.map(f))

    val globalFit = passIds.map(p => spansOf(p, "global.fit").head)
    // `depth` counts levels of nodes (a lone leaf has depth 1), and the
    // global trainer runs one round of its level loop per level
    val levels = traced.map(_.tree.depth.toDouble)
    val globalJobs = globalFit.map(_.counters.jobs.toDouble)
    val firstForest = plain.head.forest
    // the warm-up and every untraced pass train the local forest with the
    // same call on the same input; more than one distinct forest means the
    // result depends on arrival order
    val forestVariants = (warm.toSeq ++ plain).map(p => forestHash(p.forest)).distinct.size
    val untracedS = median(plain.map(_.wallS))
    val tracedS = med(_.wallS)
    // passes alternate traced, untraced, ...: each traced pass against the
    // untraced pass after it. The JVM is still getting faster pass by pass,
    // so this overstates the overhead slightly rather than understating it.
    val overheadS = median(traced.zip(plain).map { case (t, p) => t.wallS - p.wallS })

    Seq(
      "io.ingest_s" -> med(_.stage("io.ingest")),
      "split.stratified_s" -> med(_.stage("split.stratified")),
      "prep.minmax_s" -> med(_.stage("prep.minmax")),
      "prep.normalize_s" -> med(_.stage("prep.normalize")),
      "prep.roundrobin_s" -> med(_.stage("prep.roundrobin")),
      "local.balance_s" -> med(_.stage("local.balance")),
      "local.train_s" -> med(_.stage("local.train")),
      "local.predict_s" -> med(_.stage("local.predict")),
      "predict.rows_per_s" -> median(plain.map(_.predictRowsPerS)),
      "local.trees" -> firstForest.trees.size.toDouble,
      "local.leaves_total" -> firstForest.trees.map(_.numLeaves).sum.toDouble,
      "local.forest_hash" -> forestHash(firstForest).toDouble,
      "local.forest_variants" -> forestVariants.toDouble,
      "global.fit_s" -> med(_.stage("global.fit")),
      "global.std_s" -> med(_.stage("global.std")),
      "global.predict_s" -> med(_.stage("global.predict")),
      "global.levels" -> median(levels),
      "global.leaves" -> med(_.tree.numLeaves.toDouble),
      "global.jobs" -> median(globalJobs),
      "global.jobs_per_level" -> median(globalJobs.zip(levels).map { case (j, l) => j / l }),
      "global.driver_idle_s" -> median(globalFit.map(s =>
        s.wallS - s.counters.jobCoveredMs(s.startMs, s.endMs) / 1e3)),
      "global.busy_frac" -> median(globalFit.map(s => Tracer.busyFrac(s.counters, s.wallS, cores))),
      "global.shuffle_bytes" -> median(globalFit.map(s =>
        (s.counters.shuffleWriteBytes + s.counters.shuffleReadBytes).toDouble)),
      "eval.performance_s" -> med(_.stage("eval.performance")),
      "eval.classwise_s" -> med(_.stage("eval.classwise")),
      "eval.jobs" -> median(passIds.map(p => total(spansOf(p, "eval.")).jobs.toDouble)),
      "pipeline.report_gap_s" -> median(plain.map(_.reportGapS)),
      "pipeline.untraced_s" -> untracedS,
      "pipeline.traced_s" -> tracedS,
      "trace.overhead_s" -> overheadS,
      "spark.jobs" -> perPass(_.jobs.toDouble),
      "spark.stages" -> perPass(_.stages.toDouble),
      "spark.tasks" -> perPass(_.tasks.toDouble),
      "spark.executor_run_s" -> perPass(_.executorRunMs / 1e3),
      "spark.gc_s" -> perPass(_.gcMs / 1e3),
      "spark.shuffle_read_bytes" -> perPass(_.shuffleReadBytes.toDouble),
      "spark.shuffle_write_bytes" -> perPass(_.shuffleWriteBytes.toDouble),
      "spark.spill_bytes" -> perPass(_.spillBytes.toDouble),
      "spark.busy_frac" -> median(traced.zip(passTotals).map { case (r, c) =>
        Tracer.busyFrac(c, r.wallS, cores) }),
      "jvm.heap_peak_mb" -> heapPeakMb
    )
  }
}
