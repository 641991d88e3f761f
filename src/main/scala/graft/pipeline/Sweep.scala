package graft.pipeline

import graft.GraftSession

/** Experiment entry point (reference: code/src/main.py:5-9). Usage:
  *   runMain graft.pipeline.Sweep <dataPath> <outDir> [maxPartitions] [tsv] [sampleParams] [testPath]
  * `testPath` (or "-" to skip) selects a pre-split held-out test file:
  * dataPath becomes ALL train, no in-pipeline split — the source-disjoint
  * parity layout (see BootstrapData's split mode).
  */
object Sweep {
  def main(args: Array[String]): Unit = {
    val dataPath = args.lift(0).getOrElse("/root/reference/ECG5000/ECG5000_TRAIN.tsv")
    val outDir = args.lift(1).getOrElse("/tmp/graft_sweep")
    val maxParts = args.lift(2).map(_.toInt).getOrElse(6)
    val isTsv = args.lift(3).forall(_.toBoolean) // TSV by default
    val sampleParams = args.lift(4).exists(_.toBoolean)
    val testPath = args.lift(5).filter(_ != "-")
    val spark = GraftSession.local(appName = "graft-sweep")
    val cfg = SweepConfig(
      dataPath = dataPath, tsv = isTsv,
      localMaxPartitions = maxParts, globalMaxPartitions = maxParts,
      sampleParams = sampleParams, testDataPath = testPath,
      modelsDir = Some(s"$outDir/models"), reportsDir = Some(s"$outDir/reports"))
    val t0 = System.nanoTime()
    val results = Controller.run(spark, cfg)
    results.foreach { r =>
      val p = r.report.performance
      println(f"${r.modelKind}%-6s parts=${r.iteration}%2d acc=${p.accuracy}%.4f " +
        f"bal=${p.balancedAccuracy}%.4f f1=${p.f1}%.4f " +
        f"train=${r.report.timings.getOrElse("training", 0.0)}%.1fs")
    }
    println(f"TOTAL ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
