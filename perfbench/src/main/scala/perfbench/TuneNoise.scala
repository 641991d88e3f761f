package perfbench

import java.io.File

import graft.GraftSession
import graft.eval.Evaluation
import graft.global.GlobalTrainer
import graft.pipeline.Controller
import graft.prep.Preprocessing

/** How [[EcgData.Noise]] was chosen: for each candidate noise, fit the
  * elastic workload's global tree on 4,000 generated rows and print its
  * depth and leaf count, uncapped (target: depth 14-19, 300-330 leaves).
  *
  * Usage: TuneNoise <workDir> <seed> <noise> [<noise> ...]
  */
object TuneNoise {
  def main(args: Array[String]): Unit = {
    val work = new File(args(0)); work.mkdirs()
    val seed = args(1).toLong
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors(), "perfbench-tune")
    val w = GraftBench.Workloads("tsc_elastic")
    args.drop(2).map(_.toDouble).foreach { noise =>
      val csv = new File(work, s"tune-$noise.csv").getPath
      EcgData.writeCsv(csv, EcgData.generate(4000, seed, noise))
      val cfg = GraftBench.config(w, csv).copy(maxDepth = -1)
      val (train, test, feats) = Controller.prepare(spark, cfg, new Evaluation.StageTimer)
      val t0 = System.nanoTime()
      val tree = GlobalTrainer.fit(spark, Preprocessing.roundRobin(train, GraftBench.Partitions),
        cfg.labelCol, feats,
        Controller.treeParams(cfg, GlobalTrainer.computeDataStdWide(train, feats)))
      println(f"noise=$noise%.3f depth=${tree.depth} leaves=${tree.numLeaves} " +
        f"fit=${(System.nanoTime() - t0) / 1e9}%.1f s")
      train.unpersist(); test.unpersist()
    }
    spark.stop()
  }
}
