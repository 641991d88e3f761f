package graft

/** Developer utility: explain / show / time a single catalog query.
  *   runMain graft.Tool explain <query> <sfDir>
  *   runMain graft.Tool show <query> <sfDir> [rows]
  *   runMain graft.Tool time <query> <sfDir> [reps]
  *   runMain graft.Tool stages <query> <sfDir>
  */
object Tool {
  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val name = args(1)
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(appName = "graft-tool")
    val q = SparkEntry.queries(name)
    mode match {
      case "explain" =>
        q(spark, sfDir).explain("formatted")
      case "show" =>
        q(spark, sfDir).show(args.lift(3).map(_.toInt).getOrElse(20), false)
      case "time" =>
        val reps = args.lift(3).map(_.toInt).getOrElse(3)
        (1 to reps).foreach { i =>
          val t0 = System.nanoTime()
          val n = q(spark, sfDir).count()
          println(f"[tool] rep $i: ${(System.nanoTime() - t0) / 1e9}%.2f s, $n rows")
        }
      case "stages" =>
        // untimed warm reps first (arg 3, default 0): JIT + codegen off
        // the profile, so the listener sees the steady-state stage set
        (1 to args.lift(3).map(_.toInt).getOrElse(0)).foreach { _ =>
          q(spark, sfDir).count(); ()
        }
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val m = si.taskMetrics
            println(f"[stage] ${si.stageId}%3d ${si.name.take(60)}%-60s " +
              f"tasks=${si.numTasks}%4d run=${m.executorRunTime / 1000.0}%8.1fs " +
              f"gc=${m.jvmGCTime / 1000.0}%6.1fs " +
              f"shufR=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
              f"shufW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB " +
              f"spill=${m.diskBytesSpilled / 1e6}%8.1fMB")
          }
        }
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        val n = q(spark, sfDir).count()
        println(f"[tool] total ${(System.nanoTime() - t0) / 1e9}%.2f s, $n rows")
        Thread.sleep(500)
      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}
