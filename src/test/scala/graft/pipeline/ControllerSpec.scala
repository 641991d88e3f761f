package graft.pipeline

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.ops.TscQueries

/** E2E sweep on the in-repo ECG5000 train file (500 rows, 5 classes) —
  * the parity harness shape of reference controller_loop.py, shrunk for CI.
  * Accuracy assertions are bands, not exact values (SURVEY §7 hard part (c)).
  */
class ControllerSpec extends AnyFunSuite with SparkSpec {

  test("sweep over ECG5000_TRAIN: both strategies beat majority-class baseline") {
    assume(graft.TestData.ecg5000Available, "reference ECG5000 checkout absent")
    val out = java.nio.file.Files.createTempDirectory("sweep").toString
    val cfg = SweepConfig(
      dataPath = graft.TestData.ecg5000Path,
      tsv = true,
      localMaxPartitions = 3,
      globalMaxPartitions = 2,
      nSplitters = 3,
      maxDepth = 6,
      poolNames = Seq("euclidean"),
      reportsDir = Some(out),
      modelsDir = Some(out),
      plotsDir = Some(out))
    val results = Controller.run(spark, cfg)
    assert(results.map(_.modelKind).distinct.sorted === Seq("global", "local"))
    // ECG5000 is ~58% majority class; a working distance tree should clear it
    results.foreach { r =>
      assert(r.report.performance.accuracy > 0.6,
        s"${r.modelKind}@${r.iteration}: ${r.report.performance.accuracy}")
      assert(r.report.performance.balancedAccuracy > 0.25)
    }
    // sinks exist and parse
    val local = new java.io.File(s"$out/report_local_ALL.json")
    val global = new java.io.File(s"$out/report_global_ALL.json")
    assert(local.exists() && global.exists())
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(local)
    assert(node.get("2").get("performance").get("accuracy").asDouble() > 0.6)
    assert(new java.io.File(s"$out/local_forest_2.json").exists())
    assert(new java.io.File(s"$out/global_tree_2.json").exists())
    // E9: both figures rendered per iteration, and they parse as XML
    Seq("local_2", "global_2").foreach { it =>
      Seq("confusion_matrix.svg", "class_metrics.svg").foreach { f =>
        val svg = new java.io.File(s"$out/$it/$f")
        assert(svg.exists() && svg.length() > 200, s"missing plot $it/$f")
        javax.xml.parsers.DocumentBuilderFactory.newInstance()
          .newDocumentBuilder().parse(svg)
      }
    }
  }

  test("a sampled sweep grows one global tree for every partition count") {
    val csv = Files.createTempDirectory("sweep-fixture").resolve("train.csv")
    Files.write(csv, (("label" +: (1 to 16).map(i => s"_c$i")).mkString(",") +:
      TscQueries.fixtureSeries(5000L, 300).map { case (_, l, ts) => (l +: ts.toSeq).mkString(",") }).asJava)
    val plots = Files.createTempDirectory("sweep-plots").toString
    val results = Controller.run(spark, SweepConfig(dataPath = csv.toString, numFeatures = 16,
      localMaxPartitions = 2, globalMaxPartitions = 4, nSplitters = 3, sampleParams = true,
      plotsDir = Some(plots)))
    val global = results.filter(_.modelKind == "global")
    assert(global.map(_.iteration) === Seq(2, 3, 4))
    val hashes = global.map(_.report.meta(Controller.ModelHash))
    assert(hashes.distinct.size === 1 && hashes.head.matches("[0-9a-f]{16}"), hashes)
    // E9: both figures rendered per iteration, and they parse as XML
    Seq("local_2", "global_2").foreach { it =>
      Seq("confusion_matrix.svg", "class_metrics.svg").foreach { f =>
        val svg = new java.io.File(s"$plots/$it/$f")
        assert(svg.exists() && svg.length() > 200, s"missing plot $it/$f")
        javax.xml.parsers.DocumentBuilderFactory.newInstance()
          .newDocumentBuilder().parse(svg)
      }
    }

    // one differing tree: the check names its iteration
    val differing = results.map { r =>
      if (r.modelKind == "global" && r.iteration == 3)
        r.copy(report = r.report.copy(meta = r.report.meta.updated(Controller.ModelHash, "0" * 16)))
      else r
    }
    val e = intercept[IllegalStateException](Controller.checkGlobalHashes(differing))
    assert(e.getMessage.contains("iteration 3 hashes 0000000000000000"), e.getMessage)
    assert(!e.getMessage.contains("iteration 4"), e.getMessage)
  }
}
