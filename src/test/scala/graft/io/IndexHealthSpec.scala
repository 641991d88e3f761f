package graft.io

import java.nio.file.Files

import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.dedup.ClusterIndex
import graft.sim.IvfIndex

/** The shared on-disk protocol's reads: the ledger read every index's
  * maintenance log goes through, and the gate on the tombstone
  * sidecar's broadcast.
  */
class IndexHealthSpec extends AnyFunSuite with SparkSpec {

  test("a never-maintained index reads an empty ledger with its schema, " +
      "absent or left part-file-less by a crashed first append") {
    val dir = Files.createTempDirectory("ledger_absent").toString + "/idx"
    def logs() = Seq(
      IvfIndex.maintenanceLog(spark, dir) ->
        Seq("seq" -> "bigint", "skew" -> "double", "recall" -> "double",
          "skew_bar" -> "double", "recall_floor" -> "double",
          "unhealthy" -> "boolean", "consecutive_bad" -> "bigint",
          "action" -> "string", "post_recall" -> "double",
          "healed" -> "string"),
      ClusterIndex.maintenanceLog(spark, dir) ->
        Seq("seq" -> "bigint", "healed" -> "string",
          "unsealed_epochs" -> "int", "update_epochs" -> "int",
          "epochs_bar" -> "int", "action" -> "string"),
      // TextIndex and LshIndex share this ledger
      IndexHealth.tombstoneMaintenanceLog(spark, dir) ->
        Seq("seq" -> "bigint", "dead_ratio" -> "double",
          "postings_files" -> "int", "dead_ratio_bar" -> "double",
          "files_bar" -> "int", "unhealthy" -> "boolean",
          "action" -> "string", "survivors" -> "bigint",
          "folded" -> "bigint", "post_files" -> "int"))
    def check(): Unit = logs().foreach { case (log, want) =>
      assert(log.schema.map(f => f.name -> f.dataType.simpleString) === want)
      assert(log.count() === 0L)
    }
    check()
    assert(IndexHealth.nextSeq(spark, s"$dir/maintenance") === 0L)
    assert(new java.io.File(s"$dir/maintenance").mkdirs())
    check()
    assert(IndexHealth.nextSeq(spark, s"$dir/maintenance") === 0L)
  }

  test("the sidecar broadcast is gated on the optimizer's size estimate") {
    def hinted(df: org.apache.spark.sql.DataFrame) =
      IndexHealth.gated(df).queryExecution.analyzed.isInstanceOf[ResolvedHint]
    assert(hinted(spark.range(1000).toDF()))
    // Range estimates 8 bytes a row: 8 TiB here, never executed
    assert(!hinted(spark.range(1L << 40).toDF()))
  }
}
