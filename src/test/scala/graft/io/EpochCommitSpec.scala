package graft.io

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The epoch seal must be COMMIT-atomic (r17 ADVICE): a directory that
  * exists without a commit marker is a crashed attempt, not a seal.
  */
class EpochCommitSpec extends AnyFunSuite with SparkSpec {

  test("absent dir: not committed, nothing to clear") {
    val d = Files.createTempDirectory("epoch_commit").toString + "/epoch=0"
    assert(!EpochCommit.committed(spark, d))
  }

  test("committed dir: recognized, never cleared") {
    import spark.implicits._
    val d = Files.createTempDirectory("epoch_commit").toString + "/epoch=0"
    Seq((1L, "a")).toDF("id", "v").write.parquet(d)
    assert(EpochCommit.committed(spark, d))
    assert(spark.read.parquet(d).count() === 1L)
  }

  test("seal() commits independently of _SUCCESS — safe on committers " +
      "that write no marker (marksuccessfuljobs=false / cloud committers)") {
    import spark.implicits._
    val d = Files.createTempDirectory("epoch_commit").toString + "/epoch=0"
    Seq((1L, "a")).toDF("id", "v").write.parquet(d)
    // simulate a no-marker committer config: the job commits fully but
    // writes no _SUCCESS — without graft's own seal this fully-committed
    // epoch would read as a crashed attempt
    assert(new java.io.File(d, "_SUCCESS").delete())
    assert(!EpochCommit.committed(spark, d))
    EpochCommit.seal(spark, d)
    assert(EpochCommit.committed(spark, d))
    assert(spark.read.parquet(d).count() === 1L)
    EpochCommit.seal(spark, d) // idempotent
    assert(EpochCommit.committed(spark, d))
  }
}
