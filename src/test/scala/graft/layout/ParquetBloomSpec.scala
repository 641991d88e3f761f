package graft.layout

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The bloom-filter skipping claim made LITERAL (the ZOrderFileSkipSpec
  * doctrine for the hash-distributed case): write a table whose key is an
  * md5 hex digest — every file's min/max box spans the whole value space,
  * so footer boxes admit every point probe — then read the REAL footers
  * back and show the column bloom filters reject the non-containing row
  * groups that min/max cannot. Plus the functional read path with the
  * pushed point filter.
  */
class ParquetBloomSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def hashTable(n: Int) =
    spark.range(n.toLong).select(col("id"),
      md5(col("id").cast("string")).as("k"))

  test("hash key: min/max boxes admit every probe, bloom filters reject the true misses") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom")
      .toFile.getAbsolutePath + "/t"
    // 8 files split by id: each file's k-range spans ~the full hex space
    ParquetBloom.writeWithBloom(
      hashTable(4000).repartitionByRange(8, col("id")),
      dir, bloomNdv = Map("k" -> 1000L))

    // min/max admits EVERYTHING: every file's box covers the mid-space
    // probe — the lever this spec exists to prove useless here
    val probe = // md5(123): present in exactly one file (id 123 -> file 0)
      hashTable(4000).filter(col("id") === 123).select("k").as[String].head()
    // per-file k-range: exactly the min/max each file's footer carries
    val pages = spark.read.parquet(dir)
      .groupBy(input_file_name().as("path"))
      .agg(min(col("k")).as("kmin"), max(col("k")).as("kmax"))
      .collect()
    assert(pages.length === 8)
    val admittedByMinMax = pages.count(r =>
      r.getAs[String]("kmin") <= probe && probe <= r.getAs[String]("kmax"))
    assert(admittedByMinMax === 8,
      s"hash-distributed key should defeat min/max: $admittedByMinMax/8 admitted")

    // the bloom filters: present in every row group, and they REJECT the
    // row groups that don't hold the probe. Deterministic data -> a fixed
    // filter; we assert the true container admits and that at least 6 of
    // the 8 files are proven skippable (false positives are allowed by
    // the format; at ndv=1000 the default FPP is ~1%, so 7 rejections is
    // the overwhelmingly likely outcome and 6 a safe floor).
    val rep = ParquetBloom.bloomProbeReport(spark, dir, "k", Seq(probe)).collect()
    assert(rep.nonEmpty && rep.forall(_.getAs[Boolean]("has_bloom")),
      "writer must produce a bloom filter for every row group")
    val admitted = rep.filter(_.getAs[Boolean]("might_contain"))
    assert(admitted.nonEmpty, "the containing row group must be admitted")
    assert(rep.length - admitted.length >= 6,
      s"bloom should reject most row groups: ${admitted.length}/${rep.length} admitted")

    // probing a value NOT in the table: every row group may reject (and
    // with ~1% FPP effectively all do)
    val ghost = ParquetBloom.bloomProbeReport(spark, dir, "k",
      Seq("ffffffffffffffffffffffffffffffff")).collect()
    assert(ghost.count(_.getAs[Boolean]("might_contain")) <= 1)

    // functional read path: the point filter is pushed to the scan and
    // returns exactly the planted row
    val q = spark.read.parquet(dir).filter(col("k") === probe)
    val pushed = q.queryExecution.executedPlan.toString
    assert(pushed.contains("PushedFilters") && pushed.contains("IsNotNull(k)"),
      s"point filter must reach the parquet scan:\n$pushed")
    assert(q.select("id").as[Long].collect().toSeq === Seq(123L))
  }
}
