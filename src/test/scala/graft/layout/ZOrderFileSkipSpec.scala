package graft.layout

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import graft.SparkSpec

/** The file-skipping claim made LITERAL: write the same table once
  * Z-clustered and once linearly ordered, then read the actual parquet
  * footers and compare the per-file (l_partkey, l_suppkey) min/max boxes —
  * the exact statistics a scan's file-level filter pushdown consults. The
  * Z-layout's total box area must be a small fraction of the linear
  * layout's, or a 2-D box predicate cannot skip files.
  */
class ZOrderFileSkipSpec extends AnyFunSuite with SparkSpec {

  /** One contiguous curve segment per output file. */
  private def clusterBy(df: org.apache.spark.sql.DataFrame,
      key: org.apache.spark.sql.Column, numPartitions: Int) =
    df.repartitionByRange(numPartitions, key).sortWithinPartitions(key)

  private def zkey = ZOrder.zkey(col("l_partkey"), col("l_suppkey"))

  private def footerBoxArea(dir: String): BigInt = {
    val conf = spark.sessionState.newHadoopConf()
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f.length() > 0)
    assert(files.nonEmpty, s"no parquet files in $dir")
    files.map { f =>
      val in = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
      val reader = ParquetFileReader.open(in)
      try {
        val blocks = reader.getFooter.getBlocks
        def range(col: String): (Long, Long) = {
          val stats = (0 until blocks.size()).flatMap { i =>
            val b = blocks.get(i)
            (0 until b.getColumns.size()).map(b.getColumns.get)
              .filter(_.getPath.toDotString == col)
              .map(_.getStatistics)
          }
          assert(stats.nonEmpty && stats.forall(_.hasNonNullValue), col)
          (stats.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min,
            stats.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).max)
        }
        val (x0, x1) = range("l_partkey")
        val (y0, y1) = range("l_suppkey")
        BigInt(x1 - x0 + 1) * BigInt(y1 - y0 + 1)
      } finally reader.close()
    }.sum
  }

  test("Z-clustered parquet footers carry far tighter boxes than linear layout") {
    val li = graft.ops.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val base = java.nio.file.Files.createTempDirectory("graft-zskip").toFile.getAbsolutePath
    val zDir = s"$base/z"
    val linDir = s"$base/lin"
    clusterBy(li, zkey, numPartitions = 8)
      .write.mode("overwrite").parquet(zDir)
    li.repartitionByRange(8, col("l_orderkey"), col("l_linenumber"))
      .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"))
      .write.mode("overwrite").parquet(linDir)
    val zArea = footerBoxArea(zDir)
    val linArea = footerBoxArea(linDir)
    // loose factor on purpose: the claim is "the footers cluster", the
    // exact ratio is data-dependent
    assert(zArea * 2 < linArea, s"zorder=$zArea linear=$linArea")
    info(s"footer box area: zorder=$zArea linear=$linArea (${linArea / zArea}x tighter)")
    // and the data itself round-trips
    assert(spark.read.parquet(zDir).count() === li.count())
  }

  test("Hilbert clustering boxes at least as tight as Z on real footers") {
    val li = graft.ops.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val base = java.nio.file.Files.createTempDirectory("graft-hskip").toFile.getAbsolutePath
    val hDir = s"$base/h"
    val zDir = s"$base/z"
    clusterBy(li, Hilbert.hkey(col("l_partkey"), col("l_suppkey")), numPartitions = 8)
      .write.mode("overwrite").parquet(hDir)
    clusterBy(li, zkey, numPartitions = 8)
      .write.mode("overwrite").parquet(zDir)
    val hArea = footerBoxArea(hDir)
    val zArea = footerBoxArea(zDir)
    // unit-step continuity bounds Hilbert segment boxes; allow a 20%
    // band (8 files of real data, box shapes are key-distribution
    // dependent) but Hilbert must never be materially worse
    assert(hArea <= zArea * 12 / 10, s"hilbert=$hArea zorder=$zArea")
    info(s"footer box area: hilbert=$hArea zorder=$zArea")
    assert(spark.read.parquet(hDir).count() === li.count())
  }
}
