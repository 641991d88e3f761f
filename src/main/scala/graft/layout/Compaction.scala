package graft.layout

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Small-file compaction — the #1 daily maintenance job on a real lake.
  * MERGE/CDC and incremental dedup ([[graft.ops.MergeOps]],
  * [[graft.dedup.Dedup]]) each land delta-sized files; without periodic
  * compaction a 100 TB table degenerates into millions of KB-scale files
  * and every scan pays file-open latency instead of reading bytes.
  *
  * The job splits into PLAN (pure metadata: parquet footers already carry
  * per-file size/rows/min-max — no data read) and REWRITE (merge each
  * planned bin's files into one output file). Keeping the plan a
  * first-class DataFrame makes it oracle-checkable and lets a scheduler
  * diff/approve it before any bytes move.
  */
object Compaction {

  /** Sequential bin packing over an ordered file report: walk the files in
    * `orderCols` order and cut a bin boundary at every `targetBytes` of
    * cumulative size (`bin = cumulative_bytes_before DIV targetBytes`).
    * Deterministic, and every bin is a CONTIGUOUS run of the ordering — so
    * ordering by Z-curve position ([[ZOrder.zkey]] of the footer's min
    * coordinates) preserves clustering: each merged file still covers one
    * compact curve segment, and the file-skipping boxes stay tight. A
    * size-ordered first-fit pack would fill bins tighter but interleave
    * distant curve segments, destroying the
    * layout the table was clustered for.
    *
    * Bins can overrun `targetBytes` by at most their last file (and a
    * single file larger than the target spans bins by itself) — the
    * standard OPTIMIZE trade: never split a file during planning.
    *
    * The window is unpartitioned BY DESIGN: input is per-FILE metadata,
    * one row per data file — 100 TB at 128 MB files ≈ 800k rows through
    * one task, metadata scale, not data scale. Partition the report by
    * table partition upstream if a table ever exceeds that.
    */
  def planSequential(files: DataFrame, sizeCol: String,
      orderCols: Seq[Column], targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val w = Window.orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    files
      .withColumn("_cum_before", sum(col(sizeCol)).over(w) - col(sizeCol))
      .withColumn("bin", expr(s"_cum_before DIV ${targetBytes}L"))
      .drop("_cum_before")
  }
}
