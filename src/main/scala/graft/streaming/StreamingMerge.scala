package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retention for a versioned table (`tableDir/v=<n>/` per committed
  * batch): which versions a vacuum may reclaim.
  */
object StreamingMerge {

  /** The PLAN half of retention, as a DataFrame over a version report
    * (one row per committed version), mirroring
    * [[graft.layout.Compaction]]'s plan/execute split: a version is kept
    * if it is among the newest `keepLast` OR its commit timestamp is
    * within the time-travel window (`>= minTs`); everything else is
    * marked delete, with its bytes as the reclaim estimate. Metadata
    * scale (one row per VERSION), so the unpartitioned max-version window
    * is a few-hundred-row frame at worst.
    */
  def retentionPlan(report: DataFrame, versionCol: String, tsCol: String,
      keepLast: Int, minTs: java.sql.Timestamp): DataFrame = {
    require(keepLast >= 1, s"keepLast must be >= 1: $keepLast")
    val maxV = max(col(versionCol)).over(Window.partitionBy())
    report.withColumn("action",
      when(col(versionCol) > maxV - keepLast || col(tsCol) >= lit(minTs),
        lit("keep")).otherwise(lit("delete")))
  }
}
