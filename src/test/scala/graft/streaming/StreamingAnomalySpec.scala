package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** CDC image row for hourly event counts. (Top-level for encoders.) */
case class EvChange(op: String, event_type: String, hour_us: Long, one: Long)

/** Incremental anomaly detection = an hourly snapshot maintained by
  * [[graft.ops.IncrementalAgg.applyDelta]], one CDC batch at a time,
  * composed with the SAME scorer the batch catalog query uses
  * (RelationalQueries.anomalyFromHourly): per batch the detector
  * re-scores a #types×#hours frame, never the fact. The spec pins
  * snapshot/batch agreement — the maintained snapshot's anomalies must
  * equal the batch pipeline's on the implied fact — and that a planted
  * spike actually flags.
  */
class StreamingAnomalySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val HourUs = 3600L * 1000000L

  test("snapshot-scored anomalies equal batch-scored; planted spike flags") {
    // 9 calm hours at 10 events/hour, then a 100-event spike at hour 9,
    // split over two batches (the spike hour arrives in the second)
    def batchOf(hours: Range, perHour: Long => Int): Seq[EvChange] =
      hours.flatMap(h => (1 to perHour(h.toLong)).map(_ =>
        EvChange("i", "click", h * HourUs, 1L)))
    val t1 = batchOf(0 until 6, _ => 10)
    val t2 = batchOf(6 until 10, h => if (h == 9) 100 else 10)
    val groups = Seq("event_type", "hour_us")
    val sums = Seq("one" -> "n")
    // the first batch folds into an empty aggregate of the output shape
    val empty = t1.toDF().filter(lit(false))
      .groupBy(groups.map(col): _*)
      .agg(count(lit(1)).as("cnt"), sum(col("one")).as("n"))
    val snap = Seq(t1, t2).foldLeft(empty) { (base, b) =>
      graft.ops.IncrementalAgg.applyDelta(base, b.toDF(), groups, sums,
        opCol = "op").localCheckpoint()
    }.select(col("event_type"), col("hour_us"), col("n"))
    val streamed = graft.ops.RelationalQueries.anomalyFromHourly(snap)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSet
    // batch twin: aggregate the implied fact rows directly
    val fact = (t1 ++ t2).toDF()
    val batchHourly = fact.groupBy(col("event_type"), col("hour_us"))
      .agg(count(lit(1)).as("n"))
    val batch = graft.ops.RelationalQueries.anomalyFromHourly(batchHourly)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSet
    assert(streamed === batch)
    // hours 6,7,8 are calm (z ~ 0); hour 9 must flag
    val flagged = streamed.filter(_._5).map(_._2 / HourUs)
    assert(flagged === Set(9L), s"wrong anomaly set: $streamed")
  }
}
