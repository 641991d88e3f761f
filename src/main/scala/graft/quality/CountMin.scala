package graft.quality

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Count-min sketch — bounded-memory frequency estimation over an
  * unbounded key space (token/n-gram/URL counts at corpus scale where a
  * per-key groupBy would materialize the full vocabulary). depth×width
  * integer counters; estimate(key) = min over rows of the key's bucket —
  * always an OVERestimate, within ε·N with the usual (ε, δ) bounds.
  *
  * Scale shape: the build is ONE global typed aggregate with an
  * O(depth·width) buffer — map-side combined, the shuffle carries only
  * per-partition sketches (the [[IncrementalStats]] HLL doctrine applied
  * to frequencies). No per-key state anywhere; the estimate pass is a
  * pure projection against the 1-row sketch crossed in as a broadcast.
  *
  * Determinism doctrine: bucket r of a key is
  * md5(r ‖ ':' ‖ key) first-15-hex mod width — the repo's exact
  * cross-engine hash (see [[graft.prep.Codebook.hashEncode]]), and the
  * counters are exact integers, so a sketch (and every estimate) is
  * bit-for-bit replayable in SQL and independent of partitioning/merge
  * order. Mergeability is element-wise long addition: per-batch sketches
  * fold into the one-shot sketch EXACTLY, which is what makes the
  * incremental face exact (spec-pinned), unlike a sampled counter.
  */
object CountMin {

  /** The d bucket ids of a key, as an array column (one md5 per row —
    * depth is a literal, so this is a fixed-width codegen'd projection).
    */
  def buckets(key: Column, depth: Int, width: Int): Column =
    array((0 until depth).map { r =>
      pmod(conv(substring(md5(concat(lit(r.toString), lit(":"),
        key.cast("string"))), 1, 15), 16, 10).cast("long"),
        lit(width.toLong))
    }: _*)

  /** Flat depth×width counter grid: cell (r, b) lives at r·width + b. */
  private final class CmsAgg(depth: Int, width: Int)
      extends Aggregator[Seq[Long], Array[Long], Seq[Long]] {
    def zero: Array[Long] = new Array[Long](depth * width)
    def reduce(buf: Array[Long], bks: Seq[Long]): Array[Long] = {
      var r = 0
      while (r < depth) { buf(r * width + bks(r).toInt) += 1L; r += 1 }
      buf
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    def finish(b: Array[Long]): Seq[Long] = b.toSeq
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
  }

  /** Build the sketch over `df(keyCol)` — a 1-row frame with column `sk`
    * (array of depth·width longs). One global aggregate, O(d·w) buffer.
    */
  def sketch(df: DataFrame, keyCol: String, depth: Int, width: Int): DataFrame = {
    val agg = udaf(new CmsAgg(depth, width), ExpressionEncoder[Seq[Long]]())
    // a NULL key hashes to a null bucket array (md5 of null is null) and
    // would crash the unboxing aggregator — and carries no frequency
    // information anyway; excluded, documented
    df.filter(col(keyCol).isNotNull)
      .select(buckets(col(keyCol), depth, width).as("__bks"))
      .agg(agg(col("__bks")).as("sk"))
  }

  /** Estimated frequency for every probe key: min over depth rows of the
    * key's bucket counter. Pure projection against the broadcast 1-row
    * sketch — the probe set never shuffles.
    */
  def estimate(probes: DataFrame, keyCol: String, sk: DataFrame,
      depth: Int, width: Int, outCol: String = "est_n"): DataFrame =
    probes.crossJoin(broadcast(sk))
      .withColumn(outCol, array_min(transform(
        sequence(lit(0), lit(depth - 1)),
        r => element_at(col("sk"),
          (r * width).cast("int") +
            pmod(conv(substring(md5(concat(r.cast("string"), lit(":"),
              col(keyCol).cast("string"))), 1, 15), 16, 10).cast("long"),
              lit(width.toLong)).cast("int") + 1))))
      .drop("sk")
}
