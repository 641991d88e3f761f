package graft.prep

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Reproducible pseudo-random draws: each is a pure function of a row's
  * content and a seed — never of its partition, its place in one, task
  * order or an RNG stream (`rand(seed)`, `sample`, `sampleBy`) — so the
  * same rows in any order or partitioning, and identical rows, get the
  * same verdicts.
  *
  * [[uniformDraw]]/[[weightedKeep]] hash a row ID with md5 for catalog
  * queries whose DuckDB oracle recomputes the draw: the 32-bit prefix over
  * 2^32 is exact in doubles, so comparisons against a weight computed from
  * exact integer statistics reproduce bit-for-bit
  * (CAST('0x'||substr(md5(id),1,8) AS BIGINT)). [[contentKey]] and
  * [[contentDraw]] hash the row's columns with xxhash64 for the paper's
  * pipeline, whose rows carry no id; [[seriesKey]] is the same key for
  * code that holds the row in memory. Each pipeline draw salts the seed
  * with its own constant so one seed gives independent draws: keyed alike,
  * `sample(0.5)` then an 80/20 split would send every sampled row to train.
  */
object DeterministicSampling {

  /** Uniform [0,1) draw from the md5 of the id's decimal string. */
  def uniformDraw(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10)
      .cast("long").cast("double") / 4294967296.0

  /** Bernoulli keep with per-row probability min(weight, 1). */
  def weightedKeep(id: Column, weight: Column): Column =
    uniformDraw(id) < least(weight, lit(1.0))

  /** Seed salts: ingest sample, train/test split, balanced-partition order. */
  val SampleSalt = 0x9E3779B97F4A7C15L
  val SplitSalt = 0xC2B2AE3D27D4EB4FL
  val BalanceSalt = 0x165667B19E3779F9L

  /** 64-bit key of `cols` under `seed`. Never null: a null column adds
    * nothing to the hash, so rows with nulls still get a key.
    */
  def contentKey(seed: Long, cols: Column*): Column =
    xxhash64(lit(seed) +: cols: _*)

  /** [[contentKey]]`(seed, label, series)` for an int label and an
    * array<double> series, computed without a plan: the same chain of
    * Spark's xxhash64 from its seed 42, so driver- and executor-side code
    * draw exactly what the column would.
    */
  def seriesKey(seed: Long, label: Int, series: Array[Double]): Long = {
    var h = XxHash64Function.hash(seed, LongType, 42L)
    h = XxHash64Function.hash(label, IntegerType, h)
    var i = 0
    while (i < series.length) {
      h = XxHash64Function.hash(series(i), DoubleType, h)
      i += 1
    }
    h
  }

  /** Uniform [0,1) draw: the key's low 53 bits over 2^53, exact in doubles. */
  def contentDraw(seed: Long, cols: Column*): Column =
    contentKey(seed, cols: _*).bitwiseAND(lit((1L << 53) - 1)).cast("double") /
      lit((1L << 53).toDouble)
}
