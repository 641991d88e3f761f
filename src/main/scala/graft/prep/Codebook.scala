package graft.prep

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Stable categorical codebook — the vocabulary/feature-id contract a
  * training pipeline needs across ingest days: once a category has an
  * id, that id NEVER changes (embedding rows, feature columns, and
  * token ids all key on it), and new categories extend the id space
  * monotonically. Assignment protocol, deterministic end to end:
  *
  *   - [[init]]: categories of the first batch ranked by (count desc,
  *     category asc) get ids 0..n-1 — frequent categories get small ids
  *     (the embedding-table-locality convention);
  *   - [[update]]: categories NOT yet in the book, ranked the same way
  *     by their counts WITHIN the new batch, get maxId+1.. — existing
  *     rows are untouched (append-only storage; stability spec-pinned).
  *
  * Scale shape: the global rank is sort + `zipWithIndex` over the
  * category-count frame — the two-pass distributed exact rank (each
  * partition learns its offset from the per-partition counts), never a
  * single-partition window funnel; an open vocabulary is data-scale and
  * a 100 TB corpus's token vocab does not fit one task. The update path
  * is new-categories-sized after an anti join against the stored book.
  */
object Codebook {

  private val schema = StructType(Seq(
    StructField("category", StringType), StructField("id", LongType)))

  /** (category, count) of `valueCol` in `batch`, nulls dropped. */
  private def counts(batch: DataFrame, valueCol: String): DataFrame =
    batch.select(col(valueCol).cast("string").as("category"))
      .filter(col("category").isNotNull)
      .groupBy(col("category")).agg(count(lit(1)).as("cnt"))

  /** Distributed exact dense rank by (cnt desc, category asc), offset by
    * `base`: sort, then zipWithIndex (partition offsets from counts —
    * two passes, no funnel).
    */
  private def ranked(cts: DataFrame, base: Long): DataFrame = {
    val spark = cts.sparkSession
    val rows = cts.orderBy(desc("cnt"), asc("category"))
      .select(col("category")).rdd
      .zipWithIndex()
      .map { case (r: Row, i: Long) => Row(r.getString(0), base + i) }
    spark.createDataFrame(rows, schema)
  }

  /** Build the book from the first batch and persist it. */
  def init(batch: DataFrame, valueCol: String, dir: String): Unit =
    ranked(counts(batch, valueCol), 0L)
      .write.mode("overwrite").parquet(dir)

  /** Extend the book with `batch`'s unseen categories — stored rows are
    * never rewritten (append-only; the no-rewrite doctrine). Returns the
    * number of new categories admitted.
    */
  def update(spark: SparkSession, dir: String, batch: DataFrame,
      valueCol: String): Long = {
    val stored = spark.read.parquet(dir)
    val maxId = stored.agg(max(col("id"))).head().getLong(0)
    val fresh = ranked(
      counts(batch, valueCol)
        .join(stored.select(col("category")), Seq("category"), "left_anti"),
      maxId + 1)
      .localCheckpoint() // count + write from one materialization
    fresh.write.mode("append").parquet(dir)
    fresh.count()
  }

  /** The served mapping. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** The hashing-trick companion: bucket = md5(category) mod numBuckets
    * — no book, no state, no OOV (every category lands somewhere,
    * collisions traded for the zero-maintenance id space; the standard
    * feature-hashing bargain). Pure projection, no shuffle, and
    * cross-engine replayable (the repo's md5 idiom: first 15 hex chars
    * = 60 bits, exact in a long).
    */
  def hashEncode(df: DataFrame, valueCol: String, outCol: String,
      numBuckets: Int): DataFrame = {
    require(numBuckets > 0, "numBuckets must be positive")
    df.withColumn(outCol,
      pmod(conv(substring(md5(col(valueCol).cast("string")), 1, 15), 16, 10)
        .cast("long"), lit(numBuckets.toLong)))
  }
}
