package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.IndexHealth
import graft.io.IndexHealth.MaintenancePolicy

/** Persistent inverted text index — the lexical member of the
  * persistent-index family ([[graft.sim.IvfIndex]] serves vectors,
  * [[graft.dedup.LshIndex]] serves near-duplicates, this serves BM25
  * retrieval). [[TextRanking.bm25Relation]] tokenizes the whole corpus
  * per query — right for one-shot scoring; an index that serves many
  * queries tokenizes ONCE at ingest. On disk:
  *
  *   dir/postings/   (term, id, tf) — range-laid-out on `term`, so a
  *                   query's handful of terms prunes row groups by
  *                   parquet min/max instead of scanning every posting
  *   dir/docs/       (id, dl) — the document-length spine: corpus stats
  *                   (N, avgdl) and zero-score docs come from here, so
  *                   scoring never touches text again
  *
  * A query reads the pruned postings slice plus the spine — both
  * scans in place on executors; the only shuffle is the per-doc score
  * aggregate over MATCHED postings (query-bounded selectivity). Append
  * is the nightly-ingest path: tokenize the batch only, append postings
  * and spine rows — no existing index file rewritten (spec-pinned), and
  * because df/N/avgdl are computed AT QUERY TIME from the stored frames
  * (not frozen at build), an appended corpus scores exactly like a
  * rebuilt one — bit-for-bit, not approximately (spec-pinned).
  *
  * Deletes go through the shared tombstone sidecar
  * ([[graft.io.IndexHealth.delete]]); every read subtracts it —
  * INCLUDING the corpus statistics, which recompute over the surviving
  * spine at query time, so a post-delete score is exactly the score of
  * an index never containing those docs (spec-pinned, bit-for-bit).
  */
object TextIndex {

  /** The postings lookup key: range layout and query pruning column. */
  private val PostingsKey = Seq("term")

  /** Tokenize and write the corpus. */
  def build(docs: DataFrame, idCol: String, textCol: String,
      dir: String): Unit =
    writeEntries(docs, idCol, textCol, dir, "overwrite")

  /** Incremental maintenance: tokenize `batch` only and append its
    * postings and spine rows. Refuses a crashed compaction (the
    * [[graft.io.IndexHealth.requireNoStaging]] writer guard). Returns
    * docs appended.
    */
  def append(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: String): Long = {
    IndexHealth.requireNoStaging(spark, IndexHealth.tombstoneSwap(dir))
    val before = spark.read.parquet(s"$dir/docs").count()
    writeEntries(batch, idCol, textCol, dir, "append")
    spark.read.parquet(s"$dir/docs").count() - before
  }

  /** Fold the tombstone sidecar into the data through the staged swap
    * ([[graft.io.IndexHealth.compactTombstones]] on the term key).
    * Returns (surviving docs, tombstones folded).
    */
  def compact(spark: SparkSession, dir: String): (Long, Long) =
    IndexHealth.compactTombstones(spark, dir, PostingsKey)

  /** BM25 scores for every indexed document against a query-term
    * relation — [[TextRanking.bm25Relation]] semantics (Lucene idf
    * variant, same 6-dp rounding), computed from the stored index
    * instead of the corpus text. Unmatched docs score 0 through the
    * spine, so the output is a total scoring of the corpus.
    */
  def scoreAll(spark: SparkSession, dir: String, terms: DataFrame,
      termCol: String = "term", k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val spine = IndexHealth.live(spark, dir, "docs")
    val stats = spine.agg(count(lit(1)).cast("double").as("__n"),
      avg(col("__dl")).as("__avgdl"))
    // the term list is query-bounded BY DEFINITION, so it collects to the
    // driver and lands as a pushed `term IN (...)` scan filter — that, on
    // the range-laid-out postings, is what makes the probe a row-group
    // LOOKUP (parquet min/max on the sorted term column) instead of a
    // posting scan with a join-side filter the reader can't see.
    // live postings keep tombstoned docs out of df as well as scoring.
    val termList = terms.select(col(termCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq
    require(termList.nonEmpty, "empty query term set")
    val matched = IndexHealth.live(spark, dir, "postings")
      .filter(col("term").isin(termList: _*))
    val dfreq = matched.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("__df"))
    val scored = matched
      .join(broadcast(dfreq), Seq("term"))
      .join(spine, Seq("id"))
      .crossJoin(broadcast(stats))
      .select(col("id"),
        (log(lit(1.0) +
          (col("__n") - col("__df") + 0.5) / (col("__df") + 0.5)) *
          col("tf").cast("double") * (k1 + 1.0) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0) - b + lit(b) * col("__dl") / col("__avgdl"))))
          .as("__s"))
      .groupBy(col("id")).agg(sum(col("__s")).as("__score"))
    spine.select(col("id"))
      .join(scored, Seq("id"), "left_outer")
      .select(col("id"),
        round(coalesce(col("__score"), lit(0.0)), 6).as("bm25"))
  }

  /** The closed maintenance loop on the lexical index: the shared
    * tombstone-index loop, [[graft.io.IndexHealth.maintainTombstoneIndex]]
    * (signals, decision, ledger — read it back with
    * [[graft.io.IndexHealth.tombstoneMaintenanceLog]]), running
    * [[compact]].
    */
  def maintain(spark: SparkSession, dir: String,
      policy: MaintenancePolicy = MaintenancePolicy()): DataFrame =
    IndexHealth.maintainTombstoneIndex(spark, dir, policy,
      () => compact(spark, dir))

  private def writeEntries(docs: DataFrame, idCol: String, textCol: String,
      dir: String, mode: String): Unit = {
    val base = graft.prep.Preprocessing.spread(docs)
      .select(col(idCol).as("id"),
        TextFunctions.safeLowerTokens(col(textCol)).as("__toks"))
      .withColumn("__dl", size(col("__toks")).cast("double"))
      .localCheckpoint() // tokenize once; feed both writes from it
    IndexHealth.writePostings(
      base.select(col("id"), explode(col("__toks")).as("term"))
        .groupBy(col("term"), col("id"))
        .agg(count(lit(1)).as("tf")),
      PostingsKey, s"$dir/postings", mode)
    base.select(col("id"), col("__dl"))
      .write.mode(mode).parquet(s"$dir/docs")
  }
}
