package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  */
object TextIndex {

  /** Tokenize and write the corpus. */
  def build(docs: DataFrame, idCol: String, textCol: String,
      dir: String): Unit =
    writeEntries(docs, idCol, textCol, dir, "overwrite")

  /** Incremental maintenance: tokenize `batch` only and append its
    * postings and spine rows. Returns docs appended.
    */
  def append(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: String): Long = {
    val before = spark.read.parquet(s"$dir/docs").count()
    writeEntries(batch, idCol, textCol, dir, "append")
    spark.read.parquet(s"$dir/docs").count() - before
  }

  /** Remove documents from retrieval WITHOUT touching a data file: ids
    * land in a `tombstones/` sidecar (the [[graft.ops.DeletionVectors]]
    * doctrine applied to index maintenance) and every read subtracts
    * them — INCLUDING the corpus statistics, which recompute over the
    * surviving spine at query time, so a post-delete score is exactly
    * the score of an index never containing those docs (spec-pinned,
    * bit-for-bit). Contract: ids are never reused — re-adding a
    * tombstoned id needs a [[compact]] first. Returns ids tombstoned.
    */
  def delete(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String): Long = {
    val batch = ids.select(col(idCol).cast("long").as("id")).distinct()
      .localCheckpoint() // count + write from one materialization
    batch.write.mode("append").parquet(s"$dir/tombstones")
    batch.count()
  }

  private def tombstones(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) Some(broadcast(spark.read.parquet(p.toString).distinct()))
    else None
  }

  /** The surviving (id, dl) spine: tombstones subtracted. */
  private def liveSpine(spark: SparkSession, dir: String): DataFrame = {
    val spine = spark.read.parquet(s"$dir/docs")
    tombstones(spark, dir).fold(spine)(t => spine.join(t, Seq("id"), "left_anti"))
  }

  /** Fold tombstones into the data — rewrite surviving postings and
    * spine once, clear the sidecar (the DV fold doctrine; also re-packs
    * append-accumulated small files into the range layout). Returns
    * (surviving docs, tombstones folded).
    */
  def compact(spark: SparkSession, dir: String): (Long, Long) = {
    val nT = tombstones(spark, dir).map(_.count()).getOrElse(0L)
    val spine = liveSpine(spark, dir).localCheckpoint()
    val postings = livePostings(spark, dir)
      .repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"), col("id"))
      .localCheckpoint() // the sink overwrites dirs the plan reads
    postings.write.mode("overwrite").parquet(s"$dir/postings")
    spine.write.mode("overwrite").parquet(s"$dir/docs")
    val p = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    (spine.count(), nT)
  }

  private def livePostings(spark: SparkSession, dir: String): DataFrame = {
    val postings = spark.read.parquet(s"$dir/postings")
    tombstones(spark, dir).fold(postings)(t =>
      postings.join(t, Seq("id"), "left_anti"))
  }

  /** BM25 scores for every indexed document against a query-term
    * relation — [[TextRanking.bm25Relation]] semantics (Lucene idf
    * variant, same 6-dp rounding), computed from the stored index
    * instead of the corpus text. Unmatched docs score 0 through the
    * spine, so the output is a total scoring of the corpus.
    */
  def scoreAll(spark: SparkSession, dir: String, terms: DataFrame,
      termCol: String = "term", k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val spine = liveSpine(spark, dir)
    val stats = spine.agg(count(lit(1)).cast("double").as("__n"),
      avg(col("__dl")).as("__avgdl"))
    // the term list is query-bounded BY DEFINITION, so it collects to the
    // driver and lands as a pushed `term IN (...)` scan filter — that, on
    // the range-laid-out postings, is what makes the probe a row-group
    // LOOKUP (parquet min/max on the sorted term column) instead of a
    // posting scan with a join-side filter the reader can't see.
    // livePostings keeps tombstoned docs out of df as well as scoring.
    val termList = terms.select(col(termCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq
    require(termList.nonEmpty, "empty query term set")
    val matched = livePostings(spark, dir)
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

  /** Compaction policy for [[maintain]]. `deadRatioBar` bounds the
    * tombstoned fraction of the stored spine (read amplification: every
    * score subtracts the sidecar twice — postings AND spine — and the
    * corpus statistics recompute over survivors); `filesBar` bounds the
    * postings data-file count (append fragments the range layout one
    * generation per batch, and term-probe row-group pruning degrades
    * with overlapping generations). Defaults: 20% dead, 3 generations
    * at 32 shuffle partitions.
    */
  case class MaintenancePolicy(
      deadRatioBar: Double = 0.2,
      filesBar: Int = 96) {
    require(deadRatioBar > 0.0 && deadRatioBar <= 1.0,
      s"deadRatioBar must be in (0,1], got $deadRatioBar")
    require(filesBar >= 1, s"filesBar must be >= 1, got $filesBar")
  }

  /** The closed maintenance loop — [[graft.sim.IvfIndex.maintain]]'s
    * policy-driven doctrine applied to the lexical index; the signals,
    * decision logic, ledger schema, and the reasoned NO-hysteresis
    * design (exact counters, not sampled probes — acting resets them
    * to the floor, so the loop cannot oscillate) live in ONE shared
    * definition, [[graft.io.IndexHealth.maintainTombstoneIndex]]
    * (review fix: TextIndex and LshIndex carried copy-paste twins that
    * a one-sided tweak would silently desynchronize). `action` ∈
    * none | compact; `survivors`/`folded` are [[compact]]'s returns,
    * null on a no-op. Single-writer like every maintenance op.
    */
  def maintain(spark: SparkSession, dir: String,
      policy: MaintenancePolicy = MaintenancePolicy()): DataFrame =
    graft.io.IndexHealth.maintainTombstoneIndex(spark, dir,
      policy.deadRatioBar, policy.filesBar, () => compact(spark, dir))

  /** The full maintenance ledger, seq-ordered — the audit trail of every
    * [[maintain]] decision.
    */
  def maintenanceLog(spark: SparkSession, dir: String): DataFrame =
    graft.io.IndexHealth.tombstoneMaintenanceLog(spark, dir)

  private def writeEntries(docs: DataFrame, idCol: String, textCol: String,
      dir: String, mode: String): Unit = {
    val base = graft.prep.Preprocessing.spread(docs)
      .select(col(idCol).as("id"),
        TextFunctions.safeLowerTokens(col(textCol)).as("__toks"))
      .withColumn("__dl", size(col("__toks")).cast("double"))
      .localCheckpoint() // tokenize once; feed both writes from it
    base.select(col("id"), explode(col("__toks")).as("term"))
      .groupBy(col("term"), col("id"))
      .agg(count(lit(1)).as("tf"))
      // range layout on the lookup key — the LshIndex postings doctrine
      .repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"), col("id"))
      .write.mode(mode).parquet(s"$dir/postings")
    base.select(col("id"), col("__dl"))
      .write.mode(mode).parquet(s"$dir/docs")
  }
}
