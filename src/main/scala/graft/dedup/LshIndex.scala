package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent MinHash-LSH index — the near-duplicate sibling of
  * [[graft.sim.IvfIndex]]: [[Dedup.minhashPairsExact]] hashes and bands
  * the whole corpus inline, the right thing for a one-shot dedup sweep;
  * a standing corpus that admits nightly batches wants the corpus-side
  * work done ONCE and appended to thereafter. On disk:
  *
  *   dir/meta/       one row: (shingle_n, num_hashes, bands, seed) — the
  *                   FROZEN hash parameters every later append and probe
  *                   replays (an index mixing two hash families is
  *                   silently recall-less, so params live with the data)
  *   dir/postings/   (band_idx, band_hash, id) — the LSH candidate
  *                   surface, range-laid-out on (band_idx, band_hash) so
  *                   parquet min/max row-group pruning narrows a probe's
  *                   band keys to a slice of each file
  *   dir/docs/       (id, shingles) — the verification surface: exact
  *                   Jaccard needs the shingle sets, storing them beats
  *                   re-reading + re-tokenizing corpus text per probe
  *
  * A probe computes signatures for the BATCH ONLY and discovers
  * candidates by an equi join whose index side never shuffles: the
  * batch's band postings ride a gated broadcast ([[DeletionVectors]]'
  * 256 MB doctrine — an outsized batch degrades to a keyed shuffle, not
  * an OOM). Verification joins are candidate-bounded the same way. At
  * 100 TB the corpus postings/docs are scanned in place by executors;
  * nothing corpus-sized ever moves.
  */
object LshIndex {

  private val MaxBroadcastBytes = 256L * 1024 * 1024

  /** Hash, band, and write the standing corpus; freeze the parameters. */
  def build(docs: DataFrame, idCol: String, textCol: String, dir: String,
      shingleN: Int = 2, numHashes: Int = 64, bands: Int = 16,
      seed: Long = 42L): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = docs.sparkSession
    import spark.implicits._
    Seq((shingleN, numHashes, bands, seed))
      .toDF("shingle_n", "num_hashes", "bands", "seed")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    writeEntries(docs, idCol, textCol, dir,
      shingleN, numHashes, bands, seed, "overwrite")
  }

  /** Incremental maintenance — the nightly-ingest path: hash `batch`
    * with the index's FROZEN parameters and append its postings and
    * shingle sets. Existing index files are never rewritten (spec-pinned,
    * the no-rewrite doctrine shared with [[graft.sim.IvfIndex.append]]);
    * a probe after append sees old and new docs through the same scan.
    * Returns the number of docs appended (post empty-shingle filter).
    */
  def append(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: String): Long = {
    val m = loadMeta(spark, dir)
    val before = spark.read.parquet(s"$dir/docs").count()
    writeEntries(batch, idCol, textCol, dir,
      m.shingleN, m.numHashes, m.bands, m.seed, "append")
    spark.read.parquet(s"$dir/docs").count() - before
  }

  /** Near-duplicate pairs between `batch` and the indexed corpus:
    * batch-side signatures -> band keys -> candidate discovery against
    * the stored postings -> exact-Jaccard verification against the
    * stored shingle sets. Returns (index_id, probe_id, jaccard) at
    * `jaccard >= threshold`; self-pairs (a doc probed against its own
    * index entry) are excluded. All three hinted sides are batch- or
    * candidate-bounded and gated at 256 MB with shuffle fallback.
    */
  def probe(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      materialize: Boolean = true): DataFrame = {
    val m = loadMeta(spark, dir)
    val base = prepared(batch, idCol, textCol, m.shingleN)
    val sigs = base.withColumn("sig",
      Dedup.minhashSignature(col("shingles"),
        Dedup.minhashCoefficients(m.numHashes, m.seed)))
    val banded0 = sigs.select(col("id").as("probe_id"),
      posexplode(Dedup.bandHashUdf(m.bands, m.numHashes / m.bands)(col("sig")))
        .as(Seq("band_idx", "band_hash")))
    // sized once; feeds the pushdown decision + join (materialize = false
    // is the declarative lint twin: same logical content, no mid-plan
    // stage boundary, no driver collect)
    val banded = if (materialize) banded0.localCheckpoint() else banded0
    val all = spark.read.parquet(s"$dir/postings")
      .select(col("band_idx"), col("band_hash"), col("id").as("index_id"))
    // a broadcast JOIN alone never prunes row groups — the reader can't
    // see a join-side filter. For small probes the band-hash set collects
    // to the driver and lands as a pushed coarse IN filter (correctness
    // still comes from the (band_idx, band_hash) equi-join; the IN just
    // lets parquet min/max on the range-laid-out postings skip row
    // groups). Big probes skip the pushdown and rely on the join.
    val postings =
      if (materialize && banded.count() <= 10000) {
        val hashes = banded.select(col("band_hash")).distinct()
          .collect().map(r => java.lang.Long.valueOf(r.getLong(0)))
        all.filter(col("band_hash").isin(hashes: _*))
      } else all
    val candidates = postings
      .join(gated(banded), Seq("band_idx", "band_hash"))
      .filter(col("index_id") =!= col("probe_id"))
      .select(col("index_id"), col("probe_id"))
      .distinct()
    // tombstoned docs drop out at the verification join (their postings
    // may still surface candidates until compact — harmless, the inner
    // join below is the filter)
    val indexed = liveDocs(spark, dir)
      .select(col("id").as("index_id"), col("shingles").as("sh_i"))
    val probeSh = base.select(col("id").as("probe_id"),
      col("shingles").as("sh_p"))
    indexed.join(gated(candidates), Seq("index_id"))
      .join(gated(probeSh), Seq("probe_id"))
      .select(col("index_id"), col("probe_id"),
        round(Dedup.jaccardUdf(col("sh_i"), col("sh_p")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Remove docs from the index without touching a data file — ids land
    * in a `tombstones/` sidecar and [[probe]] subtracts them at the
    * verification join (the [[graft.text.TextIndex.delete]] doctrine);
    * [[compact]] folds them. Ids are never reused before a compact.
    */
  def delete(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String): Long = {
    val batch = ids.select(col(idCol).cast("long").as("id")).distinct()
      .localCheckpoint()
    batch.write.mode("append").parquet(s"$dir/tombstones")
    batch.count()
  }

  private def tombstones(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) Some(broadcast(spark.read.parquet(p.toString).distinct()))
    else None
  }

  private def liveDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/docs")
    tombstones(spark, dir).fold(docs)(t => docs.join(t, Seq("id"), "left_anti"))
  }

  /** Fold tombstones into the data: rewrite surviving postings (back
    * into the range layout — also re-packs append-accumulated small
    * files) and docs, clear the sidecar. Returns (surviving docs,
    * tombstones folded).
    */
  def compact(spark: SparkSession, dir: String): (Long, Long) = {
    val nT = tombstones(spark, dir).map(_.count()).getOrElse(0L)
    val docs = liveDocs(spark, dir).localCheckpoint()
    val postings = {
      val p = spark.read.parquet(s"$dir/postings")
      tombstones(spark, dir).fold(p)(t => p.join(t, Seq("id"), "left_anti"))
    }
      .repartitionByRange(col("band_idx"), col("band_hash"))
      .sortWithinPartitions(col("band_idx"), col("band_hash"))
      .localCheckpoint() // the sink overwrites dirs the plan reads
    postings.write.mode("overwrite").parquet(s"$dir/postings")
    docs.write.mode("overwrite").parquet(s"$dir/docs")
    val p = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    (docs.count(), nT)
  }

  /** Compaction policy for [[maintain]] — the
    * [[graft.text.TextIndex.MaintenancePolicy]] shape on the near-dup
    * index: `deadRatioBar` bounds the tombstoned fraction of the stored
    * spine (every probe's verification join subtracts the sidecar, and
    * dead postings keep surfacing candidates the verify step then
    * discards — wasted candidate work proportional to the dead
    * fraction); `filesBar` bounds postings data files (append fragments
    * the (band_idx, band_hash) range layout one generation per batch,
    * degrading row-group pruning on probes).
    */
  case class MaintenancePolicy(
      deadRatioBar: Double = 0.2,
      filesBar: Int = 96) {
    require(deadRatioBar > 0.0 && deadRatioBar <= 1.0,
      s"deadRatioBar must be in (0,1], got $deadRatioBar")
    require(filesBar >= 1, s"filesBar must be >= 1, got $filesBar")
  }

  /** The closed maintenance loop — [[graft.sim.IvfIndex.maintain]]'s
    * policy doctrine on the LSH index. The whole body (signals,
    * decision, ledger schema, the reasoned NO-hysteresis design) is
    * [[graft.io.IndexHealth.maintainTombstoneIndex]], shared with
    * [[graft.text.TextIndex.maintain]] — one definition, so the twins
    * cannot drift. The dead numerator is spine-conditioned: deletes of
    * unknown or empty-shingle ids cost nothing at probe time and must
    * not count (spec-pinned).
    */
  def maintain(spark: SparkSession, dir: String,
      policy: MaintenancePolicy = MaintenancePolicy()): DataFrame =
    graft.io.IndexHealth.maintainTombstoneIndex(spark, dir,
      policy.deadRatioBar, policy.filesBar, () => compact(spark, dir))

  /** The full maintenance ledger, seq-ordered. */
  def maintenanceLog(spark: SparkSession, dir: String): DataFrame =
    graft.io.IndexHealth.tombstoneMaintenanceLog(spark, dir)

  private[dedup] case class Meta(shingleN: Int, numHashes: Int, bands: Int, seed: Long)

  private[dedup] def loadMeta(spark: SparkSession, dir: String): Meta = {
    val r = spark.read.parquet(s"$dir/meta")
      .select("shingle_n", "num_hashes", "bands", "seed").head()
    Meta(r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3))
  }

  /** (id, shingles) with empty shingle sets dropped — the shared doc
    * preparation of build, append, and probe.
    */
  private def prepared(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int): DataFrame =
    graft.prep.Preprocessing.spread(docs)
      .select(col(idCol).as("id"),
        Dedup.wordShingles(col(textCol), shingleN).as("shingles"))
      .filter(size(col("shingles")) > 0)

  private def writeEntries(docs: DataFrame, idCol: String, textCol: String,
      dir: String, shingleN: Int, numHashes: Int, bands: Int, seed: Long,
      mode: String): Unit = {
    val base = prepared(docs, idCol, textCol, shingleN)
      .localCheckpoint() // shingle once; feed both writes from it
    val sigs = base.withColumn("sig",
      Dedup.minhashSignature(col("shingles"),
        Dedup.minhashCoefficients(numHashes, seed)))
    sigs.select(col("id"),
        posexplode(Dedup.bandHashUdf(bands, numHashes / bands)(col("sig")))
          .as(Seq("band_idx", "band_hash")))
      // range layout on the join key: a probe's band hashes then prune
      // row groups by parquet min/max instead of scanning every posting
      .repartitionByRange(col("band_idx"), col("band_hash"))
      .sortWithinPartitions(col("band_idx"), col("band_hash"))
      .write.mode(mode).parquet(s"$dir/postings")
    base.write.mode(mode).parquet(s"$dir/docs")
  }

  /** Gated broadcast: hint only when the optimizer's own size estimate
    * fits the cap (the [[graft.ops.DeletionVectors.applyDv]] doctrine —
    * the non-CBO estimate overestimates, so the bias only ever declines
    * a broadcast; an outgrown side degrades to a shuffle, never an OOM).
    */
  private def gated(df: DataFrame): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= MaxBroadcastBytes)
      broadcast(df)
    else df
}
