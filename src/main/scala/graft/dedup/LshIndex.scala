package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.IndexHealth
import graft.io.IndexHealth.{MaintenancePolicy, gated}

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
  *
  * Deletes go through the shared tombstone sidecar
  * ([[graft.io.IndexHealth.delete]]): [[probe]] subtracts it at the
  * verification join, [[compact]] folds it.
  */
object LshIndex {

  /** The postings lookup key: range layout and probe pruning columns. */
  private val PostingsKey = Seq("band_idx", "band_hash")

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
    * Refuses a crashed compaction (the
    * [[graft.io.IndexHealth.requireNoStaging]] writer guard). Returns the
    * number of docs appended (post empty-shingle filter).
    */
  def append(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: String): Long = {
    IndexHealth.requireNoStaging(spark, IndexHealth.tombstoneSwap(dir))
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
    val indexed = IndexHealth.live(spark, dir, "docs")
      .select(col("id").as("index_id"), col("shingles").as("sh_i"))
    val probeSh = base.select(col("id").as("probe_id"),
      col("shingles").as("sh_p"))
    indexed.join(gated(candidates), Seq("index_id"))
      .join(gated(probeSh), Seq("probe_id"))
      .select(col("index_id"), col("probe_id"),
        round(Dedup.jaccardUdf(col("sh_i"), col("sh_p")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Fold the tombstone sidecar into the data through the staged swap
    * ([[graft.io.IndexHealth.compactTombstones]] on the band key — also
    * re-packs append-accumulated small files). Returns (surviving docs,
    * tombstones folded).
    */
  def compact(spark: SparkSession, dir: String): (Long, Long) =
    IndexHealth.compactTombstones(spark, dir, PostingsKey)

  /** The closed maintenance loop on the LSH index: the shared
    * tombstone-index loop, [[graft.io.IndexHealth.maintainTombstoneIndex]]
    * (signals, decision, ledger — read it back with
    * [[graft.io.IndexHealth.tombstoneMaintenanceLog]]), running
    * [[compact]]. The dead numerator is spine-conditioned: deletes of
    * unknown or empty-shingle ids cost nothing at probe time and must
    * not count (spec-pinned).
    */
  def maintain(spark: SparkSession, dir: String,
      policy: MaintenancePolicy = MaintenancePolicy()): DataFrame =
    IndexHealth.maintainTombstoneIndex(spark, dir, policy,
      () => compact(spark, dir))

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
    IndexHealth.writePostings(
      sigs.select(col("id"),
        posexplode(Dedup.bandHashUdf(bands, numHashes / bands)(col("sig")))
          .as(Seq("band_idx", "band_hash"))),
      PostingsKey, s"$dir/postings", mode)
    base.write.mode(mode).parquet(s"$dir/docs")
  }
}
