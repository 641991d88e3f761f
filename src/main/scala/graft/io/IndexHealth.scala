package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one on-disk protocol of the persistent indexes
  * ([[graft.sim.IvfIndex]], [[graft.dedup.ClusterIndex]],
  * [[graft.text.TextIndex]], [[graft.dedup.LshIndex]]). Each piece is
  * defined once, here, so a fix to one index's storage cannot leave
  * another behind:
  *
  *  1. the STAGED SWAP ([[StagedSwap]], [[swapIn]], [[recover]],
  *     [[requireNoStaging]]) — how a live face is rewritten without a
  *     window in which a crash destroys its only copy;
  *  2. the TOMBSTONE SIDECAR ([[delete]], [[live]], [[writePostings]],
  *     [[compactTombstones]], [[maintainTombstoneIndex]]) — how an
  *     id-keyed index forgets documents without touching a data file,
  *     and folds them out later through the staged swap;
  *  3. the LEDGER READ ([[ledger]]) — every maintenance ledger's
  *     schema'd, empty-if-absent read.
  *
  * All maintenance signal reads are metadata-scale at any corpus size —
  * counts and an FS listing — which is the point: a maintenance
  * DECISION must cost nothing next to the maintenance MOVE, or nobody
  * schedules it.
  */
object IndexHealth {

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** Number of data files (`part-*`) directly under `path`; 0 when the
    * directory is absent. An append-maintained parquet dir accumulates
    * one generation of part files per batch; the count against the
    * single-generation floor (≈ shuffle partitions) is the
    * read-amplification signal that says the range layout has
    * fragmented and a compact would re-pack it.
    */
  def dataFileCount(spark: SparkSession, path: String): Int = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) 0
    else fs.listStatus(p)
      .count(st => st.isFile && st.getPath.getName.startsWith("part-"))
  }

  // ---- 1. the staged swap

  private val Ready = "_ready"

  /** A crash-consistent rewrite of some live faces of the index at `dir`:
    * each of `faces` is written under `dir/staging/<face>`, a `_ready`
    * marker commits the set, and the swap replaces `dir/<face>` with
    * the staged copy, then deletes the live `clears` — faces the
    * committed state has folded in. A reader between a crash after the
    * renames and the recovery sees the new faces beside the old clears,
    * so an index may only name clears whose re-application is harmless
    * (tombstones re-subtract ids already gone; update epochs re-assert
    * the folded base).
    */
  case class StagedSwap(dir: String, staging: String, faces: Seq[String],
      clears: Seq[String] = Nil) {
    def path: String = s"$dir/$staging"
  }

  /** Hadoop FileSystem signals failure by RETURNING FALSE, not throwing:
    * an unchecked failed rename followed by the staging delete would
    * destroy the only copy of a face while reporting success. Every
    * step of [[recover]] goes through here; on failure the staging dir
    * (and its marker) stays, so the swap stays re-runnable.
    */
  private def must(ok: Boolean, swap: StagedSwap, what: String): Unit =
    if (!ok) throw new java.io.IOException(
      s"staged swap at ${swap.path}: $what failed — recover again")

  /** Heal a crashed swap. Staging WITHOUT the marker is a pre-commit
    * crash, rolled back whole (the live faces were never touched);
    * staging WITH it is a mid-swap crash, and the swap COMPLETES
    * idempotently (each face renames only if still staged). Returns
    * "none" | "rolled_back" | "completed". The swap itself runs through
    * here too ([[swapIn]]), so a restart takes the same path as the
    * writer did.
    */
  def recover(spark: SparkSession, swap: StagedSwap): String = {
    val st = new Path(swap.path)
    val fs = fsOf(spark, st)
    if (!fs.exists(st)) "none"
    else if (!fs.exists(new Path(st, Ready))) {
      must(fs.delete(st, true), swap, "roll back")
      "rolled_back"
    } else {
      swap.faces.foreach { face =>
        val staged = new Path(st, face)
        if (fs.exists(staged)) {
          val live = new Path(s"${swap.dir}/$face")
          if (fs.exists(live)) must(fs.delete(live, true), swap, s"delete live $face")
          must(fs.rename(staged, live), swap, s"rename staged $face")
        }
      }
      swap.clears.foreach { face =>
        val p = new Path(s"${swap.dir}/$face")
        if (fs.exists(p)) must(fs.delete(p, true), swap, s"clear $face")
      }
      must(fs.delete(st, true), swap, "clear staging")
      "completed"
    }
  }

  /** The writer guard: a staging dir is a crashed swap, and a write
    * landing before [[recover]] adjudicates it would be folded away (a
    * committed swap replaces or clears the face it wrote to).
    */
  def requireNoStaging(spark: SparkSession, swap: StagedSwap): Unit = {
    val st = new Path(swap.path)
    require(!fsOf(spark, st).exists(st),
      s"staging present at ${swap.path} (crashed swap) — recover the " +
        "index first (its maintain heals it)")
  }

  /** Run a swap: `write` puts every face under the staging dir it is
    * given, the `_ready` marker commits, and [[recover]] performs the
    * swap. Refuses a pre-existing staging dir ([[requireNoStaging]]).
    */
  def swapIn(spark: SparkSession, swap: StagedSwap)(write: String => Unit): Unit = {
    requireNoStaging(spark, swap)
    write(swap.path)
    val st = new Path(swap.path)
    fsOf(spark, st).create(new Path(st, Ready), false).close()
    val done = recover(spark, swap)
    assert(done == "completed", s"staged swap state: $done")
  }

  // ---- 2. the tombstone sidecar
  //
  // An id-keyed index with its spine at `dir/docs` and its postings at
  // `dir/postings` forgets documents WITHOUT touching a data file: ids
  // land in `dir/tombstones` (the [[graft.ops.DeletionVectors]] doctrine
  // applied to index maintenance) and every read subtracts them.
  // Contract: ids are never reused before a compact.

  private val MaxBroadcastBytes = 256L * 1024 * 1024

  /** Gated broadcast: hint only when the optimizer's own size estimate
    * fits the cap (the [[graft.ops.DeletionVectors.applyDv]] doctrine —
    * the non-CBO estimate overestimates, so the bias only ever declines
    * a broadcast; an outgrown side degrades to a shuffle, never an OOM).
    */
  def gated(df: DataFrame): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= MaxBroadcastBytes)
      broadcast(df)
    else df

  private val Sidecar = "tombstones"
  private def tombstonePath(dir: String) = s"$dir/$Sidecar"

  /** The compaction swap of a tombstone-sidecar index: both faces
    * staged, the sidecar cleared on commit.
    */
  def tombstoneSwap(dir: String): StagedSwap =
    StagedSwap(dir, "_compact_staging", Seq("postings", "docs"),
      clears = Seq(Sidecar))

  /** Tombstone `ids` (cast to long). Refuses a crashed compaction —
    * a tombstone landing before the swap's clear would vanish unfolded.
    * Returns ids tombstoned.
    */
  def delete(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String): Long = {
    requireNoStaging(spark, tombstoneSwap(dir))
    val batch = ids.select(col(idCol).cast("long").as("id")).distinct()
      .localCheckpoint() // count + write from one materialization
    batch.write.mode("append").parquet(tombstonePath(dir))
    batch.count()
  }

  /** The distinct tombstoned ids, None when nothing was ever deleted
    * (explicit schema: a crashed first delete leaves a part-file-less
    * dir that must read as empty, not fail inference).
    */
  private def tombstones(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new Path(tombstonePath(dir))
    if (!fsOf(spark, p).exists(p)) None
    else Some(spark.read.schema("id long").parquet(p.toString).distinct())
  }

  /** `dir/face` with tombstoned ids anti-joined away; the sidecar side
    * rides a [[gated]] broadcast, so a mass delete awaiting its compact
    * degrades to a shuffle instead of an outsized broadcast.
    */
  def live(spark: SparkSession, dir: String, face: String): DataFrame = {
    val rows = spark.read.parquet(s"$dir/$face")
    tombstones(spark, dir).fold(rows)(t =>
      rows.join(gated(t), Seq("id"), "left_anti"))
  }

  /** The range-layout postings write of build, append and compact:
    * range-partitioned on the lookup `key` and sorted by key then id,
    * so a probe's key set prunes row groups by parquet min/max instead
    * of scanning every posting.
    */
  def writePostings(postings: DataFrame, key: Seq[String], path: String,
      mode: String): Unit =
    postings.repartitionByRange(key.map(col): _*)
      .sortWithinPartitions((key :+ "id").map(col): _*)
      .write.mode(mode).parquet(path)

  /** Fold the sidecar into the data: live postings (back into the range
    * layout on `key` — also re-packing append-accumulated small files)
    * and live docs are STAGED, and the swap replaces both faces and
    * clears the sidecar. A crash before the marker leaves the index as
    * it was; after it, [[recover]] completes the fold — no window
    * destroys the only copy of a face. Heals a prior crashed compact
    * first. Returns (surviving docs, tombstones folded).
    */
  def compactTombstones(spark: SparkSession, dir: String,
      key: Seq[String]): (Long, Long) = {
    val swap = tombstoneSwap(dir)
    recover(spark, swap)
    val folded = tombstones(spark, dir).map(_.count()).getOrElse(0L)
    swapIn(spark, swap) { st =>
      writePostings(live(spark, dir, "postings"), key, s"$st/postings",
        "error")
      live(spark, dir, "docs").write.mode("error").parquet(s"$st/docs")
    }
    (spark.read.parquet(s"$dir/docs").count(), folded)
  }

  /** Compaction policy of a tombstone-sidecar index. `deadRatioBar`
    * bounds the tombstoned fraction of the stored spine (read
    * amplification: every read subtracts the sidecar, and dead postings
    * keep costing lookup work until folded); `filesBar` bounds the
    * postings data-file count (append fragments the range layout one
    * generation per batch, and row-group pruning degrades with
    * overlapping generations). Defaults: 20% dead, 3 generations at 32
    * shuffle partitions.
    */
  case class MaintenancePolicy(
      deadRatioBar: Double = 0.2,
      filesBar: Int = 96) {
    require(deadRatioBar > 0.0 && deadRatioBar <= 1.0,
      s"deadRatioBar must be in (0,1], got $deadRatioBar")
    require(filesBar >= 1, s"filesBar must be >= 1, got $filesBar")
  }

  /** The closed maintenance loop of a tombstone-sidecar index
    * ([[graft.sim.IvfIndex.maintain]]'s policy doctrine): heal a crashed
    * compact, read the signals (dead = tombstoned ids actually IN the
    * spine — a delete of an unknown id costs nothing at read time and
    * must not count; files = postings data-file count), decide against
    * the bars, run `compact` (the index's [[compactTombstones]] on its
    * postings key) when unhealthy, and append ONE auditable row
    *
    *   (seq, dead_ratio, postings_files, dead_ratio_bar, files_bar,
    *    unhealthy, action, survivors, folded, post_files)
    *
    * to `dir/maintenance/`. `action` ∈ none | compact; `survivors` /
    * `folded` are the compact's returns, null on a no-op. No hysteresis
    * BY DESIGN: both signals are exact counters, not sampled probes (the
    * IvfIndex contrast) — one observation is the population truth, and
    * acting resets both signals to their floor, so the loop cannot
    * oscillate. Single-writer like every maintenance op.
    */
  def maintainTombstoneIndex(spark: SparkSession, dir: String,
      policy: MaintenancePolicy, compact: () => (Long, Long)): DataFrame = {
    import spark.implicits._
    recover(spark, tombstoneSwap(dir))
    val spine = spark.read.parquet(s"$dir/docs")
    val nDocs = spine.count()
    val nDead = tombstones(spark, dir)
      .fold(0L)(t => spine.join(t, Seq("id"), "left_semi").count())
    val deadRatio = if (nDocs == 0L) 0.0 else nDead.toDouble / nDocs.toDouble
    val files = dataFileCount(spark, s"$dir/postings")
    val unhealthy = deadRatio >= policy.deadRatioBar || files > policy.filesBar
    val acted: Option[(Long, Long)] =
      if (unhealthy) Some(compact()) else None
    val postFiles =
      if (unhealthy) dataFileCount(spark, s"$dir/postings") else files
    val seq = nextSeq(spark, s"$dir/maintenance")
    val row = Seq((seq, round6HalfUp(deadRatio), files, policy.deadRatioBar,
        policy.filesBar, unhealthy,
        if (unhealthy) "compact" else "none",
        acted.map(_._1), acted.map(_._2), postFiles))
      .toDF("seq", "dead_ratio", "postings_files", "dead_ratio_bar",
        "files_bar", "unhealthy", "action", "survivors", "folded",
        "post_files")
    row.write.mode("append").parquet(s"$dir/maintenance")
    row
  }

  /** The seq-ordered ledger of [[maintainTombstoneIndex]] decisions. */
  def tombstoneMaintenanceLog(spark: SparkSession, dir: String): DataFrame =
    ledger(spark, s"$dir/maintenance",
      "seq long, dead_ratio double, postings_files int, " +
        "dead_ratio_bar double, files_bar int, unhealthy boolean, " +
        "action string, survivors long, folded long, post_files int")

  // ---- 3. the ledger read

  /** A maintenance ledger, seq-ordered, read with an explicit `schema`:
    * an absent ledger reads as an empty frame of that schema, and a
    * crashed FIRST append (dir exists, no committed part file) reads as
    * empty instead of throwing schema-inference failures forever — the
    * self-healing loop must not be wedged by its own ledger.
    */
  def ledger(spark: SparkSession, path: String, schema: String): DataFrame = {
    val p = new Path(path)
    if (!fsOf(spark, p).exists(p)) spark.read.schema(schema).parquet()
    else spark.read.schema(schema).parquet(path).orderBy("seq")
  }

  /** Next ledger sequence number: max(seq) + 1, 0 when absent — one
    * bounded aggregate however long the index lives.
    */
  def nextSeq(spark: SparkSession, ledgerPath: String): Long = {
    val r = ledger(spark, ledgerPath, "seq long").agg(max(col("seq"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0) + 1L
  }

  /** round(x, 6) with HALF_UP — the rounding DuckDB's round() applies,
    * NOT math.rint's half-to-even: the maintenance ledgers' dead_ratio
    * is value-oracled, so the engine-side rounding must match the
    * replay's.
    */
  def round6HalfUp(d: Double): Double =
    BigDecimal(d).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
      .toDouble
}
