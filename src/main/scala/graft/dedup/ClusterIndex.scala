package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.IndexHealth

/** Persistent, incrementally-maintained transitive clustering — the
  * missing state layer between pair DETECTION (LshIndex admits/names new
  * near-dup pairs nightly) and the keep/drop DECISION
  * ([[Dedup.connectedComponents]] labels a pair graph from scratch). A
  * standing 100 TB corpus cannot re-cluster the whole pair graph per
  * ingest: a nightly delta touches a handful of clusters, and only those
  * may be relabeled — including the hard case, a delta pair MERGING two
  * existing clusters (their members all move to the joint minimum).
  *
  * On disk (every face append-only between [[compact]]s — the repo's
  * no-rewrite index doctrine):
  *
  *   dir/pairs/epoch=N/          the pair graph, canonical (pa < pb),
  *                               one directory per accepted batch
  *   dir/labels_base/            (member_id, cluster_id) from [[build]]
  *   dir/label_updates/epoch=N/  relabels from [[addPairs]] — readers
  *                               resolve latest-epoch-wins (the
  *                               merge-on-read doctrine), so an update
  *                               never rewrites the base or an earlier
  *                               epoch
  *
  * [[addPairs]] work is DELTA-bounded, not corpus-bounded: the affected
  * set = the current clusters of the batch's endpoints; only THEIR
  * stored pairs re-enter component computation (the two-tier
  * [[Dedup.connectedComponentsStats]] — driver union-find at real sizes).
  * Untouched clusters are never read past the label join. Correctness
  * contract (ClusterIndexSpec + the q_dedup_cluster_index oracle):
  * resolved labels after any batch sequence equal a from-scratch
  * [[Dedup.connectedComponents]] over the union of all pairs —
  * bit-for-bit, including cross-batch merges.
  *
  * Epoch replay safety: both per-epoch writes use mode("error") — a
  * re-submitted epoch id fails loudly instead of double-appending (the
  * ledger discipline of every graft index).
  */
object ClusterIndex {

  /** Initial clustering: canonicalize, label, persist. Epoch 0. */
  def build(pairs: DataFrame, aCol: String, bCol: String,
      dir: String): Unit = {
    val p = canonical(pairs, aCol, bCol).localCheckpoint(true)
    p.write.mode("error").parquet(s"$dir/pairs/epoch=0")
    Dedup.connectedComponents(p, "pa", "pb")
      .write.mode("error").parquet(s"$dir/labels_base")
    Dedup.releasePlan(p)
  }

  /** The delta-bounded relabel computation shared by [[addPairs]],
    * [[addPairsWithBest]], and [[repair]]'s per-epoch replay: canonical
    * new pairs, pre-batch labels, the touched clusters, the affected
    * subgraph's fresh labels, and the genuine label changes. Everything
    * checkpointed; callers release via [[releaseDelta]].
    */
  private case class Delta(np: DataFrame, labels: DataFrame,
      affected: DataFrame, relabeled: DataFrame, changed: DataFrame,
      n: Long)

  private def releaseDelta(d: Delta): Unit =
    Seq(d.np, d.labels, d.affected, d.relabeled, d.changed)
      .foreach(Dedup.releasePlan)

  private def computeDelta(spark: SparkSession, newPairs: DataFrame,
      aCol: String, bCol: String, storedPairs: DataFrame,
      labels0: DataFrame): Delta = {
    val np = canonical(newPairs, aCol, bCol).localCheckpoint(true)
    val labels = labels0.localCheckpoint(true)
    // current cluster of every batch endpoint; an unseen vertex is its
    // own (singleton) cluster
    val eps = np.select(col("pa").as("v"))
      .union(np.select(col("pb").as("v"))).distinct()
    val affected = eps.join(labels, col("v") === col("member_id"), "left_outer")
      .select(coalesce(col("cluster_id"), col("v")).as("albl"))
      .distinct()
      .localCheckpoint(true) // delta-bounded: one row per touched cluster
    // stored pairs inside affected clusters only (both endpoints of a
    // stored pair share a label by construction, so testing pa suffices);
    // a left_semi on the tiny affected frame — untouched clusters' pairs
    // never flow further
    val stored = storedPairs
      .join(labels, col("pa") === col("member_id"), "left_outer")
      .select(col("pa"), col("pb"),
        coalesce(col("cluster_id"), col("pa")).as("lbl"))
      .join(affected, col("lbl") === col("albl"), "left_semi")
      .select(col("pa"), col("pb"))
    val relabeled = Dedup.connectedComponents(stored.union(np), "pa", "pb")
      .localCheckpoint(true)
    // only genuine changes land in the update log (a no-op batch still
    // records pairs + seal, so its epoch id stays spent)
    val changed = relabeled.join(labels.select(
        col("member_id").as("m0"), col("cluster_id").as("c0")),
        col("member_id") === col("m0"), "left_outer")
      .filter(col("c0").isNull || col("c0") =!= col("cluster_id"))
      .select(col("member_id"), col("cluster_id"))
      .localCheckpoint(true)
    Delta(np, labels, affected, relabeled, changed, changed.count())
  }

  /** Fold a delta pair batch into the standing clustering. Returns the
    * number of members relabeled (0 = the batch only repeated known
    * pairs inside existing clusters — still recorded, labels unchanged).
    */
  def addPairs(spark: SparkSession, dir: String, newPairs: DataFrame,
      aCol: String, bCol: String, epoch: Long): Long = {
    require(epoch > 0, "epoch 0 is the build; batches start at 1")
    IndexHealth.requireNoStaging(spark, compactSwap(dir))
    // guard symmetry with repair() (r17 self-review): a plain-addPairs
    // epoch on a best-enabled index would seal labels WITHOUT
    // recomputing winners or tombstoning merged-away clusters —
    // silently breaking the resolveBest == keepBest contract with no
    // repair path (the epoch is sealed)
    require(!hasBest(spark, dir),
      "best-enabled index (best_base present) — use addPairsWithBest so " +
        "the maintained winners stay consistent with the labels")
    val bad = unsealedEpochs(spark, dir)
    require(bad.isEmpty,
      s"unsealed epochs $bad (crashed addPairs) — run ClusterIndex.repair first")
    val d = computeDelta(spark, newPairs, aCol, bCol,
      readPairs(spark, dir), resolve(spark, dir))
    // COMMIT ORDER (the DV reserve/write/seal doctrine, small form):
    //   1. pairs   — the epoch ledger AND the source of truth: every label
    //                is re-derivable from pairs, never the reverse, so the
    //                truth lands first (labels-first would let a crash
    //                strand labels for pairs the store never recorded —
    //                a later delta would then silently split the cluster)
    //   2. updates — derived state (skipped when empty: an all-empty-
    //                partition parquet write leaves a schema-less dir
    //                that breaks partition-discovery reads)
    //   3. seal    — single file; readers of the LEDGER trust sealed
    //                epochs only. addPairs refuses to build on an
    //                unsealed predecessor (a crash window 1->3) and
    //                points at [[repair]], which re-derives the labels
    //                from the recorded pairs and seals.
    // The pairs mode("error") write is also the replay refusal: a reused
    // epoch id dies here, before any state changes.
    d.np.write.mode("error").parquet(s"$dir/pairs/epoch=$epoch")
    if (d.n > 0)
      d.changed.write.mode("error").parquet(s"$dir/label_updates/epoch=$epoch")
    seal(spark, dir, epoch)
    releaseDelta(d)
    d.n
  }

  // ---- incremental survivorship (r16 verdict task 4): the keep/drop
  // DECISION maintained beside the clustering. [[Dedup.keepBest]]
  // recomputes every cluster's winner from the full resolved labels; at
  // a standing 100 TB corpus the nightly delta touches a handful of
  // clusters, and only THEIR winners may be recomputed. On disk, the
  // labels layout mirrored:
  //
  //   dir/best_base/            (cluster_id, keep_id) from buildWithBest
  //   dir/best_updates/epoch=N/ relabeled clusters' new winners; a
  //                             cluster that DIED in a merge gets a
  //                             keep_id NULL tombstone (labels are
  //                             component minima and pairs only accrete,
  //                             so a dead cluster id can never return —
  //                             the tombstone is permanent-safe)
  //
  // Readers resolve latest-epoch-wins per cluster and drop tombstones.
  // Contract (spec + q_dedup_keep_best_incremental oracle):
  // resolveBest == from-scratch keepBest over the same docs and the
  // union of all pairs, bit-for-bit, after any batch sequence.

  /** True iff this index maintains the best-member view. */
  def hasBest(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/best_base")
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** [[build]] plus the initial per-cluster winners under
    * (score desc, id asc). `docs` must cover every pair endpoint (the
    * corpus table the pairs were detected over); winners are stored by
    * id only — scores live in the corpus, never denormalized into the
    * index.
    */
  def buildWithBest(pairs: DataFrame, aCol: String, bCol: String,
      docs: DataFrame, idCol: String, score: org.apache.spark.sql.Column,
      dir: String): Unit = {
    val spark = pairs.sparkSession
    val p = canonical(pairs, aCol, bCol).localCheckpoint(true)
    p.write.mode("error").parquet(s"$dir/pairs/epoch=0")
    val labels0 = Dedup.connectedComponents(p, "pa", "pb")
      .localCheckpoint(true)
    labels0.write.mode("error").parquet(s"$dir/labels_base")
    winnersOf(labels0, docs, idCol, score)
      .write.mode("error").parquet(s"$dir/best_base")
    Seq(p, labels0).foreach(Dedup.releasePlan)
  }

  /** Per-cluster winner of the given (member, label) frame: ONE
    * aggregate, max over struct(score, -id, id) — the
    * [[Dedup.keepBest]] selection rule verbatim.
    */
  private def winnersOf(labels: DataFrame, docs: DataFrame, idCol: String,
      score: org.apache.spark.sql.Column): DataFrame =
    docs.select(col(idCol).cast("long").as("__id"), score.as("__score"))
      .join(labels, col("member_id") === col("__id"))
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("__score"), (-col("__id")).as("__negid"),
        col("__id"))).as("b"))
      .select(col("cluster_id"), col("b.__id").as("keep_id"))

  /** The epoch's best-updates write: fresh winners for every cluster of
    * the affected subgraph (delta-bounded — `relabeled` holds exactly
    * the members of touched clusters; the docs join is a semi-pruned
    * lookup, never a corpus scan) plus tombstones for the cluster ids
    * the batch merged away. Skipped whole when the batch changed no
    * membership (winners can only change when membership does — scores
    * are immutable here).
    */
  private def writeBestUpdates(spark: SparkSession, dir: String, d: Delta,
      docs: DataFrame, idCol: String, score: org.apache.spark.sql.Column,
      epoch: Long): Unit = {
    if (d.n == 0) return
    val winners = winnersOf(d.relabeled, docs, idCol, score)
    val dead = d.affected.join(
        d.relabeled.select(col("cluster_id")).distinct(),
        col("albl") === col("cluster_id"), "left_anti")
      .select(col("albl").as("cluster_id"),
        lit(null).cast("long").as("keep_id"))
    val upd = winners.unionByName(dead).localCheckpoint(true)
    if (upd.count() > 0)
      upd.write.mode("error").parquet(s"$dir/best_updates/epoch=$epoch")
    Dedup.releasePlan(upd)
  }

  /** [[addPairs]] on a [[buildWithBest]] index: same ledger, same commit
    * order, with the affected clusters' winners re-derived in the same
    * epoch (write order pairs -> label updates -> best updates -> seal;
    * both update faces are pure functions of pairs + docs, so
    * [[repairWithBest]] re-derives them for any crash window). Returns
    * members relabeled.
    */
  def addPairsWithBest(spark: SparkSession, dir: String,
      newPairs: DataFrame, aCol: String, bCol: String, docs: DataFrame,
      idCol: String, score: org.apache.spark.sql.Column,
      epoch: Long): Long = {
    require(epoch > 0, "epoch 0 is the build; batches start at 1")
    IndexHealth.requireNoStaging(spark, compactSwap(dir))
    require(hasBest(spark, dir),
      "not a best-enabled index — build with buildWithBest, or use addPairs")
    val bad = unsealedEpochs(spark, dir)
    require(bad.isEmpty,
      s"unsealed epochs $bad (crashed addPairs) — run repairWithBest first")
    val d = computeDelta(spark, newPairs, aCol, bCol,
      readPairs(spark, dir), resolve(spark, dir))
    d.np.write.mode("error").parquet(s"$dir/pairs/epoch=$epoch")
    if (d.n > 0)
      d.changed.write.mode("error").parquet(s"$dir/label_updates/epoch=$epoch")
    writeBestUpdates(spark, dir, d, docs, idCol, score, epoch)
    seal(spark, dir, epoch)
    releaseDelta(d)
    d.n
  }

  /** The maintained keep set: stored winners (base overlaid with
    * updates, latest epoch wins per cluster, tombstones dropped, sealed
    * epochs only — the [[resolve]] doctrine) plus every doc with no
    * cluster (unpaired docs keep themselves — no score needed, so the
    * winners side never touches the corpus). One `keep_id` row per
    * surviving doc; equals [[Dedup.keepBest]](docs, idCol, score,
    * [[resolve]](dir)) bit-for-bit.
    */
  def resolveBest(spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String): DataFrame = {
    val winners = resolvedWinners(spark, dir)
      .select(col("keep_id"))
    val unpaired = docs.select(col(idCol).cast("long").as("__id"))
      .join(resolve(spark, dir), col("__id") === col("member_id"),
        "left_anti")
      .select(col("__id").as("keep_id"))
    winners.unionByName(unpaired)
  }

  /** Stored winners, merge-on-read: base overlaid with sealed update
    * epochs, latest epoch wins per cluster (ep never ties: base is 0,
    * epoch e writes ep = e + 1, one row per cluster per epoch),
    * tombstones dropped. (cluster_id, keep_id) per live cluster.
    */
  private def resolvedWinners(spark: SparkSession, dir: String): DataFrame = {
    val base = spark.read.schema("cluster_id long, keep_id long")
      .parquet(s"$dir/best_base")
      .select(col("cluster_id"), col("keep_id"), lit(0L).as("ep"))
    val bad = unsealedEpochs(spark, dir)
    val upd = bestUpdatesOpt(spark, dir).map { u =>
      val visible =
        if (bad.isEmpty) u
        else u.filter(!col("epoch").isin(bad.map(java.lang.Long.valueOf): _*))
      visible.select(col("cluster_id"), col("keep_id"),
        (col("epoch").cast("long") + 1L).as("ep"))
    }
    upd.fold(base)(base.unionByName(_))
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("ep"), col("keep_id"))).as("b"))
      .select(col("cluster_id"), col("b.keep_id").as("keep_id"))
      .filter(col("keep_id").isNotNull)
  }

  private def bestUpdatesOpt(spark: SparkSession, dir: String): Option[DataFrame] =
    updatesFace(spark, dir, "best_updates", "cluster_id long, keep_id long")

  private def sealPath(dir: String, epoch: Long) =
    new org.apache.hadoop.fs.Path(s"$dir/seals/epoch_$epoch")

  private def seal(spark: SparkSession, dir: String, epoch: Long): Unit = {
    val p = sealPath(dir, epoch)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(p.getParent)
    fs.create(p, false).close()
  }

  /** True iff `epoch` committed fully (pairs + labels + seal). */
  def isSealed(spark: SparkSession, dir: String, epoch: Long): Boolean = {
    val p = sealPath(dir, epoch)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Epochs whose pairs landed but whose seal did not — the crash window
    * between addPairs' write 1 and write 3. Their labels may be missing
    * or partial; [[repair]] re-derives them from the recorded pairs.
    */
  def unsealedEpochs(spark: SparkSession, dir: String): Seq[Long] =
    epochsOf(spark, dir, "pairs")
      .filter(e => e > 0 && !isSealed(spark, dir, e))
      .sorted

  /** Epoch ids recorded under `dir/face/epoch=N` — the one listing
    * idiom shared by [[unsealedEpochs]] and [[maintain]].
    */
  private def epochsOf(spark: SparkSession, dir: String,
      face: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$face")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith("epoch=") => s.drop(6).toLong }
  }

  /** Recover from a crashed addPairs: for each unsealed epoch, drop any
    * partial update dir, re-derive that epoch's labels FROM ITS RECORDED
    * PAIRS (labels are always a function of pairs), and seal. Safe to
    * run any time; a no-op on a healthy index. On a best-enabled index
    * (built with [[buildWithBest]]) use [[repairWithBest]] — the best
    * view also derives from pairs but needs the docs' scores.
    */
  def repair(spark: SparkSession, dir: String): Seq[Long] = {
    require(!hasBest(spark, dir),
      "best-enabled index (best_base present) — run repairWithBest so " +
        "crashed epochs re-derive their best-member updates too")
    repairImpl(spark, dir, None)
  }

  /** [[repair]] for a [[buildWithBest]] index: re-derives both the label
    * updates and the best-member updates of every crashed epoch.
    */
  def repairWithBest(spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String, score: org.apache.spark.sql.Column): Seq[Long] = {
    require(hasBest(spark, dir),
      "not a best-enabled index — use repair (best updates here would be orphans)")
    repairImpl(spark, dir, Some((docs, idCol, score)))
  }

  private def repairImpl(spark: SparkSession, dir: String,
      best: Option[(DataFrame, String, org.apache.spark.sql.Column)]): Seq[Long] = {
    IndexHealth.requireNoStaging(spark, compactSwap(dir))
    val bad = unsealedEpochs(spark, dir)
    bad.foreach { e =>
      val conf = spark.sessionState.newHadoopConf()
      Seq("label_updates", "best_updates").foreach { face =>
        val p = new org.apache.hadoop.fs.Path(s"$dir/$face/epoch=$e")
        p.getFileSystem(conf).delete(p, true) // partial or absent either way
        ()
      }
      // replay epoch e's labeling against the state BELOW e: resolve()
      // over updates < e plus base (epochs are repaired in order, so
      // earlier repairs are already sealed when later ones replay)
      val np = spark.read.schema("pa long, pb long")
        .parquet(s"$dir/pairs/epoch=$e")
      val storedBelow = spark.read.schema("pa long, pb long")
        .parquet(s"$dir/pairs")
        .filter(col("epoch") < e)
        .select(col("pa"), col("pb"))
      val d = computeDelta(spark, np, "pa", "pb", storedBelow,
        resolveBelow(spark, dir, e))
      if (d.n > 0)
        d.changed.write.mode("error").parquet(s"$dir/label_updates/epoch=$e")
      best.foreach { case (docs, idCol, score) =>
        writeBestUpdates(spark, dir, d, docs, idCol, score, e)
      }
      seal(spark, dir, e)
      releaseDelta(d)
    }
    bad
  }

  /** [[resolve]] restricted to update epochs strictly below `e`. */
  private def resolveBelow(spark: SparkSession, dir: String, e: Long): DataFrame = {
    val base = spark.read.schema("member_id long, cluster_id long")
      .parquet(s"$dir/labels_base")
      .select(col("member_id"), col("cluster_id"), lit(0L).as("ep"))
    val upd = updatesOpt(spark, dir).map(_.filter(col("epoch") < e)
      .select(col("member_id"), col("cluster_id"),
        (col("epoch").cast("long") + 1L).as("ep")))
    upd.fold(base)(base.unionByName(_))
      .groupBy(col("member_id"))
      .agg(max(struct(col("ep"), col("cluster_id"))).as("b"))
      .select(col("member_id"), col("b.cluster_id").as("cluster_id"))
  }

  /** Current labels: base overlaid with updates, latest epoch wins per
    * member (merge-on-read; one small struct-max aggregate). Reads
    * SEALED state only — updates from a crashed (unsealed) epoch are
    * invisible until [[repair]] re-derives and seals them, so a reader
    * racing a crash never sees half a merge.
    */
  def resolve(spark: SparkSession, dir: String): DataFrame = {
    val base = spark.read.schema("member_id long, cluster_id long")
      .parquet(s"$dir/labels_base")
      .select(col("member_id"), col("cluster_id"), lit(0L).as("ep"))
    val bad = unsealedEpochs(spark, dir)
    val upd = updatesOpt(spark, dir).map { u =>
      val visible =
        if (bad.isEmpty) u
        else u.filter(!col("epoch").isin(bad.map(java.lang.Long.valueOf): _*))
      visible.select(col("member_id"), col("cluster_id"),
        (col("epoch").cast("long") + 1L).as("ep"))
    }
    upd.fold(base)(base.unionByName(_))
      .groupBy(col("member_id"))
      .agg(max(struct(col("ep"), col("cluster_id"))).as("b"))
      .select(col("member_id"), col("b.cluster_id").as("cluster_id"))
  }

  /** Fold updates into a fresh base, clear the update log. One rewrite,
    * same resolved labels (spec-pinned). CRASH-SAFE: the folded bases
    * go through the staged swap ([[compactSwap]]) — a crash leaves
    * either the old state intact (no marker: [[recoverCompact]] rolls
    * back) or a completable swap (recoverCompact finishes it); an
    * in-place overwrite of best_base/labels_base would be
    * delete-then-write, and a crash mid-write would destroy the only
    * copy of the winners (repair replays unsealed EPOCHS, never the
    * base).
    */
  def compact(spark: SparkSession, dir: String): Unit = {
    val bad = unsealedEpochs(spark, dir)
    require(bad.isEmpty,
      s"unsealed epochs $bad (crashed addPairs) — repair before compacting")
    // staged writes READ pre-compaction state and WRITE a different path,
    // so no read-then-overwrite localCheckpoint pin is needed
    IndexHealth.swapIn(spark, compactSwap(dir)) { st =>
      resolve(spark, dir).write.mode("error").parquet(s"$st/labels_base")
      if (hasBest(spark, dir))
        resolvedWinners(spark, dir).write.mode("error").parquet(s"$st/best_base")
    }
  }

  /** Crash recovery for [[compact]] — [[graft.io.IndexHealth.recover]] on
    * the compaction swap: without the commit marker an abandoned fold
    * rolls back, live state untouched; with it the swap completes
    * idempotently. Single-writer like compact itself: must not run
    * concurrently with writers or readers of this index. Returns
    * "none", "rolled_back", or "completed".
    */
  def recoverCompact(spark: SparkSession, dir: String): String =
    IndexHealth.recover(spark, compactSwap(dir))

  /** Compaction policy for [[maintain]]: `epochsBar` bounds the sealed
    * update-epoch count — [[resolve]]/[[resolveBest]] merge-on-read one
    * parquet dir per update epoch, so read amplification is linear in
    * epochs since the last fold.
    */
  case class MaintenancePolicy(epochsBar: Int = 8) {
    require(epochsBar >= 1, s"epochsBar must be >= 1, got $epochsBar")
  }

  /** The closed maintenance loop on the clustering index — the
    * [[graft.sim.IvfIndex.maintain]] policy doctrine, completing the
    * persistent-structure family (IVF, text, LSH, now clusters). Each
    * call: HEAL any crashed compact ([[recoverCompact]] — rollback or
    * idempotent completion, both safe), read the signals, decide, act,
    * append ONE auditable row to `dir/maintenance/`:
    *
    *   (seq, healed, unsealed_epochs, update_epochs, epochs_bar, action)
    *
    * `action` ∈ none | compact | needs_repair. Signals are exact
    * counters, so no hysteresis (the
    * [[graft.io.IndexHealth.maintainTombstoneIndex]] doctrine — acting
    * resets them to the floor). `needs_repair` is a
    * REPORT, not a move: re-deriving a crashed epoch's winners on a
    * best-enabled index needs the corpus' scores, which maintain must
    * not invent; run [[repair]]/[[repairWithBest]] and call again.
    * Single-writer like every other maintenance op.
    */
  def maintain(spark: SparkSession, dir: String,
      policy: MaintenancePolicy = MaintenancePolicy()): DataFrame = {
    import spark.implicits._
    val healed = recoverCompact(spark, dir)
    val badSeq = unsealedEpochs(spark, dir)
    val bad = badSeq.size
    // sealed update epochs only: an unsealed epoch is already reported
    // in its own column, and the read-amplification signal this column
    // audits counts what resolve() actually merges (review fix —
    // counting crashed epochs twice over-reported the signal)
    val updEpochs = epochsOf(spark, dir, "label_updates")
      .count(e => !badSeq.contains(e))
    val action =
      if (bad > 0) "needs_repair"
      else if (updEpochs >= policy.epochsBar) {
        compact(spark, dir); "compact"
      } else "none"
    val seq = IndexHealth.nextSeq(spark, s"$dir/maintenance")
    val row = Seq((seq, healed, bad, updEpochs, policy.epochsBar, action))
      .toDF("seq", "healed", "unsealed_epochs", "update_epochs",
        "epochs_bar", "action")
    row.write.mode("append").parquet(s"$dir/maintenance")
    row
  }

  /** The full maintenance ledger, seq-ordered. */
  def maintenanceLog(spark: SparkSession, dir: String): DataFrame =
    IndexHealth.ledger(spark, s"$dir/maintenance",
      "seq long, healed string, unsealed_epochs int, " +
        "update_epochs int, epochs_bar int, action string")

  /** The compaction swap: both folded bases staged, the update logs
    * cleared on commit. A crash after the renames leaves stale update
    * epochs, which is harmless: they re-assert exactly the rows the
    * folded base already carries (latest-epoch-wins re-applies identical
    * labels/winners; a dead cluster's null tombstone re-drops it). The
    * staging dir doubles as the writer guard
    * ([[graft.io.IndexHealth.requireNoStaging]]): addPairs, repair and
    * compact refuse it until [[recoverCompact]] adjudicates it.
    */
  private def compactSwap(dir: String) =
    IndexHealth.StagedSwap(dir, "_compact_staging",
      Seq("labels_base", "best_base"),
      clears = Seq("label_updates", "best_updates"))

  // explicit schemas: an empty batch writes a part-file-less dir, and
  // schema INFERENCE over it would throw — declared schemas make empty
  // epochs (and an empty build) first-class states
  private def readPairs(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema("pa long, pb long").parquet(s"$dir/pairs")
      .select(col("pa"), col("pb"))

  private def updatesOpt(spark: SparkSession, dir: String): Option[DataFrame] =
    updatesFace(spark, dir, "label_updates", "member_id long, cluster_id long")

  /** The optional merge-on-read updates face (one reader for both the
    * label and the best views — second-review dedup): explicit schema so
    * an absent-part-file epoch dir never trips inference.
    */
  private def updatesFace(spark: SparkSession, dir: String, face: String,
      schema: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$face")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) Some(spark.read.schema(schema).parquet(p.toString))
    else None
  }

  private def canonical(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    pairs.select(
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("pa"),
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("pb"))
      .filter(col("pa") =!= col("pb"))
      .distinct()
}
