package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.IndexHealth
import Vectors.{cosineFromNorms, norm, toDoubleArray}

/** Persistent IVF index — the build-once / query-many serving shape
  * ([[Knn.ivfTopK]] trains and assigns inline, the right thing for a
  * one-shot batch; an index that serves many query batches amortizes
  * both). On disk the index is:
  *
  *   dir/centroids/   one row per cell: (cell, centroid array<double>)
  *   dir/vectors/     the corpus, nearest-cell assigned, written
  *                    `partitionBy("cell")` — hive layout
  *
  * The cell partitioning is the point: a probe reads `nprobe` cell
  * DIRECTORIES and Spark's partition pruning skips every other file, so
  * search I/O is nprobe/nlist of the corpus — on 100 TB of vectors the
  * difference between a scan and a lookup. Same trained-centroid search
  * geometry as ivfTopK (spherical k-means, unit-sphere L2 = cosine
  * order), so results are identical for the same (nlist, sampleSize,
  * seed).
  */
object IvfIndex {

  /** Train centroids, assign, write. Returns the trained centroids. */
  def build(candidates: DataFrame, idCol: String, vecCol: String,
      dir: String, nlist: Int = 16, sampleSize: Int = 2000,
      seed: Long = 42L): Seq[Array[Double]] = {
    val centroids =
      Knn.trainSphericalKmeans(candidates, vecCol, nlist, sampleSize,
        iters = 10, seed = seed)
    require(centroids.nonEmpty,
      "IvfIndex.build: no finite-norm vectors to train on")
    buildWithCentroids(candidates, idCol, vecCol, dir, centroids.toSeq)
    centroids
  }

  /** [[build]] with an EXPLICIT quantizer: write the given centroids and
    * assign every candidate against them. Shared by build (freshly
    * trained) and [[retrainAndCompact]] (retrained on the stored
    * vectors) — and the spec's equality contract: an index after
    * retrain IS buildWithCentroids over its surviving vectors and the
    * retrained centroids, byte-equal searches.
    */
  def buildWithCentroids(candidates: DataFrame, idCol: String,
      vecCol: String, dir: String, centroids: Seq[Array[Double]]): Unit = {
    val spark = candidates.sparkSession
    require(centroids.nonEmpty, "IvfIndex: empty centroid set")
    writeCentroids(spark, s"$dir/centroids", centroids)
    writeAssigned(candidates, idCol, vecCol, dir, centroids, "overwrite")
  }

  private def writeCentroids(spark: SparkSession, path: String,
      centroids: Seq[Array[Double]]): Unit = {
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** The quantizer swap of [[retrainAndCompact]]: centroids and vectors
    * staged together, so no crash window serves vectors assigned under
    * one quantizer and searched under another.
    */
  private def retrainSwap(dir: String) =
    IndexHealth.StagedSwap(dir, "_retrain_staging",
      Seq("centroids", "vectors"))

  /** Heal a crashed [[retrainAndCompact]] — [[graft.io.IndexHealth.recover]]
    * on the quantizer swap: a pre-commit crash rolls back whole, a
    * mid-swap crash completes. Returns "none" | "rolled_back" |
    * "completed"; called automatically by retrainAndCompact and
    * [[maintain]], exposed for an operator healing an index before
    * serving reads.
    */
  def recoverRetrain(spark: SparkSession, dir: String): String =
    IndexHealth.recover(spark, retrainSwap(dir))

  /** The missing last step of the index lifecycle (r16 verdict task 6):
    * act on the retrain signal [[occupancySkew]] surfaces. The frozen
    * quantizer is right at ingest cadence, but a drifted or skewed
    * ingest eventually concentrates vectors in few cells (probe cost)
    * or strands a query's true neighbors across cells trained on a
    * stale distribution (recall). When occupancy skew — max live cell
    * count over the mean across ALL trained cells — reaches `skewBar`
    * (or `force`, the operator's move after [[recallProbe]] reads a
    * recall drop, the signal occupancy alone cannot see),
    * retrain centroids on a `sampleSize`-bounded sample of the STORED
    * vectors and rebuild the hive layout in one pass; `nlist` 0 keeps
    * the current cell count. Returns the new centroids, or None when the
    * bar did not trip (the index is untouched — a no-op costs one
    * per-cell count aggregate).
    */
  def retrainAndCompact(spark: SparkSession, dir: String,
      skewBar: Double = 4.0, force: Boolean = false, nlist: Int = 0,
      sampleSize: Int = 2000,
      seed: Long = 42L): Option[Seq[Array[Double]]] = {
    recoverRetrain(spark, dir) // heal any prior crashed swap first
    val skew = occupancySkew(spark, dir)
    if (!force && skew < skewBar) return None
    val k = if (nlist > 0) nlist else loadCentroids(spark, dir).size
    // one checkpoint: the staged rebuild replaces the very directories
    // the live frame reads
    val live = liveVectors(spark, dir).select(col("vec_id"), col("vec"))
      .localCheckpoint(true)
    val centroids =
      Knn.trainSphericalKmeans(live, "vec", k, sampleSize, iters = 10,
        seed = seed)
    require(centroids.nonEmpty,
      "IvfIndex.retrainAndCompact: no finite-norm stored vectors")
    IndexHealth.swapIn(spark, retrainSwap(dir)) { st =>
      writeCentroids(spark, s"$st/centroids", centroids.toSeq)
      assignCells(live, "vec_id", "vec", centroids.toSeq)
        .write.mode("overwrite").partitionBy("cell").parquet(s"$st/vectors")
    }
    live.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false))
    Some(centroids.toSeq)
  }

  /** Occupancy skew of the stored live vectors: max cell count over the
    * mean across ALL trained cells (empty trained cells count toward
    * the mean — concentration IS the signal). 0.0 on an empty index.
    * One per-cell count aggregate; shared by [[retrainAndCompact]]'s
    * bar and [[maintain]]'s signal read.
    */
  def occupancySkew(spark: SparkSession, dir: String): Double = {
    val k0 = loadCentroids(spark, dir).size
    val occ = liveVectors(spark, dir).groupBy(col("cell"))
      .agg(count(lit(1)).as("n")).collect().map(_.getLong(1))
    val total = occ.sum
    if (total == 0L || occ.isEmpty) 0.0
    else occ.max.toDouble * k0 / total
  }

  /** Incremental maintenance — the daily-embedding-ingest path: assign
    * `newVectors` against the index's FROZEN centroids (the production
    * discipline: the coarse quantizer retrains at rebuild cadence, not
    * ingest cadence — recall decays only as the ingest distribution
    * drifts from the trained one, which is what [[recallProbe]] watches)
    * and APPEND them into the existing hive cell layout. Existing vector
    * files are never rewritten (spec-pinned — the
    * [[graft.ops.DeletionVectors]] no-rewrite doctrine applied to index
    * maintenance); a probe after append sees old and new vectors through
    * the same partition-pruned scan. Returns the number of vectors
    * appended.
    */
  def append(spark: SparkSession, dir: String, newVectors: DataFrame,
      idCol: String, vecCol: String): Long = {
    val centroids = loadCentroids(spark, dir)
    val before = spark.read.parquet(s"$dir/vectors").count()
    writeAssigned(newVectors, idCol, vecCol, dir, centroids, "append")
    spark.read.parquet(s"$dir/vectors").count() - before
  }

  private def liveVectors(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/vectors")

  /** The frozen-quantizer assignment projection: (vec_id, vec, vn, cell),
    * non-finite norms dropped — shared by build and append so both
    * assign identically.
    */
  private def assignCells(vectors: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Array[Double]]): DataFrame = {
    val spark = vectors.sparkSession
    val bc = spark.sparkContext.broadcast(centroids.map(_.clone()))
    val cellOf = udf((v: Seq[Double]) => nearestCell(bc.value, v))
    vectors
      .select(col(idCol).as("vec_id"), toDoubleArray(col(vecCol)).as("vec"))
      .withColumn("vn", norm(col("vec")))
      .filter(Vectors.finiteNorm(col("vn")))
      .withColumn("cell", cellOf(col("vec")))
  }

  private def writeAssigned(vectors: DataFrame, idCol: String,
      vecCol: String, dir: String, centroids: Seq[Array[Double]],
      mode: String): Unit =
    assignCells(vectors, idCol, vecCol, centroids)
      .write.mode(mode).partitionBy("cell").parquet(s"$dir/vectors")

  def loadCentroids(spark: SparkSession, dir: String): Seq[Array[Double]] =
    spark.read.parquet(s"$dir/centroids")
      .orderBy("cell").collect()
      .map(r => r.getSeq[Double](1).toArray).toSeq

  /** Top-k cosine search against the stored index. The `cell isin probed`
    * filter is a PARTITION filter on the hive layout — unprobed cell
    * directories are never opened.
    */
  def search(spark: SparkSession, dir: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 2): DataFrame = {
    val centroids = loadCentroids(spark, dir)
    val bc = spark.sparkContext.broadcast(centroids.map(_.clone()))
    val probeCells = udf((v: Seq[Double]) => nearestCells(bc.value, v, nprobe))
    val q = queries
      .select(col(idCol).as("query_id"), toDoubleArray(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
      .filter(Vectors.finiteNorm(col("qn")))
      .withColumn("cell", explode(probeCells(col("qv"))))
    val probed = q.select(col("cell")).distinct().collect().map(_.getInt(0))
    val c = liveVectors(spark, dir)
      .filter(col("cell").isin(probed.map(Integer.valueOf): _*))
      .select(col("vec_id").as("neighbor_id"), col("vec").as("cv"),
        col("vn").as("cn"), col("cell"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineFromNorms(col("qv"), col("cv"), col("qn"), col("cn")).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("sim"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("sim"), 6).as("cosine_sim"))
  }

  /** The recall-side health signal completing the maintenance loop:
    * [[occupancySkew]] sees the capacity signal, this
    * measures what skew actually COSTS — search quality. Samples
    * `sampleN` stored live vectors as self-queries by an md5-ordered
    * deterministic draw (the [[graft.quality.Mixing.drawU]] doctrine,
    * r19 verdict task 1 — order by md5(seed:vec_id); unlike the old
    * rand(seed)+sort, this is partition-invariant AND engine-replayable,
    * which is what lets the q_knn_ivf_maintain_recall oracle replay the
    * recall signal and its bar crossing in DuckDB), runs the real
    * [[search]] at `nprobe`, and
    * compares against the exact cosine truth over the stored live set.
    * One summary row: (n_queries, k, nprobe, hits, expected, recall) —
    * recall dropping across probes while skew rises is the
    * [[retrainAndCompact]] trigger; a post-retrain probe confirms
    * recovery (the IvfIndexSpec drift scenario, now a first-class op).
    *
    * Cost: the probe is sample-bounded — the brute twin scans the index
    * once against `sampleN` broadcast queries; schedule it like any
    * other maintenance op, not per query.
    */
  def recallProbe(spark: SparkSession, dir: String, sampleN: Int = 50,
      k: Int = 10, nprobe: Int = 2, seed: Long = 42L): DataFrame = {
    require(sampleN > 0 && k > 0 && nprobe > 0,
      s"positive sampleN/k/nprobe required, got $sampleN/$k/$nprobe")
    val live = liveVectors(spark, dir)
    // the sampled query frame feeds BOTH arms — pin it so the ANN and
    // brute plans read it once each instead of re-scanning the live set
    // (the md5 draw itself is already evaluation-order-independent)
    val q = live.select(col("vec_id"), col("vec"))
      .withColumn("_r", md5(concat(lit(s"$seed:"),
        col("vec_id").cast("string"))))
      .orderBy(col("_r"), col("vec_id")).limit(sampleN)
      .select(col("vec_id"), col("vec")).localCheckpoint()
    try {
      val ann = search(spark, dir, q, "vec_id", "vec", k, nprobe)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("is_hit"))
      val brute = graft.sim.Knn.bruteForceTopK(q,
          live.select(col("vec_id"), col("vec")), "vec_id", "vec", k)
        .select(col("query_id"), col("neighbor_id"))
      // the join is ROOTED AT THE TRUTH SIDE (review fix): rooting at
      // ann would divide hits by the rows the probe happened to RETURN
      // — precision, which reads ~1.0 exactly when a starved cell
      // returns 2 good rows out of k and quality has collapsed. Recall
      // = found / should-have-found, denominated by brute rows.
      // Evaluated HERE (one summary row): the checkpointed sample must
      // not outlive the call, and a lazily returned plan would still
      // reference it after the release below.
      val r = brute.join(ann, Seq("query_id", "neighbor_id"), "left_outer")
        .agg(
          countDistinct(col("query_id")).cast("long").as("n_queries"),
          lit(k.toLong).as("k"),
          lit(nprobe.toLong).as("nprobe"),
          coalesce(sum(coalesce(col("is_hit"), lit(0))), lit(0L))
            .cast("long").as("hits"),
          count(lit(1)).cast("long").as("expected"),
          // empty index -> 0 queries, recall reported 0.0 (expected=0
          // disambiguates the vacuous case; null would NPE the readout)
          round(when(count(lit(1)) > 0,
            sum(coalesce(col("is_hit"), lit(0))).cast("double") /
              count(lit(1))).otherwise(lit(0.0)), 4).as("recall"))
        .collect()(0)
      import spark.implicits._
      Seq((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
        .toDF("n_queries", "k", "nprobe", "hits", "expected", "recall")
    } finally {
      graft.dedup.Dedup.releasePlan(q)
    }
  }

  /** Thresholds for [[maintain]] — the operator's runbook as data.
    *
    * `skewBar` / `recallFloor`: an observation is UNHEALTHY when
    * occupancy skew is at/above the bar or probe recall is below the
    * floor. `badToAct`: consecutive unhealthy observations (this one
    * included) before maintain retrains — the hysteresis that keeps one
    * noisy probe (recallProbe samples `probeN` queries; its estimate
    * has sampling variance) from triggering a full index rebuild.
    * `probeN`/`probeK`/`probeNprobe` size the recall probe;
    * `sampleSize`/`seed` feed the retrain itself.
    */
  case class MaintenancePolicy(
      skewBar: Double = 4.0,
      recallFloor: Double = 0.85,
      badToAct: Int = 2,
      probeN: Int = 50,
      probeK: Int = 10,
      probeNprobe: Int = 2,
      sampleSize: Int = 2000,
      seed: Long = 42L) {
    require(badToAct >= 1, s"badToAct must be >= 1, got $badToAct")
    require(recallFloor >= 0.0 && recallFloor <= 1.0,
      s"recallFloor must be in [0,1], got $recallFloor")
  }

  /** The closed maintenance loop (r17 verdict task 1): the three
    * lifecycle primitives — [[occupancySkew]] (capacity),
    * [[recallProbe]] (quality), [[retrainAndCompact]] (the move) —
    * composed into the policy a 100 TB index actually runs on a
    * schedule, instead of an operator reading two signals and firing
    * the move by hand with thresholds living in scaladoc.
    *
    * Each call: heal any crashed swap, read BOTH signals, decide with
    * HYSTERESIS (retrain only on the `badToAct`-th consecutive
    * unhealthy observation — one noisy probe must not trigger a
    * corpus-scale rebuild), act, post-probe to confirm recovery, and
    * append ONE auditable decision row to the `dir/maintenance/`
    * ledger:
    *
    *   (seq, skew, recall, skew_bar, recall_floor, unhealthy,
    *    consecutive_bad, action, post_recall, healed)
    *
    * `action` ∈ none | retrain; `post_recall` is null unless it
    * retrained; `healed` is [[recoverRetrain]]'s verdict for the heal
    * step. `seq` is the ledger row count — deterministic, so the spec
    * pins rows exactly. Hysteresis state IS the ledger: consecutive_bad
    * counts the unhealthy streak ending at this row, and an action
    * resets it (the rows after a retrain start their streak at the
    * post-retrain health). The ledger read is bounded — only the last
    * `badToAct - 1` rows are consulted, however long the index lives.
    *
    * Single-writer like every other maintenance op. Returns the
    * decision row (also persisted).
    */
  def maintain(spark: SparkSession, dir: String,
      policy: MaintenancePolicy = MaintenancePolicy()): DataFrame = {
    import spark.implicits._
    val healed = recoverRetrain(spark, dir)
    val skew = occupancySkew(spark, dir)
    val recall = recallProbe(spark, dir, policy.probeN, policy.probeK,
      policy.probeNprobe, policy.seed)
      .select(col("recall")).head().getDouble(0)
    val unhealthy = skew >= policy.skewBar || recall < policy.recallFloor
    val ledgerPath = s"$dir/maintenance"
    val prior: Seq[(Long, Boolean, String)] =
      IndexHealth.ledger(spark, ledgerPath,
          "seq long, unhealthy boolean, action string")
        .orderBy(desc("seq")).limit(math.max(policy.badToAct - 1, 1))
        .as[(Long, Boolean, String)].collect().toSeq
    val seq = prior.headOption.map(_._1 + 1L).getOrElse(0L)
    // the streak ending HERE: this observation, plus trailing prior rows
    // that were unhealthy AND did not act (an action row closes its
    // streak — post-retrain health starts over)
    val consecutiveBad =
      if (!unhealthy) 0L
      else 1L + prior.takeWhile { case (_, bad, act) =>
        bad && act == "none" }.length.toLong
    val act = unhealthy && consecutiveBad >= policy.badToAct
    val postRecall: Option[Double] =
      if (!act) None
      else {
        val r = retrainAndCompact(spark, dir, force = true,
          sampleSize = policy.sampleSize, seed = policy.seed)
        assert(r.nonEmpty, "forced retrain must act")
        Some(recallProbe(spark, dir, policy.probeN, policy.probeK,
          policy.probeNprobe, policy.seed)
          .select(col("recall")).head().getDouble(0))
      }
    val row = Seq((seq, IndexHealth.round6HalfUp(skew), recall,
        policy.skewBar,
        policy.recallFloor, unhealthy, consecutiveBad,
        if (act) "retrain" else "none", postRecall, healed))
      .toDF("seq", "skew", "recall", "skew_bar", "recall_floor",
        "unhealthy", "consecutive_bad", "action", "post_recall", "healed")
    row.write.mode("append").parquet(ledgerPath)
    row
  }

  /** The full maintenance ledger, seq-ordered — the audit trail of
    * every [[maintain]] decision (what was read, against which
    * thresholds, what was done, what it recovered to).
    */
  def maintenanceLog(spark: SparkSession, dir: String): DataFrame =
    IndexHealth.ledger(spark, s"$dir/maintenance",
      "seq long, skew double, recall double, skew_bar double, " +
        "recall_floor double, unhealthy boolean, consecutive_bad long, " +
        "action string, post_recall double, healed string")

  private def nearestCell(cs: Seq[Array[Double]], v: Seq[Double]): Int = {
    val ds = cellDistances(cs, v)
    var best = 0; var c = 1
    while (c < ds.length) { if (ds(c) < ds(best)) best = c; c += 1 }
    best
  }

  private def nearestCells(cs: Seq[Array[Double]], v: Seq[Double],
      nprobe: Int): Seq[Int] = {
    val ds = cellDistances(cs, v)
    ds.zipWithIndex.sortBy(_._1).take(nprobe).map(_._2).toSeq
  }

  /** L2 distances from the UNIT-normalized vector to each centroid —
    * the [[Knn.ivfTopK]] assignment geometry, verbatim.
    */
  private def cellDistances(cs: Seq[Array[Double]], v: Seq[Double]): Array[Double] = {
    val u = Knn.unit(v.toArray)
    val out = new Array[Double](cs.length)
    var c = 0
    while (c < cs.length) {
      var d = 0.0; var i = 0
      while (i < cs(c).length && i < u.length) {
        val x = u(i) - cs(c)(i); d += x * x; i += 1
      }
      out(c) = d
      c += 1
    }
    out
  }
}
