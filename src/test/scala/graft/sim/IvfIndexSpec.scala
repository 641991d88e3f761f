package graft.sim

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The persistent index must (1) lay out hive cell directories,
  * (2) reproduce the inline ivfTopK results exactly for the same
  * training parameters, and (3) prune unprobed cell partitions at scan
  * time — the property that makes it a lookup instead of a scan.
  */
class IvfIndexSpec extends AnyFunSuite with SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private lazy val emb = graft.ops.Tables.embeddings(spark, d)
  private lazy val dir = {
    val t = Files.createTempDirectory("ivf_index").toString + "/idx"
    IvfIndex.build(emb, "vec_id", "embedding", t, nlist = 8,
      sampleSize = 500, seed = 7L)
    t
  }

  private def queries = emb.filter(col("vec_id") < 5)

  test("build writes hive cell layout + centroids parquet") {
    val cells = new java.io.File(s"$dir/vectors").listFiles()
      .filter(_.getName.startsWith("cell="))
    assert(cells.length > 1, "expected multiple cell partitions")
    assert(IvfIndex.loadCentroids(spark, dir).size === 8)
  }

  test("recallProbe: all-cells probe is exact, fewer probes can only " +
      "lose recall, and the probe is deterministic") {
    // probing every cell IS brute force (the cell filter admits the
    // whole index), so recall must be exactly 1.0 — the probe's own
    // correctness contract, no tolerance
    val full = IvfIndex.recallProbe(spark, dir, sampleN = 20, k = 5,
      nprobe = 8).collect()(0)
    assert(full.getLong(0) === 20, "20 sampled queries")
    assert(full.getDouble(5) === 1.0,
      s"nprobe=nlist must be exact: ${full.getDouble(5)}")
    assert(full.getLong(3) === full.getLong(4), "hits == expected at full probe")
    // a 1-cell probe measures the real quality signal: bounded by the
    // exact probe, and deterministic (seeded sample + seeded quantizer)
    val narrow = IvfIndex.recallProbe(spark, dir, sampleN = 20, k = 5,
      nprobe = 1).collect()(0)
    assert(narrow.getDouble(5) <= 1.0 && narrow.getDouble(5) >= 0.0)
    val narrow2 = IvfIndex.recallProbe(spark, dir, sampleN = 20, k = 5,
      nprobe = 1).collect()(0)
    assert(narrow.toSeq === narrow2.toSeq, "probe must be deterministic")
  }

  test("recallProbe denominates by the brute TRUTH, not by returned rows") {
    // tiny cells: 20 vectors over 8 cells -> a 1-cell probe can return
    // far fewer than k rows. Rooting the metric at the ANN side would
    // score those few rows ~1.0 (precision) exactly when quality has
    // collapsed; recall must count the misses
    val t = Files.createTempDirectory("ivf_tiny").toString + "/idx"
    IvfIndex.build(emb.filter(col("vec_id") < 20), "vec_id", "embedding",
      t, nlist = 8, sampleSize = 500, seed = 7L)
    val r = IvfIndex.recallProbe(spark, t, sampleN = 10, k = 10,
      nprobe = 1).collect()(0)
    assert(r.getLong(4) === r.getLong(0) * 10,
      "expected = n_queries x k rows of brute truth")
    assert(r.getDouble(5) < 0.6,
      s"1-cell probe over ~2-member cells cannot reach ${r.getDouble(5)}")
    assert(r.getDouble(5) > 0.0)
  }

  test("search from the stored index equals inline ivfTopK") {
    val fromIndex = IvfIndex.search(spark, dir, queries,
      "vec_id", "embedding", k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inline = Knn.ivfTopK(queries, emb, "vec_id", "embedding", k = 3,
      nlist = 8, nprobe = 2, sampleSize = 500, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fromIndex === inline)
  }

  test("append: frozen centroids, no rewrite of existing files, one-shot equivalence") {
    val t = Files.createTempDirectory("ivf_append").toString + "/idx"
    val half1 = emb.filter(col("vec_id") % 2 === 0)
    val half2 = emb.filter(col("vec_id") % 2 === 1)
    IvfIndex.build(half1, "vec_id", "embedding", t, nlist = 8,
      sampleSize = 500, seed = 7L)
    def files(p: String) = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(p)).filter(_.getName.endsWith(".parquet"))
        .map(f => s"${f.getPath}@${f.lastModified}@${f.length}").toSet
    }
    val before = files(s"$t/vectors")
    val n = IvfIndex.append(spark, t, half2, "vec_id", "embedding")
    assert(n === half2.count())
    // index maintenance is append-only: every pre-existing vector file
    // byte-identical (the DV no-rewrite doctrine)
    assert(files(s"$t/vectors").intersect(before) === before)

    // one-shot equivalence: an index whose vectors were written in a
    // single pass against the SAME frozen centroids answers identically —
    // the append path changes file layout, never search results
    val t2 = Files.createTempDirectory("ivf_oneshot").toString + "/idx"
    IvfIndex.build(half1, "vec_id", "embedding", t2, nlist = 8,
      sampleSize = 500, seed = 7L) // same training half -> same centroids
    spark.read.parquet(s"$t/vectors").where(lit(false)) // touch nothing
    IvfIndex.append(spark, t2, half2, "vec_id", "embedding")
    val q = emb.filter(col("vec_id") < 5)
    def res(p: String) = IvfIndex.search(spark, p, q, "vec_id", "embedding",
      k = 3, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(res(t) === res(t2))

    // visibility: appended (odd-id) vectors are reachable as neighbors
    val neighbors = res(t).map(_._2)
    assert(neighbors.exists(_ % 2 === 1), s"no appended vector surfaced: $neighbors")
  }

  test("probe scan prunes unprobed cell partitions") {
    // a single-cell filter stands in for one probe: the scan must carry
    // it as a PartitionFilter, not a post-scan predicate
    val one = spark.read.parquet(s"$dir/vectors").filter(col("cell") === 0)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("cell"), s"no partition pruning in:\n$plan")
    // and the executed search touches only nprobe cells' rows per query:
    // every returned neighbor must live in one of the query's probed cells
    val indexed = spark.read.parquet(s"$dir/vectors")
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val res = IvfIndex.search(spark, dir, queries,
      "vec_id", "embedding", k = 3, nprobe = 1).collect()
    // nprobe=1: all neighbors of a query share ONE cell
    val byQuery = res.groupBy(_.getLong(0))
    byQuery.foreach { case (_, rows) =>
      assert(rows.map(r => indexed(r.getLong(1))).toSet.size === 1)
    }
  }

  // ---- retrainAndCompact (r17): the index lifecycle's last step ----

  /** Deterministic 64-dim cluster members: a dominant one-hot dim per
    * cluster plus small per-member jitter — within-cluster cosine high,
    * across-cluster near zero.
    */
  private def member(c: Int, j: Int): Seq[Double] = {
    val v = Array.fill(64)(0.0)
    v(c * 9) = 1.0
    var i = 0
    while (i < 64) { v(i) += 0.08 * math.sin(i * 2.3 + j * 1.7 + c * 0.9); i += 1 }
    v.toSeq
  }

  private def cosSim(a: Seq[Double], b: Seq[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  private def bruteTop(stored: Seq[(Long, Seq[Double])], q: Seq[Double],
      k: Int): Set[Long] =
    stored.map { case (id, v) => (id, cosSim(v, q)) }
      .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1).toSet

  private def recallAt10(dir: String,
      queries: Seq[(Long, Seq[Double])],
      stored: Seq[(Long, Seq[Double])]): Double = {
    import spark.implicits._
    val got = IvfIndex.search(spark, dir,
      queries.toDF("vec_id", "embedding"), "vec_id", "embedding",
      k = 10, nprobe = 1)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    queries.map { case (qid, qv) =>
      val truth = bruteTop(stored, qv, 10)
      got.getOrElse(qid, Set.empty).intersect(truth).size / 10.0
    }.sum / queries.size
  }

  test("retrainAndCompact: occupancy-skew trigger fires only past the bar") {
    import spark.implicits._
    val t = Files.createTempDirectory("ivf_retrain_trig").toString + "/idx"
    // balanced: 4 clusters x 100 members, quantizer trained on all
    val balanced = (0 until 4).flatMap(c =>
      (0 until 100).map(j => (c * 1000L + j, member(c, j))))
    IvfIndex.build(balanced.toDF("vec_id", "embedding"),
      "vec_id", "embedding", t, nlist = 4, sampleSize = 400, seed = 7L)
    val before = IvfIndex.loadCentroids(spark, t).map(_.toSeq)
    assert(IvfIndex.retrainAndCompact(spark, t, skewBar = 3.0).isEmpty,
      "a balanced index must not retrain")
    assert(IvfIndex.loadCentroids(spark, t).map(_.toSeq) === before,
      "a declined retrain must leave the index untouched")
    // skewed ingest: 900 more vectors, ALL cluster 0 -> its cell holds
    // ~1000 of 1300 = skew ~3.1x the mean
    IvfIndex.append(spark, t,
      (0 until 900).map(j => (9000L + j, member(0, 100 + j)))
        .toDF("vec_id", "embedding"), "vec_id", "embedding")
    assert(IvfIndex.retrainAndCompact(spark, t, skewBar = 3.0).isDefined,
      "skew past the bar must retrain")
  }

  /** Boundary-straddling drift cluster: centered midway between trained
    * centroids 0 and 1. The CELL decision and the RANKING signal are
    * deliberately decoupled — the quantizer-consistency property (a
    * query's nearest vectors assign near the query) otherwise keeps
    * recall high no matter how a cluster scatters: each member carries a
    * ±0.05 bias on the two hot dims drawn from a hash INDEPENDENT of
    * its ranking phase (decides its cell), while similarity within the
    * cluster is carried by phase noise on dims 10-63 only. A BIAS-FREE
    * query (hot dims exactly equal) scores every member independently
    * of its bias, so its true top-10 mixes both bias groups — but its
    * single probed cell holds only one group: recall ~0.5 at nprobe=1,
    * the failure occupancy stats cannot see.
    */
  private def emember(j: Int): Seq[Double] = {
    val v = Array.fill(64)(0.0)
    val bias = if (math.sin(j * 12.9898) >= 0) 0.05 else -0.05
    v(0) = 1.0 + bias
    v(9) = 1.0 - bias
    var i = 10
    while (i < 64) { v(i) = 0.03 * math.sin(i * 2.3 + j * 1.7); i += 1 }
    v.toSeq
  }

  /** Bias-free probe into the straddling cluster. */
  private def equery(j: Int): Seq[Double] = {
    val v = Array.fill(64)(0.0)
    v(0) = 1.0
    v(9) = 1.0
    var i = 10
    while (i < 64) { v(i) = 0.03 * math.sin(i * 2.3 + j * 1.7); i += 1 }
    v.toSeq
  }

  test("retrainAndCompact: drifted ingest recall degrades then recovers; " +
      "rebuilt index == buildWithCentroids twin") {
    import spark.implicits._
    val base = Files.createTempDirectory("ivf_retrain").toString
    val t = s"$base/idx"
    // quantizer trained on clusters 0-3; the straddling cluster E then
    // arrives and splits by parity across cells 0 and 1
    val c0 = (0 to 3).flatMap(c =>
      (0 until 200).map(j => (c * 1000L + j, member(c, j))))
    IvfIndex.build(c0.toDF("vec_id", "embedding"), "vec_id", "embedding",
      t, nlist = 4, sampleSize = 900, seed = 7L)
    val drift = (0 until 200).map(j => (5000L + j, emember(j)))
    IvfIndex.append(spark, t, drift.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val queries = (501 to 506).map(j => (90000L + j, equery(j)))
    val stored = c0 ++ drift
    val recallBefore = recallAt10(t, queries, stored)
    assert(recallBefore < 0.85,
      s"drift scenario failed to degrade recall: $recallBefore")

    // snapshot the stored vectors BEFORE the rebuild overwrites them
    val snap = spark.read.parquet(s"$t/vectors")
      .select("vec_id", "vec").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))

    // occupancy is balanced here (drift, not skew) — the operator forces
    // after recallProbe reads the drop, the documented signal —
    // and grows the quantizer to make room for the arrived cluster
    val cs = IvfIndex.retrainAndCompact(spark, t, force = true, nlist = 5)
    assert(cs.isDefined)
    val recallAfter = recallAt10(t, queries, stored)
    assert(recallAfter >= 0.9, s"recall after retrain: $recallAfter")
    assert(recallAfter > recallBefore + 0.2,
      s"no recovery: $recallBefore -> $recallAfter")

    // equality contract: the rebuilt index IS a fresh buildWithCentroids
    // over the stored vectors and the retrained quantizer
    val twin = s"$base/twin"
    IvfIndex.buildWithCentroids(snap.toSeq.toDF("vec_id", "vec"),
      "vec_id", "vec", twin, cs.get)
    def res(dir: String) = IvfIndex.search(spark, dir,
      queries.toDF("vec_id", "embedding"), "vec_id", "embedding",
      k = 5, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(res(t) === res(twin))
  }

  test("maintain: the drift scenario end-to-end by policy alone — " +
      "healthy no-op, hysteresis holds one bad probe, second bad probe " +
      "retrains, post-probe recovers, ledger audits it all (r18)") {
    import spark.implicits._
    val t = Files.createTempDirectory("ivf_maintain").toString + "/idx"
    assert(IvfIndex.maintenanceLog(spark, t).count() === 0L,
      "an absent ledger must read as an empty, schema'd frame")
    val c0 = (0 to 3).flatMap(c =>
      (0 until 200).map(j => (c * 1000L + j, member(c, j))))
    IvfIndex.build(c0.toDF("vec_id", "embedding"), "vec_id", "embedding",
      t, nlist = 4, sampleSize = 900, seed = 7L)
    val policy = IvfIndex.MaintenancePolicy(recallFloor = 0.92,
      badToAct = 2, probeN = 50, probeK = 10, probeNprobe = 1,
      sampleSize = 1300)
    def decision() = IvfIndex.maintain(spark, t, policy).collect()(0)
    def centroids() = IvfIndex.loadCentroids(spark, t).map(_.toSeq)

    // 1. healthy index: a no-op observation — nothing touched
    val cs0 = centroids()
    val d0 = decision()
    assert(!d0.getBoolean(5) && d0.getString(7) === "none",
      s"healthy index must no-op: $d0")
    assert(d0.getLong(6) === 0L, "healthy observation resets the streak")
    assert(centroids() === cs0, "a none decision must not touch the quantizer")

    // 2. drifted ingest: a cluster centered ON the cell-0/1 Voronoi
    // boundary of the FROZEN quantizer — a ±1e-6 hairline on dim 0
    // (independent of the ranking phase) decides each member's cell
    // while being invisible to cosine ranking, so a self-query's true
    // top-10 scatter across both cells: the frozen-quantizer failure
    // recallProbe exists to catch, and occupancy stats cannot see
    def bmember(j: Int): Seq[Double] = {
      val v = Array.fill(64)(0.0)
      // antisymmetric hair: cell decision sees 2h along c0-c1 (~0.06,
      // dominating trained-centroid residual coupling ~0.003) while the
      // RANKING gap between hair groups cancels to 2*h_q*h_n (~0.002,
      // below the near-top phase spacing) — neighbors scatter by cell
      val h = if (math.sin(j * 12.9898) >= 0) 0.02 else -0.02
      v(0) = 1.0 + h
      v(9) = 1.0 - h
      var i = 10
      while (i < 64) { v(i) = 0.2 * math.sin(i * 2.3 + j * 1.7); i += 1 }
      v.toSeq
    }
    IvfIndex.append(spark, t,
      (0 until 400).map(j => (5000L + j, bmember(j)))
        .toDF("vec_id", "embedding"), "vec_id", "embedding")
    val d1 = decision()
    assert(d1.getBoolean(5), s"drift must read unhealthy: $d1")
    assert(d1.getDouble(2) < policy.recallFloor,
      s"recall signal must be below floor: ${d1.getDouble(2)}")
    assert(d1.getString(7) === "none" && d1.getLong(6) === 1L,
      s"hysteresis must hold the FIRST bad probe: $d1")
    assert(centroids() === cs0, "held probe must not touch the quantizer")

    // 3. second consecutive bad probe: act, and confirm recovery in-row
    val d2 = decision()
    assert(d2.getString(7) === "retrain" && d2.getLong(6) === 2L,
      s"second bad probe must retrain: $d2")
    assert(!d2.isNullAt(8), "a retrain row must carry its post-probe")
    assert(d2.getDouble(8) > d2.getDouble(2) + 0.02,
      s"post-retrain recall must recover: ${d2.getDouble(2)} -> ${d2.getDouble(8)}")
    assert(centroids() !== cs0, "retrain must install a new quantizer")

    // 4. the next observation starts a fresh streak on the rebuilt index
    val d3 = decision()
    assert(d3.getString(7) === "none" && d3.getLong(6) === 0L,
      s"post-retrain index must read healthy: $d3")
    assert(!d3.getBoolean(5))

    // the ledger is the audit trail: four rows, exact decisions
    val log = IvfIndex.maintenanceLog(spark, t)
      .select("seq", "unhealthy", "consecutive_bad", "action")
      .as[(Long, Boolean, Long, String)].collect().toSeq
    assert(log === Seq((0L, false, 0L, "none"), (1L, true, 1L, "none"),
      (2L, true, 2L, "retrain"), (3L, false, 0L, "none")), s"ledger: $log")
    // post_recall is null exactly on the non-acting rows
    assert(IvfIndex.maintenanceLog(spark, t)
      .filter(col("post_recall").isNotNull)
      .select("seq").as[Long].collect().toSeq === Seq(2L))
  }

  test("recoverRetrain: pre-commit crash rolls back whole; post-commit " +
      "crash completes idempotently — never a mixed quantizer") {
    import spark.implicits._
    val t = Files.createTempDirectory("ivf_swap").toString + "/idx"
    val data = (0 until 4).flatMap(c =>
      (0 until 50).map(j => (c * 1000L + j, member(c, j))))
    IvfIndex.build(data.toDF("vec_id", "embedding"),
      "vec_id", "embedding", t, nlist = 4, sampleSize = 200, seed = 7L)
    val qs = (0 until 4).map(c => (90000L + c, member(c, 500)))
    def res() = IvfIndex.search(spark, t, qs.toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 3, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val before = res()
    assert(IvfIndex.recoverRetrain(spark, t) === "none")

    // PRE-COMMIT crash: staging exists, no ready marker -> rolled back
    // whole, live index untouched
    Seq((0, Seq(1.0))).toDF("cell", "centroid")
      .write.parquet(s"$t/_retrain_staging/centroids")
    assert(IvfIndex.recoverRetrain(spark, t) === "rolled_back")
    assert(!new java.io.File(s"$t/_retrain_staging").exists())
    assert(res() === before)

    // POST-COMMIT crash: both faces staged and the marker written, then
    // the process dies — even half-swapped (centroids already renamed),
    // recovery completes and the index serves consistently
    val cs = IvfIndex.loadCentroids(spark, t)
    val snap = spark.read.parquet(s"$t/vectors")
      .select("vec_id", "vec").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    IvfIndex.buildWithCentroids(snap.toSeq.toDF("vec_id", "vec"),
      "vec_id", "vec", s"$t/_retrain_staging", cs)
    assert(new java.io.File(s"$t/_retrain_staging/_ready").createNewFile())
    // simulate the mid-swap crash: centroids face already swapped
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(s"$t/centroids"))
    assert(new java.io.File(s"$t/_retrain_staging/centroids")
      .renameTo(new java.io.File(s"$t/centroids")))
    assert(IvfIndex.recoverRetrain(spark, t) === "completed")
    assert(!new java.io.File(s"$t/_retrain_staging").exists())
    // same centroids + same vectors staged -> identical searches
    assert(res() === before)
    assert(IvfIndex.recoverRetrain(spark, t) === "none")
  }
}
