package graft.dedup

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The incremental clustering's one contract: resolved labels after ANY
  * batch sequence equal the from-scratch clustering over the union of
  * all pairs — including the hard case, a delta pair merging standing
  * clusters. Plus the lifecycle: no-op batches, epoch replay refusal,
  * compact invariance.
  */
class ClusterIndexSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def pairsDf(ps: (Long, Long)*) = ps.toDF("id_a", "id_b")

  private def labelsOf(df: org.apache.spark.sql.DataFrame) =
    df.as[(Long, Long)].collect().toMap

  test("incremental batches converge to the from-scratch clustering, merges included") {
    val dir = Files.createTempDirectory("cluster_idx").toString + "/idx"
    // final graph: chain 1-2-3-4-5, triangle 10-11-12, pair 20-21
    val b0 = pairsDf(1L -> 2L, 4L -> 5L, 10L -> 11L)
    val b1 = pairsDf(2L -> 3L, 11L -> 12L)            // grows two clusters
    val b2 = pairsDf(3L -> 4L, 10L -> 12L, 20L -> 21L) // MERGES {1,2,3}+{4,5}
    ClusterIndex.build(b0, "id_a", "id_b", dir)
    val n1 = ClusterIndex.addPairs(spark, dir, b1, "id_a", "id_b", epoch = 1)
    assert(n1 === 2L, "batch 1 labels the two new vertices (3 and 12)")
    val n2 = ClusterIndex.addPairs(spark, dir, b2, "id_a", "id_b", epoch = 2)
    // batch 2: 4 and 5 move to label 1; 20 and 21 appear — 10/12's
    // intra-cluster shortcut changes nothing
    assert(n2 === 4L, s"expected 4 relabels, got $n2")
    val got = labelsOf(ClusterIndex.resolve(spark, dir))
    val scratch = labelsOf(Dedup.connectedComponents(
      b0.union(b1).union(b2), "id_a", "id_b"))
    assert(got === scratch)
    assert(got(5L) === 1L && got(12L) === 10L && got(21L) === 20L)

    // no-op batch: already-known pairs relabel nothing and resolve is
    // unchanged; replaying a used epoch id refuses loudly
    val n3 = ClusterIndex.addPairs(spark, dir,
      pairsDf(1L -> 2L, 10L -> 11L), "id_a", "id_b", epoch = 3)
    assert(n3 === 0L)
    assert(labelsOf(ClusterIndex.resolve(spark, dir)) === scratch)
    intercept[Exception] {
      ClusterIndex.addPairs(spark, dir, pairsDf(30L -> 31L),
        "id_a", "id_b", epoch = 2)
    }
    assert(labelsOf(ClusterIndex.resolve(spark, dir)) === scratch,
      "a refused replay must not half-apply")

    // compact: same resolved labels from a folded base, update log gone
    ClusterIndex.compact(spark, dir)
    assert(labelsOf(ClusterIndex.resolve(spark, dir)) === scratch)
    assert(!new java.io.File(s"$dir/label_updates").exists())
    // and the index still accepts batches after compaction
    val n4 = ClusterIndex.addPairs(spark, dir, pairsDf(21L -> 22L),
      "id_a", "id_b", epoch = 4)
    assert(n4 === 1L)
    assert(labelsOf(ClusterIndex.resolve(spark, dir))(22L) === 20L)
  }

  test("crash recovery: unsealed pairs are invisible until repair re-derives and seals") {
    val dir = Files.createTempDirectory("cluster_crash").toString + "/idx"
    ClusterIndex.build(pairsDf(1L -> 2L), "id_a", "id_b", dir)
    val before = labelsOf(ClusterIndex.resolve(spark, dir))
    // simulate addPairs crashing between write 1 (pairs) and write 3
    // (seal): the epoch's pairs land, labels and seal do not
    pairsDf(2L -> 3L).select(
        least(col("id_a"), col("id_b")).as("pa"),
        greatest(col("id_a"), col("id_b")).as("pb"))
      .write.parquet(s"$dir/pairs/epoch=1")
    assert(ClusterIndex.unsealedEpochs(spark, dir) === Seq(1))
    // readers see only committed state; writers refuse to build on it
    assert(labelsOf(ClusterIndex.resolve(spark, dir)) === before)
    intercept[IllegalArgumentException] {
      ClusterIndex.addPairs(spark, dir, pairsDf(3L -> 4L), "id_a", "id_b", 2)
    }
    // repair re-derives epoch 1's labels FROM ITS RECORDED PAIRS
    assert(ClusterIndex.repair(spark, dir) === Seq(1))
    assert(ClusterIndex.unsealedEpochs(spark, dir) === Nil)
    val healed = labelsOf(ClusterIndex.resolve(spark, dir))
    assert(healed === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // and the index accepts batches again, building on the repaired state
    ClusterIndex.addPairs(spark, dir, pairsDf(3L -> 4L), "id_a", "id_b", 2)
    assert(labelsOf(ClusterIndex.resolve(spark, dir)) ===
      labelsOf(Dedup.connectedComponents(
        pairsDf(1L -> 2L, 2L -> 3L, 3L -> 4L), "id_a", "id_b")))
  }

  test("maintain: heals, reports needs_repair, compacts on the epoch bar") {
    val dir = Files.createTempDirectory("cluster_mnt").toString + "/idx"
    ClusterIndex.build(pairsDf(1L -> 2L), "id_a", "id_b", dir)
    // below the bar: no-op, nothing healed
    ClusterIndex.addPairs(spark, dir, pairsDf(2L -> 3L), "id_a", "id_b", 1)
    val r0 = ClusterIndex.maintain(spark, dir).collect()(0)
    assert(r0.getAs[String]("action") === "none")
    assert(r0.getAs[String]("healed") === "none")
    assert(r0.getAs[Int]("update_epochs") === 1)

    // crashed addPairs: maintain REPORTS (it must not invent scores on a
    // best-enabled index, so repair stays the operator's move) and
    // touches nothing
    pairsDf(3L -> 4L).select(
        least(col("id_a"), col("id_b")).as("pa"),
        greatest(col("id_a"), col("id_b")).as("pb"))
      .write.parquet(s"$dir/pairs/epoch=2")
    val r1 = ClusterIndex.maintain(spark, dir).collect()(0)
    assert(r1.getAs[String]("action") === "needs_repair")
    assert(ClusterIndex.unsealedEpochs(spark, dir) === Seq(2),
      "maintain must not repair")
    ClusterIndex.repair(spark, dir)

    // two sealed update epochs >= a bar of 2: maintain compacts
    val r2 = ClusterIndex.maintain(spark, dir,
      ClusterIndex.MaintenancePolicy(epochsBar = 2)).collect()(0)
    assert(r2.getAs[String]("action") === "compact")
    assert(!new java.io.File(s"$dir/label_updates").exists())
    assert(labelsOf(ClusterIndex.resolve(spark, dir)) ===
      labelsOf(Dedup.connectedComponents(
        pairsDf(1L -> 2L, 2L -> 3L, 3L -> 4L), "id_a", "id_b")))

    // acting reset the signal to its floor; the ledger audits every
    // decision in order
    val r3 = ClusterIndex.maintain(spark, dir).collect()(0)
    assert(r3.getAs[String]("action") === "none")
    assert(r3.getAs[Int]("update_epochs") === 0)
    assert(ClusterIndex.maintenanceLog(spark, dir).collect()
      .map(r => (r.getAs[Long]("seq"), r.getAs[String]("action"))).toSeq ===
      Seq((0L, "none"), (1L, "needs_repair"), (2L, "compact"), (3L, "none")))
  }

  test("a delta that bridges EVERY standing cluster still resolves exactly") {
    val dir = Files.createTempDirectory("cluster_idx2").toString + "/idx"
    val b0 = pairsDf(1L -> 2L, 10L -> 11L, 20L -> 21L)
    ClusterIndex.build(b0, "id_a", "id_b", dir)
    val bridge = pairsDf(2L -> 10L, 11L -> 20L)
    val n = ClusterIndex.addPairs(spark, dir, bridge, "id_a", "id_b", 1)
    assert(n === 4L, "10,11,20,21 all move to label 1")
    val got = labelsOf(ClusterIndex.resolve(spark, dir))
    assert(got === Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L,
      20L -> 1L, 21L -> 1L))
  }

  // ---- incremental survivorship (r17): the best-member view ----

  // scores chosen so the cross-epoch merge CHANGES a cluster's winner
  // (cluster {4,5}'s keep moves 4 -> 2 when it merges into {1,2,3}),
  // plus a tie pair (20, 21: equal scores -> min id) and unpaired docs
  private def bestDocs = Seq(
    (1L, 5L), (2L, 9L), (3L, 1L), (4L, 7L), (5L, 2L),
    (10L, 3L), (11L, 8L), (20L, 4L), (21L, 4L)
  ).toDF("id", "score")

  private def keepOf(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.as[Long].collect().toSet

  private def scratchKeep(ps: (Long, Long)*): Set[Long] =
    keepOf(Dedup.keepBest(bestDocs, "id", col("score"),
      Dedup.connectedComponents(pairsDf(ps: _*), "id_a", "id_b")))

  test("resolveBest equals from-scratch keepBest after every epoch, " +
      "including a merge that changes a cluster's winner") {
    val dir = Files.createTempDirectory("cluster_best").toString + "/idx"
    val all = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def check(): Unit =
      assert(keepOf(ClusterIndex.resolveBest(spark, dir, bestDocs, "id"))
        === scratchKeep(all.toSeq: _*))

    all ++= Seq(1L -> 2L, 4L -> 5L)
    ClusterIndex.buildWithBest(pairsDf(all.toSeq: _*), "id_a", "id_b",
      bestDocs, "id", col("score"), dir)
    check() // winners 2 and 4; unpaired 3,10,11,20,21 keep themselves
    assert(scratchKeep(all.toSeq: _*) === Set(2L, 4L, 3L, 10L, 11L, 20L, 21L))

    // epoch 1: grow {1,2} by 3 — winner stays 2, doc 3 leaves unpaired
    val b1 = Seq(2L -> 3L); all ++= b1
    ClusterIndex.addPairsWithBest(spark, dir, pairsDf(b1: _*),
      "id_a", "id_b", bestDocs, "id", col("score"), 1)
    check()

    // epoch 2: MERGE {1,2,3} + {4,5} — cluster 4 dies (tombstone), its
    // old winner 4 must stop being kept; joint winner is 2
    val b2 = Seq(3L -> 4L); all ++= b2
    ClusterIndex.addPairsWithBest(spark, dir, pairsDf(b2: _*),
      "id_a", "id_b", bestDocs, "id", col("score"), 2)
    check()
    assert(!keepOf(ClusterIndex.resolveBest(spark, dir, bestDocs, "id"))
      .contains(4L), "the merged-away cluster's old winner must drop")

    // epoch 3: two unpaired docs become a cluster (winner 11) and the
    // tie pair lands (equal scores -> min id 20)
    val b3 = Seq(10L -> 11L, 20L -> 21L); all ++= b3
    ClusterIndex.addPairsWithBest(spark, dir, pairsDf(b3: _*),
      "id_a", "id_b", bestDocs, "id", col("score"), 3)
    check()
    assert(scratchKeep(all.toSeq: _*) === Set(2L, 11L, 20L))

    // compact folds winners + labels; resolved keep set unchanged
    ClusterIndex.compact(spark, dir)
    check()

    // a no-op batch (known pair) records its epoch but changes nothing
    ClusterIndex.addPairsWithBest(spark, dir, pairsDf(1L -> 2L),
      "id_a", "id_b", bestDocs, "id", col("score"), 4)
    check()
  }

  test("best crash recovery: unsealed epochs invisible to resolveBest; " +
      "repairWithBest re-derives labels AND winners; repair() refuses") {
    val dir = Files.createTempDirectory("cluster_best_crash").toString + "/idx"
    ClusterIndex.buildWithBest(pairsDf(1L -> 2L, 4L -> 5L), "id_a", "id_b",
      bestDocs, "id", col("score"), dir)
    val before = keepOf(ClusterIndex.resolveBest(spark, dir, bestDocs, "id"))
    // crash between write 1 (pairs) and the seal: the merging epoch's
    // pairs land, label/best updates do not
    pairsDf(3L -> 4L, 2L -> 3L).select(
        least(col("id_a"), col("id_b")).as("pa"),
        greatest(col("id_a"), col("id_b")).as("pb"))
      .write.parquet(s"$dir/pairs/epoch=1")
    assert(ClusterIndex.unsealedEpochs(spark, dir) === Seq(1))
    // readers see committed state only — the old winners
    assert(keepOf(ClusterIndex.resolveBest(spark, dir, bestDocs, "id"))
      === before)
    // writers refuse; the label-only repair refuses on a best index
    intercept[IllegalArgumentException] {
      ClusterIndex.addPairsWithBest(spark, dir, pairsDf(10L -> 11L),
        "id_a", "id_b", bestDocs, "id", col("score"), 2)
    }
    intercept[IllegalArgumentException] {
      ClusterIndex.repair(spark, dir)
    }
    assert(ClusterIndex.repairWithBest(spark, dir, bestDocs, "id",
      col("score")) === Seq(1))
    assert(ClusterIndex.unsealedEpochs(spark, dir) === Nil)
    // healed state == from-scratch over all recorded pairs: the merge
    // relabeled {4,5} into {1,2,3,4,5}, winner 2, old winner 4 dropped
    assert(keepOf(ClusterIndex.resolveBest(spark, dir, bestDocs, "id"))
      === scratchKeep(1L -> 2L, 4L -> 5L, 3L -> 4L, 2L -> 3L))
    // and the index accepts best batches again
    ClusterIndex.addPairsWithBest(spark, dir, pairsDf(10L -> 11L),
      "id_a", "id_b", bestDocs, "id", col("score"), 2)
    assert(keepOf(ClusterIndex.resolveBest(spark, dir, bestDocs, "id"))
      === scratchKeep(1L -> 2L, 4L -> 5L, 3L -> 4L, 2L -> 3L, 10L -> 11L))
  }

  test("face guards: plain addPairs refuses a best index " +
      "(silent winner corruption), repairWithBest refuses a plain one") {
    val dir = Files.createTempDirectory("cluster_guard").toString + "/idx"
    ClusterIndex.buildWithBest(pairsDf(1L -> 2L, 4L -> 5L), "id_a", "id_b",
      bestDocs, "id", col("score"), dir)
    // a plain-addPairs epoch would seal labels WITHOUT recomputing
    // winners or tombstoning merged-away clusters — resolveBest would
    // silently diverge from keepBest with no repair path
    intercept[IllegalArgumentException] {
      ClusterIndex.addPairs(spark, dir, pairsDf(2L -> 4L), "id_a", "id_b", 1)
    }
    // nothing was recorded by the refusal
    assert(!new java.io.File(s"$dir/pairs/epoch=1").exists())
    assert(keepOf(ClusterIndex.resolveBest(spark, dir, bestDocs, "id"))
      === scratchKeep(1L -> 2L, 4L -> 5L))
    // and the mirror: repairWithBest on a plain index would write
    // orphan best updates
    val plain = Files.createTempDirectory("cluster_guard2").toString + "/idx"
    ClusterIndex.build(pairsDf(1L -> 2L), "id_a", "id_b", plain)
    intercept[IllegalArgumentException] {
      ClusterIndex.repairWithBest(spark, plain, bestDocs, "id", col("score"))
    }
  }

  test("compact is crash-safe: no _ready rolls back, _ready completes, " +
      "writers refuse a crashed staging") {
    val dir = Files.createTempDirectory("cluster_cswap").toString + "/idx"
    ClusterIndex.buildWithBest(pairsDf(1L -> 2L, 4L -> 5L), "id_a", "id_b",
      bestDocs, "id", col("score"), dir)
    ClusterIndex.addPairsWithBest(spark, dir, pairsDf(2L -> 3L),
      "id_a", "id_b", bestDocs, "id", col("score"), 1)
    val want = keepOf(ClusterIndex.resolveBest(spark, dir, bestDocs, "id"))

    // crash BEFORE the _ready marker: a half-written staging. Every
    // writer refuses (a write landing now would be folded away by the
    // later swap); recovery rolls back and live state is untouched.
    val st = new java.io.File(s"$dir/_compact_staging/labels_base")
    assert(st.mkdirs())
    intercept[IllegalArgumentException] {
      ClusterIndex.addPairsWithBest(spark, dir, pairsDf(10L -> 11L),
        "id_a", "id_b", bestDocs, "id", col("score"), 2)
    }
    intercept[IllegalArgumentException] { ClusterIndex.compact(spark, dir) }
    assert(ClusterIndex.recoverCompact(spark, dir) === "rolled_back")
    assert(ClusterIndex.recoverCompact(spark, dir) === "none")
    assert(keepOf(ClusterIndex.resolveBest(spark, dir, bestDocs, "id"))
      === want)
    assert(new java.io.File(s"$dir/best_updates").exists(),
      "rollback must leave the un-folded update log intact")

    // crash AFTER _ready (on a plain index so the staged fold is
    // constructible from public reads): recovery completes the swap
    val dir2 = Files.createTempDirectory("cluster_cswap2").toString + "/idx"
    ClusterIndex.build(pairsDf(1L -> 2L), "id_a", "id_b", dir2)
    ClusterIndex.addPairs(spark, dir2, pairsDf(2L -> 3L), "id_a", "id_b", 1)
    val wantLabels = labelsOf(ClusterIndex.resolve(spark, dir2))
    ClusterIndex.resolve(spark, dir2)
      .write.parquet(s"$dir2/_compact_staging/labels_base")
    assert(new java.io.File(s"$dir2/_compact_staging/_ready").createNewFile())
    assert(ClusterIndex.recoverCompact(spark, dir2) === "completed")
    assert(labelsOf(ClusterIndex.resolve(spark, dir2)) === wantLabels)
    assert(!new java.io.File(s"$dir2/label_updates").exists())
    assert(!new java.io.File(s"$dir2/_compact_staging").exists())
    // and the index accepts batches again
    ClusterIndex.addPairs(spark, dir2, pairsDf(3L -> 4L), "id_a", "id_b", 2)
    assert(labelsOf(ClusterIndex.resolve(spark, dir2))(4L) === 1L)
  }
}
