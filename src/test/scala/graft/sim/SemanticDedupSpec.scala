package graft.sim

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Planted-geometry semantics for SemDeDup cluster-then-prune (the DuckDB
  * oracle checks value parity on the synthetic corpus; this pins the
  * intended behavior on vectors whose geometry is known by construction).
  */
class SemanticDedupSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val vecs = Seq(
    (0L, Seq(1f, 0f, 0f)),      // doubles as centroid 0
    (1L, Seq(0f, 1f, 0f)),      // doubles as centroid 1
    (10L, Seq(1f, 0f, 0f)),     // cluster 0, same direction as member 0
    (11L, Seq(0.999f, 0.04f, 0f)), // near-dup of 0 and 10 -> dropped
    (12L, Seq(0.7f, 0f, 0.7f)), // cluster 0 but cos 0.7 to mates -> kept
    (13L, Seq(0f, 0.9f, 0f)),   // cluster 1, same direction as member 1
    (14L, Seq(1f, 1f, 0f))      // exact tie between centroids -> lower cid
  ).toDF("vec_id", "embedding")

  private lazy val flags = SemanticDedup.keepFlags(
      vecs, "vec_id", "embedding",
      centroids = vecs.filter(col("vec_id") < 2), cidCol = "vec_id",
      threshold = 0.95)
    .as[(Long, Long, Boolean)].collect()
    .map(r => r._1 -> ((r._2, r._3))).toMap

  test("assignment picks the nearest centroid, ties to the lower centroid id") {
    assert(flags(10L)._1 === 0L)
    assert(flags(12L)._1 === 0L)
    assert(flags(13L)._1 === 1L)
    assert(flags(14L)._1 === 0L, "cos to both centroids is exactly 0.7071…; lower cid wins")
  }

  test("a vector similar to a lower-id clustermate is dropped; dissimilar ones keep") {
    // the centroid source vectors (0, 1) are corpus members too, so they
    // participate in pruning as the lowest ids of their clusters
    assert(flags(0L)._2 && flags(1L)._2, "lowest ids always keep")
    assert(!flags(10L)._2, "same direction as member 0 (cos 1.0)")
    assert(!flags(11L)._2, "near-dup of members 0 and 10")
    assert(flags(12L)._2, "same cluster but cos 0.7 < 0.95 to every mate")
    assert(!flags(13L)._2, "same direction as member 1 (cos 1.0)")
    assert(flags(14L)._2, "cos to every cluster-0 mate is ~0.707 < 0.95")
  }

  test("every input vector gets exactly one flag row") {
    assert(flags.size === 7)
  }

  test("maxClusterSize splits a planted mega-cluster semantically") {
    // 120 vectors in ONE cluster, two orthogonal direction bundles: the
    // guard's k-means round should rediscover the bundles, so every prune
    // group lands under the cap WITHOUT salting (sub-groups end in "s<i>",
    // no "/" chunk suffix) and near-dups stay co-grouped.
    val rnd = new scala.util.Random(5)
    val mega = ((0 until 60).map(i =>
        (i.toLong, Seq(1f, rnd.nextFloat() * 0.05f, rnd.nextFloat() * 0.05f))) ++
      (60 until 120).map(i =>
        (i.toLong, Seq(rnd.nextFloat() * 0.05f, 1f, rnd.nextFloat() * 0.05f))))
      .toDF("vec_id", "embedding")
    val assigned = mega
      .select(col("vec_id"), Vectors.toDoubleArray(col("embedding")).as("__v"))
      .withColumn("__nv", Vectors.norm(col("__v")))
      .withColumn("cluster_id", lit(0L))
    val grouped = SemanticDedup.boundedSubgroups(assigned, "vec_id", max = 80)
      .select(col("vec_id"), col("__sub")).as[(Long, String)].collect()
    val bySub = grouped.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(bySub.values.forall(_.size <= 80),
      s"group over cap: ${bySub.view.mapValues(_.size).toMap}")
    assert(bySub.keys.forall(!_.contains("/")),
      s"separable geometry should not need the salt backstop: ${bySub.keys}")
    // the bundles stay intact: ids 0-59 share one sub-group, 60-119 the other
    assert(bySub.values.toSet ===
      Set((0L until 60L).toSet, (60L until 120L).toSet),
      "semantic split should rediscover the two direction bundles")
  }

  test("maxClusterSize salt backstop bounds an identical-vector flood and dedup still fires") {
    // 200 IDENTICAL vectors: k-means cannot separate them (every
    // sub-centroid coincides), so the salt round must chunk the group —
    // and because every chunk holds identical vectors, the drop path
    // still collapses each chunk to its minimum id.
    val flood = (0 until 200).map(i => (i.toLong, Seq(1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val assigned = flood
      .select(col("vec_id"), Vectors.toDoubleArray(col("embedding")).as("__v"))
      .withColumn("__nv", Vectors.norm(col("__v")))
      .withColumn("cluster_id", lit(0L))
    val subs = SemanticDedup.boundedSubgroups(assigned, "vec_id", max = 50)
      .groupBy(col("__sub")).count().as[(String, Long)].collect().toMap
    assert(subs.size >= 2, s"salt must split the flood: $subs")
    // xxhash64 chunking balances in expectation; 2x slack absorbs skew
    assert(subs.values.forall(_ <= 100), s"chunk over 2x cap: $subs")
    val flags = SemanticDedup.keepFlags(flood, "vec_id", "embedding",
        centroids = Seq((0L, Seq(1f, 0f, 0f))).toDF("cid", "embedding"),
        cidCol = "cid", threshold = 0.99, maxClusterSize = Some(50))
      .as[(Long, Long, Boolean)].collect()
    val kept = flags.filter(_._3).map(_._1)
    assert(kept.length === subs.size,
      s"each chunk keeps exactly its minimum id: kept=${kept.sorted.toSeq}")
    assert(flags.length === 200)
  }

  test("an oversized all-poison cluster falls to the salt-only backstop, clean clusters untouched") {
    // 120 all-NaN vectors in ONE oversized cluster: the semantic round's
    // training sample is empty (finite-norm filter drops every member), so
    // the round-10 degrade path must route the whole cluster straight to
    // the xxhash64 salt backstop ("p<i>" labels) WITHOUT throwing — one
    // fully-hostile cluster must not kill the corpus-wide job. A clean
    // non-oversized cluster rides along and must keep the "0" label.
    val nanRows = (0 until 120).map(i =>
      (i.toLong, Seq(Double.NaN, 1.0, 0.0), 0L))
    val cleanRows = (120 until 130).map(i =>
      (i.toLong, Seq(0.0, 1.0, 0.0), 1L))
    val assigned = (nanRows ++ cleanRows).toDF("vec_id", "__v", "cluster_id")
      .withColumn("__nv", Vectors.norm(col("__v")))
    val subs = SemanticDedup.boundedSubgroups(assigned, "vec_id", max = 50)
      .select(col("vec_id"), col("__sub")).as[(Long, String)].collect()
    assert(subs.length === 130, "every member keeps exactly one row")
    val poison = subs.filter(_._1 < 120)
    assert(poison.forall(_._2.startsWith("p")),
      s"all-poison cluster must be salt-only: ${poison.map(_._2).distinct.toSeq}")
    val bySub = poison.groupBy(_._2).view.mapValues(_.length)
    assert(bySub.size >= 2, s"salt must actually chunk: ${bySub.toMap}")
    assert(bySub.values.forall(_ <= 100), s"chunk over 2x cap: ${bySub.toMap}")
    assert(subs.filter(_._1 >= 120).forall(_._2 === "0"),
      "clean non-oversized cluster keeps the identity label")
  }

  test("keepFlags end-to-end survives an oversized all-poison cluster") {
    // same scenario through the public API: 200 NaN vectors all assigned
    // to the single centroid's cluster, over the cap. Expect a verdict for
    // every row and no throw; poison rows keep (the pairwise prune join
    // excludes non-finite-norm vectors, so they drop no one and no one
    // drops them).
    val flood = (0 until 200).map(i => (i.toLong, Seq(Float.NaN, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val flags = SemanticDedup.keepFlags(flood, "vec_id", "embedding",
        centroids = Seq((0L, Seq(1f, 0f, 0f))).toDF("cid", "embedding"),
        cidCol = "cid", threshold = 0.9, maxClusterSize = Some(50))
      .as[(Long, Long, Boolean)].collect()
    assert(flags.length === 200)
    assert(flags.forall(_._3), "poison rows participate in no pair, so all keep")
  }

  test("the frozen trained quantizer spreads assignment across all clusters") {
    // the round-8 demo fed the first 32 corpus vectors as centroids; the
    // trained quantizer (seeded spherical k-means, frozen in
    // SemanticCentroids) must actually partition the corpus: every
    // centroid used, no cluster swallowing a corpus-scale share (the
    // clusterSize² prune bound is only meaningful if assignment spreads).
    val emb = graft.ops.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val sizes = SemanticDedup.keepFlags(emb, "vec_id", "embedding",
        centroids = graft.dedup.DedupQueries.semanticCentroidFrame(spark),
        cidCol = "cid", threshold = 0.4)
      .groupBy(col("cluster_id")).count()
      .as[(Long, Long)].collect().toMap
    val n = sizes.values.sum
    assert(sizes.size === graft.sim.SemanticCentroids.values.length,
      s"only ${sizes.size}/${graft.sim.SemanticCentroids.values.length} centroids used")
    // measured max is 27/500 (5.4%); 15% leaves headroom without letting
    // a degenerate quantizer (one mega-cluster) slip through
    assert(sizes.values.max <= n * 0.15,
      s"cluster skew: max=${sizes.values.max} of $n")
  }
}
