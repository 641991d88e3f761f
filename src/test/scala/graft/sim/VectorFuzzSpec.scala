package graft.sim

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Poison-row fuzzing for the vector operators — same contract as the
  * text/codec fuzz suites: a 100 TB embedding table WILL contain nulls,
  * truncated vectors, NaN/Inf elements, and zero vectors, and under ANSI
  * mode one out-of-bounds element_at fails the whole task.
  */
class VectorFuzzSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val hostile = Seq(
    (0L, Seq(1f, 2f, 3f, 4f)),            // well-formed
    (1L, null.asInstanceOf[Seq[Float]]),  // null vector
    (2L, Seq.empty[Float]),               // empty vector
    (3L, Seq(1f)),                        // truncated
    (4L, Seq(1f, 2f, 3f, 4f, 5f, 6f)),    // too long
    (5L, Seq(0f, 0f, 0f, 0f)),            // zero vector (norm 0)
    (6L, Seq(Float.NaN, 1f, 2f, 3f)),     // NaN element
    (7L, Seq(Float.PositiveInfinity, 1f, 2f, 3f)), // Inf element
    (8L, Seq(4f, 3f, 2f, 1f))             // second well-formed row
  ).toDF("vec_id", "embedding")

  test("quantizeInt8 drops malformed rows instead of throwing under ANSI") {
    val out = VectorQuant.quantizeInt8(hostile, "vec_id", "embedding", dim = 4)
      .select("vec_id").as[Long].collect().toSet
    // null/empty/truncated/too-long dropped, and so are NaN/Inf rows: one
    // non-finite element would make that dimension's GLOBAL min/max
    // NaN/Inf, corrupting every clean row's code for the dimension
    assert(out === Set(0L, 5L, 8L))
  }

  test("poison rows do not perturb clean rows' codes") {
    // row 0's codes must be identical whether or not the NaN/Inf rows are
    // present — i.e. the finite-norm guard runs BEFORE the stats aggregate
    def codesOf(df: org.apache.spark.sql.DataFrame): Map[Long, (String, Double)] =
      VectorQuant.quantizeInt8(df, "vec_id", "embedding", dim = 4)
        .as[(Long, String, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    val withPoison = codesOf(hostile)
    val cleanOnly = codesOf(hostile.filter(col("vec_id").isin(0L, 5L, 8L)))
    assert(withPoison === cleanOnly)
  }

  test("semantic dedup survives hostile vectors without throwing") {
    val flags = SemanticDedup.keepFlags(hostile, "vec_id", "embedding",
        centroids = hostile.filter(col("vec_id") === 0), cidCol = "vec_id",
        threshold = 0.9)
      .as[(Long, Long, Boolean)].collect()
    // every row gets a verdict — degenerate vectors fall back to sim 0
    // (the when(denom > 0) guard) and keep
    assert(flags.length === hostile.count())
  }

  test("cosine arithmetic degrades to 0 on zero-norm and NaN vectors") {
    def cosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      Vectors.cosineFromNorms(a, b, Vectors.norm(a), Vectors.norm(b))
    // zero vector: denom 0 -> guard branch -> exactly 0, not NaN
    def simOf(ida: Long, idb: Long): Double =
      hostile.filter(col("vec_id") === ida).as("a")
        .crossJoin(hostile.filter(col("vec_id") === idb).as("b"))
        .select(cosine(Vectors.toDoubleArray(col("a.embedding")),
          Vectors.toDoubleArray(col("b.embedding"))).as("sim"))
        .as[Double].head()
    assert(simOf(5L, 5L) === 0.0)
    // NaN/Inf elements escape as NaN sims (Spark and DuckDB both rank
    // NaN above every number, so when(denom > 0) does NOT guard them,
    // and NaN >= threshold is TRUE) — which is why the dedup operators
    // exclude non-finite-norm vectors from their pairwise joins
    assert(simOf(6L, 0L).isNaN)
    assert(simOf(7L, 0L).isNaN)
  }

  test("knn search never surfaces a value-poisoned corpus vector as a neighbor") {
    // a NaN/Inf corpus vector's NaN sim would otherwise rank FIRST in
    // every query's top-k (NaN sorts above every number descending), and a
    // null one would throw. Dim-MISMATCHED vectors are a schema contract
    // (the kernel folds the common prefix, yielding an honest partial
    // sim) — value poison is what the finite-norm guard removes.
    val queries = hostile.filter(col("vec_id") === 0)
    val got = Knn.bruteForceTopK(queries, hostile, "vec_id", "embedding", k = 8)
      .select("neighbor_id").as[Long].collect().toSet
    assert(!got.exists(Set(1L, 6L, 7L)), s"poisoned neighbor in $got")
    assert(got.contains(8L), "honest neighbors still returned")
  }

  test("a fully-poisoned corpus degrades ivfTopK to an empty typed result, not a crash") {
    // null + NaN + Inf rows only: quantizer training has zero finite-norm
    // samples, so trainSphericalKmeans returns NO centroids and ivfTopK
    // must emit an EMPTY frame with the normal output schema (round-10
    // degrade contract) instead of tripping a require inside Lloyd's
    val poison = hostile.filter(col("vec_id").isin(1L, 6L, 7L))
    assert(Knn.trainSphericalKmeans(poison, "embedding", k = 4,
      sampleSize = 100, iters = 5, seed = 1L).isEmpty)
    val degraded = Knn.ivfTopK(
      queries = hostile.filter(col("vec_id") === 0),
      candidates = poison, "vec_id", "embedding", k = 3)
    assert(degraded.count() === 0)
    // schema parity with the normal path — names AND types (ADVICE r10:
    // neighbor_id must derive from candidates in both branches).
    // Nullability is excluded: Spark's own optimizer treats output
    // nullability as advisory (lit(0.0) is non-null, round(sim) nullable)
    val normal = Knn.ivfTopK(
      queries = hostile.filter(col("vec_id") === 0),
      candidates = hostile, "vec_id", "embedding", k = 3)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    assert(shape(degraded) === shape(normal))
  }

  test("binary ANN over a hostile corpus: poison rows dropped, honest neighbors kept") {
    val got = Knn.binaryTopK(hostile.filter(col("vec_id") === 0), hostile,
        "vec_id", "embedding", k = 3, shortlist = 5)
      .select("neighbor_id").as[Long].collect().toSet
    assert(!got.exists(Set(1L, 6L, 7L)), s"poisoned neighbor in $got")
    assert(got.contains(8L), "honest neighbors still returned")
  }

  test("a fully-poisoned corpus degrades ivfBinaryTopK to an empty typed result") {
    // centroid-empty early return fires BEFORE any dim/plane derivation
    // (the dim now comes from the trained centroids), so the binary
    // composition shares ivfTopK's exact degrade contract
    val poison = hostile.filter(col("vec_id").isin(1L, 6L, 7L))
    val degraded = Knn.ivfBinaryTopK(
      queries = hostile.filter(col("vec_id") === 0),
      candidates = poison, "vec_id", "embedding", k = 3)
    assert(degraded.count() === 0)
    val normal = Knn.ivfBinaryTopK(
      queries = hostile.filter(col("vec_id") === 0),
      candidates = hostile, "vec_id", "embedding", k = 3, shortlist = 5)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    assert(shape(degraded) === shape(normal))
  }

  test("quantizer misconfiguration still fails loudly, only true poison degrades") {
    // the degrade path is reserved for a genuinely-empty finite sample; a
    // caller passing a non-positive k/sampleSize is a bug and must throw
    intercept[IllegalArgumentException] {
      Knn.trainSphericalKmeans(hostile, "embedding", k = 0,
        sampleSize = 100, iters = 5, seed = 1L)
    }
    intercept[IllegalArgumentException] {
      Knn.trainSphericalKmeans(hostile, "embedding", k = 4,
        sampleSize = 0, iters = 5, seed = 1L)
    }
  }

  test("a poisoned vector cannot drop its clustermates") {
    // id 7 (Inf) shares cluster 0 with good vectors; NaN >= threshold
    // would mark them all duplicates without the finite-norm guard
    val flags = SemanticDedup.keepFlags(hostile, "vec_id", "embedding",
        centroids = hostile.filter(col("vec_id") === 0), cidCol = "vec_id",
        threshold = 0.99)
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(flags(8L), "good vector dropped by a NaN-sim pair")
    assert(flags(7L), "the poisoned vector itself keeps (it drops no one, no one drops it)")
  }
}
