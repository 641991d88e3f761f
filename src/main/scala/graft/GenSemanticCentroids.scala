package graft

/** Regenerates `sim/SemanticCentroids.scala` — the frozen k-means
  * quantizer the SemDeDup catalog query and its DuckDB oracle both
  * consume.
  *
  * Production SemDeDup trains its centroids offline (Abbas et al. 2023
  * run k-means over the embedding corpus, then cluster-and-prune); this
  * main IS that offline step for the test corpus: a seeded spherical
  * Lloyd's run (Knn.trainSphericalKmeans — deterministic sample, fixed
  * iterations) whose output is frozen as source literals. Freezing makes
  * the quantizer a constant of the catalog, so both engines replay the
  * identical assignment argmax bit-for-bit — the same technique as the
  * inlined SRP hyperplanes (DedupQueries.cosLshSqlFragments).
  *
  * Centroids are canonicalized (sorted lexicographically by coordinates)
  * before freezing so the emitted ids don't depend on the trainer's
  * internal shuffle order.
  *
  *   tools/run_main.sh graft.GenSemanticCentroids [sfDir] [outFile]
  */
object GenSemanticCentroids {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1)
      .getOrElse("src/main/scala/graft/sim/SemanticCentroids.scala")
    // pinned, not SPARK_GRAFT_CPUS: the output is a committed source file
    val spark = GraftSession.local(8, "graft-gen-semantic-centroids")
    val emb = ops.Tables.embeddings(spark, sfDir)
    val k = 32
    val trained = sim.Knn.trainSphericalKmeans(emb, "embedding", k = k,
      sampleSize = 2000, iters = 10, seed = 42L)
    require(trained.nonEmpty,
      s"no finite-norm embeddings in $sfDir to train centroids on")
    import scala.math.Ordering.Implicits._
    val canonical = trained.sortBy(_.toSeq)
    val rows = canonical.map(c =>
      "    Array(" + c.map(_.toString).mkString(", ") + ")")
      .mkString(",\n")
    val src =
      s"""package graft.sim
         |
         |/** GENERATED by graft.GenSemanticCentroids — do not edit by hand.
         |  *
         |  * k=$k spherical k-means centroids for the SemDeDup catalog
         |  * recipe: trained offline on $sfDir embeddings (seeded 2000-row
         |  * sample, 10 Lloyd iterations, seed 42, unit-normalized inputs),
         |  * canonicalized by coordinate sort, frozen as shortest-round-trip
         |  * double literals. The DuckDB oracle inlines the SAME literals, so
         |  * assignment argmax and the in-cluster prune replay bit-for-bit
         |  * on both engines (the frozen-constant technique proven by the
         |  * SRP hyperplane oracles).
         |  */
         |object SemanticCentroids {
         |  val values: Array[Array[Double]] = Array(
         |$rows
         |  )
         |}
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      src.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[gen] wrote $out (k=$k, dim=${canonical.head.length})")
    spark.stop()
  }
}
