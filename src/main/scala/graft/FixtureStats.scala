package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Pin the WORKLOAD SHAPE of a testdata generation (round-15 verdict,
  * task 2): the driver regenerates `/root/testdata/sf*` between rounds,
  * and a regen that changes the dedup pair graph's edge count or
  * diameter changes what q_dedup_clusters/q_dedup_keep COST without any
  * code changing — the r15 "flat-box uptick" was unattributable because
  * nothing recorded the old graph's shape. This main prints one JSON
  * line per SF dir with the stats that drive the catalog's
  * data-dependent query costs; the accepted numbers live in FIXTURES.md
  * ("Pinned fixture stats") and a future uptick is adjudicated by
  * rerunning this and diffing, not by guessing.
  *
  * The pair graph here is EXACTLY the one behind q_dedup_clusters /
  * q_dedup_keep: jaccardPairs(documents, n=2, threshold=0.1,
  * blockCols=[lang], maxDocFreq=DedupQueries.jaccardDfCap), so "rounds"
  * is the very hash-min iteration count those queries pay (≈ max
  * component diameter).
  *
  * Usage: runMain graft.FixtureStats <sfDir> [<sfDir> ...]
  */
object FixtureStats {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: FixtureStats <sfDir> [<sfDir> ...]")
    val spark = GraftSession.local(appName = "graft-fixture-stats")
    args.foreach(d => println(statsJson(spark, d)))
    spark.stop()
  }

  def statsJson(spark: SparkSession, d: String): String = {
    import graft.ops.Tables
    def cnt(df: org.apache.spark.sql.DataFrame): Long = df.count()
    val docs = Tables.documents(spark, d)
    val pairs = dedup.Dedup.jaccardPairs(docs, "doc_id", "text",
      blockCols = Seq("lang"), n = 2, threshold = 0.1,
      maxDocFreq = dedup.DedupQueries.jaccardDfCap)
    // driverEdgeCap = 0: force the distributed loop — `rounds` pins the
    // graph's diameter, which the driver union-find shortcut never measures
    val (labels, rounds, nPairs) =
      dedup.Dedup.connectedComponentsStats(pairs, "id_a", "id_b",
        driverEdgeCap = 0L)
    val comp = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_components"),
        coalesce(max(col("sz")), lit(0L)).as("max_component"),
        coalesce(sum(col("sz")), lit(0L)).as("paired_vertices"))
      .head()
    val emb = Tables.embeddings(spark, d)
    val dim = emb.select(size(col("embedding")).as("dim")).head().getInt(0)
    s"""{"sf":"$d","documents":${cnt(docs)},"lineitem":${cnt(Tables.lineitem(spark, d))},""" +
      s""""orders":${cnt(Tables.orders(spark, d))},"events":${cnt(Tables.events(spark, d))},""" +
      s""""embeddings":${cnt(emb)},"embedding_dim":$dim,""" +
      s""""pair_graph":{"edges":$nPairs,"vertices":${comp.getLong(2)},""" +
      s""""components":${comp.getLong(0)},"max_component":${comp.getLong(1)},""" +
      s""""rounds":$rounds}}"""
  }
}
