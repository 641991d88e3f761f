package graft.text

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.io.IndexHealth

/** The persistent inverted index must (1) score exactly like the inline
  * relational BM25 (same math, same rounding), (2) append without
  * rewriting any existing index file, and (3) score an appended corpus
  * bit-for-bit like a rebuilt one — query-time statistics are what make
  * incremental lexical indexing exact, not approximate.
  */
class TextIndexSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  private lazy val docs = graft.ops.Tables.documents(spark, d)
  private lazy val terms = Seq("spark", "window", "join").toDF("term")

  private lazy val dir = {
    val t = Files.createTempDirectory("text_index").toString + "/idx"
    TextIndex.build(docs, "doc_id", "text", t)
    t
  }

  private def scores(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("scoreAll from the stored index equals inline bm25Relation") {
    val fromIndex = scores(TextIndex.scoreAll(spark, dir, terms))
    val inline = scores(TextRanking.bm25Relation(docs, "doc_id", "text",
      terms = terms, termCol = "term"))
    assert(fromIndex === inline)
    assert(fromIndex.values.exists(_ > 0), "vacuous: no term matched")
  }

  test("the term filter reaches the postings scan as a pushed IN") {
    val plan = TextIndex.scoreAll(spark, dir, terms)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      s"term IN(...) must push into the postings scan:\n$plan")
  }

  test("append: no rewrite; appended corpus scores bit-for-bit like rebuilt") {
    val t = Files.createTempDirectory("text_append").toString + "/idx"
    val evens = docs.filter(col("doc_id") % 2 === 0)
    val odds = docs.filter(col("doc_id") % 2 === 1)
    TextIndex.build(evens, "doc_id", "text", t)
    def files(p: String) = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(p)).filter(_.getName.endsWith(".parquet"))
        .map(f => s"${f.getPath}@${f.lastModified}@${f.length}").toSet
    }
    val before = files(t)
    val n = TextIndex.append(spark, t, odds, "doc_id", "text")
    assert(n === odds.count())
    assert(files(t).intersect(before) === before, "existing index files rewritten")

    // df/N/avgdl are query-time: the appended index scores EXACTLY like
    // the one-shot index over the full corpus
    assert(scores(TextIndex.scoreAll(spark, t, terms)) ===
      scores(TextIndex.scoreAll(spark, dir, terms)))
  }

  test("delete: tombstones only; scores equal an index never holding the docs") {
    val t = Files.createTempDirectory("text_del").toString + "/idx"
    TextIndex.build(docs, "doc_id", "text", t)
    def files(p: String) = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(p)).filter(_.getName.endsWith(".parquet"))
        .map(f => s"${f.getPath}@${f.lastModified}@${f.length}").toSet
    }
    val before = files(s"$t/postings") ++ files(s"$t/docs")
    val nDel = IndexHealth.delete(spark, t,
      docs.filter(col("doc_id") % 7 === 0).select("doc_id"), "doc_id")
    assert(nDel > 0)
    // delete wrote ONLY the tombstone sidecar
    assert((files(s"$t/postings") ++ files(s"$t/docs")) === before)

    // stats recompute over survivors: scores == an index built WITHOUT
    // the deleted docs, bit-for-bit (N, avgdl, df all shift)
    val t2 = Files.createTempDirectory("text_del_truth").toString + "/idx"
    TextIndex.build(docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text", t2)
    val got = scores(TextIndex.scoreAll(spark, t, terms))
    assert(got === scores(TextIndex.scoreAll(spark, t2, terms)))
    assert(!got.keySet.exists(_ % 7 == 0))

    // compact folds: sidecar gone, same scores
    val (nLive, nFolded) = TextIndex.compact(spark, t)
    assert(nFolded === nDel && nLive === got.size)
    assert(!new java.io.File(s"$t/tombstones").exists())
    assert(scores(TextIndex.scoreAll(spark, t, terms)) === got)
  }

  test("maintain: no-op under the bars, compacts over them, ledger audits both") {
    val t = Files.createTempDirectory("text_mnt").toString + "/idx"
    TextIndex.build(docs, "doc_id", "text", t)
    val n = docs.count()

    // round 1: %11 tombstoned — dead ratio ~0.091, under the 0.2 bar
    IndexHealth.delete(spark, t,
      docs.filter(col("doc_id") % 11 === 0).select("doc_id"), "doc_id")
    val r1 = TextIndex.maintain(spark, t).collect()(0)
    assert(r1.getAs[String]("action") === "none")
    assert(!r1.getAs[Boolean]("unhealthy"))
    assert(r1.getAs[Double]("dead_ratio") < 0.2)
    assert(r1.isNullAt(r1.fieldIndex("survivors")))
    // a no-op maintain touched nothing: the sidecar survives
    assert(new java.io.File(s"$t/tombstones").exists())

    // round 2: %7 added — the union crosses the bar, maintain compacts
    IndexHealth.delete(spark, t,
      docs.filter(col("doc_id") % 7 === 0).select("doc_id"), "doc_id")
    val r2 = TextIndex.maintain(spark, t).collect()(0)
    assert(r2.getAs[String]("action") === "compact")
    assert(r2.getAs[Double]("dead_ratio") >= 0.2)
    val dead = docs.filter(col("doc_id") % 11 === 0 || col("doc_id") % 7 === 0)
      .count()
    assert(r2.getAs[Long]("survivors") === n - dead)
    assert(r2.getAs[Long]("folded") === dead)
    assert(!new java.io.File(s"$t/tombstones").exists())
    // acting resets the signals to their floor: a third call is a no-op
    val r3 = TextIndex.maintain(spark, t).collect()(0)
    assert(r3.getAs[String]("action") === "none")
    assert(r3.getAs[Double]("dead_ratio") === 0.0)

    // the ledger is the audit trail: three seq-ordered rows
    val log = IndexHealth.tombstoneMaintenanceLog(spark, t).collect()
    assert(log.map(_.getAs[Long]("seq")).toSeq === Seq(0L, 1L, 2L))
    assert(log.map(_.getAs[String]("action")).toSeq ===
      Seq("none", "compact", "none"))

    // post-compact the index still scores exactly (the move preserved
    // the survivors)
    val truth = Files.createTempDirectory("text_mnt_truth").toString + "/idx"
    TextIndex.build(docs.filter(col("doc_id") % 11 =!= 0 && col("doc_id") % 7 =!= 0),
      "doc_id", "text", truth)
    assert(scores(TextIndex.scoreAll(spark, t, terms)) ===
      scores(TextIndex.scoreAll(spark, truth, terms)))
  }

  test("maintain: the file-fragmentation signal alone triggers a compact") {
    val t = Files.createTempDirectory("text_frag").toString + "/idx"
    val half = docs.filter(col("doc_id") % 2 === 0)
    TextIndex.build(half, "doc_id", "text", t)
    TextIndex.append(spark, t, docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text")
    def files() = IndexHealth.dataFileCount(spark, s"$t/postings")
    val before = files()
    // bar below the current count: no tombstones at all, still compacts
    val r = TextIndex.maintain(spark, t,
      IndexHealth.MaintenancePolicy(filesBar = before - 1)).collect()(0)
    assert(r.getAs[String]("action") === "compact")
    assert(r.getAs[Double]("dead_ratio") === 0.0)
    assert(r.getAs[Int]("postings_files") === before)
    assert(r.getAs[Int]("post_files") < before,
      s"compact must re-pack: $before -> ${r.getAs[Int]("post_files")}")
  }

  test("compact is crash-safe: no _ready rolls back, _ready completes, " +
      "writers refuse a crashed staging") {
    val t = Files.createTempDirectory("text_cswap").toString + "/idx"
    TextIndex.build(docs, "doc_id", "text", t)
    val victims = docs.filter(col("doc_id") % 7 === 0).select("doc_id")
    IndexHealth.delete(spark, t, victims, "doc_id")
    val want = scores(TextIndex.scoreAll(spark, t, terms))
    val swap = IndexHealth.tombstoneSwap(t)

    // crash BEFORE the _ready marker: a half-written staging. Both
    // writers refuse (a write landing now would be folded away by a
    // later swap); recovery rolls back and the live index is untouched.
    spark.read.parquet(s"$t/docs").write.parquet(s"$t/_compact_staging/docs")
    intercept[IllegalArgumentException] {
      TextIndex.append(spark, t, docs.limit(3), "doc_id", "text")
    }
    intercept[IllegalArgumentException] {
      IndexHealth.delete(spark, t, victims.limit(1), "doc_id")
    }
    assert(IndexHealth.recover(spark, swap) === "rolled_back")
    assert(IndexHealth.recover(spark, swap) === "none")
    assert(scores(TextIndex.scoreAll(spark, t, terms)) === want)
    assert(new java.io.File(s"$t/tombstones").exists(),
      "rollback must leave the sidecar unfolded")

    // crash AFTER _ready, mid-swap (postings already renamed): recovery
    // completes, the sidecar is cleared, and the index equals a clean
    // compact of the same state
    val tomb = spark.read.parquet(s"$t/tombstones")
    Seq("postings", "docs").foreach { f =>
      spark.read.parquet(s"$t/$f").join(tomb, Seq("id"), "left_anti")
        .write.parquet(s"$t/_compact_staging/$f")
    }
    assert(new java.io.File(s"$t/_compact_staging/_ready").createNewFile())
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(s"$t/postings"))
    assert(new java.io.File(s"$t/_compact_staging/postings")
      .renameTo(new java.io.File(s"$t/postings")))
    assert(IndexHealth.recover(spark, swap) === "completed")
    assert(!new java.io.File(s"$t/tombstones").exists())
    assert(!new java.io.File(s"$t/_compact_staging").exists())
    val clean = Files.createTempDirectory("text_cswap_clean").toString + "/idx"
    TextIndex.build(docs, "doc_id", "text", clean)
    IndexHealth.delete(spark, clean, victims, "doc_id")
    TextIndex.compact(spark, clean)
    assert(scores(TextIndex.scoreAll(spark, t, terms)) ===
      scores(TextIndex.scoreAll(spark, clean, terms)))
    assert(scores(TextIndex.scoreAll(spark, t, terms)) === want)
    // and the writers accept again
    assert(IndexHealth.delete(spark, t, victims.limit(1), "doc_id") === 1L)
  }
}
