package graft.dedup

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.io.IndexHealth

/** The persistent LSH index must (1) discover exactly the cross pairs the
  * inline banded path finds, (2) append without rewriting any existing
  * index file (frozen hash parameters), and (3) keep appended docs
  * probe-visible — the properties that make it a standing corpus index
  * instead of a per-run rehash.
  */
class LshIndexSpec extends AnyFunSuite with SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private lazy val docs = graft.ops.Tables.documents(spark, d)

  // standing corpus = even ids; nightly batch = odd ids
  private lazy val corpus = docs.filter(col("doc_id") % 2 === 0)
  private lazy val batch = docs.filter(col("doc_id") % 2 === 1)

  private lazy val dir = {
    val t = Files.createTempDirectory("lsh_index").toString + "/idx"
    LshIndex.build(corpus, "doc_id", "text", t)
    t
  }

  test("probe equals the inline banded path's cross pairs") {
    val fromIndex = LshIndex.probe(spark, dir, batch, "doc_id", "text",
      threshold = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // inline one-shot over the union, restricted to (even, odd) pairs —
    // same hash family, so the index path must find exactly these
    val inline = Dedup.minhashPairsExact(docs, "doc_id", "text",
      shingleN = 2, numHashes = 64, bands = 16, threshold = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (a, b, j) =>
        if (a % 2 == 0 && b % 2 == 1) Some((a, b, j))
        else if (a % 2 == 1 && b % 2 == 0) Some((b, a, j))
        else None
      }.toSet
    assert(fromIndex === inline)
    assert(fromIndex.nonEmpty, "fixture produced no cross pairs — vacuous")
    // the declarative lint twin computes the same pairs
    val unmaterialized = LshIndex.probe(spark, dir, batch, "doc_id", "text",
      threshold = 0.3, materialize = false).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(unmaterialized === fromIndex)
  }

  test("a small probe pushes its band hashes into the postings scan") {
    val small = batch.limit(20)
    val plan = LshIndex.probe(spark, dir, small, "doc_id", "text", 0.3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(band_hash"),
      s"coarse band-hash IN must push into the postings scan:\n$plan")
  }

  test("append: frozen params, no rewrite of existing files, visibility") {
    val t = Files.createTempDirectory("lsh_append").toString + "/idx"
    val third = docs.filter(col("doc_id") % 4 === 1)
    LshIndex.build(corpus, "doc_id", "text", t)
    def files(p: String) = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(p)).filter(_.getName.endsWith(".parquet"))
        .map(f => s"${f.getPath}@${f.lastModified}@${f.length}").toSet
    }
    val before = files(s"$t/postings") ++ files(s"$t/docs")
    val n = LshIndex.append(spark, t, third, "doc_id", "text")
    assert(n > 0 && n <= third.count())
    // index maintenance is append-only: every pre-existing posting and
    // doc file byte-identical (the DV no-rewrite doctrine)
    assert((files(s"$t/postings") ++ files(s"$t/docs")).intersect(before) === before)

    // one-shot equivalence: an index built in a single pass over
    // corpus + appended third answers a probe identically
    val t2 = Files.createTempDirectory("lsh_oneshot").toString + "/idx"
    LshIndex.build(corpus.unionByName(third), "doc_id", "text", t2)
    val probeSet = docs.filter(col("doc_id") % 4 === 3)
    def res(p: String) = LshIndex.probe(spark, p, probeSet, "doc_id", "text",
      threshold = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaAppend = res(t)
    assert(viaAppend === res(t2))

    // visibility: appended (%4==1) docs surface as index-side partners
    assert(viaAppend.exists(_._1 % 4 == 1),
      s"no appended doc surfaced among ${viaAppend.size} pairs")
  }

  test("delete: tombstoned docs leave probe results; compact folds them") {
    import spark.implicits._
    val t = Files.createTempDirectory("lsh_del").toString + "/idx"
    LshIndex.build(corpus, "doc_id", "text", t)
    val probeSet = batch
    val full = LshIndex.probe(spark, t, probeSet, "doc_id", "text", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.nonEmpty, "fixture produced no pairs — vacuous")
    val victim = full.head._1
    IndexHealth.delete(spark, t, Seq(victim).toDF("doc_id"), "doc_id")
    val after = LshIndex.probe(spark, t, probeSet, "doc_id", "text", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after === full.filterNot(_._1 == victim))
    val (_, folded) = LshIndex.compact(spark, t)
    assert(folded === 1)
    assert(!new java.io.File(s"$t/tombstones").exists())
    assert(LshIndex.probe(spark, t, probeSet, "doc_id", "text", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === after)
  }

  test("maintain: spine-conditioned dead ratio; acts over the bar; " +
      "unknown-id deletes don't count") {
    import spark.implicits._
    val t = Files.createTempDirectory("lsh_mnt").toString + "/idx"
    LshIndex.build(docs, "doc_id", "text", t)
    val spineN = spark.read.parquet(s"$t/docs").count()

    // delete a set of ids that do NOT exist in the index: the dead
    // ratio must stay 0 (a tombstone nobody stores costs nothing at
    // probe time), even though the sidecar is non-empty
    IndexHealth.delete(spark, t, (1000000L to 1000050L).toSeq.toDF("doc_id"), "doc_id")
    val r0 = LshIndex.maintain(spark, t).collect()(0)
    assert(r0.getAs[Double]("dead_ratio") === 0.0)
    assert(r0.getAs[String]("action") === "none")

    // tombstone enough real docs to cross the bar; folded counts the
    // whole sidecar (including the unknown ids), survivors the spine
    val dead = docs.filter(col("doc_id") % 11 === 0 || col("doc_id") % 7 === 0)
      .select("doc_id")
    IndexHealth.delete(spark, t, dead, "doc_id")
    val deadInSpine = spark.read.parquet(s"$t/docs")
      .join(dead.withColumnRenamed("doc_id", "id"), Seq("id"), "left_semi")
      .count()
    val r1 = LshIndex.maintain(spark, t).collect()(0)
    assert(r1.getAs[String]("action") === "compact")
    assert(r1.getAs[Double]("dead_ratio") ===
      math.rint(deadInSpine.toDouble / spineN * 1e6) / 1e6)
    assert(r1.getAs[Long]("survivors") === spineN - deadInSpine)
    assert(r1.getAs[Long]("folded") === dead.count() + 51L)
    assert(!new java.io.File(s"$t/tombstones").exists())

    // ledger: two seq-ordered rows; a third call observes the floor
    val r2 = LshIndex.maintain(spark, t).collect()(0)
    assert(r2.getAs[String]("action") === "none")
    assert(IndexHealth.tombstoneMaintenanceLog(spark, t).collect()
      .map(r => (r.getAs[Long]("seq"), r.getAs[String]("action"))).toSeq ===
      Seq((0L, "none"), (1L, "compact"), (2L, "none")))
  }

  test("compact is crash-safe: no _ready rolls back, _ready completes, " +
      "writers refuse a crashed staging; maintain heals first") {
    import spark.implicits._
    val t = Files.createTempDirectory("lsh_cswap").toString + "/idx"
    LshIndex.build(corpus, "doc_id", "text", t)
    def res(p: String) = LshIndex.probe(spark, p, batch, "doc_id", "text", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val victims = res(t).map(_._1).toSeq.sorted.take(3).toDF("doc_id")
    IndexHealth.delete(spark, t, victims, "doc_id")
    val want = res(t)
    assert(want.nonEmpty, "fixture produced no pairs — vacuous")
    val swap = IndexHealth.tombstoneSwap(t)

    // crash BEFORE the _ready marker: writers refuse, recovery rolls
    // back, probes unchanged, sidecar still unfolded
    spark.read.parquet(s"$t/postings")
      .write.parquet(s"$t/_compact_staging/postings")
    intercept[IllegalArgumentException] {
      LshIndex.append(spark, t, batch.limit(3), "doc_id", "text")
    }
    intercept[IllegalArgumentException] {
      IndexHealth.delete(spark, t, victims, "doc_id")
    }
    assert(IndexHealth.recover(spark, swap) === "rolled_back")
    assert(res(t) === want)
    assert(new java.io.File(s"$t/tombstones").exists())

    // crash AFTER _ready: recovery completes the fold, equal to a clean
    // compact of the same state
    val tomb = spark.read.parquet(s"$t/tombstones")
    Seq("postings", "docs").foreach { f =>
      spark.read.parquet(s"$t/$f").join(tomb, Seq("id"), "left_anti")
        .write.parquet(s"$t/_compact_staging/$f")
    }
    assert(new java.io.File(s"$t/_compact_staging/_ready").createNewFile())
    assert(IndexHealth.recover(spark, swap) === "completed")
    assert(!new java.io.File(s"$t/tombstones").exists())
    assert(!new java.io.File(s"$t/_compact_staging").exists())
    val clean = Files.createTempDirectory("lsh_cswap_clean").toString + "/idx"
    LshIndex.build(corpus, "doc_id", "text", clean)
    IndexHealth.delete(spark, clean, victims, "doc_id")
    LshIndex.compact(spark, clean)
    assert(res(t) === res(clean))
    assert(res(t) === want)

    // maintain heals a crashed compact before it reads its signals
    assert(new java.io.File(s"$t/_compact_staging/docs").mkdirs())
    assert(LshIndex.maintain(spark, t).collect()(0)
      .getAs[String]("action") === "none")
    assert(!new java.io.File(s"$t/_compact_staging").exists())
    assert(LshIndex.append(spark, t, batch.limit(20), "doc_id", "text") > 0)
  }
}
