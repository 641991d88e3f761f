package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Merge-on-read contracts the oracled q_merge_on_read can't see: the
  * FILESYSTEM behavior (a delete writes only the sidecar, data files stay
  * byte-identical; an upsert appends, never rewrites) and the commit
  * protocol.
  */
class DeletionVectorsSpec extends AnyFunSuite with SparkSpec {

  private def fileSet(dir: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => s"${f.getPath}@${f.lastModified}@${f.length}").toSet
  }

  private def asMap(df: DataFrame): Map[Long, String] =
    df.collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap

  /** An upsert batch: its rows land as a new sequence, masking their keys below it. */
  private def upsert(dir: String, rows: DataFrame): Long =
    DeletionVectors.appendBatch(spark, dir, rows, rows.select(col("k")), "k")

  private def mkDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toFile.getAbsolutePath + "/t"

  test("delete batch writes ONLY the sidecar; data files byte-identical; read subtracts") {
    import spark.implicits._
    val dir = mkDir("dv-del")
    DeletionVectors.initTable(
      (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v"), dir)
    val dataBefore = fileSet(s"$dir/seq=0")

    val nDel = DeletionVectors.deleteKeys(spark, dir,
      Seq(3L, 7L, 7L, 40L).toDF("k"), "k")
    assert(nDel === 3) // batch deduped

    // every data file is byte-for-byte the one written at init — a MoR
    // delete never opens a data file, let alone rewrites one
    assert(fileSet(s"$dir/seq=0") === dataBefore)
    assert(new java.io.File(s"$dir/_dv").isDirectory)

    val after = asMap(DeletionVectors.read(spark, dir, "k"))
    assert(after === (1L to 50L).filterNot(Set(3L, 7L, 40L))
      .map(i => i -> s"v$i").toMap)
  }

  test("upsert batch appends a new sequence + sidecar; older files untouched; MoR == COW") {
    import spark.implicits._
    val dir = mkDir("dv-ups")
    val base = (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v")
    DeletionVectors.initTable(base, dir)
    val seq0Before = fileSet(s"$dir/seq=0")

    val batch = Seq((4L, "V4"), (900L, "V900")).toDF("k", "v")
    val n = upsert(dir, batch)
    assert(n === 1)
    assert(fileSet(s"$dir/seq=0") === seq0Before)
    assert(new java.io.File(s"$dir/seq=1").isDirectory)

    val mor = asMap(DeletionVectors.read(spark, dir, "k"))
    val cow = asMap(MergeOps.upsert(base, batch, "k"))
    assert(mor === cow)

    // a later delete masks across sequences (max-below aggregation):
    // deleting k=4 kills the seq-1 version too
    DeletionVectors.deleteKeys(spark, dir, Seq(4L).toDF("k"), "k")
    val after = asMap(DeletionVectors.read(spark, dir, "k"))
    assert(after === cow - 4L)
  }

  test("position delete writes ONLY the _pdv sidecar; exact ordinals subtracted") {
    import spark.implicits._
    val dir = mkDir("dv-pos")
    DeletionVectors.initTable(
      (1L to 60L).map(i => (i, s"v$i")).toDF("k", "v"), dir)
    val dataBefore = fileSet(s"$dir/seq=0")

    // positions straight from the scan's own metadata — the keyless
    // erasure case: "kill rows 0 and 2 of whichever file holds k=10/12"
    val victims = spark.read.parquet(dir)
      .withColumn("file_path", col("_metadata.file_path"))
      .withColumn("row_index", col("_metadata.row_index"))
      .filter(col("k").isin(10L, 12L, 44L))
      .select(col("file_path"), col("row_index"), col("k"))
    val expectGone = victims.select("k").collect().map(_.getLong(0)).toSet
    val nDel = DeletionVectors.deletePositions(spark, dir,
      victims.select("file_path", "row_index"))
    assert(nDel === 3)

    // byte-identical data files, new _pdv sidecar only
    assert(fileSet(s"$dir/seq=0") === dataBefore)
    assert(new java.io.File(s"$dir/_pdv").isDirectory)
    assert(!new java.io.File(s"$dir/_dv").exists())

    val after = asMap(DeletionVectors.read(spark, dir, "k"))
    assert(after === (1L to 60L).filterNot(expectGone)
      .map(i => i -> s"v$i").toMap)
  }

  test("position and equality deletes compose; appends keep old ordinals valid") {
    import spark.implicits._
    val dir = mkDir("dv-pos-comp")
    DeletionVectors.initTable(
      (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v"), dir)
    // position-delete k=7's row, then equality-delete k=20
    val pos7 = spark.read.parquet(dir)
      .withColumn("file_path", col("_metadata.file_path"))
      .withColumn("row_index", col("_metadata.row_index"))
      .filter(col("k") === 7L).select("file_path", "row_index")
    DeletionVectors.deletePositions(spark, dir, pos7)
    DeletionVectors.deleteKeys(spark, dir, Seq(20L).toDF("k"), "k")
    // an APPEND after the position delete: new files get fresh ordinals,
    // previously-recorded positions still name the same physical rows
    upsert(dir, Seq((41L, "v41"), (20L, "V20")).toDF("k", "v"))

    val expected = ((1L to 41L).filterNot(Set(7L))
      .map(i => i -> s"v$i").toMap) + (20L -> "V20")
    assert(asMap(DeletionVectors.read(spark, dir, "k")) === expected)
  }

  test("read-side plan: DV mask broadcasts, base never shuffles") {
    import spark.implicits._
    val dir = mkDir("dv-plan")
    DeletionVectors.initTable(
      (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"), dir)
    DeletionVectors.deleteKeys(spark, dir, Seq(2L, 3L).toDF("k"), "k")
    val plan = DeletionVectors.read(spark, dir, "k")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"DV mask should broadcast against the base scan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"base must not shuffle for the DV subtraction:\n$plan")
  }

  test("commit protocol: unsealed batches invisible; CAS serializes writers") {
    import spark.implicits._
    val dir = mkDir("dv-commit")
    DeletionVectors.initTable(
      (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v"), dir)
    val clean = asMap(DeletionVectors.read(spark, dir, "k"))

    // a "crashed writer": reserved an id, wrote data AND sidecar, died
    // before sealing — readers must see none of it
    val orphan = DeletionVectors.allocateCommit(spark, dir)
    Seq((5L, "CRASH")).toDF("k", "v")
      .write.parquet(s"$dir/seq=$orphan")
    Seq((5L, orphan)).toDF("k", "below_seq")
      .write.parquet(s"$dir/_dv/b=$orphan")
    assert(asMap(DeletionVectors.read(spark, dir, "k")) === clean,
      "half-landed batch leaked into the read")

    // the crashed reservation is never reused: the next writer allocates
    // PAST it, and its sealed batch is fully visible
    val n2 = upsert(dir, Seq((7L, "V7")).toDF("k", "v"))
    assert(n2 > orphan)
    assert(asMap(DeletionVectors.read(spark, dir, "k")) ===
      clean ++ Map(7L -> "V7"))

    // two racing allocations get distinct ids (the create-exclusive CAS)
    val a = DeletionVectors.allocateCommit(spark, dir)
    val b = DeletionVectors.allocateCommit(spark, dir)
    assert(a !== b)
  }

  test("change feed: asOf(from) plus net changes reproduces asOf(to)") {
    import spark.implicits._
    val dir = mkDir("dv-feed")
    // states(n) = the table just after commit n sealed, read live
    DeletionVectors.initTable(
      (1L to 20L).map(i => (i, s"v$i")).toDF("k", "v"), dir)
    val s0 = asMap(DeletionVectors.read(spark, dir, "k"))
    assert(upsert(dir, Seq((3L, "V3"), (21L, "V21")).toDF("k", "v")) === 1L)
    val s1 = asMap(DeletionVectors.read(spark, dir, "k"))
    DeletionVectors.deleteKeys(spark, dir, Seq(5L, 3L).toDF("k"), "k") // 2
    val s2 = asMap(DeletionVectors.read(spark, dir, "k"))
    assert(upsert(dir, Seq((5L, "V5b"), (3L, "V3b")).toDF("k", "v")) === 3L)
    val s3 = asMap(DeletionVectors.read(spark, dir, "k"))
    val states = Map(0L -> s0, 1L -> s1, 2L -> s2, 3L -> s3)

    // the feed over the table's storage: every sealed sequence directory
    // (with its seq partition column) against the sealed sidecar
    val data = spark.read.option("basePath", dir).parquet(
      DeletionVectors.committedIds(spark, dir).map(n => s"$dir/seq=$n")
        .filter(p => new java.io.File(p).exists): _*)
    val dv = DeletionVectors.readDv(spark, dir, "k")
    def feed(from: Long, to: Long) =
      DeletionVectors.changesOf(data, dv, "k", from, to).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
          r.getAs[String]("_change")))
    def applyFeed(state: Map[Long, String], from: Long, to: Long) = {
      val f = feed(from, to)
      val afterDel = f.filter(_._3 == "delete")
        .foldLeft(state) { case (s, (k, v, _)) =>
          assert(s.get(k).contains(v), s"delete image mismatch for $k")
          s - k
        }
      f.filter(_._3 == "insert")
        .foldLeft(afterDel) { case (s, (k, v, _)) => s + (k -> v) }
    }
    // every window: state(from) ⊕ feed(from,to) == state(to)
    for (from <- 0L to 2L; to <- (from + 1) to 3L)
      assert(applyFeed(states(from), from, to) === states(to), s"$from->$to")
    // net semantics: key 3 deleted at 2 and reinserted at 3 appears in
    // the 1->3 window as its delete(V3)+insert(V3b) pair, not a triple
    val w13 = feed(1L, 3L).filter(_._1 == 3L).map(t => (t._2, t._3)).toSet
    assert(w13 === Set(("V3", "delete"), ("V3b", "insert")))
  }

  test("additive schema evolution: a later batch's new column survives the read") {
    import spark.implicits._
    val dir = mkDir("dv-schema")
    DeletionVectors.initTable(
      (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v"), dir)
    // the upsert batch carries a column the snapshot lacked
    upsert(dir, Seq((3L, "V3", "en"), (11L, "V11", "de")).toDF("k", "v", "lang"))
    val rows = DeletionVectors.read(spark, dir, "k").collect()
      .map(r => r.getAs[Long]("k") ->
        ((r.getAs[String]("v"), Option(r.getAs[String]("lang"))))).toMap
    assert(rows(3L) === (("V3", Some("en"))))
    assert(rows(11L) === (("V11", Some("de"))))
    assert(rows(5L) === (("v5", None))) // old rows read null in the new column
    assert(rows.size === 11)
  }

  test("two writers racing full append batches both land, with distinct commits") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = mkDir("dv-race")
    DeletionVectors.initTable(
      (1L to 30L).map(i => (i, s"v$i")).toDF("k", "v"), dir)
    val gate = new java.util.concurrent.CountDownLatch(1)
    def writer(key: Long, v: String): Future[Long] = Future {
      gate.await()
      upsert(dir, Seq((key, v)).toDF("k", "v"))
    }
    val fa = writer(3L, "A")
    val fb = writer(4L, "B")
    gate.countDown()
    val (na, nb) = (Await.result(fa, 120.seconds), Await.result(fb, 120.seconds))
    assert(na !== nb, "racing writers must reserve distinct commits")
    // both batches fully visible, nothing corrupted
    val after = asMap(DeletionVectors.read(spark, dir, "k"))
    assert(after === (1L to 30L).map(i => i -> s"v$i").toMap ++
      Map(3L -> "A", 4L -> "B"))
  }
}
