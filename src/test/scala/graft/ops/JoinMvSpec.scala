package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Join-view maintenance contracts the oracled q_join_mv can't see: the
  * filesystem half (a maintenance batch appends, never rewrites) and the
  * re-pointed-update edge (new image no longer joins → old view row still
  * dies, with no replacement written).
  */
class JoinMvSpec extends AnyFunSuite with SparkSpec {

  private def fileSet(dir: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => s"${f.getPath}@${f.lastModified}@${f.length}").toSet
  }

  private def mkDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toFile.getAbsolutePath + "/t"

  private def asMap(df: DataFrame): Map[Long, (Long, String)] =
    df.collect().map(r => r.getAs[Long]("k") ->
      ((r.getAs[Long]("fk"), r.getAs[String]("seg")))).toMap

  test("CDC batch == COW recompute; untouched view files byte-identical; re-point edge") {
    import spark.implicits._
    val fact = (1L to 40L).map(i => (i, i % 5 + 1)).toDF("k", "fk")
    val dim = (1L to 5L).map(j => (j, s"seg$j")).toDF("fk", "seg")
    val dir = mkDir("joinmv")
    JoinMv.init(fact, dim, "fk", dir)
    val seq0 = fileSet(s"$dir/seq=0")

    // one batch, all three shapes: update k=6 (keeps fk), DELETE k=10,
    // and RE-POINT k=15 to fk=99 (no such dim row — must vanish with no
    // replacement row written)
    val delta = Seq(
      (6L, 1L, "d"), (6L, 3L, "i"),
      (10L, 1L, "d"),
      (15L, 1L, "d"), (15L, 99L, "i")).toDF("k", "fk", "op")
    val (nRows, nMasked) = JoinMv.applyCdc(spark, dir, delta, dim, "k", "fk")
    assert(nRows === 1) // only k=6's new image re-joins
    assert(nMasked === 3)

    // maintenance appended; it never opened a view file
    assert(fileSet(s"$dir/seq=0") === seq0)
    assert(new java.io.File(s"$dir/seq=1").isDirectory)

    val got = asMap(JoinMv.read(spark, dir, "k"))
    val factNew = fact.filter(!col("k").isin(6L, 10L, 15L))
      .unionByName(Seq((6L, 3L), (15L, 99L)).toDF("k", "fk"))
    val cow = asMap(factNew.join(dim, Seq("fk"))
      .select(col("k"), col("fk"), col("seg")))
    assert(got === cow)
    assert(!got.contains(10L) && !got.contains(15L))
    assert(got(6L) === ((3L, "seg3")))
  }

  test("delete-only batch writes an empty sequence + sidecar; view still answers") {
    import spark.implicits._
    val fact = (1L to 10L).map(i => (i, i % 2 + 1)).toDF("k", "fk")
    val dim = Seq((1L, "a"), (2L, "b")).toDF("fk", "seg")
    val dir = mkDir("joinmv-del")
    JoinMv.init(fact, dim, "fk", dir)
    val delta = Seq((4L, 1L, "d"), (7L, 2L, "d")).toDF("k", "fk", "op")
    val (nRows, nMasked) = JoinMv.applyCdc(spark, dir, delta, dim, "k", "fk")
    assert(nRows === 0 && nMasked === 2)
    val keys = JoinMv.read(spark, dir, "k").select("k")
      .collect().map(_.getLong(0)).toSet
    assert(keys === (1L to 10L).toSet -- Set(4L, 7L))
  }
}
