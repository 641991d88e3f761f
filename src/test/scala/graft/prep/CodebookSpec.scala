package graft.prep

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class CodebookSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def book(dir: String): Map[String, Long] =
    Codebook.read(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("init ranks by (count desc, category asc); update extends monotonically") {
    val dir = Files.createTempDirectory("codebook").toString + "/b"
    // day 0: b x3, a x2, c x2 -> b=0, a=1 (tie with c broken by name), c=2
    Codebook.init(Seq("b", "a", "c", "b", "c", "a", "b").toDF("v"), "v", dir)
    assert(book(dir) === Map("b" -> 0L, "a" -> 1L, "c" -> 2L))

    // day 1: existing categories ignored; new ones ranked among themselves
    val n = Codebook.update(spark, dir,
      Seq("a", "z", "y", "z", "b").toDF("v"), "v")
    assert(n === 2)
    assert(book(dir) === Map("b" -> 0L, "a" -> 1L, "c" -> 2L,
      "z" -> 3L, "y" -> 4L))
  }

  test("stability: update never rewrites an existing id or file") {
    val dir = Files.createTempDirectory("codebook_stab").toString + "/b"
    Codebook.init(Seq("p", "q").toDF("v"), "v", dir)
    def files(p: String) = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(p)).filter(_.getName.endsWith(".parquet"))
        .map(f => s"${f.getPath}@${f.lastModified}@${f.length}").toSet
    }
    val before = files(dir)
    val b0 = book(dir)
    Codebook.update(spark, dir, Seq("r", "p").toDF("v"), "v")
    assert(files(dir).intersect(before) === before)
    val b1 = book(dir)
    b0.foreach { case (c, id) => assert(b1(c) === id, s"id of $c moved") }
  }
}
