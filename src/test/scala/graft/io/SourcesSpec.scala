package graft.io

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.prep.Preprocessing
import graft.split.Splits

class SourcesSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val df = (1 to 100).map(i =>
    (i.toLong, s"name_$i", i % 4, i * 1.5)).toDF("id", "name", "grp", "score")

  test("withRowId: unique ids, reuses an existing id column by cast") {
    val withId = Preprocessing.withRowId(df.drop("id"))
    assert(withId.select("row_id").distinct().count() === 100)
    val reused = Preprocessing.withRowId(
      df.withColumnRenamed("id", "row_id"), "row_id")
    assert(reused.schema("row_id").dataType.typeName === "long")
    assert(reused.select(max(col("row_id"))).head().getLong(0) === 100L)
  }

  test("T1 random split: disjoint halves that union to the input") {
    val (tr, te) = Splits.randomSplit(df, 0.7, seed = 11)
    assert(tr.count() + te.count() === 100)
    assert(tr.join(te, Seq("id"), "inner").count() === 0)
    // same seed reproduces
    val (tr2, _) = Splits.randomSplit(df, 0.7, seed = 11)
    assert(tr2.count() === tr.count())
  }

  test("GraftSession cluster conf covers the scale-critical knobs") {
    val c = graft.GraftSession.clusterConf
    assert(c("spark.sql.adaptive.enabled") === "true")
    assert(c("spark.sql.adaptive.skewJoin.enabled") === "true")
    assert(c.contains("spark.sql.files.maxPartitionBytes"))
  }
}
