package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import DedupStreams.{Admission, FpDoc}

class DedupStreamsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._
  implicit private lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val d = "/root/testdata/sf0.001"

  test("batch mode equals exactGroups over the fixture corpus") {
    val docs = graft.ops.Tables.documents(spark, d)
    val fpDocs = docs.select(
      graft.text.TextFunctions.fingerprint(col("text")).as("fp"),
      col("doc_id")).as[FpDoc]
    val stateful = DedupStreams.admitFirst(spark, fpDocs)
      .collect().map(a => (a.fp, a.keep_id, a.dup_cnt)).toSet
    val declarative = graft.dedup.Dedup.exactGroups(docs, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(stateful === declarative)
  }

  test("cross-trigger state: a later copy is rejected, accounting cumulative") {
    val stream = MemoryStream[FpDoc]
    val q = DedupStreams.admitFirst(spark, stream.toDS())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Update).start()
    try {
      stream.addData(FpDoc("aaa", 10), FpDoc("aaa", 12), FpDoc("bbb", 11))
      q.processAllAvailable()
      val t1 = spark.table("dedup_out").as[Admission].collect().toSet
      assert(t1 === Set(Admission("aaa", 10, 2), Admission("bbb", 11, 1)))

      // trigger 2: another copy of aaa with a SMALLER id — the original
      // admission stands (first arrival wins, not global min), count grows
      stream.addData(FpDoc("aaa", 3), FpDoc("ccc", 20))
      q.processAllAvailable()
      val t2 = spark.table("dedup_out").as[Admission].collect()
      val aaaRows = t2.filter(_.fp == "aaa").sortBy(_.dup_cnt)
      assert(aaaRows.map(a => (a.keep_id, a.dup_cnt)).toSeq ===
        Seq((10L, 2L), (10L, 3L)))
      assert(t2.count(_.fp == "ccc") === 1)
    } finally q.stop()
  }
}
