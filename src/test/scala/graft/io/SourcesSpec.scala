package graft.io

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class SourcesSpec extends AnyFunSuite with SparkSpec {

  test("GraftSession cluster conf covers the scale-critical knobs") {
    val c = graft.GraftSession.clusterConf
    assert(c("spark.sql.adaptive.enabled") === "true")
    assert(c("spark.sql.adaptive.skewJoin.enabled") === "true")
    assert(c.contains("spark.sql.files.maxPartitionBytes"))
  }
}
