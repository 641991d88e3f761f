package graft.io

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Ingestion specs, ported in intent from the reference's
  * code/tests/test_data_ingestion.py:44-119 (schema arity/types, sampling
  * bounds, empty-data raise) against the in-repo ECG5000_TRAIN.tsv.
  */
class IngestionSpec extends AnyFunSuite with SparkSpec {

  private val ecgPath = graft.TestData.ecg5000Path

  test("wide schema has label + N doubles") {
    val s = Ingestion.wideSchema(140)
    assert(s.fields.length === 141)
    assert(s.fields.head.name === "label")
    assert(s.fields.head.dataType.typeName === "integer")
    assert(s.fields.tail.forall(_.dataType.typeName === "double"))
  }

  test("reads ECG5000 train TSV: 500 rows, labels 1..5, no null features") {
    assume(graft.TestData.ecg5000Available, "reference ECG5000 checkout absent")
    val df = Ingestion.readUcrTsv(spark, ecgPath, numFeatures = 140)
    assert(df.count() === 500)
    val labels = df.select("label").distinct().collect().map(_.getInt(0)).sorted
    assert(labels.forall(l => l >= 1 && l <= 5))
    assert(df.na.drop("any").count() === 500)
  }

  test("sample bounds: fraction 1 identity; 0.1 lands near 50 rows") {
    assume(graft.TestData.ecg5000Available, "reference ECG5000 checkout absent")
    val df = Ingestion.readUcrTsv(spark, ecgPath, numFeatures = 140)
    assert(Ingestion.sample(df, 1.0).count() === 500)
    val n = Ingestion.sample(df, 0.1, seed = 42).count()
    assert(n > 20 && n < 90, s"sampled $n")
  }

  test("CSV with header: explicit schema, header row skipped") {
    val dir = java.nio.file.Files.createTempDirectory("csv_hdr").toString
    val p = java.nio.file.Paths.get(dir, "data.csv")
    java.nio.file.Files.writeString(p,
      "label,_c1,_c2\n1,0.5,0.25\n2,1.5,2.5\n")
    val df = Ingestion.readCsv(spark, p.toString, Ingestion.wideSchema(2))
    assert(df.count() === 2)
    val r = df.orderBy("label").collect()
    assert(r(0).getInt(0) === 1 && r(0).getDouble(1) === 0.5)
    assert(r(1).getDouble(2) === 2.5)
  }

  test("empty data raises") {
    // header-only CSV: a real file with the full wide schema and no rows
    val dir = java.nio.file.Files.createTempDirectory("csv_empty").toString
    val p = java.nio.file.Paths.get(dir, "empty.csv")
    java.nio.file.Files.writeString(p,
      Ingestion.wideSchema(140).fieldNames.mkString(",") + "\n")
    val empty = Ingestion.readCsv(spark, p.toString, Ingestion.wideSchema(140))
    assertThrows[IllegalStateException](Ingestion.validateNonEmpty(empty))
  }

  test("min-max JSON sink/source roundtrip") {
    val stats = Map("_c1" -> ((0.5, 2.5)), "_c2" -> ((-1.0, 1.0)))
    val path = java.nio.file.Files.createTempFile("minmax", ".json").toString
    Ingestion.writeMinMaxJson(stats, path)
    assert(Ingestion.readMinMaxJson(path) === stats)
  }
}
