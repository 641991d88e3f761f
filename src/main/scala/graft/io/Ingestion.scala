package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.prep.DeterministicSampling

/** Ingestion operators (SURVEY §2.1, reference: code/src/data_ingestion.py:37-75).
  *
  * Schema is declared explicitly — never inferred — so the scan plans with
  * exact column types and pruning from the first job (the reference does the
  * same at data_ingestion.py:45-52). The wide label+features layout is
  * parameterized on feature count instead of hard-coding 140.
  */
object Ingestion {

  /** S1 schema — `label INT` + `_c1.._cN DOUBLE`, all nullable. */
  def wideSchema(numFeatures: Int, labelCol: String = "label"): StructType =
    StructType(
      StructField(labelCol, IntegerType, nullable = true) +:
        (1 to numFeatures).map(i => StructField(s"_c$i", DoubleType, nullable = true)))

  def featureCols(numFeatures: Int): Seq[String] = (1 to numFeatures).map(i => s"_c$i")

  /** S1 — CSV scan with explicit schema. */
  def readCsv(
      spark: SparkSession,
      path: String,
      schema: StructType,
      header: Boolean = true,
      sep: String = ","): DataFrame =
    spark.read
      .option("header", header.toString)
      .option("sep", sep)
      .schema(schema)
      .csv(path)

  /** UCR-style TSV (no header, tab-separated, label first) — the format of
    * the in-repo ECG5000_TRAIN.tsv the reference tests mine for fixtures.
    */
  def readUcrTsv(spark: SparkSession, path: String, numFeatures: Int): DataFrame =
    readCsv(spark, path, wideSchema(numFeatures), header = false, sep = "\t")

  /** S2 — Bernoulli sample on load (data_ingestion.py:61): a row is kept
    * iff its content draw (every column, seed salted by `SampleSalt`)
    * falls below `fraction` — the same rows in any order or partitioning
    * give the same sample.
    */
  def sample(df: DataFrame, fraction: Double, seed: Long = 42L): DataFrame =
    if (fraction >= 1.0) df
    else df.filter(DeterministicSampling.contentDraw(
      seed ^ DeterministicSampling.SampleSalt, df.columns.map(col).toSeq: _*) < fraction)

  /** S3 — non-empty validation via `take(1)` (one-partition probe, not a
    * full count; data_ingestion.py:67-71).
    */
  def validateNonEmpty(df: DataFrame): DataFrame = {
    if (df.take(1).isEmpty) throw new IllegalStateException("Data is empty!")
    df
  }
}
