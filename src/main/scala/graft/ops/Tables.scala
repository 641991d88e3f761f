package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-provided synthetic star schema
  * (see TESTDATA.md). All query-catalog entries read through here so the
  * scan path (schema, pushdown) is uniform.
  */
object Tables {
  import org.apache.spark.sql.functions._

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** events.parquet's `ts` physical type has varied across fixture
    * generations: TIMESTAMP(NANOS) (which Spark's vectorized reader only
    * loads as long via the legacy nanosAsLong conf), TIMESTAMP(MICROS)
    * adjusted-to-UTC (loads as TimestampType), or micros without the UTC
    * flag (loads as TimestampNTZType). Branch on the LOADED type rather
    * than assuming one generation, so downstream queries always see `ts`
    * as session-zoned TimestampType regardless of the writer. The session
    * timezone is pinned to UTC by GraftSession.local, which every main
    * (Verify, Bench, Tool, ...) builds its session with, so the NTZ→LTZ
    * cast is value-preserving.
    */
  private def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    // Set once: mutating the shared session's conf on every load would
    // surprise any co-resident reader mid-query; the flag only matters the
    // first time a nanos-typed footer is planned, so an already-true value
    // is left untouched.
    if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // A LongType ts is either the nanos-as-long generation (epoch
        // NANOS, ~1.7e18 for this fixture's 2020s dates) or a hypothetical
        // plain-int64-micros writer (~1.7e15). Dividing micros by 1000
        // would silently shift every event to 1970+misc, so sanity-check
        // the magnitude on ONE row first (limit(1) reads a single file
        // split even at 100 TB). 1e17 cleanly separates the two regimes:
        // micros stay below it until year ~5138, nanos exceed it from 1973.
        val sample = df.select(col("ts")).filter(col("ts").isNotNull).limit(1).collect()
        val looksLikeNanos = sample.headOption.forall(r => math.abs(r.getLong(0)) >= 100000000000000000L)
        if (looksLikeNanos) df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        else df.withColumn("ts", timestamp_micros(col("ts")))
      case org.apache.spark.sql.types.TimestampType => df
      case _ =>
        // TimestampNTZType (or any other timestamp flavor): normalize
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }

  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame     = loadEvents(s, d)
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
