package graft.prep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Ingestion-side preprocessing operators.
  *
  * Re-expresses the reference pipeline's preprocessing stage
  * (reference: code/src/preprocessing.py:24-113, code/src/utilities.py:78-95)
  * as declarative Catalyst projections/aggregations — a single scan computes
  * all min/max pairs, and normalization is a pure column projection that
  * whole-stage-codegens and pushes column pruning into the source scan.
  */
object Preprocessing {

  /** P1 — drop rows where ALL listed columns are null
    * (reference: code/src/preprocessing.py:24-26). If `cols` is empty, all
    * columns are considered (like DataFrameNaFunctions default).
    */
  def dropAllNull(df: DataFrame, cols: Seq[String] = Nil): DataFrame =
    if (cols.isEmpty) df.na.drop("all") else df.na.drop("all", cols)

  /** A1 — one-pass min/max over many columns: 2·n aggregate expressions in a
    * single job (reference: code/src/utilities.py:78-95 builds the same
    * single `agg` with 280 expressions). Returns a driver-side map
    * col -> (min, max).
    */
  def computeMinMax(df: DataFrame, cols: Seq[String]): Map[String, (Double, Double)] = {
    val exprs = cols.flatMap(c =>
      Seq(min(col(c)).cast("double").as(s"min_$c"),
          max(col(c)).cast("double").as(s"max_$c")))
    val row = df.agg(exprs.head, exprs.tail: _*).head()
    cols.zipWithIndex.map { case (c, i) =>
      c -> (row.getDouble(2 * i), row.getDouble(2 * i + 1))
    }.toMap
  }

  /** The aggregate-expressions form of A1 for use inside a declarative plan
    * (query catalog / tests) without a driver round-trip.
    */
  def minMaxAggExprs(cols: Seq[String]): Seq[Column] =
    cols.flatMap(c =>
      Seq(min(col(c)).cast("double").as(s"min_$c"),
          max(col(c)).cast("double").as(s"max_$c")))

  /** P2 — min-max normalization as a pure projection
    * (reference: code/src/preprocessing.py:29-48). Constant columns
    * (max == min) normalize to 0.0, matching the reference's guard.
    * Runs entirely inside whole-stage codegen: no shuffle, no UDF.
    */
  def minMaxNormalize(
      df: DataFrame,
      stats: Map[String, (Double, Double)],
      featureCols: Seq[String],
      passthrough: Seq[String]): DataFrame = {
    val normed = featureCols.map { c =>
      val (mn, mx) = stats(c)
      if (mx == mn) lit(0.0).as(c)
      else ((col(c) - lit(mn)) / lit(mx - mn)).as(c)
    }
    df.select(normed ++ passthrough.map(col): _*)
  }

  /** R1 — round-robin repartition (reference: code/src/preprocessing.py:50-55). */
  def roundRobin(df: DataFrame, numPartitions: Int): DataFrame =
    df.repartition(numPartitions)

  /** P5 — stable surrogate row id (reference:
    * code/src/global_model_manager.py:130-136): reuse an existing id column
    * (cast to long) when present, else monotonically_increasing_id —
    * partition-local generation, no shuffle, unique across the dataset.
    */
  def withRowId(df: DataFrame, idCol: String = "row_id"): DataFrame =
    if (df.columns.contains(idCol))
      df.withColumn(idCol, col(idCol).cast("long"))
    else df.withColumn(idCol, monotonically_increasing_id())

  /** Guarantee CPU parallelism for compute-heavy downstream stages.
    * Small-byte inputs (one parquet file, a few MB of text) scan as 1-few
    * partitions, and AQE's byte-based coalescing keeps them that way — so a
    * CPU-heavy projection (shingling, signatures, distance kernels) runs on
    * one core no matter the cluster. An explicit numPartitions repartition
    * is exempt from AQE coalescing. No-op when the input already has enough
    * partitions (never shrinks a big scan).
    *
    * The partition count is ESTIMATED from the logical plan (file-scan
    * split math over the relation's size, driver-local relations count as
    * 1) — never via `df.rdd`, which would force physical planning and, under
    * AQE, can execute upstream stages. Plans whose source parallelism is
    * not statically readable (post-shuffle, cached) are returned unchanged:
    * their partitioning was already decided by an exchange, which is
    * exactly when a blanket repartition would be wrong.
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    estimatedSourcePartitions(df) match {
      case Some(n) if n < target => df.repartition(target)
      case _ => df
    }
  }

  /** Static partition estimate for scan-rooted plans: replays Spark's file
    * split sizing (min(maxPartitionBytes, max(openCost, bytes/cores))) over
    * the file index size. None when any leaf is not a file scan or local
    * rows.
    */
  private def estimatedSourcePartitions(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, Project}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val session = df.sparkSession
    val conf = session.sessionState.conf
    val plan = df.queryExecution.optimizedPlan
    // Source parallelism is only statically readable for plans that are
    // PURELY narrow over their scan: an allowlist of Project/Filter over
    // leaves. Anything else (joins, aggregates, windows, Deduplicate, the
    // typed MapGroups/CoGroup family, repartitions, limits, …) either
    // introduces an exchange — whose partitioning an extra repartition
    // would wrongly stack on — or has parallelism we can't predict, so
    // refuse rather than enumerate every shuffle-introducing operator.
    val onlyNarrow = plan.collect {
      case n if n.children.nonEmpty => n
    }.forall {
      case _: Project | _: Filter => true
      case _ => false
    }
    if (!onlyNarrow) return None
    val perLeaf = plan.collectLeaves().map {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        val totalBytes = fs.location.sizeInBytes
        val openCost = conf.filesOpenCostInBytes
        val cores = session.sparkContext.defaultParallelism
        val bytesPerCore = (totalBytes + openCost) / math.max(1, cores)
        val maxSplit = math.max(1L, math.min(conf.filesMaxPartitionBytes,
          math.max(openCost, bytesPerCore)))
        // ceil, matching Spark's ceil-wise split packing: a floor would
        // call a scan that already reaches the target "too small" and add
        // a spurious boundary-case shuffle
        Some(((totalBytes + maxSplit - 1) / maxSplit).max(1L).toInt)
      // driver-local rows are distributed across cores at execution
      // (LocalTableScan parallelizes); no shuffle needed or wanted
      case _: LocalRelation => None
      // r20: a LogicalRDD leaf (localCheckpoint / checkpointed frame) is
      // exactly the "partitioning was already decided" case the scaladoc
      // promises to leave unchanged — its layout came from the exchanges
      // (or the bounded fetch) that produced it. The old
      // `Some(getNumPartitions)` re-spread k-row checkpointed frames
      // (e.g. q_select_pipeline's 60-row stage boundary) to 32 partitions,
      // turning every downstream stage of a metadata-scale tail into a
      // 32-task stage (measured: the LM band chain over 60 checkpointed
      // rows ran 32-task stages end to end).
      case _: LogicalRDD => None
      case _ => None
    }
    if (perLeaf.exists(_.isEmpty)) None
    else perLeaf.flatten.reduceOption(math.max)
  }

  /** W1 + R2 — class-balanced exact repartitioning
    * (reference: code/src/preprocessing.py:57-86): assign
    * `_partition_id = (row_number() over (partition by label order by rand)) - 1 mod n`
    * then hash-repartition on it, so every partition holds an equal,
    * stratified share of each class. `seed` makes the shuffle order
    * reproducible (the reference uses unseeded rand — see SURVEY §4 "P3").
    */
  def classBalancedPartition(
      df: DataFrame,
      labelCol: String,
      numPartitions: Int,
      seed: Long = 123L,
      keepPartitionId: Boolean = false): DataFrame = {
    val w = Window.partitionBy(col(labelCol)).orderBy(rand(seed))
    // repartitionByRange (not hash) avoids the reference's hash collisions
    // (preprocessing.py:79), but its bounds come from a sample, so two pids
    // can still share a partition and leave another empty. Callers that
    // need exactly one group per pid key on `_partition_id`.
    val withPid = df
      .withColumn("_partition_id",
        ((row_number().over(w) - lit(1)) % lit(numPartitions)).cast("int"))
      .repartitionByRange(numPartitions, col("_partition_id"))
    if (keepPartitionId) withPid else withPid.drop("_partition_id")
  }

  /** Deterministic variant of W1 for oracle-checkable plans: ordering by
    * md5(key) instead of rand() — same balance properties, reproducible in
    * any engine.
    */
  def deterministicPartitionId(
      df: DataFrame,
      labelCol: String,
      keyCol: String,
      numPartitions: Int): DataFrame = {
    val w = Window.partitionBy(col(labelCol))
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    df.withColumn("_partition_id",
      ((row_number().over(w) - lit(1)) % lit(numPartitions)).cast("long"))
  }
}
