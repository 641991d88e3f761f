package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.prep.Preprocessing
import graft.split.Splits
import graft.eval.Metrics

/** Relational operator catalog: each entry exercises one (or one chain) of
  * the SURVEY.md §2 operators on the driver-provided star schema, paired
  * with an exactly-equivalent DuckDB oracle in [[oracles]].
  *
  * Numeric-parity rules used throughout (so Spark's partition-parallel
  * aggregation hashes identically to DuckDB's sequential one):
  *   - money sums go through DECIMAL casts (exact, order-independent) and
  *     are surfaced as DOUBLE;
  *   - ratios are computed from exact integer counts with a final
  *     `round(, 6)`;
  *   - every count/size is surfaced as BIGINT.
  */
object RelationalQueries {
  import Tables._

  private val dec = DecimalType(18, 2)

  /** Rolling z-score stage of q_events_anomaly, reusable over ANY hourly
    * count frame — the batch aggregate of the fact, or an incrementally
    * maintained snapshot ([[graft.ops.IncrementalAgg.applyDelta]]): the scorer
    * never needs the fact, only (event_type, hour_us, n). Baseline
    * frame excludes the current row; all window sums are exact integers;
    * +1.0 variance smoothing keeps a flat baseline finite.
    */
  def anomalyFromHourly(hourly: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_us"))
      .rowsBetween(-6, -1)
    val rolled = hourly.select(col("event_type"), col("hour_us"), col("n"),
      count(col("n")).over(w).cast("long").as("k"),
      sum(col("n")).over(w).cast("long").as("s"),
      sum(col("n") * col("n")).over(w).cast("long").as("sq"))
      .filter(col("k") === 6)
    val mean = col("s").cast("double") / col("k")
    val variance = (col("k") * col("sq") - col("s") * col("s")).cast("double") /
      (col("k") * (col("k") - 1))
    val z = (col("n") - mean) / sqrt(variance + 1.0)
    rolled.select(col("event_type"), col("hour_us"), col("n"),
      round(z, 6).as("z"), (abs(z) > 3.0).as("is_anomaly"))
  }

  private val posDvWritten = scala.collection.concurrent.TrieMap.empty[String, String]

  /** One-time (per JVM x sf dir x fixture generation) position-delete DV
    * table for `q_pos_delete` (a [[QueryFixtures]] dir): orders as ONE
    * sorted data file — a single writer task, so the scan's
    * `_metadata.row_index` is the global o_orderkey-order row number —
    * plus a position sidecar (every 13th ordinal) and an equality
    * sidecar (keys divisible by 101). "posdv2" names the
    * commit-protocol layout (`_dv/b=<n>` subdirs), so a pre-protocol
    * cached dir is never half-read.
    */
  private def posDvDir(s: SparkSession, d: String): String =
    QueryFixtures.fixtureDir(posDvWritten, "posdv2", "orders", d) { dir =>
      DeletionVectors.initTable(
        orders(s, d).coalesce(1).sortWithinPartitions("o_orderkey"), dir)
      val scan = s.read.parquet(dir)
        .withColumn("file_path", col("_metadata.file_path"))
        .withColumn("row_index", col("_metadata.row_index"))
      DeletionVectors.deletePositions(s, dir,
        scan.filter(pmod(col("row_index"), lit(13)) === 0)
          .select(col("file_path"), col("row_index")))
      DeletionVectors.deleteKeys(s, dir,
        orders(s, d).filter(pmod(col("o_orderkey"), lit(101)) === 0)
          .select(col("o_orderkey")), "o_orderkey")
    }

  private val joinMvWritten = scala.collection.concurrent.TrieMap.empty[String, String]

  /** One-time (per JVM x sf dir x fixture generation) maintained join
    * view for `q_join_mv` (same staleness/marker protocol as
    * [[posDvDir]]): orders ⋈ customer materialized as a DV table, then
    * ONE CDC batch applied through [[JoinMv.applyCdc]] — updates on keys
    * divisible by 7, re-points to a nonexistent customer on keys
    * divisible by 11 (the vanish-without-replacement edge), deletes on
    * keys divisible by 13 (classes disjoint, 13 > 11 > 7 precedence).
    * "joinmv2" names the commit-protocol layout (`_dv/b=<n>` subdirs).
    */
  private def joinMvDir(s: SparkSession, d: String): String =
    QueryFixtures.fixtureDir(joinMvWritten, "joinmv2", "orders", d) { dir =>
      val fact = orders(s, d).select(
        col("o_custkey").as("c_custkey"), col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val dim = customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
      JoinMv.init(fact, dim, "c_custkey", dir)
      val del13 = fact.filter(pmod(col("k"), lit(13)) === 0)
      val move11 = fact.filter(
        pmod(col("k"), lit(11)) === 0 && pmod(col("k"), lit(13)) =!= 0)
      val upd7 = fact.filter(pmod(col("k"), lit(7)) === 0 &&
        pmod(col("k"), lit(11)) =!= 0 && pmod(col("k"), lit(13)) =!= 0)
      val delta = del13.unionByName(move11).unionByName(upd7)
        .withColumn("op", lit("d"))
        .unionByName(move11.withColumn("c_custkey", lit(-1L))
          .withColumn("op", lit("i")))
        .unionByName(upd7.withColumn("status", lit("U"))
          .withColumn("cents", col("cents") + 999L)
          .withColumn("op", lit("i")))
      JoinMv.applyCdc(s, dir, delta, dim, factKey = "k", joinKey = "c_custkey")
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1 + P7 — scan, projection, rename, cast
    "q_scan_project" -> ((s, d) =>
      lineitem(s, d).select(
        col("l_orderkey"),
        col("l_linenumber").cast("long").as("line_no"),
        col("l_quantity").cast("int").as("qty_int"),
        col("l_returnflag").as("flag"))),

    // P6 — filter with IN-set and comparison predicates (pushed to parquet)
    "q_filter_isin" -> ((s, d) =>
      lineitem(s, d)
        .filter(col("l_returnflag").isin("A", "R") && col("l_quantity") > 25)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("line_no"),
          col("l_quantity").as("qty"))),

    // P1 — drop rows where all columns are null (identity on clean data,
    // semantics still checked end-to-end)
    "q_dropna_all" -> ((s, d) =>
      Preprocessing.dropAllNull(documents(s, d))
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))),

    // A1 — one-pass multi-column min/max aggregate
    "q_minmax" -> ((s, d) =>
      lineitem(s, d).agg(
        Preprocessing.minMaxAggExprs(
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")).head,
        Preprocessing.minMaxAggExprs(
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")).tail: _*)),

    // P2 — min-max normalization projection (stats via A1, then pure map)
    "q_normalize" -> ((s, d) => {
      val li = lineitem(s, d)
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      val stats = Preprocessing.computeMinMax(li, cols)
      Preprocessing.minMaxNormalize(li, stats, cols, Seq("l_orderkey", "l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("line_no"),
          round(col("l_quantity"), 6).as("qty_norm"),
          round(col("l_extendedprice"), 6).as("price_norm"),
          round(col("l_discount"), 6).as("disc_norm"))
    }),

    // Winsorization — clip the heavy tails at exact p01/p99 before
    // feeding averages/regressions (the robust-transform sibling of
    // q_profile_robust's detection): ONE percentile aggregate broadcasts
    // two scalars, then a pure clipping projection at scan speed. Fences
    // snap to 6 dp so a value exactly on one clips identically on every
    // engine.
    "q_winsorize" -> ((s, d) => {
      val li = lineitem(s, d)
      val q = li.agg(
        expr("percentile(CAST(l_extendedprice AS DOUBLE), array(0.01D, 0.99D))")
          .as("__p"))
      val lo = round(element_at(col("__p"), 1), 6)
      val hi = round(element_at(col("__p"), 2), 6)
      val x = col("l_extendedprice").cast("double")
      li.crossJoin(broadcast(q))
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("line_no"),
          round(x, 6).as("price"),
          round(least(greatest(x, lo), hi), 6).as("price_w"),
          (x < lo || x > hi).as("clipped"))
    }),

    // Leave-one-out target encoding — the supervised categorical
    // encoding that avoids self-leakage (a row's own target is excluded
    // from its category mean, so the encoded feature can't memorize the
    // label). Category sums are EXACT decimal aggregates (3-row side,
    // auto-broadcast equi join back); each row's encoding is
    // (sum − own)/(n − 1) in one closed-form expression, null for
    // singleton categories (the correct "no signal" answer, not a NaN).
    "q_target_encode" -> ((s, d) => {
      val li = lineitem(s, d).select(col("l_orderkey"),
        col("l_linenumber").cast("long").as("line_no"),
        col("l_linestatus").as("cat"),
        col("l_quantity").cast("decimal(18,2)").as("y"))
      val stats = li.groupBy(col("cat"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
      li.join(stats, Seq("cat"))
        .select(col("l_orderkey"), col("line_no"), col("cat"),
          round(col("y").cast("double"), 6).as("y"),
          when(col("n") > 1,
            round((col("s") - col("y")).cast("double") / (col("n") - 1), 6))
            .otherwise(lit(null).cast("double")).as("y_loo"))
    }),

    // Group-median imputation — the robust missing-value fill (mean
    // imputation drags toward outliers; the median doesn't). Nulls are
    // PLANTED in-plan (every 7th line — both engines see identical
    // inputs, the q_pii_scrub technique), per-group exact medians come
    // from one aggregate (percentile skips nulls on both engines), and
    // the fill is an equi join back on the group key — the 3-row stats
    // side auto-broadcasts, no forced hint needed.
    "q_impute_median" -> ((s, d) => {
      val li = lineitem(s, d).select(col("l_orderkey"),
        col("l_linenumber").cast("long").as("line_no"),
        col("l_returnflag").as("flag"),
        when(pmod(col("l_orderkey") + col("l_linenumber"), lit(7)) === 0,
          lit(null).cast("double"))
          .otherwise(col("l_quantity").cast("double")).as("qty_n"))
      val med = li.groupBy(col("flag"))
        .agg(expr("percentile(qty_n, 0.5)").as("__med"))
      li.join(med, Seq("flag"))
        .select(col("l_orderkey"), col("line_no"), col("flag"),
          round(coalesce(col("qty_n"), col("__med")), 6).as("qty_filled"),
          col("qty_n").isNull.as("was_imputed"))
    }),

    // Per-group standardization (z-score within group) — the
    // feature-engineering staple where global min-max (q_normalize)
    // misleads across differently-scaled groups. Group moments are
    // EXACT integer/decimal sums (count, sum, sum-of-squares over
    // decimal quantities — order-independent, the profileCorrelation
    // doctrine), broadcast back to the fact rows, z in one closed-form
    // double expression both engines evaluate identically.
    "q_group_standardize" -> ((s, d) => {
      val li = lineitem(s, d).select(col("l_orderkey"),
        col("l_linenumber").cast("long").as("line_no"),
        col("l_returnflag").as("flag"), col("l_quantity"))
      val q100 = round(col("l_quantity") * 100).cast("long") // 2-dp, exact
      val stats = li.groupBy(col("flag"))
        .agg(count(lit(1)).as("k"),
          sum(q100).as("s"), sum(q100 * q100).as("sq"))
      val mean = col("s").cast("double") / col("k") / 100.0
      val variance = (col("k") * col("sq") - col("s") * col("s")).cast("double") /
        (col("k") * (col("k") - 1)) / 10000.0
      li.join(broadcast(stats), Seq("flag"))
        .select(col("l_orderkey"), col("line_no"), col("flag"),
          round(col("l_quantity").cast("double"), 6).as("qty"),
          round((col("l_quantity").cast("double") - mean) /
            sqrt(variance), 6).as("qty_z"))
    }),

    // A2 — group-count
    "q_group_count" -> ((s, d) =>
      lineitem(s, d).groupBy(col("l_returnflag").as("flag"),
          col("l_linestatus").as("status"))
        .agg(count(lit(1)).as("cnt"))),

    // ROLLUP by re-aggregation (RollupAgg.scala): the multi-level pricing
    // summary with ONE data-scale aggregate — super-levels derive from
    // the finest frame (key-cardinality input), never Spark's Expand
    // which replicates the full scan once per level. gid uses the
    // grouping_id bit convention; money in exact cents.
    "q_rollup_pricing" -> ((s, d) =>
      RollupAgg.sumCountRollup(
        lineitem(s, d).select(col("l_returnflag").as("rf"),
          col("l_linestatus").as("ls"),
          floor(col("l_extendedprice") * 100d + lit(0.5d)).cast("long")
            .as("cents")),
        keys = Seq("rf", "ls"), sumCol = "cents")),

    // A3 — argmax via orderBy(desc(count)).limit(1), deterministic tie-break
    "q_argmax_majority" -> ((s, d) =>
      orders(s, d).groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("priority"))
        .limit(1)),

    // A4 — sum aggregation (decimal-exact, surfaced as double)
    "q_sum_agg" -> ((s, d) =>
      lineitem(s, d).groupBy(col("l_returnflag").as("flag"))
        .agg(sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_price"),
          count(lit(1)).as("cnt"))),

    // A6 — average via exact sum / count
    "q_avg" -> ((s, d) =>
      lineitem(s, d).groupBy(col("l_linestatus").as("status"))
        .agg(round(sum(col("l_quantity").cast(dec)).cast("double") / count(lit(1)), 6)
          .as("avg_qty"))),

    // A7 — distinct + (small) collect path
    "q_distinct" -> ((s, d) =>
      customer(s, d).select(col("c_mktsegment").as("segment")).distinct()),

    // A4 + A5 + J2 — per-branch Gini via counts-join-totals
    "q_gini_branch" -> ((s, d) =>
      Metrics.branchGiniDF(lineitem(s, d), "l_linestatus", "l_returnflag")
        .select(col("branch"), col("total"), round(col("gini"), 6).as("gini"))),

    // A5 — weighted Gini, single row
    "q_gini_weighted" -> ((s, d) =>
      Metrics.weightedGiniDF(lineitem(s, d), "l_linestatus", "l_returnflag")),

    // J2 — equi inner join + aggregation. No forced hint on customer: it
    // is scale-proportional (15M rows at sf100), so the planner/AQE decides
    // — still a broadcast join wherever it actually fits (gating doctrine,
    // CatalogPlanLintSpec)
    "q_join_inner" -> ((s, d) =>
      orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec)).cast("double").as("total"))),

    // J3 + P9 + P8 — left-outer join, fillna/coalesce of missing counts
    "q_join_left_outer" -> ((s, d) => {
      val counts = customer(s, d).groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"))
      nation(s, d)
        .join(counts, col("n_nationkey") === col("c_nationkey"), "left_outer")
        .na.fill(0L, Seq("n_cust"))
        .select(col("n_name"), col("n_cust"))
    }),

    // J1 — anti-join (complement)
    "q_join_anti" -> ((s, d) =>
      nation(s, d)
        .join(supplier(s, d), col("n_nationkey") === col("s_nationkey"), "left_anti")
        .select(col("n_name"))),

    // left_semi (free Spark operator; SURVEY §2.11 negatives made positive)
    "q_join_semi" -> ((s, d) =>
      customer(s, d)
        .join(orders(s, d).filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))),

    // P10 — when/otherwise conditional buckets
    "q_when_buckets" -> ((s, d) =>
      orders(s, d).select(col("o_orderkey"),
        when(col("o_totalprice") > 300000, "big")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("small").as("bucket"))),

    // Analytic frames (§2.5 negatives made positive): running sum +
    // moving average + lead over an explicit rowsBetween frame
    "q_window_running" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      orders(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast(dec))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_total"),
        round(avg(col("o_totalprice")).over(w.rowsBetween(-2, 0)), 6)
          .as("moving_avg3"),
        lead(col("o_orderkey"), 1).over(w).as("next_orderkey"))
    }),

    // W2 — per-group top-k via row_number window + filter
    "q_window_topk" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      orders(s, d).withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rk"),
          col("o_totalprice"))
    }),

    // The full ranking-function matrix in one plan: rank / dense_rank /
    // percent_rank / cume_dist / ntile / lag over a deterministic order
    // (ties broken by key so every function replays exactly). One window
    // shuffle on the partition key serves all seven expressions —
    // Catalyst fuses same-spec window functions into one WindowExec.
    "q_window_rank_funcs" -> ((s, d) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(desc("c_acctbal"), asc("c_custkey"))
      customer(s, d).filter(col("c_custkey") <= 500)
        .select(col("c_mktsegment").as("segment"), col("c_custkey"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          round(percent_rank().over(w), 6).as("prank"),
          round(cume_dist().over(w), 6).as("cdist"),
          ntile(4).over(w).cast("long").as("quartile"),
          lag(col("c_custkey"), 1).over(w).as("prev_key"),
          lead(col("c_custkey"), 1).over(w).as("next_key"))
    }),

    // W1 — the pipeline's class-balanced partition-id assignment,
    // validated by per-(segment, pid) counts
    "q_partition_balance" -> ((s, d) =>
      Preprocessing.balancedPartitionId(customer(s, d), "c_mktsegment", 8, seed = 123L)
        .groupBy(col("c_mktsegment").as("segment"),
          col("_partition_id").cast("long").as("pid"))
        .agg(count(lit(1)).as("cnt"))),

    // T2 (deterministic variant) — hash split tagging, per-split counts
    "q_hash_split" -> ((s, d) =>
      customer(s, d)
        .withColumn("split", Splits.hashSplitColumn("c_custkey", 12))
        .groupBy(col("split")).agg(count(lit(1)).as("cnt"))),

    // Temporal train/eval split + ENTITY-LEAKAGE audit — the gate a
    // time-split benchmark needs before anyone trusts it: split events
    // at the 80th time percentile (fences snapped to whole micros, so
    // the boundary is engine-exact), then report, per side, rows and
    // users, plus the users present on BOTH sides (the leaked entities
    // whose eval rows a user-level model has effectively seen). One
    // scan + two semi-joined aggregates; the fence is a broadcast 1-row
    // aggregate.
    "q_split_leakage" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"), unix_micros(col("ts")).as("t"))
      val fence = ev.agg(
        expr("floor(percentile(t, 0.8D))").cast("long").as("cut"))
      val tagged = ev.crossJoin(broadcast(fence))
        .withColumn("side", when(col("t") < col("cut"), "train")
          .otherwise("eval"))
      val users = tagged.select(col("side"), col("user_id")).distinct()
      val leaked = users.filter(col("side") === "train")
        .join(users.filter(col("side") === "eval"), Seq("user_id"), "left_semi")
        .agg(count(lit(1)).as("n"))
        .select(lit("leaked_users").as("side"), col("n"),
          lit(null).cast("long").as("n_users"))
      tagged.groupBy(col("side"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .unionByName(leaked)
    }),

    // P11 + A6 — accuracy of a deterministic rule predictor
    "q_rule_accuracy" -> ((s, d) =>
      Metrics.accuracyDF(
        orders(s, d).select(col("o_orderpriority").as("label"),
          when(col("o_totalprice") < 100000, "1-URGENT")
            .when(col("o_totalprice") < 200000, "2-HIGH")
            .when(col("o_totalprice") < 300000, "3-MEDIUM")
            .when(col("o_totalprice") < 400000, "4-NOT SPECIFIED")
            .otherwise("5-LOW").as("prediction")),
        "label", "prediction")),

    // E2 — balanced accuracy chain (A2 + J3 + P9 + P10)
    "q_balanced_accuracy" -> ((s, d) =>
      Metrics.balancedAccuracyDF(
        orders(s, d).select(col("o_orderpriority").as("label"),
          when(col("o_totalprice") < 100000, "1-URGENT")
            .when(col("o_totalprice") < 200000, "2-HIGH")
            .when(col("o_totalprice") < 300000, "3-MEDIUM")
            .when(col("o_totalprice") < 400000, "4-NOT SPECIFIED")
            .otherwise("5-LOW").as("prediction")),
        "label", "prediction")),

    // E2 intermediate — per-class recall table
    "q_per_class_recall" -> ((s, d) =>
      Metrics.perClassRecallDF(
        orders(s, d).select(col("o_orderpriority").as("label"),
          when(col("o_orderstatus") === "F", col("o_orderpriority"))
            .otherwise(lit("5-LOW")).as("prediction")),
        "label", "prediction")),

    // E4 intermediate — per-class precision table
    "q_per_class_precision" -> ((s, d) =>
      Metrics.perClassPrecisionDF(
        orders(s, d).select(col("o_orderpriority").as("label"),
          when(col("o_orderstatus") === "F", col("o_orderpriority"))
            .otherwise(lit("5-LOW")).as("prediction")),
        "label", "prediction")),

    // P4 — array-pack projection + array aggregate (order-preserving fold)
    "q_array_pack" -> ((s, d) =>
      lineitem(s, d).select(col("l_orderkey"), col("l_linenumber").cast("long").as("line_no"),
          array(col("l_quantity"), col("l_extendedprice"), col("l_discount"))
            .as("features"))
        .select(col("l_orderkey"), col("line_no"),
          size(col("features")).cast("long").as("n_features"),
          round(aggregate(col("features"), lit(0.0), (acc, x) => acc + x), 4)
            .as("feature_sum"))),

    // TPC-H Q1-style pricing summary — the headline aggregation
    "q1_pricing_summary" -> ((s, d) =>
      lineitem(s, d)
        .filter(col("l_shipdate") <= to_timestamp(lit("2000-12-01 00:00:00")))
        .groupBy(col("l_returnflag").as("flag"), col("l_linestatus").as("status"))
        .agg(
          sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice").cast(dec) * (lit(1).cast(dec) - col("l_discount").cast(dec))))
            .cast("double").as("sum_disc_price"),
          round(sum(col("l_quantity").cast(dec)).cast("double") / count(lit(1)), 6).as("avg_qty"),
          round(sum(col("l_discount").cast(dec)).cast("double") / count(lit(1)), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))),

    // TPC-H Q3-style top-k join — join + agg + deterministic top-k.
    // No forced broadcast of customer: it grows with scale factor (15M
    // rows at sf100), so the hint is an OOM at scale — AQE broadcasts it
    // at runtime whenever the filtered side is actually small.
    "q3_top_orders" -> ((s, d) => {
      val cust = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      orders(s, d)
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum(col("l_extendedprice").cast(dec) * (lit(1).cast(dec) - col("l_discount").cast(dec)))
          .cast("double").as("revenue"))
        .orderBy(desc("revenue"), asc("o_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5-style multi-join — constant-size dims (nation, region)
    // broadcast; the scale-proportional customer side joins them without a
    // hint (AQE broadcasts the result when it is small enough at runtime)
    "q5_nation_revenue" -> ((s, d) => {
      val dims =
        customer(s, d)
          .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .select(col("c_custkey"), col("n_name"))
      orders(s, d)
        .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(dims, col("o_custkey") === col("c_custkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice").cast(dec) * (lit(1).cast(dec) - col("l_discount").cast(dec)))
          .cast("double").as("revenue"))
    }),

    // Full-outer join (completes the join-type matrix): customer balances
    // reconciled against per-customer order counts — unmatched sides
    // surface with coalesced keys and zero counts.
    "q_join_full_outer" -> ((s, d) =>
      customer(s, d).select(col("c_custkey"), col("c_acctbal"))
        .join(orders(s, d).groupBy(col("o_custkey"))
            .agg(count(lit(1)).as("n_orders")),
          col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          col("c_acctbal").isNotNull.as("known_customer"))),

    // Set operators (free Spark operators; SURVEY §2.11 negatives made
    // positive): union / intersect / except with dedup semantics
    "q_set_union" -> ((s, d) =>
      customer(s, d).filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
        .union(orders(s, d).filter(col("o_totalprice") > 400000)
          .select(col("o_custkey").as("c_custkey")))
        .distinct()
        .agg(count(lit(1)).as("n"), sum(col("c_custkey")).cast("long").as("key_sum"))),

    "q_set_intersect" -> ((s, d) =>
      customer(s, d).filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
        .intersect(orders(s, d).select(col("o_custkey").as("c_custkey")))
        .agg(count(lit(1)).as("n"), sum(col("c_custkey")).cast("long").as("key_sum"))),

    "q_set_except" -> ((s, d) =>
      customer(s, d).select(col("c_custkey"))
        .except(orders(s, d).select(col("o_custkey").as("c_custkey")))
        .agg(count(lit(1)).as("n"), sum(col("c_custkey")).cast("long").as("key_sum"))),

    // Multi-dimensional aggregation: rollup with grouping-set totals
    "q_rollup" -> ((s, d) =>
      lineitem(s, d).rollup(col("l_returnflag").as("flag"), col("l_linestatus").as("status"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"))),

    "q_cube" -> ((s, d) =>
      orders(s, d).cube(col("o_orderstatus").as("status"),
          col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("cnt"))),

    // Explicit GROUPING SETS — the one multi-dim aggregation shape the
    // Column API doesn't expose (rollup/cube only); reached through the
    // spark.sql entry point over a registered view. grouping() columns
    // disambiguate "aggregated over" from a genuinely NULL key.
    "q_grouping_sets" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("orders_gs")
      s.sql("""SELECT o_orderstatus AS status, o_orderpriority AS priority,
          CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
          CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
          count(*) AS cnt,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""")
    }),

    // String functions over parts
    "q_string_funcs" -> ((s, d) =>
      part(s, d).select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_upper"),
        length(col("p_name")).cast("long").as("name_len"),
        substring(col("p_type"), 1, 5).as("type_prefix"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
        when(col("p_name").contains("green"), 1L).otherwise(0L).as("is_green"))),

    // Date/time functions over orders
    "q_date_funcs" -> ((s, d) =>
      orders(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
        datediff(to_date(lit("1998-12-31")), col("o_orderdate")).cast("long")
          .as("days_to_end"))),

    // JSON functions: extraction from a semi-structured payload column —
    // the landing-zone shape of scraped/API corpora. The JSON is PLANTED
    // in-query by string concat (not to_json — serializer whitespace/key
    // order differ by engine) so both engines parse identical bytes; the
    // extraction (scalar field, nested path, array index, missing key →
    // NULL) is a pure projection that rides the scan.
    "q_json_funcs" -> ((s, d) =>
      orders(s, d).select(col("o_orderkey"),
        concat(lit("""{"status":""""), col("o_orderstatus"),
          lit("""","meta":{"priority":""""), col("o_orderpriority"),
          lit(""""},"amounts":["""), col("o_totalprice").cast("string"),
          lit(",0.5]}")).as("payload"))
        .select(col("o_orderkey"),
          get_json_object(col("payload"), "$.status").as("status"),
          get_json_object(col("payload"), "$.meta.priority").as("priority"),
          get_json_object(col("payload"), "$.amounts[0]").cast("double")
            .as("amount"),
          get_json_object(col("payload"), "$.missing").as("absent"))),

    // TPC-H Q10-style: revenue lost to returned items per customer, top 20
    // (customer joins unhinted — scale-proportional; nation keeps the hint)
    "q10_returned_items" -> ((s, d) =>
      lineitem(s, d).filter(col("l_returnflag") === "R")
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(col("l_extendedprice").cast(dec) * (lit(1).cast(dec) - col("l_discount").cast(dec)))
          .cast("double").as("revenue"))
        .orderBy(desc("revenue"), asc("c_custkey"))
        .limit(20)),

    // TPC-H Q7-style: supplier-nation -> customer-nation trade volume
    // (supplier/customer sides unhinted — both scale with SF; the inner
    // nation joins keep their constant-size broadcast)
    "q7_nation_volume" -> ((s, d) => {
      val suppNation = supplier(s, d)
        .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val custNation = customer(s, d)
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(suppNation, col("l_suppkey") === col("s_suppkey"))
        .join(custNation, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"))
        .agg(sum(col("l_extendedprice").cast(dec) * (lit(1).cast(dec) - col("l_discount").cast(dec)))
          .cast("double").as("volume"),
          count(lit(1)).as("n_items"))
    }),

    // TPC-H Q6-style: forecast revenue change — pure filter + global agg,
    // every predicate pushed to the parquet scan, no shuffle beyond the
    // single-row partial-agg merge
    "q6_forecast_revenue" -> ((s, d) =>
      lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast(dec) * col("l_discount").cast(dec))
          .cast("double").as("revenue"))),

    // TPC-H Q12-style (adapted: no shipmode column — order priority plays
    // its role): shipped-in-1996 line counts and return share per priority
    "q12_priority_shipments" -> ((s, d) =>
      lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .cast("long").as("n_returned"))),

    // TPC-H Q14-style: promo revenue share — join to part, conditional
    // aggregation, one output row
    "q14_promo_revenue" -> ((s, d) => {
      val rev = col("l_extendedprice").cast(dec) *
        (lit(1).cast(dec) - col("l_discount").cast(dec))
      lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(part(s, d), col("l_partkey") === col("p_partkey"))
        .agg(round(
          lit(100.0) * sum(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(0).cast(dec))).cast("double") /
            sum(rev).cast("double"), 6).as("promo_pct"))
    }),

    // TPC-H Q18-style: large-volume orders — group-having on the fact
    // table FIRST (the selective aggregate), then enrich with customer
    "q18_large_orders" -> ((s, d) => {
      val big = lineitem(s, d).groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast(dec)).cast("double").as("total_qty"))
        .filter(col("total_qty") > 300)
      big.join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("l_orderkey").as("o_key"),
          col("o_totalprice"), col("total_qty"))
        .orderBy(desc("total_qty"), asc("o_key"))
        .limit(20)
    }),

    // TPC-H Q19-style: discounted revenue under disjunctive brand/quantity
    // predicates — the OR-of-ANDs shape that tests predicate handling
    // through a join
    "q19_discounted_revenue" -> ((s, d) =>
      lineitem(s, d)
        .join(part(s, d), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#13" && col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#20" && col("l_quantity").between(20, 30)))
        .agg(sum(col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec) - col("l_discount").cast(dec)))
          .cast("double").as("revenue"))),

    // Ordered string aggregation: collect_set -> sort -> join gives the
    // deterministic form of string_agg (unordered collect would be
    // partition-order-dependent and unhashable cross-engine).
    "q_string_agg" -> ((s, d) =>
      lineitem(s, d).groupBy(col("l_returnflag").as("flag"))
        .agg(concat_ws(",", array_sort(collect_set(col("l_linestatus"))))
            .as("statuses"),
          countDistinct(col("l_linestatus")).as("n_statuses"))),

    // Array scalar functions over the embedding column — the curation-side
    // vector ops (sort/order-statistics/membership) as pure codegen'd
    // projections; scalar float outputs compare exactly (no arithmetic).
    "q_array_funcs" -> ((s, d) =>
      embeddings(s, d).select(col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        sort_array(col("embedding")).getItem(0).as("min_el"),
        sort_array(col("embedding")).getItem(1).as("min2_el"),
        sort_array(col("embedding"), asc = false).getItem(0).as("max_el"),
        array_contains(col("embedding"), lit(0.0f)).cast("long").as("has_zero"))),

    // Null semantics in one query: NULL forms its own group, count(col)
    // skips NULLs while count(*) doesn't, and the null-safe equality join
    // (<=> / IS NOT DISTINCT FROM) matches the NULL group to itself —
    // where plain = would silently drop it.
    "q_null_semantics" -> ((s, d) => {
      val c = customer(s, d).select(col("c_custkey"),
        when(col("c_acctbal") < 0, lit(null))
          .otherwise(col("c_nationkey")).cast("int").as("nkey"))
      val agg = c.groupBy(col("nkey"))
        .agg(count(lit(1)).as("n_rows"), count(col("nkey")).as("n_nonnull"))
      val mirror = agg.select(col("nkey").as("k2"), col("n_rows").as("n2"))
      agg.join(mirror, col("nkey") <=> col("k2"))
        .select(col("nkey").cast("long").as("nkey"), col("n_rows"),
          col("n_nonnull"), col("n2"))
    }),

    // Pivot (wide conditional aggregation): return-flag columns per line
    // status. Spark compiles pivot to CASE-WHEN aggregates — exactly what
    // the oracle states; pinned pivot values keep the schema static.
    "q_pivot" -> ((s, d) =>
      lineitem(s, d).groupBy(col("l_linestatus").as("status"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_quantity").cast(dec)).cast("double"))),

    // pivot's inverse — wide metrics melt to (id, metric, value) long
    // form via the native unpivot operator (an Expand, not a 3x
    // self-union: ONE scan at any scale).
    "q_unpivot" -> ((s, d) =>
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("line_no"),
          col("l_quantity"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("line_no")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "metric", "value")),

    // Sparse → dense time series: hourly event counts per type with the
    // calendar gaps zero-filled (each type's own [min,max] hour span via
    // sequence + explode — spans are bounded by the calendar, so the
    // dense frame is types x hours metadata scale, never fact scale).
    "q_events_gap_fill" -> ((s, d) => {
      val hourly = events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"))
      val dense = hourly.groupBy(col("event_type"))
        .agg(min(col("hour")).as("_lo"), max(col("hour")).as("_hi"))
        .select(col("event_type"),
          explode(sequence(col("_lo"), col("_hi"), expr("interval 1 hour")))
            .as("hour"))
      dense.join(hourly, Seq("event_type", "hour"), "left_outer")
        .select(col("event_type"),
          // epoch-micros output: the catalog-wide event-time idiom
          // (q_events_window) — sidesteps ts-physical-type drift entirely
          unix_micros(col("hour")).as("hour_us"),
          coalesce(col("n"), lit(0L)).as("n"))
    }),

    // Rolling window frame (ROWS BETWEEN 3 PRECEDING AND CURRENT ROW):
    // per-user trailing average. Deterministic frame order via
    // (ts, event_id); round(6) absorbs engine-side summation-order ulps
    // (Spark recomputes frames, DuckDB uses segment trees).
    "q_events_rolling" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-3, 0)
      events(s, d).select(col("event_id"), col("user_id"),
        round(avg(col("value")).over(w), 6).as("rolling_avg"),
        count(lit(1)).over(w).cast("long").as("n_window"))
    }),

    // Backfill planner — the lake-ops complement of q_events_gap_fill at
    // PARTITION granularity: the expected monthly calendar spine (from
    // the observed min/max — pure metadata after one aggregate) anti-
    // joined against the partitions that actually hold data. Holes are
    // planted in-plan (three months' orders dropped) so both engines
    // audit identical lakes; the report is exactly the list a backfill
    // scheduler would enqueue.
    "q_backfill_plan" -> ((s, d) => {
      val o = orders(s, d)
        .select(date_trunc("month", col("o_orderdate")).as("month"))
      // drop months ≡ 0 mod 7 (by month index) to plant the holes
      val present = o.groupBy(col("month")).agg(count(lit(1)).as("n_rows"))
        .filter(pmod(month(col("month")) + year(col("month")) * 12, lit(7)) =!= 0)
      val span = present.agg(min(col("month")).as("_lo"), max(col("month")).as("_hi"))
      val spine = span.select(explode(sequence(col("_lo"), col("_hi"),
        expr("interval 1 month"))).as("month"))
      spine.join(present, Seq("month"), "left_anti")
        .select(unix_micros(col("month")).as("month_us"))
    }),

    // Weight-of-evidence encoding — the credit-scoring sibling of
    // q_target_encode for BINARY targets: per category
    // ln(share-of-events / share-of-non-events), the encoding whose sum
    // against bin counts is Information Value. Exact integer counts,
    // one closed-form double per category row.
    "q_woe_encode" -> ((s, d) => {
      val li = lineitem(s, d).select(col("l_linestatus").as("cat"),
        (col("l_returnflag") === "R").cast("long").as("y"))
      // WoE is undefined for a category with zero events or zero
      // non-events (ln(0) / ln(inf)); standard scorecard practice drops
      // (or smooths) such bins. Filtering BEFORE the share windows keeps
      // both engines on the same finite arithmetic — DuckDB's ln(0) is a
      // hard Out of Range error, not a NULL, so an unguarded oracle
      // would crash on a legal data distribution.
      val st = li.groupBy(col("cat"))
        .agg(sum(col("y")).as("events"),
          (count(lit(1)) - sum(col("y"))).as("nonevents"))
        .filter(col("events") > 0 && col("nonevents") > 0)
      val wt = org.apache.spark.sql.expressions.Window.partitionBy()
      val pe = col("events").cast("double") / sum(col("events")).over(wt)
      val pn = col("nonevents").cast("double") / sum(col("nonevents")).over(wt)
      st.select(col("cat"), col("events"), col("nonevents"),
        round(log(pe / pn), 6).as("woe"),
        round((pe - pn) * log(pe / pn), 6).as("iv_term"))
    }),

    // Schema sniffing — type inference over string-typed staging
    // columns, the first step of every CSV/JSON ingestion: classify
    // each value by grammar (int / float / date / bool / string),
    // report the distribution and the inferred majority type per
    // column. Values are planted in-plan (deterministic mixes per
    // doc_id — both engines see identical inputs); classification is a
    // pure regexp projection at scan speed, the rollup is columns x
    // types metadata scale.
    "q_type_infer" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val colA = when(pmod(col("doc_id"), lit(4)) === 0,
        col("doc_id").cast("string"))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          concat(col("doc_id").cast("string"), lit(".5")))
        .when(pmod(col("doc_id"), lit(4)) === 2, lit("2024-01-15"))
        .otherwise(lit("true"))
      val colB = when(pmod(col("doc_id"), lit(3)) === 0,
        col("doc_id").cast("string"))
        .otherwise(substring(col("text"), 1, 12))
      val vals = docs.select(colA.as("a"), colB.as("b"))
        .select(expr("stack(2, 'col_a', a, 'col_b', b) AS (col_name, v)"))
      val dtype = when(col("v").rlike("^-?[0-9]+$"), "int")
        .when(col("v").rlike("^-?[0-9]*\\.[0-9]+$"), "float")
        .when(col("v").rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}$"), "date")
        .when(col("v").rlike("^(true|false)$"), "bool")
        .otherwise("string")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("col_name"))
      vals.withColumn("dtype", dtype)
        .groupBy(col("col_name"), col("dtype"))
        .agg(count(lit(1)).as("n"))
        .select(col("col_name"), col("dtype"), col("n"),
          round(col("n").cast("double") / sum(col("n")).over(w), 6).as("share"),
          (col("n") === max(col("n")).over(w)).as("is_majority"))
    }),

    // A/B experiment readout — the two-sample Welch z-test computed the
    // way an experimentation platform at scale must: treatment
    // assignment is an md5-parity pure function of the unit id
    // (replayable, audit-stable — the DeterministicSampling doctrine),
    // per-arm moments are exact cent-integer sums, and the z-statistic
    // is one closed-form double expression. One pass over the fact,
    // arithmetic on the 2 arm rows.
    "q_ab_test" -> ((s, d) => {
      val li = lineitem(s, d).select(
        round(col("l_extendedprice") * 100).cast("long").as("p100"),
        (conv(substring(md5(col("l_orderkey").cast("string")), 1, 8), 16, 10)
          .cast("long") % 2).as("arm"))
      val st = li.groupBy(col("arm"))
        .agg(count(lit(1)).as("n"),
          sum(col("p100").cast("decimal(38,0)")).as("s"),
          sum((col("p100") * col("p100")).cast("decimal(38,0)")).as("sq"))
      val a = st.filter(col("arm") === 0)
        .select(col("n").as("n0"), col("s").as("s0"), col("sq").as("sq0"))
      val b = st.filter(col("arm") === 1)
        .select(col("n").as("n1"), col("s").as("s1"), col("sq").as("sq1"))
      def mean(s: String, n: String) = col(s).cast("double") / col(n)
      def variance(sq: String, s: String, n: String) =
        (col(n).cast("double") * col(sq).cast("double")
          - col(s).cast("double") * col(s).cast("double")) /
          (col(n).cast("double") * (col(n) - 1).cast("double"))
      val z = (mean("s1", "n1") - mean("s0", "n0")) /
        sqrt(variance("sq1", "s1", "n1") / col("n1")
          + variance("sq0", "s0", "n0") / col("n0"))
      a.crossJoin(b).select(
        col("n0"), col("n1"),
        round(mean("s0", "n0") / 100.0, 6).as("mean_control"),
        round(mean("s1", "n1") / 100.0, 6).as("mean_treat"),
        round(z, 6).as("z_stat"),
        (abs(z) > 1.96).as("significant_95"))
    }),

    // k-anonymity audit — the privacy gate before a dataset release:
    // every quasi-identifier combination carried by fewer than k
    // individuals re-identifies them. One groupBy over the
    // quasi-identifier tuple; the report lists violating combos and
    // their sizes (the rows a release must generalize or suppress).
    "q_k_anonymity" -> ((s, d) => {
      val k = 5
      customer(s, d)
        .groupBy(col("c_nationkey").as("nation"),
          col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_individuals"))
        .filter(col("n_individuals") < k)
    }),

    // Differentially-private count release (eps = 1, Laplace mechanism)
    // beside the k-anonymity gate: noise is DERIVED, not drawn — the
    // md5-uniform of a per-release salt x group key feeds the inverse-CDF
    // Laplace transform, so the release is reproducible for audit and
    // cross-engine value-oracled (the md5 idiom + the lm_score ln-round-6
    // doctrine), while a production deployment swaps the salt per release
    // to get fresh draws with the same plan. Pure projection over the
    // grouped counts — the mechanism adds zero shuffles.
    "q_dp_counts" -> ((s, d) => {
      val eps = 1.0
      val u = conv(substring(md5(concat(lit("dp_r15:"),
        col("segment"))), 1, 8), 16, 10).cast("double") / 4294967296.0
      val centered = u - 0.5
      val noise = -signum(centered) * log(lit(1.0) - lit(2.0) * abs(centered)) / eps
      customer(s, d)
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("true_n"))
        .select(col("segment"),
          round(col("true_n") + noise, 6).as("noisy_n"))
    }),

    // The 100 TB twin of q_rolling_distinct: 7-day NDV from MERGED DAILY
    // HLL SKETCHES. The exact version explodes (day, user) pairs ×7;
    // this one sketches each day ONCE (fact-scale work ends there) and
    // explodes only the days×7 SKETCH rows — calendar-sized, whatever
    // the data volume. Union-merge per target day, estimate, and pin
    // within 5% of the exact count recomputed in-plan (the
    // q_ndv_incremental invariant pattern; sketches have no DuckDB
    // twin, the exact column is value-checked).
    "q_rolling_distinct_sketch" -> ((s, d) => {
      val ev = events(s, d)
        .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      val dailySk = ev.groupBy(col("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val days = dailySk.select(col("day"))
      val skContrib = dailySk.select(col("sk"),
        explode(array((0 to 6).map(o =>
          col("day") + expr(s"INTERVAL $o DAY")): _*)).as("day"))
      val est = skContrib.join(days, Seq("day"))
        .groupBy(col("day"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("_est"))
      val exact = ev.distinct()
        .select(col("user_id"), explode(array((0 to 6).map(o =>
          col("day") + expr(s"INTERVAL $o DAY")): _*)).as("day"))
        .distinct()
        .join(days, Seq("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("n_exact"))
      est.join(exact, Seq("day"))
        .select(unix_micros(col("day")).as("day_us"), col("n_exact"),
          (abs(col("_est") - col("n_exact")) <=
            lit(0.05) * col("n_exact")).cast("long").as("within_5pct"))
    }),

    // l-diversity audit — k-anonymity's necessary complement: a QI group
    // can be large yet reveal everyone's sensitive attribute if the
    // group is homogeneous. Report groups whose sensitive-value
    // diversity falls below l (here: nation as quasi-identifier,
    // market segment standing in for the sensitive column).
    "q_l_diversity" -> ((s, d) => {
      val l = 4
      customer(s, d)
        .groupBy(col("c_nationkey").as("nation"))
        .agg(count(lit(1)).as("n_individuals"),
          countDistinct(col("c_mktsegment")).as("n_distinct_sensitive"))
        .filter(col("n_distinct_sensitive") < l)
    }),

    // Join-size estimation — the planner diagnostic next to
    // q_skew_profile: |A ⋈ B| on a key is EXACTLY Σ_k cA(k)·cB(k), so
    // two per-key count aggregates (each a fraction of its input's
    // size) and a join of the count frames predict the fact-join's
    // output rows without running it — the decide-before-joining
    // report for "will this join explode". Top-10 contributing keys
    // by product, plus each key's share of the predicted total.
    "q_join_size_est" -> ((s, d) => {
      val ca = lineitem(s, d).groupBy(col("l_orderkey").as("k"))
        .agg(count(lit(1)).as("ca"))
      val cb = orders(s, d).groupBy(col("o_orderkey").as("k"))
        .agg(count(lit(1)).as("cb"))
      val prod = ca.join(cb, Seq("k"))
        .select(col("k"), (col("ca") * col("cb")).as("rows_out"))
      val total = prod.agg(sum(col("rows_out")).as("__t"))
      prod.crossJoin(broadcast(total))
        .orderBy(col("rows_out").desc, col("k"))
        .limit(10)
        .select(col("k"), col("rows_out"),
          round(col("rows_out").cast("double") / col("__t"), 6).as("share"))
    }),

    // Deterministic bootstrap — uncertainty quantification that
    // REPLAYS: replicate b draws row multiplicity from the md5 of
    // (row id, b) through the Poisson(1) inverse CDF (the standard
    // Poisson bootstrap for distributed data — no global resample
    // index needed, each row decides its own multiplicity locally).
    // Replicate means come from exact cent-integer sums, so every
    // engine reproduces all 32 replicate means bit-for-bit; the
    // spread of these means IS the standard error of the mean.
    "q_bootstrap_mean" -> ((s, d) => {
      val reps = 32
      val li = lineitem(s, d).select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("rid"),
        round(col("l_extendedprice") * 100).cast("long").as("p100"))
      val b = li.select(col("rid"), col("p100"),
        explode(array((0 until reps).map(lit(_)): _*)).as("rep"))
      // Poisson(1) inverse CDF on the md5 draw: P(0)=.3679, P(<=1)=.7358,
      // P(<=2)=.9197, P(<=3)=.9810, else 4 (tail truncated — identical
      // truncation on both engines, bias < 0.004 and irrelevant to SE)
      val u = graft.prep.DeterministicSampling.uniformDraw(
        concat(col("rid").cast("string"), lit("_"), col("rep").cast("string")))
      val mult = when(u < 0.36787944117144233, 0L)
        .when(u < 0.7357588823428847, 1L)
        .when(u < 0.9196986029286058, 2L)
        .when(u < 0.9810118431238462, 3L).otherwise(4L)
      b.withColumn("m", mult)
        .groupBy(col("rep").cast("long").as("rep"))
        .agg(sum((col("p100") * col("m")).cast("decimal(38,0)")).as("s"),
          sum(col("m")).as("n"))
        .select(col("rep"),
          col("n"),
          round(col("s").cast("double") / col("n") / 100.0, 6).as("mean"))
    }),

    // Rolling DISTINCT users (7-day active users per day) — the windowed
    // distinct that window frames can't express (COUNT(DISTINCT) OVER is
    // illegal): each (day, user) pair CONTRIBUTES itself to the 7 target
    // days it's visible from (explode of 7 offsets — linear ×7, not
    // quadratic), then one distinct + one count per target day. Contract
    // work scales with distinct (day, user) pairs — the already-deduped
    // frame — never raw events; target days join back to OBSERVED days
    // so the report has no phantom trailing dates.
    "q_rolling_distinct" -> ((s, d) => {
      val daily = events(s, d)
        .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
        .distinct()
      val days = daily.select(col("day")).distinct()
      val contrib = daily.select(col("user_id"),
        explode(array((0 to 6).map(o =>
          col("day") + expr(s"INTERVAL $o DAY")): _*)).as("day"))
        .distinct()
      val weekly = contrib.join(days, Seq("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("n_users_7d"))
      val dailyN = daily.groupBy(col("day")).agg(count(lit(1)).as("n_users_1d"))
      dailyN.join(weekly, Seq("day"))
        .select(unix_micros(col("day")).as("day_us"),
          col("n_users_1d"), col("n_users_7d"))
    }),

    // Order-insensitive table checksum — the O(1)-output replica
    // comparison (q_dq_reconcile localizes WHICH groups differ; this
    // answers "differ at all?" from one aggregate per side): per-row
    // md5-prefix hash summed as exact integers, so the checksum is
    // partition- and order-independent and any engine reproduces it.
    "q_table_checksum" -> ((s, d) => {
      val rowh = conv(substring(md5(concat_ws("|",
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))), 1, 8),
        16, 10).cast("long")
      // the CAST to decimal(38,0) goes INSIDE the sum: summing 32-bit
      // hashes as LongType would wrap silently past ~2^32 rows in
      // non-ANSI mode (exactly the 100 TB regime this checksum exists
      // for) while the DuckDB oracle sums in HUGEINT — the decimal
      // accumulator makes the aggregate itself overflow-proof (the
      // q_ab_test / q_bootstrap_mean pattern)
      lineitem(s, d).agg(
        count(lit(1)).as("n_rows"),
        sum(rowh.cast("decimal(38,0)")).cast("decimal(38,0)").cast("double")
          .as("checksum"))
    }),

    // Closed-form simple linear regression per group (price ~ quantity
    // within each return flag): slope/intercept/R² from the five moment
    // sums, each an EXACT integer/decimal aggregate over cent-scaled
    // values (order-independent — float `regr_slope` would drift with
    // partitioning), combined in one deterministic double expression.
    // ONE pass over the fact; decimal sums so nothing overflows at real
    // scale (Σy² in cents exceeds int64 beyond ~SF1).
    "q_linreg" -> ((s, d) => {
      // round() BEFORE the integer cast: the fixture stores 2-dp values
      // as doubles, so x*100 sits an ulp off its integer and Spark's
      // truncating cast vs DuckDB's rounding cast would disagree
      val x = round(col("l_quantity") * 100).cast("long")
      val y = round(col("l_extendedprice") * 100).cast("long")
      val dec = "decimal(38,0)"
      val st = lineitem(s, d).groupBy(col("l_returnflag").as("flag"))
        .agg(count(lit(1)).as("n"),
          sum(x.cast(dec)).as("sx"), sum(y.cast(dec)).as("sy"),
          sum((x * y).cast(dec)).as("sxy"),
          sum((x * x).cast(dec)).as("sxx"),
          sum((y * y).cast(dec)).as("syy"))
      val nD = col("n").cast("double")
      def dbl(c: String) = col(c).cast("double")
      val cov = nD * dbl("sxy") - dbl("sx") * dbl("sy")
      val varX = nD * dbl("sxx") - dbl("sx") * dbl("sx")
      val varY = nD * dbl("syy") - dbl("sy") * dbl("sy")
      val slope = cov / varX
      st.select(col("flag"), col("n"),
        round(slope, 6).as("slope"),
        round((dbl("sy") / nD - slope * (dbl("sx") / nD)) / 100.0, 6)
          .as("intercept"),
        round(cov * cov / (varX * varY), 6).as("r2"))
    }),

    // Cohort LTV curves — the product-analytics staple next to
    // q_events_retention: users cohorted by first-seen week, each
    // cohort's cumulative value tracked by week offset. One aggregate
    // finds first-seen (shuffle on user), the fact joins back on user
    // (same key — no extra shuffle stage at scale with co-partitioned
    // layouts), value accumulates in EXACT cents, and the running sum
    // windows over the cohorts x offsets metadata frame.
    "q_events_ltv" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"),
        date_trunc("week", col("ts")).as("week"),
        round(col("value") * 100).cast("long").as("v100"))
      val first = ev.groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort_week"))
      val offset = datediff(col("week"), col("cohort_week")) / 7
      val perCell = ev.join(first, Seq("user_id"))
        .groupBy(col("cohort_week"), offset.cast("long").as("week_offset"))
        .agg(sum(col("v100")).as("v"), countDistinct(col("user_id")).as("u"))
      val w = Window.partitionBy(col("cohort_week")).orderBy(col("week_offset"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perCell.select(
        unix_micros(col("cohort_week")).as("cohort_us"),
        col("week_offset"), col("u").as("active_users"),
        round(col("v").cast("double") / 100.0, 6).as("week_value"),
        round(sum(col("v")).over(w).cast("double") / 100.0, 6)
          .as("cum_value"))
    }),

    // OHLC downsampling — the time-series resample every metrics store
    // runs (open/high/low/close per bucket): ONE aggregate with
    // min_by/max_by over a deterministic zero-padded (ts, event_id)
    // string key (unique, so open/close never depend on engine
    // tie-breaking), grouped by (type, hour). No window, no sort — the
    // order-statistic rides the hash aggregate.
    "q_events_ohlc" -> ((s, d) => {
      val key = concat(
        lpad(unix_micros(col("ts")).cast("string"), 20, "0"),
        lpad(col("event_id").cast("string"), 12, "0"))
      events(s, d)
        .groupBy(col("event_type"),
          unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
        .agg(
          round(min_by(col("value"), key), 6).as("open"),
          round(max(col("value")), 6).as("high"),
          round(min(col("value")), 6).as("low"),
          round(max_by(col("value"), key), 6).as("close"),
          count(lit(1)).as("n_events"))
    }),

    // Behavioral Markov chain — per-user consecutive event-type pairs
    // (lead over the deterministic (ts, event_id) order within user —
    // the q_events_sessions partitioning, parallel across users) rolled
    // up into the transition matrix with row-normalized probabilities.
    // Fact-scale work is the one window + one aggregate; the probability
    // window runs over the types x types matrix (metadata scale).
    "q_events_transitions" -> ((s, d) => {
      val wu = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = events(s, d)
        .select(col("user_id"), col("event_type"),
          lead(col("event_type"), 1).over(wu).as("next_type"))
        .filter(col("next_type").isNotNull)
      val wt = Window.partitionBy(col("event_type"))
      pairs.groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("next_type"), col("n"),
          round(col("n").cast("double") / sum(col("n")).over(wt), 6).as("p"))
    }),

    // Time-series anomaly detection — the ops-monitoring staple: hourly
    // event volumes per type scored against their own trailing 6-hour
    // baseline (frame EXCLUDES the current row, so a spike can't dilute
    // the baseline it's judged against). All window sums are INTEGER
    // (counts and squared counts over a ROWS frame — exact,
    // order-independent); mean/variance/z emerge in one closed-form
    // double expression mirrored verbatim in the oracle, with +1.0
    // variance smoothing so a flat baseline yields z = delta instead of
    // a division by zero. Fact-scale work is the one hourly aggregate;
    // the window runs over types x hours metadata rows.
    "q_events_anomaly" -> ((s, d) =>
      anomalyFromHourly(events(s, d)
        .groupBy(col("event_type"),
          unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
        .agg(count(lit(1)).as("n")))),

    // HLL sketch cardinality — the unbounded-cardinality distinct-count
    // scale path (mergeable across partitions, O(1) memory per group).
    // No DuckDB twin for the sketch, so invariant rows: within 5% of the
    // exact count recomputed in-query (HLL++ is exact in sparse mode, so
    // small SFs pass trivially; rsd 0.02 keeps large SFs inside 5%).
    "q_approx_distinct" -> ((s, d) =>
      lineitem(s, d).groupBy(col("l_returnflag").as("flag"))
        .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("ad"),
          countDistinct(col("l_orderkey")).as("ed"))
        .select(col("flag"),
          (abs(col("ad") - col("ed")).cast("double") <= lit(0.05) * col("ed"))
            .cast("long").as("within_5pct"))),

    // Quantile aggregates (exact): Spark's `percentile` and DuckDB's
    // `quantile_cont` share the linear-interpolation definition, so values
    // hash-match after round(6). Exact percentile materializes per-group
    // value counts — fine for bounded-cardinality groups; the unbounded-
    // cardinality scale path is q_percentiles_approx below.
    "q_percentiles" -> ((s, d) =>
      lineitem(s, d).groupBy(col("l_returnflag").as("flag"))
        .agg(
          round(expr("percentile(l_extendedprice, 0.25)"), 6).as("p25"),
          round(expr("percentile(l_extendedprice, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_extendedprice, 0.75)"), 6).as("p75"),
          round(expr("percentile(l_quantity, 0.9)"), 6).as("qty_p90"))),

    // The 100 TB quantile path: approx_percentile (KLL-style sketch,
    // mergeable across partitions, memory O(1/accuracy) regardless of group
    // size). A sketch has no DuckDB twin, so the query emits INVARIANT rows
    // — per group, does the approximation land within 1% relative error of
    // the exact value (recomputed in-query)? The oracle pins the invariant
    // columns as literals; an approximation regression lands as a hash
    // mismatch.
    "q_percentiles_approx" -> ((s, d) => {
      val li = lineitem(s, d)
      val approx = li.groupBy(col("l_returnflag").as("flag"))
        .agg(expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("ap50"))
      val exact = li.groupBy(col("l_returnflag").as("flag"))
        .agg(expr("percentile(l_extendedprice, 0.5)").as("ep50"))
      approx.join(exact, Seq("flag"))
        .select(col("flag"),
          (abs(col("ap50") - col("ep50")) <= lit(0.01) * col("ep50"))
            .cast("long").as("within_1pct"))
    }),

    // TPC-H Q2-style (adapted: no partsupp table, so lineitem is the
    // part-supplier association): for each small part, the supplier(s)
    // quoting its minimum extended price — the correlated-scalar-min +
    // join-back shape. distinct because a supplier can hit the min on
    // several lines; top-100 under a total order keeps output bounded.
    "q2_min_price_supplier" -> ((s, d) => {
      val p = part(s, d).filter(col("p_size") < 10)
        .select(col("p_partkey"), col("p_name"))
      val li = lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      val minPrice = li.join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey").as("mp_partkey"))
        .agg(min(col("l_extendedprice")).as("min_price"))
      li.join(minPrice, col("l_partkey") === col("mp_partkey") &&
          col("l_extendedprice") === col("min_price"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .select(col("p_partkey"), col("p_name"), col("s_suppkey"),
          col("s_name"), col("n_name"), col("min_price"))
        .distinct()
        .orderBy(asc("p_partkey"), asc("s_suppkey"))
        .limit(100)
    }),

    // TPC-H Q4-style (adapted: no commit/receipt dates — "problem order"
    // means a returned line exists): order counts per priority for one
    // quarter, existence probed with a left-semi join (the EXISTS shape;
    // semi stops at first match, no fact-side row multiplication).
    "q4_priority_returns" -> ((s, d) =>
      orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .join(lineitem(s, d).filter(col("l_returnflag") === "R"),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))),

    // TPC-H Q8-style: one supplier nation's share of revenue delivered to
    // one region's customers, per order year — conditional aggregation
    // over the full star join; only constant-size dims broadcast, region
    // membership via left-semi.
    "q8_market_share" -> ((s, d) => {
      val rev = col("l_extendedprice").cast(dec) *
        (lit(1).cast(dec) - col("l_discount").cast(dec))
      val custRegion = customer(s, d)
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .select(col("c_custkey"))
      val suppNation = supplier(s, d)
        .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(custRegion, col("o_custkey") === col("c_custkey"), "left_semi")
        .join(suppNation, col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(
          sum(when(col("supp_nation") === "NATION_7", rev)
            .otherwise(lit(0).cast(dec))).cast("double") /
            sum(rev).cast("double"), 6).as("mkt_share"))
    }),

    // TPC-H Q9-style (adapted: no partsupp supplycost — cost proxied by
    // retail price × quantity, margin applied AFTER the exact decimal
    // sums so the double arithmetic is one deterministic expression):
    // profit on red parts per supplier nation per order year.
    "q9_product_profit" -> ((s, d) => {
      val rev = col("l_extendedprice").cast(dec) *
        (lit(1).cast(dec) - col("l_discount").cast(dec))
      val cost = col("p_retailprice").cast(dec) * col("l_quantity").cast(dec)
      lineitem(s, d)
        .join(part(s, d).filter(col("p_name").contains("red")),
          col("l_partkey") === col("p_partkey"))
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(sum(rev).cast("double") - lit(0.1) * sum(cost).cast("double"), 4)
          .as("profit"))
    }),

    // TPC-H Q11-style (adapted: inventory value proxied by shipped value
    // per part for one nation's suppliers): parts whose value exceeds a
    // fraction of the nation total — HAVING against a 1-row scalar
    // aggregate, broadcast back over the per-part rows (no second scan).
    "q11_important_parts" -> ((s, d) => {
      val perPart = lineitem(s, d)
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .filter(col("n_name") === "NATION_3")
        .groupBy(col("l_partkey").as("partkey"))
        .agg(sum(col("l_extendedprice").cast(dec)).as("value_dec"))
      val total = perPart.agg(sum(col("value_dec")).as("total_dec"))
      perPart.crossJoin(broadcast(total))
        .filter(col("value_dec").cast("double") >
          lit(0.002) * col("total_dec").cast("double"))
        .select(col("partkey"), col("value_dec").cast("double").as("part_value"))
    }),

    // TPC-H Q13-style: order-count distribution over customers — LEFT
    // OUTER join with a compound ON condition (the priority filter rides
    // the join, NOT a where — null-extended customers must survive), then
    // a two-level aggregation.
    "q13_customer_distribution" -> ((s, d) =>
      customer(s, d)
        .join(orders(s, d),
          col("c_custkey") === col("o_custkey") &&
            col("o_orderpriority") =!= "1-URGENT", "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))),

    // TPC-H Q15-style: top revenue supplier(s) for one quarter — max over
    // an aggregated "view", selected back by equality on the EXACT decimal
    // total (no double-roundoff ambiguity in the argmax).
    "q15_top_supplier" -> ((s, d) => {
      val rev = lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec) - col("l_discount").cast(dec))).as("rev_dec"))
      val top = rev.agg(max(col("rev_dec")).as("max_dec"))
      rev.crossJoin(broadcast(top))
        .filter(col("rev_dec") === col("max_dec"))
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("rev_dec").cast("double").as("total_revenue"))
    }),

    // TPC-H Q16-style (adapted: part-supplier association via lineitem;
    // "complaint" suppliers proxied by negative balance, excluded with a
    // left-anti — the NOT IN shape): distinct supplier counts per part
    // attribute bucket.
    "q16_supplier_cnt" -> ((s, d) =>
      lineitem(s, d).select(col("l_partkey"), col("l_suppkey"))
        .join(part(s, d).filter(col("p_brand") =!= "Brand#13" &&
            col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 9, 19, 29, 39, 49)),
          col("l_partkey") === col("p_partkey"))
        .join(supplier(s, d).filter(col("s_acctbal") < 0).select(col("s_suppkey")),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))),

    // TPC-H Q17-style: revenue from small-quantity lines of one brand —
    // the per-key correlated scalar average (0.2 × part's mean quantity)
    // as an aggregate join-back; the mean derives from an exact decimal
    // sum so both engines compare identical doubles. The brand filter
    // semi-prunes BEFORE the per-part aggregate (don't average the world
    // to threshold one brand).
    "q17_small_qty_revenue" -> ((s, d) => {
      val bli = lineitem(s, d)
        .join(part(s, d).filter(col("p_brand") === "Brand#13")
            .select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      val perPart = bli.groupBy(col("l_partkey").as("ap_partkey"))
        .agg((sum(col("l_quantity").cast(dec)).cast("double") / count(lit(1)))
          .as("avg_qty"))
      bli.join(perPart, col("l_partkey") === col("ap_partkey"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg(round(sum(col("l_extendedprice").cast(dec)).cast("double") / 7.0, 6)
          .as("avg_yearly"))
    }),

    // TPC-H Q20-style (adapted: availability proxied by shipped volume):
    // suppliers whose 1996 shipped quantity of a part exceeds a fixed
    // share of that part's total — two aggregation levels joined on the
    // part key, then a left-semi into the supplier dimension.
    "q20_heavy_suppliers" -> ((s, d) => {
      val li96 = lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      val perSuppPart = li96.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast(dec)).as("sp_qty"))
      val perPart = li96.groupBy(col("l_partkey").as("pp_partkey"))
        .agg(sum(col("l_quantity").cast(dec)).as("p_qty"))
      val qualifying = perSuppPart
        .join(perPart, col("l_partkey") === col("pp_partkey"))
        .filter(col("sp_qty").cast("double") >
          lit(0.3) * col("p_qty").cast("double"))
        .select(col("l_suppkey")).distinct()
      supplier(s, d)
        .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
    }),

    // TPC-H Q21-style (adapted: "kept waiting" proxied by return flags):
    // per supplier, orders where it returned lines, another supplier also
    // participated (EXISTS → left-semi with a non-equi term), but no OTHER
    // supplier returned (NOT EXISTS → left-anti) — the double-correlated
    // existence shape. Probe sides deduped to narrow key rows first.
    "q21_lone_returner" -> ((s, d) => {
      val li = lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
      val mine = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
      val others = li
        .select(col("l_orderkey").as("o2_key"), col("l_suppkey").as("o2_supp"))
        .distinct()
      val othersR = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("o3_key"), col("l_suppkey").as("o3_supp"))
        .distinct()
      mine
        .join(others, col("l_orderkey") === col("o2_key") &&
          col("l_suppkey") =!= col("o2_supp"), "left_semi")
        .join(othersR, col("l_orderkey") === col("o3_key") &&
          col("l_suppkey") =!= col("o3_supp"), "left_anti")
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
    }),

    // TPC-H Q22-style: well-funded customers gone quiet (no orders since
    // 1999 — this corpus gives every customer SOME order, so "lapsed"
    // replaces "never ordered") — global scalar average over positive
    // balances broadcast back as a filter, left-anti NOT EXISTS into the
    // recent-order set, aggregated per nation.
    "q22_idle_customers" -> ((s, d) => {
      val cust = customer(s, d)
      val avgBal = cust.filter(col("c_acctbal") > 0)
        .agg((sum(col("c_acctbal").cast(dec)).cast("double") / count(lit(1)))
          .as("avg_bal"))
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(orders(s, d)
            .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("numcust"),
          sum(col("c_acctbal").cast(dec)).cast("double").as("totacctbal"))
    }),

    // Interval-point RANGE JOIN without a nested-loop plan: shipments in
    // the 30-day window after each probe order's date. The naive BETWEEN
    // join has no equi-key and plans as a BroadcastNestedLoopJoin
    // (O(points × intervals) at any scale); RangeJoin restores an
    // equi-key by time-bucketing, so this stays a shuffled equi-join the
    // catalog lint accepts and AQE can skew-split. qty_sum is exact:
    // quantities are small integers stored as double, and integer sums
    // stay below 2^53 — order of addition cannot perturb the value.
    "q_range_join" -> ((s, d) => {
      // epoch DAYS, not seconds: the corpus timestamps are date-granular
      // and unix_date is timezone-independent (no NTZ/LTZ cast hazard)
      val win = 30L
      val probes = orders(s, d)
        .filter(pmod(col("o_orderkey"), lit(1000)) === 0)
        .select(col("o_orderkey"),
          unix_date(col("o_orderdate").cast("date")).cast("long").as("w_start"),
          (unix_date(col("o_orderdate").cast("date")).cast("long") + win)
            .as("w_end"))
      val ship = lineitem(s, d)
        .select(col("l_quantity"),
          unix_date(col("l_shipdate").cast("date")).cast("long").as("ship_ts"))
      RangeJoin.rangePointJoin(probes, "w_start", "w_end",
          ship, "ship_ts", bucketWidth = win)
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_shipments"),
          sum(col("l_quantity")).as("qty_sum"))
    }),

    // Interval-interval OVERLAP join (RangeJoin.intervalOverlapJoin):
    // same-customer orders whose 15-day windows overlap — concurrent-
    // activity detection. Self-join on (custkey, bucket) equi-keys; the
    // max-start bucket rule makes every overlapping pair emerge exactly
    // once with NO post-join dedup shuffle. overlap_days sums exact
    // integer day counts.
    "q_interval_join" -> ((s, d) => {
      val win = 15L
      def windows(alias: String) = orders(s, d).select(
        col("o_custkey"),
        col("o_orderkey").as(s"ok_$alias"),
        unix_date(col("o_orderdate").cast("date")).cast("long").as(s"s_$alias"),
        (unix_date(col("o_orderdate").cast("date")).cast("long") + win)
          .as(s"e_$alias"))
      RangeJoin.intervalOverlapJoin(
          windows("a"), "s_a", "e_a", windows("b"), "s_b", "e_b",
          blockCols = Seq("o_custkey"), bucketWidth = win)
        .filter(col("ok_a") < col("ok_b"))
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("n_overlaps"),
          sum(least(col("e_a"), col("e_b")) - greatest(col("s_a"), col("s_b"))
            + lit(1L)).cast("long").as("overlap_days"))
    }),

    // Events — time-bucketed aggregation (batch form of the streaming
    // window). Hour surfaced as integer epoch-micros so the DuckDB compare
    // is exact regardless of timestamp physical type.
    "q_events_window" -> ((s, d) =>
      events(s, d)
        .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("hour_us"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec)).cast("double").as("total_value"))),

    // Events — stream-static broadcast enrich in batch form: each event
    // decorated with the customer's market segment, then rolled up. The
    // streaming twin (EventStreams.enrichStream on a stream frame) is
    // stateless and proven batch-equal in EventStreamsSpec.
    "q_events_enrich" -> ((s, d) => {
      val dim = customer(s, d).select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment"))
      graft.streaming.EventStreams.enrichStream(events(s, d), dim, "user_id")
        .groupBy(coalesce(col("segment"), lit("none")).as("segment"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec)).cast("double").as("total_value"))
    }),

    // As-of join (custom LogicalPlan + Strategy + sort-merge SparkPlan):
    // each click event picks up the user's most recent at-or-before
    // purchase value. Right side deduped to one row per (user, time) so
    // the match is deterministic on both engines.
    //
    // BENCH NOTE — BENCH_r18's drifted stamp (1.708 s vs the 0.244
    // floor, heal 1.872→1.708) is ADJUDICATED (r19, the corpus_build
    // playbook): no code touched this query or AsOfJoinPlan in the r18
    // diff, and a fresh-JVM rep profile on identical code reads
    // 5.81/0.95/0.60/0.61/0.52/0.54 s — the one NON-codegen exec in the
    // catalog (interpreted per-group merge loop) needs ~3 target-SF
    // reps to JIT-tier, then steadies at 0.52-0.61 s (2.2× floor,
    // under both drift tiers: excess 0.31 s < 0.75). The r18 driver
    // heal ran on a loaded box (its cal_q_spread_raw was 9.2×). Cause
    // named: JIT tiering of the custom exec + box noise, not a plan
    // change.
    "q_asof_join" -> ((s, d) => {
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user"), unix_micros(col("ts")).as("p_us"))
        .agg(max(col("value")).as("purchase_value"))
      graft.plans.AsOfJoinPlan.asOf(clicks, purchases,
          "user_id", "t_us", "p_user", "p_us")
        .select(col("event_id"), col("user_id"), col("t_us"),
          col("purchase_value"))
    }),

    // FORWARD as-of (pandas merge_asof direction parity): each click picks
    // up the user's FIRST at-or-after purchase — the backward operator on
    // negated times, same custom sort-merge exec.
    "q_asof_forward" -> ((s, d) => {
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user"), unix_micros(col("ts")).as("p_us"))
        .agg(max(col("value")).as("purchase_value"))
      graft.plans.AsOfJoinPlan.asOfForward(clicks, purchases,
          "user_id", "t_us", "p_user", "p_us")
        .select(col("event_id"), col("user_id"), col("t_us"),
          col("purchase_value"))
    }),

    // NEAREST as-of: min |purchase_ts - click_ts| per user, exact ties
    // backward — two native as-of runs stitched on the unique event_id;
    // the matched time is surfaced so the tie-break is hash-checked too.
    "q_asof_nearest" -> ((s, d) => {
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user"), unix_micros(col("ts")).as("p_us"))
        .agg(max(col("value")).as("purchase_value"))
      graft.plans.AsOfJoinPlan.asOfNearest(clicks, purchases, "event_id",
          "user_id", "t_us", "p_user", "p_us", Seq("purchase_value"))
        .select(col("event_id"), col("user_id"), col("t_us"),
          col("purchase_value"), col("p_us_matched"))
    }),

    // Events — stream-stream interval join in batch form: purchases
    // attributed to same-user clicks within the preceding hour. Timestamps
    // surfaced as epoch-micros for exact cross-engine compare; the
    // streaming twin (watermarked two-sided state) is
    // EventStreams.attributionJoin, proven equal in EventStreamsSpec.
    "q_events_attribution" -> ((s, d) =>
      graft.streaming.EventStreams.attributionJoin(events(s, d))
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          unix_micros(col("click_ts")).as("click_us"),
          unix_micros(col("purchase_ts")).as("purchase_us"),
          col("value"))),

    // the funnel-DROPOUT face: LEFT-OUTER interval join — every click
    // emits, unconverted ones as NULLs; the streaming twin
    // (EventStreams.attributionJoinOuter) holds each click in state
    // until the watermark proves no purchase can still match
    // (EventStreamsSpec pins the watermark-advanced null emission).
    "q_events_attribution_outer" -> ((s, d) =>
      graft.streaming.EventStreams.attributionJoinOuter(events(s, d))
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          unix_micros(col("click_ts")).as("click_us"),
          unix_micros(col("purchase_ts")).as("purchase_us"),
          col("value"))),

    // Events — ordered conversion funnel view→click→purchase with 24-hour
    // stage windows: each stage's first time must follow the previous
    // stage's within the window (a click before the first view, or hours
    // later, doesn't convert). Three per-user min-aggregations chained by
    // equi-joins + one final count — every stage shuffles on user_id, so
    // the exchanges line up and stage counts shrink monotonically. Micros
    // on both engines for exact compares.
    "q_events_funnel" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("t")).as("t_view"))
      val dayUs = 86400000000L
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("t") >= col("t_view") && col("t") < col("t_view") + dayUs)
        .groupBy(col("user_id")).agg(min(col("t")).as("t_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("t") >= col("t_click") && col("t") < col("t_click") + dayUs)
        .groupBy(col("user_id")).agg(min(col("t")).as("t_purchase"))
      v.join(c, Seq("user_id"), "left_outer")
        .join(p, Seq("user_id"), "left_outer")
        .agg(count(lit(1)).as("n_view"),
          count(col("t_click")).as("n_click"),
          count(col("t_purchase")).as("n_purchase"))
    }),

    // Events — signup-cohort day-7 retention: per cohort day, how many
    // signup users produced ANY event exactly 7 days later. Distinct
    // (user, day) activity + one equi-join on (user, day0+7) — the
    // retention matrix shape at any scale.
    "q_events_retention" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"),
        unix_date(col("ts").cast("date")).cast("long").as("day"),
        col("event_type"))
      val cohort = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("day")).as("d0"))
      val act = ev.select(col("user_id"), col("day")).distinct()
        .withColumnRenamed("user_id", "a_user")
      cohort.join(act,
          col("a_user") === col("user_id") && col("day") === col("d0") + 7,
          "left_outer")
        .groupBy(col("d0").as("cohort_day"))
        .agg(count(lit(1)).as("n_users"),
          count(col("day")).as("n_retained_d7"))
    }),

    // Events — lag window + conditional: sessionization (30-min gap rule).
    // Gap compare in integer micros on both sides for exact parity.
    "q_events_sessions" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, d)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1L)
            .otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).cast("long").as("n_sessions"),
          count(lit(1)).as("n_events"))
    }),

    // Same 30-minute-gap rule through the CUSTOM-STATE operator
    // (flatMapGroupsWithState, the streaming sessionizer in batch mode) —
    // proves the stateful path agrees with the declarative window+lag
    // formulation under the same DuckDB oracle.
    "q_events_sessions_stateful" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value").cast("double").as("value"))
        .as[graft.streaming.EventStreams.Event]
      graft.streaming.EventStreams
        .sessionizeEventTime(s, ev, gapMinutes = 30, finalizeOpen = true)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("n_sessions"),
          sum(col("n_events")).cast("long").as("n_events"))
    }),

    // MERGE/upsert snapshot maintenance: a deterministic delta (every
    // 10th order flips status to 'X'; every 97th re-inserts under an
    // offset key) applied via MergeOps.upsert — base scanned once, never
    // shuffled when the delta key set broadcasts. Verified through the
    // post-merge status histogram + key checksum.
    "q_merge_upsert" -> ((s, d) => {
      val o = orders(s, d)
      val updated = o.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_orderstatus", lit("X"))
      val inserts = o.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
      MergeOps.upsert(o, updated.unionByName(inserts), "o_orderkey")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
    }),

    // CBO-planned star join: the inputs are CATALOG tables with full
    // column statistics (CboStats.registerAnalyzed — ANALYZE TABLE runs
    // on every invocation, the machine-generated-SQL posture where no
    // hand broadcast() hint exists), and the values are plan-independent
    // so the oracle pins correctness while CboStatsSpec pins the
    // decision flip the stats buy (selective-filter side broadcast
    // instead of shuffled). The filter is deliberately selective (one
    // priority of five): exactly the estimate a file-size-only planner
    // cannot see.
    "q_cbo_join" -> ((s, d) => {
      CboStats.registerAnalyzed(s, d, "orders", "cbo_orders")
      CboStats.registerAnalyzed(s, d, "customer", "cbo_customer")
      s.table("cbo_orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .join(s.table("cbo_customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
    }),

    // The JOIN-REORDER half of the CBO lever (q_cbo_join pins the
    // broadcast flip): a 3-table star written fact-FIRST —
    // (lineitem ⋈ orders) ⋈ tiny-filtered-customer, the order a
    // machine-generated query is free to emit — over fully ANALYZE'd
    // catalog tables. With cbo + joinReorder scoped on,
    // CostBasedJoinReorder's DP provably rewrites the tree dims-first
    // with the fact joined LAST (CboStatsSpec pins the leaf order on the
    // optimized plan, raw-vs-ANALYZE'd); the oracle pins that the
    // reorder never perturbs values.
    "q_cbo_reorder" -> ((s, d) => {
      // stats scoped to the join/filter/agg columns the DP estimates
      // with — FOR ALL COLUMNS on the fact would re-scan every wide row
      // per invocation for stats the reorder never reads
      val statCols = Map(
        "lineitem" -> Seq("l_orderkey", "l_returnflag", "l_extendedprice"),
        "orders" -> Seq("o_orderkey", "o_custkey"),
        "customer" -> Seq("c_custkey", "c_mktsegment"))
      for ((t, cs) <- statCols)
        CboStats.registerAnalyzedCols(s, d, t, s"cbo_ro_$t", cs)
      CboStats.withCbo(s) {
        val df = s.table("cbo_ro_lineitem")
          .join(s.table("cbo_ro_orders"),
            col("l_orderkey") === col("o_orderkey"))
          .join(s.table("cbo_ro_customer")
              .filter(col("c_mktsegment") === "BUILDING" &&
                col("c_custkey") <= 150),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_returnflag").as("returnflag"))
          .agg(count(lit(1)).as("n_items"),
            sum(round(col("l_extendedprice") * 100).cast("long"))
              .as("sum_cents"))
        // force optimization INSIDE the scope: optimizedPlan is a
        // memoized lazy val on this Dataset's QueryExecution, so the
        // caller's later action executes the CBO-reordered tree even
        // though withCbo restores the confs on exit
        df.queryExecution.optimizedPlan
        df
      }
    }),

    // MERGE-ON-READ equivalence: the deletion-vector read path
    // (DeletionVectors.applyDv — per-key max(below_seq) mask, broadcast
    // left join, survive iff written at/after the mask) must produce
    // exactly what copy-on-write applyChanges would have materialized.
    // Spark computes the MoR side over seq-tagged frames (base rows at
    // seq 0, an upsert batch at seq 1 masking below 1, a delete batch
    // masking below 2 — keys on both batches overlap at k%91, exercising
    // the max-aggregation); the oracle computes the COW side in plain
    // ANSI SQL. Value equality IS the equivalence proof, cross-engine.
    "q_merge_on_read" -> ((s, d) => {
      val base = orders(s, d).select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        round(col("o_totalprice") * 100).cast("long").as("pay_cents"))
      val upd = base.filter(pmod(col("k"), lit(7)) === 0)
        .select(col("k"), lit("U").as("status"),
          (col("pay_cents") + 999L).as("pay_cents"))
      val data = base.withColumn(DeletionVectors.SeqCol, lit(0L))
        .unionByName(upd.withColumn(DeletionVectors.SeqCol, lit(1L)))
      val dv = upd.select(col("k"), lit(1L).as("below_seq"))
        .unionByName(base.filter(pmod(col("k"), lit(13)) === 0)
          .select(col("k"), lit(2L).as("below_seq")))
      DeletionVectors.applyDv(data, dv, "k").drop(DeletionVectors.SeqCol)
    }),

    // TIME TRAVEL over the DV protocol: sequence numbers
    // ARE the version history, so every historical state is three
    // filters away — data seq <= s, masks below_seq <= s. The fixture
    // layers an upsert (seq 1), a delete issued at tip 1 (below 2), and
    // a post-delete reinsert (seq 2) so as-of 1 must EXCLUDE the delete
    // while as-of 2 must show the %13∩%5 keys resurrected by the seq-2
    // image — the ordering subtleties, value-oracled per version from a
    // from-scratch SQL replay of all three states.
    "q_dv_asof" -> ((s, d) => {
      val base = orders(s, d).select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val upd7 = base.filter(pmod(col("k"), lit(7)) === 0)
        .withColumn("cents", col("cents") + 999L)
      val upd5 = base.filter(pmod(col("k"), lit(5)) === 0)
        .withColumn("cents", col("cents") + 555L)
      val sq = DeletionVectors.SeqCol
      val data = base.withColumn(sq, lit(0L))
        .unionByName(upd7.withColumn(sq, lit(1L)))
        .unionByName(upd5.withColumn(sq, lit(2L)))
      val dv = upd7.select(col("k"), lit(1L).as("below_seq"))
        .unionByName(base.filter(pmod(col("k"), lit(13)) === 0)
          .select(col("k"), lit(2L).as("below_seq")))
        .unionByName(upd5.select(col("k"), lit(2L).as("below_seq")))
      def asOf(n: Long) = DeletionVectors.applyDv(
          data.filter(col(sq) <= n), dv.filter(col("below_seq") <= n), "k")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("key_sum"),
          sum(col("cents")).as("cents_sum"))
        .select(lit(n).as("as_of"), col("n"), col("key_sum"), col("cents_sum"))
      asOf(0L).unionByName(asOf(1L)).unionByName(asOf(2L))
    }),

    // CHANGE FEED derived FROM the DV table (DeletionVectors.changesOf —
    // the storage-level inverse of the write protocol):
    // net insert/delete images over the (0, 2] window of the q_dv_asof
    // fixture — upserts emit their delete+insert pair, the %7 images
    // superseded again within the window net out of the insert side, and
    // the delete side carries the exact OLD images (key AND value sums
    // hash-checked per change type). This is how a downstream aggregate
    // or replica maintains from the lake without the original CDC stream.
    "q_dv_change_feed" -> ((s, d) => {
      val base = orders(s, d).select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val upd7 = base.filter(pmod(col("k"), lit(7)) === 0)
        .withColumn("cents", col("cents") + 999L)
      val upd5 = base.filter(pmod(col("k"), lit(5)) === 0)
        .withColumn("cents", col("cents") + 555L)
      val sq = DeletionVectors.SeqCol
      val data = base.withColumn(sq, lit(0L))
        .unionByName(upd7.withColumn(sq, lit(1L)))
        .unionByName(upd5.withColumn(sq, lit(2L)))
      val dv = upd7.select(col("k"), lit(1L).as("below_seq"))
        .unionByName(base.filter(pmod(col("k"), lit(13)) === 0)
          .select(col("k"), lit(2L).as("below_seq")))
        .unionByName(upd5.select(col("k"), lit(2L).as("below_seq")))
      DeletionVectors.changesOf(data, dv, "k", fromSeq = 0L, toSeq = 2L)
        .groupBy(col("_change").as("change"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("key_sum"),
          sum(col("cents")).as("cents_sum"))
    }),

    // POSITION-scoped deletion vectors, MoR == COW on real files: orders
    // lands as a single sorted data file (one writer task, so the scan's
    // _metadata.row_index IS the global o_orderkey-order row number — the
    // determinism the oracle replays with row_number()), then a position
    // sidecar kills every 13th ordinal (the keyless-erasure face) and an
    // equality sidecar kills keys divisible by 101 — BOTH masks compose
    // on the read path. The oracle computes the COW twin in plain SQL:
    // value equality proves the (file, ordinal) protocol names exactly
    // the rows the arithmetic says. DeletionVectorsSpec pins the
    // filesystem half (data files byte-identical, only _pdv/_dv written,
    // fold clears both).
    "q_pos_delete" -> ((s, d) => {
      val dir = posDvDir(s, d)
      DeletionVectors.read(s, dir, "o_orderkey")
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("key_sum"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
    }),

    // MATERIALIZED JOIN VIEW maintained merge-on-read (JoinMv): the
    // orders ⋈ customer view lives as a DV table; one CDC batch lands as
    // one appended sequence + one sidecar write — updates replace,
    // deletes mask, and an update that RE-POINTS the join key at a
    // nonexistent customer vanishes with no replacement row (the mask
    // covers every CDC'd key, not just re-joined ones). The oracle
    // recomputes (fact ⊕ delta) ⋈ dim from scratch in SQL — equality
    // proves the delta-sized maintenance == the full re-join, while
    // JoinMvSpec pins the filesystem half (no view file rewritten).
    "q_join_mv" -> ((s, d) => {
      val dir = joinMvDir(s, d)
      JoinMv.read(s, dir, "k")
        .groupBy(col("c_mktsegment").as("mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("key_sum"),
          sum(col("cents")).as("sum_cents"))
    }),

    // The DV audit report a lake operator reads before scheduling a fold:
    // per sequence directory, rows written vs rows still live under the
    // current sidecar — deferred-delete debt, per file scope. Same masks
    // as q_merge_on_read; one aggregate over the seq-tagged data.
    "q_dv_mask_stats" -> ((s, d) => {
      val base = orders(s, d).select(col("o_orderkey").as("k"))
      val upd = base.filter(pmod(col("k"), lit(7)) === 0)
      val data = base.withColumn(DeletionVectors.SeqCol, lit(0L))
        .unionByName(upd.withColumn(DeletionVectors.SeqCol, lit(1L)))
      val dv = upd.select(col("k"), lit(1L).as("below_seq"))
        .unionByName(base.filter(pmod(col("k"), lit(13)) === 0)
          .select(col("k"), lit(2L).as("below_seq")))
      val live = DeletionVectors.applyDv(data, dv, "k")
        .groupBy(col(DeletionVectors.SeqCol).as("seq"))
        .agg(count(lit(1)).as("n_live"))
      data.groupBy(col(DeletionVectors.SeqCol).as("seq"))
        .agg(count(lit(1)).as("n_written"))
        .join(live, Seq("seq"), "left_outer")
        .select(col("seq"), col("n_written"),
          coalesce(col("n_live"), lit(0L)).as("n_live"),
          (col("n_written") - coalesce(col("n_live"), lit(0L))).as("n_masked"))
    }),

    // SCD type-2 dimension maintenance: a deterministic change batch
    // (every 7th customer re-rated +1000) closes the current version at
    // the change date and appends the new one — the full versioned
    // dimension comes back (one history pass + the appended batch).
    // Timestamps (not DATE) for the validity columns: every oracled
    // temporal column in the catalog is TimestampType — parquet date32
    // round-trips as python objects on the compare side and hash-breaks.
    "q_scd2_apply" -> ((s, d) => {
      val hist = customer(s, d).select(
        col("c_custkey"), col("c_acctbal"),
        to_timestamp(lit("2020-01-01 00:00:00")).as("effective_from"),
        lit(null).cast("timestamp").as("effective_to"))
      val changes = customer(s, d)
        .filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"),
          (col("c_acctbal") + lit(1000.0)).as("c_acctbal"),
          to_timestamp(lit("2023-06-01 00:00:00")).as("change_ts"))
      MergeOps.scd2Apply(hist, changes, "c_custkey")
    }),

    // SCD2 point-in-time lookup — the reason the versioned dimension
    // exists: each order joins the customer-balance VERSION effective at
    // its order date (equi join on the key carries the plan; the
    // validity window is a residual filter, so at 100 TB this is one
    // keyed shuffle, not a range join). History: every 7th customer
    // re-rated +1000 at 1996-07-01, so orders BEFORE see the old
    // balance, AFTER the new — both paths provably exercised.
    "q_scd2_lookup" -> ((s, d) => {
      val hist = MergeOps.scd2Apply(
        customer(s, d).select(
          col("c_custkey"), col("c_acctbal"),
          to_timestamp(lit("1990-01-01 00:00:00")).as("effective_from"),
          lit(null).cast("timestamp").as("effective_to")),
        customer(s, d).filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey"),
            (col("c_acctbal") + lit(1000.0)).as("c_acctbal"),
            to_timestamp(lit("1996-07-01 00:00:00")).as("change_ts")),
        "c_custkey")
      orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate").cast("timestamp").as("o_ts"))
        .join(hist, col("o_custkey") === col("c_custkey") &&
          col("o_ts") >= col("effective_from") &&
          (col("effective_to").isNull || col("o_ts") < col("effective_to")))
        .select(col("o_orderkey"), col("c_custkey"),
          col("c_acctbal"), col("effective_from"))
    }),

    // Incremental materialized-aggregate maintenance: the per-(flag,
    // status) count/sum rollup updates from a CDC batch (every 13th
    // order's lines deleted with their old images, a +5-quantity copy of
    // every 17th order's lines inserted) WITHOUT rescanning the fact —
    // delete images subtract, insert images add, only touched groups
    // re-combine. The oracle recomputes the whole aggregate on the edited
    // fact: incremental == full recompute, decimal-exact.
    "q_incr_agg" -> ((s, d) => {
      val li = lineitem(s, d).select(
        col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast(dec).as("qty"),
        col("l_extendedprice").cast(dec).as("price"),
        col("l_orderkey"))
      val baseAgg = li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("qty")).as("sum_qty"),
          sum(col("price")).as("sum_price"))
      val deletes = li.filter(col("l_orderkey") % 13 === 0).withColumn("op", lit("d"))
      val inserts = li.filter(col("l_orderkey") % 17 === 0)
        .withColumn("qty", col("qty") + lit(5).cast(dec))
        .withColumn("op", lit("i"))
      IncrementalAgg.applyDelta(
        baseAgg, deletes.unionByName(inserts).drop("l_orderkey"),
        Seq("l_returnflag", "l_linestatus"),
        Seq("qty" -> "sum_qty", "price" -> "sum_price"))
        .select(col("l_returnflag"), col("l_linestatus"), col("cnt"),
          col("sum_qty").cast("double").as("sum_qty"),
          col("sum_price").cast("double").as("sum_price"))
    }),

    // Incremental MIN/MAX maintenance under deletes — the gap
    // IncrementalAgg documents out, closed by IncrementalExtrema's
    // k-deep reserves: the %13 deletes and %7 update pairs are absorbed
    // by the reserves (runner-up extrema already on hand, no base scan),
    // while a targeted low-cents delete sweep on the 1-URGENT group
    // provably EXHAUSTS its min-reserve (9 bottom rows deleted > k=4) —
    // that one group takes the flagged-refresh path, a group-semi-joined
    // probe of the post-delta base, never a full re-init. The oracle
    // recomputes min/max/count over the surviving multiset from scratch:
    // equality proves reserve maintenance, bound discipline, and the
    // refresh routing in one readout.
    "q_incr_extrema" -> ((s, d) => {
      val f = orders(s, d).select(
        col("o_orderkey").as("k"), col("o_orderpriority").as("priority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val state0 = IncrementalExtrema.init(f, Seq("priority"), "cents", 4)
      val del13 = f.filter(pmod(col("k"), lit(13)) === 0)
      val upd7 = f.filter(pmod(col("k"), lit(7)) === 0 &&
        pmod(col("k"), lit(13)) =!= 0)
      val ins11 = f.filter(pmod(col("k"), lit(11)) === 0 &&
        pmod(col("k"), lit(7)) =!= 0 && pmod(col("k"), lit(13)) =!= 0)
      val delLow = f.filter(col("priority") === "1-URGENT" &&
        col("cents") < 2000000L &&
        pmod(col("k"), lit(13)) =!= 0 && pmod(col("k"), lit(7)) =!= 0)
      val delta = del13.unionByName(upd7).unionByName(delLow)
        .withColumn("op", lit("d"))
        .unionByName(upd7.withColumn("cents", col("cents") + 999L)
          .withColumn("op", lit("i")))
        .unionByName(ins11.withColumn("cents", col("cents") + 1234567L)
          .withColumn("op", lit("i")))
      val post = f.filter(pmod(col("k"), lit(13)) =!= 0 &&
          pmod(col("k"), lit(7)) =!= 0 &&
          !(col("priority") === "1-URGENT" && col("cents") < 2000000L))
        .unionByName(upd7.withColumn("cents", col("cents") + 999L))
        .unionByName(ins11.withColumn("cents", col("cents") + 1234567L))
      val s1 = IncrementalExtrema.applyDelta(state0, delta,
        Seq("priority"), "cents", 4)
      val s2 = IncrementalExtrema.refresh(s1, post, Seq("priority"), "cents", 4)
      IncrementalExtrema.extrema(s2, Seq("priority"))
        .select(col("priority"), col("min_v").as("min_cents"),
          col("max_v").as("max_cents"), col("cnt"))
    }),

    // Change-feed generation: diff the orders snapshot against a
    // deterministically edited twin (every 23rd key deleted, every 10th
    // surviving key's status flipped, every 97th key re-inserted under a
    // new key) into the minimal i/u/d batch — 'd' rows carry the
    // departing payload, 'u'/'i' rows the new one, untouched rows stay
    // out of the feed. MergeOpsSpec pins the round-trip law
    // applyChanges(old, feed) == new.
    "q_change_feed" -> ((s, d) => {
      val o = orders(s, d).select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val edited = o.filter(col("o_orderkey") % 23 =!= 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 10 === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
        .unionByName(o.filter(col("o_orderkey") % 97 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L)))
      MergeOps.changeFeed(o, edited, "o_orderkey")
    }),

    // Schema evolution across file generations: an "old generation" of
    // orders (INT custkey, FLOAT price, no rank column — even keys)
    // unions with the "new generation" (BIGINT/DOUBLE, added
    // priority_rank — odd keys) under the widened schema; old rows carry
    // typed NULL for the added column. Name-matched with an explicit
    // widening lattice — positional union after a column add is the
    // silent-corruption bug this operator exists to prevent.
    "q_schema_evolve" -> ((s, d) => {
      val o = orders(s, d)
      val gen1 = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"),
          col("o_custkey").cast("int").as("o_custkey"),
          col("o_totalprice").cast("float").as("o_totalprice"))
      val gen2 = o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"),
          substring(col("o_orderpriority"), 1, 1).cast("int")
            .as("priority_rank"))
      graft.io.SchemaEvolution.unionEvolve(Seq(gen1, gen2))
    }),

    // Cross-source record linkage (Linkage.fuzzyJoin): customers vs an
    // in-plan perturbed twin of themselves (both engines see identical
    // inputs — the q_pii_scrub planting technique). The twin mutates the
    // name TAIL only (append / replace-last / unchanged / +3 chars as a
    // negative control), so blocking on the name's MIDDLE digits —
    // chars 14-17 of `Customer#ddddddddd`, i.e. the 10^4..10^1 digits,
    // which bounds every block at ~10 records at ANY scale factor —
    // still pairs true matches while candidate generation stays an equi
    // join; exact levenshtein <= 2 then separates real links (dist 0-1)
    // from the planted non-links (dist 3). Blocked-then-verified —
    // never all-pairs.
    "q_record_linkage" -> ((s, d) => {
      val cust = customer(s, d).select(col("c_custkey"), col("c_name"))
      val twin = cust.select(
        (col("c_custkey") + 1000000L).as("t_id"),
        when(pmod(col("c_custkey"), lit(2)) === 0,
          concat(col("c_name"), lit("X")))
          .when(pmod(col("c_custkey"), lit(3)) === 0,
            concat(col("c_name").substr(lit(1), length(col("c_name")) - 1),
              lit("~")))
          .when(pmod(col("c_custkey"), lit(5)) === 0, col("c_name"))
          .otherwise(concat(col("c_name"), lit("ZZZ"))).as("t_name"))
      Linkage.fuzzyJoin(cust, twin, "c_custkey", "t_id",
        "c_name", "t_name", blockKey = substring(_, 14, 4), maxDist = 2)
    }),

    // Linkage SCORING via the native codegen'd Jaro–Winkler expression
    // (functions/JaroWinklerExpression.scala — whole-stage codegen, no
    // UDF boundary): same blocked candidates and exact-Levenshtein keep
    // decision as q_record_linkage (integer-exact, so the kept SET can't
    // drift on float ulps), with each kept pair scored for ranking. The
    // two-stage generate-then-score shape is the standard Fellegi–Sunter
    // linkage pipeline.
    "q_linkage_jw" -> ((s, d) => {
      val cust = customer(s, d).select(col("c_custkey"), col("c_name"))
      val twin = cust.select(
        (col("c_custkey") + 1000000L).as("t_id"),
        when(pmod(col("c_custkey"), lit(2)) === 0,
          concat(col("c_name"), lit("X")))
          .when(pmod(col("c_custkey"), lit(3)) === 0,
            concat(col("c_name").substr(lit(1), length(col("c_name")) - 1),
              lit("~")))
          .when(pmod(col("c_custkey"), lit(5)) === 0, col("c_name"))
          .otherwise(concat(col("c_name"), lit("ZZZ"))).as("t_name"))
      val an = cust.select(col("c_custkey").as("a_id"), col("c_name").as("a_nm"),
        substring(col("c_name"), 14, 4).as("__blk"))
      val bn = twin.select(col("t_id").as("b_id"), col("t_name").as("b_nm"),
        substring(col("t_name"), 14, 4).as("__blk"))
      an.join(bn, "__blk")
        .withColumn("dist", levenshtein(col("a_nm"), col("b_nm")))
        .filter(col("dist") <= 1)
        .select(col("a_id"), col("b_id"),
          round(graft.functions.GraftFunctions.jaroWinkler(
            col("a_nm"), col("b_nm")), 6).as("jw"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q_record_linkage" ->
      """WITH twin AS (
        |  SELECT c_custkey + 1000000 AS t_id,
        |    CASE WHEN c_custkey % 2 = 0 THEN c_name || 'X'
        |         WHEN c_custkey % 3 = 0
        |           THEN substr(c_name, 1, length(c_name) - 1) || '~'
        |         WHEN c_custkey % 5 = 0 THEN c_name
        |         ELSE c_name || 'ZZZ' END AS t_name
        |  FROM customer)
        |SELECT c.c_custkey AS a_id, t.t_id AS b_id,
        |  CAST(levenshtein(c.c_name, t.t_name) AS BIGINT) AS dist
        |FROM customer c JOIN twin t
        |  ON substr(c.c_name, 14, 4) = substr(t.t_name, 14, 4)
        |WHERE levenshtein(c.c_name, t.t_name) <= 2""".stripMargin,

    "q_winsorize" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
        |  ROUND(CAST(l_extendedprice AS DOUBLE), 6) AS price,
        |  ROUND(least(greatest(CAST(l_extendedprice AS DOUBLE), ROUND(p01, 6)),
        |    ROUND(p99, 6)), 6) AS price_w,
        |  (CAST(l_extendedprice AS DOUBLE) < ROUND(p01, 6)
        |   OR CAST(l_extendedprice AS DOUBLE) > ROUND(p99, 6)) AS clipped
        |FROM lineitem, (
        |  SELECT quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.01) AS p01,
        |         quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99) AS p99
        |  FROM lineitem) q""".stripMargin,

    "q_target_encode" ->
      """WITH li AS (
        |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
        |         l_linestatus AS cat,
        |         CAST(l_quantity AS DECIMAL(18,2)) AS y
        |  FROM lineitem),
        |st AS (
        |  SELECT cat, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(y) AS DECIMAL(18,2)) AS s
        |  FROM li GROUP BY cat)
        |SELECT l_orderkey, line_no, cat,
        |  ROUND(CAST(y AS DOUBLE), 6) AS y,
        |  CASE WHEN n > 1
        |       THEN ROUND(CAST(s - y AS DOUBLE) / (n - 1), 6)
        |       ELSE NULL END AS y_loo
        |FROM li JOIN st USING (cat)""".stripMargin,

    "q_impute_median" ->
      """WITH li AS (
        |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
        |         l_returnflag AS flag,
        |         CASE WHEN (l_orderkey + l_linenumber) % 7 = 0 THEN NULL
        |              ELSE CAST(l_quantity AS DOUBLE) END AS qty_n
        |  FROM lineitem),
        |med AS (
        |  SELECT flag, quantile_cont(qty_n, 0.5) AS med
        |  FROM li GROUP BY flag)
        |SELECT l_orderkey, line_no, flag,
        |  ROUND(coalesce(qty_n, med), 6) AS qty_filled,
        |  qty_n IS NULL AS was_imputed
        |FROM li JOIN med USING (flag)""".stripMargin,

    "q_group_standardize" ->
      """WITH li AS (
        |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
        |         l_returnflag AS flag, l_quantity,
        |         CAST(round(l_quantity * 100) AS BIGINT) AS q100
        |  FROM lineitem),
        |st AS (
        |  SELECT flag, CAST(count(*) AS BIGINT) AS k,
        |         CAST(sum(q100) AS BIGINT) AS s,
        |         CAST(sum(q100 * q100) AS BIGINT) AS sq
        |  FROM li GROUP BY flag)
        |SELECT l_orderkey, line_no, flag,
        |  ROUND(CAST(l_quantity AS DOUBLE), 6) AS qty,
        |  ROUND((CAST(l_quantity AS DOUBLE) - CAST(s AS DOUBLE) / k / 100.0)
        |    / sqrt(CAST(k * sq - s * s AS DOUBLE) / (k * (k - 1)) / 10000.0), 6)
        |    AS qty_z
        |FROM li JOIN st USING (flag)""".stripMargin,

    "q_linkage_jw" ->
      """WITH twin AS (
        |  SELECT c_custkey + 1000000 AS t_id,
        |    CASE WHEN c_custkey % 2 = 0 THEN c_name || 'X'
        |         WHEN c_custkey % 3 = 0
        |           THEN substr(c_name, 1, length(c_name) - 1) || '~'
        |         WHEN c_custkey % 5 = 0 THEN c_name
        |         ELSE c_name || 'ZZZ' END AS t_name
        |  FROM customer)
        |SELECT c.c_custkey AS a_id, t.t_id AS b_id,
        |  round(jaro_winkler_similarity(c.c_name, t.t_name), 6) AS jw
        |FROM customer c JOIN twin t
        |  ON substr(c.c_name, 14, 4) = substr(t.t_name, 14, 4)
        |WHERE levenshtein(c.c_name, t.t_name) <= 1""".stripMargin,
    "q_scan_project" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
         CAST(l_quantity AS INT) AS qty_int, l_returnflag AS flag FROM lineitem""",

    "q_filter_isin" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no, l_quantity AS qty
         FROM lineitem WHERE l_returnflag IN ('A','R') AND l_quantity > 25""",

    "q_dropna_all" ->
      """SELECT lang, count(*) AS n_docs FROM documents
         WHERE NOT (doc_id IS NULL AND text IS NULL AND lang IS NULL
                    AND source IS NULL AND n_chars IS NULL)
         GROUP BY lang""",

    "q_minmax" ->
      """SELECT CAST(min(l_quantity) AS DOUBLE) AS min_l_quantity, CAST(max(l_quantity) AS DOUBLE) AS max_l_quantity,
         CAST(min(l_extendedprice) AS DOUBLE) AS min_l_extendedprice, CAST(max(l_extendedprice) AS DOUBLE) AS max_l_extendedprice,
         CAST(min(l_discount) AS DOUBLE) AS min_l_discount, CAST(max(l_discount) AS DOUBLE) AS max_l_discount,
         CAST(min(l_tax) AS DOUBLE) AS min_l_tax, CAST(max(l_tax) AS DOUBLE) AS max_l_tax
         FROM lineitem""",

    "q_normalize" ->
      """WITH s AS (SELECT min(l_quantity) mnq, max(l_quantity) mxq,
                min(l_extendedprice) mnp, max(l_extendedprice) mxp,
                min(l_discount) mnd, max(l_discount) mxd FROM lineitem)
         SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
           round((l_quantity - mnq) / (mxq - mnq), 6) AS qty_norm,
           round((l_extendedprice - mnp) / (mxp - mnp), 6) AS price_norm,
           round((l_discount - mnd) / (mxd - mnd), 6) AS disc_norm
         FROM lineitem, s""",

    "q_group_count" ->
      """SELECT l_returnflag AS flag, l_linestatus AS status, count(*) AS cnt
         FROM lineitem GROUP BY 1, 2""",

    // GROUPING() per column (not GROUPING_ID) so the bit order is spelled
    // out identically on both engines: first key = most significant.
    "q_rollup_pricing" ->
      """SELECT l_returnflag AS rf, l_linestatus AS ls,
           CAST(2 * GROUPING(l_returnflag) + GROUPING(l_linestatus)
             AS BIGINT) AS gid,
           count(*) AS n,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS sum_cents
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",

    "q_argmax_majority" ->
      """SELECT o_orderpriority AS priority, count(*) AS cnt FROM orders
         GROUP BY 1 ORDER BY cnt DESC, priority ASC LIMIT 1""",

    "q_sum_agg" ->
      """SELECT l_returnflag AS flag,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         count(*) AS cnt FROM lineitem GROUP BY 1""",

    "q_avg" ->
      """SELECT l_linestatus AS status,
         round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty
         FROM lineitem GROUP BY 1""",

    "q_distinct" ->
      """SELECT DISTINCT c_mktsegment AS segment FROM customer""",

    "q_gini_branch" ->
      """WITH counts AS (SELECT l_linestatus AS branch, l_returnflag AS cls, count(*) AS cnt
                         FROM lineitem GROUP BY 1, 2),
              totals AS (SELECT l_linestatus AS branch, count(*) AS total
                         FROM lineitem GROUP BY 1)
         SELECT c.branch, t.total,
           round(1.0 - sum((CAST(c.cnt AS DOUBLE)/t.total)*(CAST(c.cnt AS DOUBLE)/t.total)), 6) AS gini
         FROM counts c JOIN totals t ON c.branch = t.branch
         GROUP BY c.branch, t.total""",

    "q_gini_weighted" ->
      """WITH counts AS (SELECT l_linestatus AS branch, l_returnflag AS cls, count(*) AS cnt
                         FROM lineitem GROUP BY 1, 2),
              totals AS (SELECT l_linestatus AS branch, count(*) AS total
                         FROM lineitem GROUP BY 1),
              g AS (SELECT c.branch, t.total,
                      1.0 - sum((CAST(c.cnt AS DOUBLE)/t.total)*(CAST(c.cnt AS DOUBLE)/t.total)) AS gini
                    FROM counts c JOIN totals t ON c.branch = t.branch
                    GROUP BY c.branch, t.total)
         SELECT round(sum(g.total * g.gini) / CAST(sum(g.total) AS DOUBLE), 6) AS weighted_gini
         FROM g""",

    "q_join_inner" ->
      """SELECT c_mktsegment AS segment, count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1""",

    "q_join_left_outer" ->
      """SELECT n_name, COALESCE(c.n_cust, 0) AS n_cust
         FROM nation LEFT JOIN
           (SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY 1) c
         ON n_nationkey = c.c_nationkey""",

    "q_join_anti" ->
      """SELECT n_name FROM nation
         WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_nationkey = n_nationkey)""",

    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 400000)""",

    "q_when_buckets" ->
      """SELECT o_orderkey,
         CASE WHEN o_totalprice > 300000 THEN 'big'
              WHEN o_totalprice > 100000 THEN 'mid'
              ELSE 'small' END AS bucket FROM orders""",

    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER
           (PARTITION BY o_custkey ORDER BY o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
         round(avg(o_totalprice) OVER
           (PARTITION BY o_custkey ORDER BY o_orderkey
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg3,
         lead(o_orderkey, 1) OVER
           (PARTITION BY o_custkey ORDER BY o_orderkey) AS next_orderkey
         FROM orders""",

    "q_window_topk" ->
      """SELECT o_custkey, o_orderkey, rk, o_totalprice FROM
         (SELECT o_custkey, o_orderkey, o_totalprice,
            CAST(row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rk
          FROM orders) t WHERE rk <= 3""",

    "q_window_rank_funcs" ->
      """SELECT c_mktsegment AS segment, c_custkey,
         CAST(rank() OVER w AS BIGINT) AS rnk,
         CAST(dense_rank() OVER w AS BIGINT) AS drnk,
         round(percent_rank() OVER w, 6) AS prank,
         round(cume_dist() OVER w, 6) AS cdist,
         CAST(ntile(4) OVER w AS BIGINT) AS quartile,
         lag(c_custkey, 1) OVER w AS prev_key,
         lead(c_custkey, 1) OVER w AS next_key
         FROM customer WHERE c_custkey <= 500
         WINDOW w AS (PARTITION BY c_mktsegment
           ORDER BY c_acctbal DESC, c_custkey ASC)""",

    "q_partition_balance" ->
      """WITH p AS (SELECT c_mktsegment,
           CAST((row_number() OVER (PARTITION BY c_mktsegment
             ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) - 1) % 8 AS BIGINT) AS pid
         FROM customer)
         SELECT c_mktsegment AS segment, pid, count(*) AS cnt FROM p GROUP BY 1, 2""",

    "q_hash_split" ->
      """SELECT CASE WHEN substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) < 'c'
                THEN 'train' ELSE 'test' END AS split, count(*) AS cnt
         FROM customer GROUP BY 1""",

    "q_rule_accuracy" ->
      """SELECT round(avg(CAST(label = prediction AS INT)), 6) AS accuracy FROM
         (SELECT o_orderpriority AS label,
            CASE WHEN o_totalprice < 100000 THEN '1-URGENT'
                 WHEN o_totalprice < 200000 THEN '2-HIGH'
                 WHEN o_totalprice < 300000 THEN '3-MEDIUM'
                 WHEN o_totalprice < 400000 THEN '4-NOT SPECIFIED'
                 ELSE '5-LOW' END AS prediction
          FROM orders) t""",

    "q_balanced_accuracy" ->
      """WITH pred AS (SELECT o_orderpriority AS label,
            CASE WHEN o_totalprice < 100000 THEN '1-URGENT'
                 WHEN o_totalprice < 200000 THEN '2-HIGH'
                 WHEN o_totalprice < 300000 THEN '3-MEDIUM'
                 WHEN o_totalprice < 400000 THEN '4-NOT SPECIFIED'
                 ELSE '5-LOW' END AS prediction
          FROM orders),
          actual AS (SELECT label AS cls, count(*) AS actual_total FROM pred GROUP BY 1),
          tp AS (SELECT label AS cls, count(*) AS tp FROM pred WHERE label = prediction GROUP BY 1)
         SELECT round(avg(CASE WHEN a.actual_total > 0
                  THEN CAST(COALESCE(t.tp, 0) AS DOUBLE) / a.actual_total
                  ELSE 0.0 END), 6) AS balanced_accuracy
         FROM actual a LEFT JOIN tp t ON a.cls = t.cls""",

    "q_per_class_recall" ->
      """WITH pred AS (SELECT o_orderpriority AS label,
            CASE WHEN o_orderstatus = 'F' THEN o_orderpriority ELSE '5-LOW' END AS prediction
          FROM orders),
          actual AS (SELECT label AS cls, count(*) AS actual_total FROM pred GROUP BY 1),
          tp AS (SELECT label AS cls, count(*) AS tp FROM pred WHERE label = prediction GROUP BY 1)
         SELECT a.cls, a.actual_total, COALESCE(t.tp, 0) AS tp,
           round(CASE WHEN a.actual_total > 0
             THEN CAST(COALESCE(t.tp, 0) AS DOUBLE) / a.actual_total ELSE 0.0 END, 6) AS recall
         FROM actual a LEFT JOIN tp t ON a.cls = t.cls""",

    "q_per_class_precision" ->
      """WITH pred AS (SELECT o_orderpriority AS label,
            CASE WHEN o_orderstatus = 'F' THEN o_orderpriority ELSE '5-LOW' END AS prediction
          FROM orders),
          predicted AS (SELECT prediction AS cls, count(*) AS predicted_total FROM pred GROUP BY 1),
          tp AS (SELECT prediction AS cls, count(*) AS tp FROM pred WHERE label = prediction GROUP BY 1)
         SELECT p.cls, p.predicted_total, COALESCE(t.tp, 0) AS tp,
           round(CASE WHEN p.predicted_total > 0
             THEN CAST(COALESCE(t.tp, 0) AS DOUBLE) / p.predicted_total ELSE 0.0 END, 6) AS precision
         FROM predicted p LEFT JOIN tp t ON p.cls = t.cls""",

    "q_array_pack" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
         CAST(3 AS BIGINT) AS n_features,
         round(l_quantity + l_extendedprice + l_discount, 4) AS feature_sum
         FROM lineitem""",

    "q1_pricing_summary" ->
      """SELECT l_returnflag AS flag, l_linestatus AS status,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
         round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
         round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
         GROUP BY 1, 2""",

    "q3_top_orders" ->
      """SELECT o_orderkey, o_orderdate,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM orders
         JOIN customer ON o_custkey = c_custkey AND c_mktsegment = 'BUILDING'
         JOIN lineitem ON l_orderkey = o_orderkey
         GROUP BY 1, 2 ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""",

    "q5_nation_revenue" ->
      """SELECT n_name,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM orders
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1""",

    "q_join_full_outer" ->
      """SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
                COALESCE(o.n_orders, 0) AS n_orders,
                c.c_acctbal IS NOT NULL AS known_customer
         FROM customer c
         FULL OUTER JOIN (SELECT o_custkey, COUNT(*) AS n_orders
                          FROM orders GROUP BY 1) o
           ON c.c_custkey = o.o_custkey""",

    "q_set_union" ->
      """WITH u AS (
           SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
           UNION
           SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000)
         SELECT count(*) AS n, CAST(sum(c_custkey) AS BIGINT) AS key_sum FROM u""",

    "q_set_intersect" ->
      """WITH i AS (
           SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
           INTERSECT
           SELECT o_custkey AS c_custkey FROM orders)
         SELECT count(*) AS n, CAST(sum(c_custkey) AS BIGINT) AS key_sum FROM i""",

    "q_set_except" ->
      """WITH e AS (
           SELECT c_custkey FROM customer
           EXCEPT
           SELECT o_custkey AS c_custkey FROM orders)
         SELECT count(*) AS n, CAST(sum(c_custkey) AS BIGINT) AS key_sum FROM e""",

    "q_grouping_sets" ->
      """SELECT o_orderstatus AS status, o_orderpriority AS priority,
         CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
         CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
         count(*) AS cnt,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""",

    "q_rollup" ->
      """SELECT l_returnflag AS flag, l_linestatus AS status, count(*) AS cnt,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",

    "q_cube" ->
      """SELECT o_orderstatus AS status, o_orderpriority AS priority, count(*) AS cnt
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""",

    "q_string_funcs" ->
      """SELECT p_partkey, upper(p_brand) AS brand_upper,
         CAST(length(p_name) AS BIGINT) AS name_len,
         substring(p_type, 1, 5) AS type_prefix,
         p_brand || '-' || p_type AS brand_type,
         CASE WHEN contains(p_name, 'green') THEN 1 ELSE 0 END AS is_green
         FROM part""",

    "q_date_funcs" ->
      """SELECT o_orderkey,
         CAST(year(o_orderdate) AS BIGINT) AS yr,
         CAST(month(o_orderdate) AS BIGINT) AS mo,
         CAST(day(o_orderdate) AS BIGINT) AS dom,
         strftime(o_orderdate, '%Y-%m') AS ym,
         CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS BIGINT) AS days_to_end
         FROM orders""",

    "q_events_window" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2""",

    "q_unpivot" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
                'l_quantity' AS metric, l_quantity AS value FROM lineitem
         UNION ALL
         SELECT l_orderkey, CAST(l_linenumber AS BIGINT),
                'l_discount', l_discount FROM lineitem
         UNION ALL
         SELECT l_orderkey, CAST(l_linenumber AS BIGINT),
                'l_tax', l_tax FROM lineitem""",

    "q_events_gap_fill" ->
      """WITH hourly AS (
           SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
           FROM events GROUP BY 1, 2
         ), spans AS (
           SELECT event_type, MIN(hour) AS lo, MAX(hour) AS hi
           FROM hourly GROUP BY 1
         ), dense AS (
           SELECT event_type,
                  unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
           FROM spans
         )
         SELECT d.event_type, epoch_us(d.hour) AS hour_us,
                COALESCE(h.n, 0) AS n
         FROM dense d
         LEFT JOIN hourly h ON d.event_type = h.event_type AND d.hour = h.hour""",

    "q_events_enrich" ->
      """SELECT COALESCE(c_mktsegment, 'none') AS segment, event_type,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events LEFT JOIN customer ON user_id = c_custkey
         GROUP BY 1, 2""",

    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
         GROUP BY 1, 2, 3 ORDER BY revenue DESC, c_custkey ASC LIMIT 20""",

    "q7_nation_volume" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS volume,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation sn ON s_nationkey = sn.n_nationkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation cn ON c_nationkey = cn.n_nationkey
         WHERE sn.n_name <> cn.n_name
         GROUP BY 1, 2""",

    "q6_forecast_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",

    "q12_priority_shipments" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
         GROUP BY 1""",

    "q14_promo_revenue" ->
      """SELECT round(100.0 *
           CAST(sum(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6) AS promo_pct
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'""",

    "q18_large_orders" ->
      """WITH big AS (
           SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
           FROM lineitem GROUP BY 1 HAVING total_qty > 300)
         SELECT c_custkey, c_name, l_orderkey AS o_key, o_totalprice, total_qty
         FROM big JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY total_qty DESC, o_key ASC LIMIT 20""",

    "q19_discounted_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#13' AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#20' AND l_quantity BETWEEN 20 AND 30)""",

    "q_string_agg" ->
      """SELECT l_returnflag AS flag,
           string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
           count(DISTINCT l_linestatus) AS n_statuses
         FROM lineitem GROUP BY 1""",

    "q_array_funcs" ->
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
           list_sort(embedding)[1] AS min_el,
           list_sort(embedding)[2] AS min2_el,
           list_sort(embedding, 'DESC')[1] AS max_el,
           CAST(CASE WHEN list_contains(embedding, CAST(0.0 AS FLOAT)) THEN 1 ELSE 0 END AS BIGINT) AS has_zero
         FROM embeddings""",

    "q_null_semantics" ->
      """WITH c AS (SELECT c_custkey,
             CASE WHEN c_acctbal < 0 THEN NULL ELSE c_nationkey END AS nkey
           FROM customer),
         a AS (SELECT nkey, count(*) AS n_rows, count(nkey) AS n_nonnull
               FROM c GROUP BY 1)
         SELECT CAST(a.nkey AS BIGINT) AS nkey, a.n_rows, a.n_nonnull,
           b.n_rows AS n2
         FROM a JOIN a b ON a.nkey IS NOT DISTINCT FROM b.nkey""",

    "q_pivot" ->
      """SELECT l_linestatus AS status,
           CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "A",
           CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "N",
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "R"
         FROM lineitem GROUP BY 1""",

    "q_events_rolling" ->
      """SELECT event_id, user_id,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS rolling_avg,
           CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_window
         FROM events""",

    "q_backfill_plan" ->
      """WITH present AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
        |         count(*) AS n
        |  FROM orders GROUP BY 1),
        |kept AS (
        |  SELECT month FROM present
        |  WHERE (month(month) + year(month) * 12) % 7 <> 0),
        |span AS (SELECT min(month) AS lo, max(month) AS hi FROM kept),
        |spine AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS month
        |  FROM span)
        |SELECT epoch_us(s.month) AS month_us
        |FROM spine s LEFT JOIN kept p ON s.month = p.month
        |WHERE p.month IS NULL""".stripMargin,

    "q_woe_encode" ->
      """WITH st AS (
        |  SELECT l_linestatus AS cat,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS events,
        |    CAST(count(*) - sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS nonevents
        |  FROM lineitem GROUP BY 1),
        |kept AS (SELECT * FROM st WHERE events > 0 AND nonevents > 0)
        |SELECT cat, events, nonevents,
        |  ROUND(ln((CAST(events AS DOUBLE) / sum(events) OVER ())
        |         / (CAST(nonevents AS DOUBLE) / sum(nonevents) OVER ())), 6) AS woe,
        |  ROUND(((CAST(events AS DOUBLE) / sum(events) OVER ())
        |       - (CAST(nonevents AS DOUBLE) / sum(nonevents) OVER ()))
        |    * ln((CAST(events AS DOUBLE) / sum(events) OVER ())
        |       / (CAST(nonevents AS DOUBLE) / sum(nonevents) OVER ())), 6) AS iv_term
        |FROM kept""".stripMargin,

    "q_type_infer" ->
      """WITH src AS (
        |  SELECT
        |    CASE WHEN doc_id % 4 = 0 THEN CAST(doc_id AS VARCHAR)
        |         WHEN doc_id % 4 = 1 THEN CAST(doc_id AS VARCHAR) || '.5'
        |         WHEN doc_id % 4 = 2 THEN '2024-01-15'
        |         ELSE 'true' END AS a,
        |    CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id AS VARCHAR)
        |         ELSE substr(text, 1, 12) END AS b
        |  FROM documents),
        |vals AS (
        |  SELECT 'col_a' AS col_name, a AS v FROM src
        |  UNION ALL
        |  SELECT 'col_b', b FROM src),
        |typed AS (
        |  SELECT col_name,
        |    CASE WHEN regexp_full_match(v, '-?[0-9]+') THEN 'int'
        |         WHEN regexp_full_match(v, '-?[0-9]*\.[0-9]+') THEN 'float'
        |         WHEN regexp_full_match(v, '[0-9]{4}-[0-9]{2}-[0-9]{2}') THEN 'date'
        |         WHEN regexp_full_match(v, '(true|false)') THEN 'bool'
        |         ELSE 'string' END AS dtype
        |  FROM vals),
        |g AS (
        |  SELECT col_name, dtype, CAST(count(*) AS BIGINT) AS n
        |  FROM typed GROUP BY 1, 2)
        |SELECT col_name, dtype, n,
        |  ROUND(CAST(n AS DOUBLE)
        |    / sum(n) OVER (PARTITION BY col_name), 6) AS share,
        |  n = max(n) OVER (PARTITION BY col_name) AS is_majority
        |FROM g""".stripMargin,

    "q_ab_test" ->
      """WITH li AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS p100,
        |    CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8) AS BIGINT) % 2 AS arm
        |  FROM lineitem),
        |st AS (
        |  SELECT arm, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(p100) AS DECIMAL(38,0)) AS s,
        |    CAST(sum(p100 * p100) AS DECIMAL(38,0)) AS sq
        |  FROM li GROUP BY arm),
        |a AS (SELECT n AS n0, s AS s0, sq AS sq0 FROM st WHERE arm = 0),
        |b AS (SELECT n AS n1, s AS s1, sq AS sq1 FROM st WHERE arm = 1)
        |SELECT n0, n1,
        |  ROUND(CAST(s0 AS DOUBLE) / n0 / 100.0, 6) AS mean_control,
        |  ROUND(CAST(s1 AS DOUBLE) / n1 / 100.0, 6) AS mean_treat,
        |  ROUND((CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
        |    / sqrt((CAST(n1 AS DOUBLE) * CAST(sq1 AS DOUBLE)
        |            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
        |           / (CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)) / n1
        |         + (CAST(n0 AS DOUBLE) * CAST(sq0 AS DOUBLE)
        |            - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
        |           / (CAST(n0 AS DOUBLE) * CAST(n0 - 1 AS DOUBLE)) / n0), 6) AS z_stat,
        |  abs((CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
        |    / sqrt((CAST(n1 AS DOUBLE) * CAST(sq1 AS DOUBLE)
        |            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
        |           / (CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)) / n1
        |         + (CAST(n0 AS DOUBLE) * CAST(sq0 AS DOUBLE)
        |            - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
        |           / (CAST(n0 AS DOUBLE) * CAST(n0 - 1 AS DOUBLE)) / n0)) > 1.96
        |    AS significant_95
        |FROM a, b""".stripMargin,

    "q_l_diversity" ->
      """SELECT c_nationkey AS nation,
        |  CAST(count(*) AS BIGINT) AS n_individuals,
        |  CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_distinct_sensitive
        |FROM customer GROUP BY 1
        |HAVING count(DISTINCT c_mktsegment) < 4""".stripMargin,

    // the temporal fence (floor-snapped continuous 80th percentile of
    // micros) and both side profiles + the leaked-entity count replayed
    "q_split_leakage" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS t FROM events),
        |cut AS (SELECT CAST(floor(quantile_cont(t, 0.8)) AS BIGINT) AS c
        |  FROM ev),
        |tagged AS (SELECT user_id,
        |    CASE WHEN t < (SELECT c FROM cut) THEN 'train' ELSE 'eval' END
        |      AS side
        |  FROM ev),
        |sides AS (SELECT side, count(*) AS n,
        |    count(DISTINCT user_id) AS n_users
        |  FROM tagged GROUP BY 1),
        |leak AS (SELECT 'leaked_users' AS side, count(*) AS n,
        |    CAST(NULL AS BIGINT) AS n_users
        |  FROM (SELECT user_id FROM tagged WHERE side = 'train'
        |        INTERSECT
        |        SELECT user_id FROM tagged WHERE side = 'eval'))
        |SELECT side, n, n_users FROM sides
        |UNION ALL SELECT side, n, n_users FROM leak""".stripMargin,

    // the seeded Laplace release replayed: same md5-uniform, same
    // inverse-CDF transform, 6-dp rounded (the ln doctrine)
    "q_dp_counts" ->
      """WITH g AS (SELECT c_mktsegment AS segment, count(*) AS true_n
        |  FROM customer GROUP BY 1),
        |n AS (SELECT segment, true_n,
        |    CAST(CAST('0x' || substr(md5('dp_r15:' || segment), 1, 8)
        |      AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
        |  FROM g)
        |SELECT segment,
        |  round(true_n + (-sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)) / 1.0), 6)
        |    AS noisy_n
        |FROM n""".stripMargin,

    "q_k_anonymity" ->
      """SELECT c_nationkey AS nation, c_mktsegment AS segment,
        |  CAST(count(*) AS BIGINT) AS n_individuals
        |FROM customer GROUP BY 1, 2
        |HAVING count(*) < 5""".stripMargin,

    "q_rolling_distinct_sketch" ->
      """WITH daily AS (
        |  SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day FROM daily),
        |contrib AS (
        |  SELECT DISTINCT user_id, day + o * INTERVAL 1 DAY AS day
        |  FROM daily, (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS o) os),
        |weekly AS (
        |  SELECT c.day, CAST(count(*) AS BIGINT) AS n_exact
        |  FROM contrib c JOIN days USING (day) GROUP BY c.day)
        |SELECT epoch_us(day) AS day_us, n_exact,
        |  CAST(1 AS BIGINT) AS within_5pct
        |FROM weekly""".stripMargin,

    "q_join_size_est" ->
      """WITH ca AS (
        |  SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS ca
        |  FROM lineitem GROUP BY 1),
        |cb AS (
        |  SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS cb
        |  FROM orders GROUP BY 1),
        |prod AS (
        |  SELECT ca.k, ca * cb AS rows_out FROM ca JOIN cb USING (k))
        |SELECT k, rows_out,
        |  ROUND(CAST(rows_out AS DOUBLE)
        |    / (SELECT CAST(sum(rows_out) AS BIGINT) FROM prod), 6) AS share
        |FROM prod ORDER BY rows_out DESC, k LIMIT 10""".stripMargin,

    "q_bootstrap_mean" ->
      """WITH li AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS rid,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS p100
        |  FROM lineitem),
        |b AS (
        |  SELECT rid, p100, rep,
        |    CAST(CAST('0x' || substr(md5(CAST(rid AS VARCHAR) || '_' || CAST(rep AS VARCHAR)), 1, 8)
        |      AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
        |  FROM li, (SELECT unnest(range(0, 32)) AS rep) reps),
        |m AS (
        |  SELECT rep, p100,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428847 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238462 THEN 3
        |         ELSE 4 END AS mlt
        |  FROM b)
        |SELECT CAST(rep AS BIGINT) AS rep,
        |  CAST(sum(mlt) AS BIGINT) AS n,
        |  ROUND(CAST(CAST(sum(p100 * mlt) AS DECIMAL(38,0)) AS DOUBLE)
        |    / CAST(sum(mlt) AS BIGINT) / 100.0, 6) AS mean
        |FROM m GROUP BY rep""".stripMargin,

    "q_rolling_distinct" ->
      """WITH daily AS (
        |  SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day FROM daily),
        |contrib AS (
        |  SELECT DISTINCT user_id, day + o * INTERVAL 1 DAY AS day
        |  FROM daily, (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS o) os),
        |weekly AS (
        |  SELECT c.day, CAST(count(*) AS BIGINT) AS n_users_7d
        |  FROM contrib c JOIN days USING (day) GROUP BY c.day),
        |d1 AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS n_users_1d
        |  FROM daily GROUP BY day)
        |SELECT epoch_us(d1.day) AS day_us, n_users_1d, n_users_7d
        |FROM d1 JOIN weekly ON d1.day = weekly.day""".stripMargin,

    "q_table_checksum" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(CAST(sum(CAST('0x' || substr(md5(
        |    l_orderkey || '|' || l_linenumber || '|' || l_returnflag), 1, 8)
        |    AS BIGINT)) AS DECIMAL(38,0)) AS DOUBLE) AS checksum
        |FROM lineitem""".stripMargin,

    "q_linreg" ->
      """WITH st AS (
        |  SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT) * CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT flag, n,
        |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  ROUND((sy / n - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * (sx / n)) / 100.0, 6) AS intercept,
        |  ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |    / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        |FROM st""".stripMargin,

    "q_events_ltv" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
        |         CAST(round(value * 100) AS BIGINT) AS v100
        |  FROM events),
        |f AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY 1),
        |cell AS (
        |  SELECT cohort_week,
        |    CAST(date_diff('day', cohort_week, week) // 7 AS BIGINT) AS week_offset,
        |    CAST(sum(v100) AS BIGINT) AS v,
        |    CAST(count(DISTINCT ev.user_id) AS BIGINT) AS u
        |  FROM ev JOIN f ON ev.user_id = f.user_id
        |  GROUP BY 1, 2)
        |SELECT epoch_us(cohort_week) AS cohort_us, week_offset,
        |  u AS active_users,
        |  ROUND(CAST(v AS DOUBLE) / 100.0, 6) AS week_value,
        |  ROUND(CAST(sum(v) OVER (PARTITION BY cohort_week ORDER BY week_offset
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / 100.0, 6) AS cum_value
        |FROM cell""".stripMargin,

    "q_events_ohlc" ->
      """SELECT event_type,
        |  epoch_us(date_trunc('hour', ts)) AS hour_us,
        |  ROUND(arg_min(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
        |    || lpad(CAST(event_id AS VARCHAR), 12, '0')), 6) AS open,
        |  ROUND(max(value), 6) AS high,
        |  ROUND(min(value), 6) AS low,
        |  ROUND(arg_max(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
        |    || lpad(CAST(event_id AS VARCHAR), 12, '0')), 6) AS close,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_events_transitions" ->
      """WITH pairs AS (
        |  SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |m AS (
        |  SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
        |  FROM pairs WHERE next_type IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT event_type, next_type, n,
        |  ROUND(CAST(n AS DOUBLE)
        |    / sum(n) OVER (PARTITION BY event_type), 6) AS p
        |FROM m""".stripMargin,

    "q_events_anomaly" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |roll AS (
        |  SELECT event_type, epoch_us(hour) AS hour_us, n,
        |    CAST(count(n) OVER w AS BIGINT) AS k,
        |    CAST(sum(n) OVER w AS BIGINT) AS s,
        |    CAST(sum(n*n) OVER w AS BIGINT) AS sq
        |  FROM hourly
        |  WINDOW w AS (PARTITION BY event_type ORDER BY hour
        |               ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, hour_us, n,
        |  round((n - CAST(s AS DOUBLE)/k)
        |    / sqrt(CAST(k*sq - s*s AS DOUBLE)/(k*(k-1)) + 1.0), 6) AS z,
        |  abs((n - CAST(s AS DOUBLE)/k)
        |    / sqrt(CAST(k*sq - s*s AS DOUBLE)/(k*(k-1)) + 1.0)) > 3.0 AS is_anomaly
        |FROM roll WHERE k = 6""".stripMargin,

    "q_approx_distinct" ->
      """SELECT l_returnflag AS flag, CAST(1 AS BIGINT) AS within_5pct
         FROM lineitem GROUP BY 1""",

    "q_percentiles" ->
      """SELECT l_returnflag AS flag,
           round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
           round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
           round(quantile_cont(l_quantity, 0.9), 6) AS qty_p90
         FROM lineitem GROUP BY 1""",

    "q_percentiles_approx" ->
      """SELECT l_returnflag AS flag, CAST(1 AS BIGINT) AS within_1pct
         FROM lineitem GROUP BY 1""",

    "q2_min_price_supplier" ->
      """WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_size < 10),
         mp AS (SELECT l_partkey AS mp_partkey, min(l_extendedprice) AS min_price
                FROM lineitem JOIN p ON l_partkey = p_partkey GROUP BY 1)
         SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name, n_name, min_price
         FROM lineitem
         JOIN mp ON l_partkey = mp_partkey AND l_extendedprice = min_price
         JOIN p ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         ORDER BY p_partkey ASC, s_suppkey ASC LIMIT 100""",

    "q4_priority_returns" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1996-04-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         GROUP BY 1""",

    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           round(CAST(sum(CASE WHEN n2.n_name = 'NATION_7'
               THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6) AS mkt_share
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n2 ON s_nationkey = n2.n_nationkey
         WHERE EXISTS (SELECT 1 FROM customer
                       JOIN nation n1 ON c_nationkey = n1.n_nationkey
                       JOIN region ON n1.n_regionkey = r_regionkey
                       WHERE r_name = 'ASIA' AND c_custkey = o_custkey)
         GROUP BY 1""",

    "q9_product_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             - 0.1 * CAST(sum(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4) AS profit
         FROM lineitem
         JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
         JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY 1, 2""",

    "q11_important_parts" ->
      """WITH pp AS (
           SELECT l_partkey AS partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS value_dec
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           WHERE n_name = 'NATION_3' GROUP BY 1),
         t AS (SELECT sum(value_dec) AS total_dec FROM pp)
         SELECT partkey, CAST(value_dec AS DOUBLE) AS part_value
         FROM pp, t
         WHERE CAST(value_dec AS DOUBLE) > 0.002 * CAST(total_dec AS DOUBLE)""",

    "q13_customer_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT OUTER JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
           GROUP BY 1)
         GROUP BY 1""",

    "q15_top_supplier" ->
      """WITH r AS (
           SELECT l_suppkey,
             sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev_dec
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
         FROM r JOIN supplier ON l_suppkey = s_suppkey
         WHERE rev_dec = (SELECT max(rev_dec) FROM r)""",

    "q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
           AND p_size IN (1, 9, 19, 29, 39, 49)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY 1, 2, 3""",

    "q17_small_qty_revenue" ->
      """WITH bli AS (
           SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem
           WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#13')),
         pp AS (
           SELECT l_partkey AS ap_partkey,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
           FROM bli GROUP BY 1)
         SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6) AS avg_yearly
         FROM bli JOIN pp ON l_partkey = ap_partkey
         WHERE l_quantity < 0.2 * avg_qty""",

    "q20_heavy_suppliers" ->
      """WITH li96 AS (
           SELECT l_partkey, l_suppkey, l_quantity FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1997-01-01'),
         sp AS (SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sp_qty
                FROM li96 GROUP BY 1, 2),
         p AS (SELECT l_partkey AS pp_partkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS p_qty
               FROM li96 GROUP BY 1)
         SELECT s_suppkey, s_name, s_acctbal FROM supplier
         WHERE s_suppkey IN (
           SELECT l_suppkey FROM sp JOIN p ON l_partkey = pp_partkey
           WHERE CAST(sp_qty AS DOUBLE) > 0.3 * CAST(p_qty AS DOUBLE))""",

    "q21_lone_returner" ->
      """WITH mine AS (
           SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R')
         SELECT s_name, count(*) AS numwait
         FROM mine m JOIN supplier ON m.l_suppkey = s_suppkey
         WHERE EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = m.l_orderkey AND l2.l_suppkey <> m.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = m.l_orderkey
                             AND l3.l_suppkey <> m.l_suppkey AND l3.l_returnflag = 'R')
         GROUP BY 1""",

    "q22_idle_customers" ->
      """WITH a AS (
           SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal
           FROM customer WHERE c_acctbal > 0)
         SELECT CAST(c_nationkey AS BIGINT) AS nationkey, count(*) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
         FROM customer, a
         WHERE c_acctbal > avg_bal
           AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                           AND o_orderdate >= TIMESTAMP '1999-01-01')
         GROUP BY 1""",

    // identical planted payload bytes, DuckDB's JSON path extraction
    "q_json_funcs" ->
      """WITH j AS (SELECT o_orderkey,
           '{"status":"' || o_orderstatus || '","meta":{"priority":"' ||
           o_orderpriority || '"},"amounts":[' || CAST(o_totalprice AS VARCHAR) ||
           ',0.5]}' AS payload
         FROM orders)
         SELECT o_orderkey,
           json_extract_string(payload, '$.status') AS status,
           json_extract_string(payload, '$.meta.priority') AS priority,
           CAST(json_extract_string(payload, '$.amounts[0]') AS DOUBLE) AS amount,
           json_extract_string(payload, '$.missing') AS absent
         FROM j""",

    // the same containment predicate DuckDB plans natively (its optimizer
    // handles inequality joins); value parity proves the bucketized
    // rewrite changes the PLAN, not the relation
    "q_range_join" ->
      """SELECT o_orderkey, count(*) AS n_shipments,
           sum(l_quantity) AS qty_sum
         FROM orders o JOIN lineitem l
           ON CAST(l.l_shipdate AS DATE) - DATE '1970-01-01'
                BETWEEN CAST(o.o_orderdate AS DATE) - DATE '1970-01-01'
                    AND CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' + 30
         WHERE o.o_orderkey % 1000 = 0
         GROUP BY 1""",

    // native inequality self-join over the same windows — plan differs,
    // relation must not
    "q_interval_join" ->
      """WITH w AS (SELECT o_custkey, o_orderkey,
             CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS s,
             CAST(o_orderdate AS DATE) - DATE '1970-01-01' + 15 AS e
           FROM orders)
         SELECT a.o_custkey AS custkey, count(*) AS n_overlaps,
           CAST(sum(least(a.e, b.e) - greatest(a.s, b.s) + 1) AS BIGINT) AS overlap_days
         FROM w a JOIN w b
           ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
           AND a.s <= b.e AND b.s <= a.e
         GROUP BY 1""",

    "q_asof_join" ->
      """WITH clicks AS (
           SELECT event_id, user_id, epoch_us(ts) AS t_us
           FROM events WHERE event_type = 'click'),
         purchases AS (
           SELECT user_id AS p_user, epoch_us(ts) AS p_us, max(value) AS purchase_value
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT c.event_id, c.user_id, c.t_us, p.purchase_value
         FROM clicks c ASOF LEFT JOIN purchases p
           ON c.user_id = p.p_user AND c.t_us >= p.p_us""",

    "q_asof_forward" ->
      """WITH clicks AS (
           SELECT event_id, user_id, epoch_us(ts) AS t_us
           FROM events WHERE event_type = 'click'),
         purchases AS (
           SELECT user_id AS p_user, epoch_us(ts) AS p_us, max(value) AS purchase_value
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT c.event_id, c.user_id, c.t_us, p.purchase_value
         FROM clicks c ASOF LEFT JOIN purchases p
           ON c.user_id = p.p_user AND c.t_us <= p.p_us""",

    // both directions replayed, winner CASE-selected with the same
    // backward tie-break the Spark side pins
    "q_asof_nearest" ->
      """WITH clicks AS (
           SELECT event_id, user_id, epoch_us(ts) AS t_us
           FROM events WHERE event_type = 'click'),
         purchases AS (
           SELECT user_id AS p_user, epoch_us(ts) AS p_us, max(value) AS purchase_value
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
         b AS (
           SELECT c.event_id, p.p_us AS p_us_b, p.purchase_value AS v_b
           FROM clicks c ASOF LEFT JOIN purchases p
             ON c.user_id = p.p_user AND c.t_us >= p.p_us),
         f AS (
           SELECT c.event_id, p.p_us AS p_us_f, p.purchase_value AS v_f
           FROM clicks c ASOF LEFT JOIN purchases p
             ON c.user_id = p.p_user AND c.t_us <= p.p_us)
         SELECT c.event_id, c.user_id, c.t_us,
           CASE WHEN f.p_us_f IS NULL OR (b.p_us_b IS NOT NULL
                  AND (c.t_us - b.p_us_b) <= (f.p_us_f - c.t_us))
                THEN b.v_b ELSE f.v_f END AS purchase_value,
           CASE WHEN f.p_us_f IS NULL OR (b.p_us_b IS NOT NULL
                  AND (c.t_us - b.p_us_b) <= (f.p_us_f - c.t_us))
                THEN b.p_us_b ELSE f.p_us_f END AS p_us_matched
         FROM clicks c
         JOIN b ON b.event_id = c.event_id
         JOIN f ON f.event_id = c.event_id""",

    "q_events_attribution" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS click_us
           FROM events WHERE event_type = 'click'),
         p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS purchase_us, value
           FROM events WHERE event_type = 'purchase')
         SELECT click_id, purchase_id, c.user_id, click_us, purchase_us, value
         FROM c JOIN p ON c.user_id = p.user_id
           AND purchase_us >= click_us
           AND purchase_us < click_us + 3600000000""",

    "q_events_attribution_outer" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS click_us
           FROM events WHERE event_type = 'click'),
         p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS purchase_us, value
           FROM events WHERE event_type = 'purchase')
         SELECT click_id, purchase_id, c.user_id, click_us, purchase_us, value
         FROM c LEFT JOIN p ON c.user_id = p.user_id
           AND purchase_us >= click_us
           AND purchase_us < click_us + 3600000000""",

    "q_events_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
         v AS (SELECT user_id, min(t) AS t_view FROM e
               WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, min(e.t) AS t_click FROM e
               JOIN v ON e.user_id = v.user_id
               WHERE e.event_type = 'click' AND e.t >= v.t_view
                 AND e.t < v.t_view + 86400000000 GROUP BY 1),
         p AS (SELECT e.user_id, min(e.t) AS t_purchase FROM e
               JOIN c ON e.user_id = c.user_id
               WHERE e.event_type = 'purchase' AND e.t >= c.t_click
                 AND e.t < c.t_click + 86400000000 GROUP BY 1)
         SELECT count(*) AS n_view, count(c.t_click) AS n_click,
           count(p.t_purchase) AS n_purchase
         FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON c.user_id = p.user_id""",

    "q_events_retention" ->
      """WITH e AS (SELECT user_id, event_type,
             CAST(ts AS DATE) - DATE '1970-01-01' AS day FROM events),
         cohort AS (SELECT user_id, min(day) AS d0 FROM e
                    WHERE event_type = 'signup' GROUP BY 1),
         act AS (SELECT DISTINCT user_id, day FROM e)
         SELECT cohort.d0 AS cohort_day, count(*) AS n_users,
           count(act.day) AS n_retained_d7
         FROM cohort LEFT JOIN act
           ON act.user_id = cohort.user_id AND act.day = cohort.d0 + 7
         GROUP BY 1""",

    "q_events_sessions" ->
      """WITH l AS (SELECT user_id, epoch_us(ts) AS ts_us,
            lag(epoch_us(ts)) OVER (PARTITION BY user_id
              ORDER BY epoch_us(ts), event_id) AS prev_us
          FROM events)
         SELECT user_id,
           CAST(sum(CASE WHEN prev_us IS NULL
                 OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           count(*) AS n_events
         FROM l GROUP BY 1""",

    "q_events_sessions_stateful" ->
      """WITH l AS (SELECT user_id, epoch_us(ts) AS ts_us,
            lag(epoch_us(ts)) OVER (PARTITION BY user_id
              ORDER BY epoch_us(ts), event_id) AS prev_us
          FROM events)
         SELECT user_id,
           CAST(sum(CASE WHEN prev_us IS NULL
                 OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           count(*) AS n_events
         FROM l GROUP BY 1""",

    "q_merge_upsert" ->
      """WITH updates AS (
           SELECT * REPLACE ('X' AS o_orderstatus)
           FROM orders WHERE o_orderkey % 10 = 0
           UNION ALL
           SELECT * REPLACE (o_orderkey + 100000000 AS o_orderkey)
           FROM orders WHERE o_orderkey % 97 = 0
         ), merged AS (
           SELECT * FROM updates
           UNION ALL
           SELECT * FROM orders o
           WHERE NOT EXISTS (SELECT 1 FROM updates u
                             WHERE u.o_orderkey = o.o_orderkey)
         )
         SELECT o_orderstatus, COUNT(*) AS n,
                CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
         FROM merged GROUP BY 1""",

    "q_cbo_join" ->
      """SELECT c_mktsegment AS mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1""".stripMargin,

    "q_cbo_reorder" ->
      """SELECT l_returnflag AS returnflag, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey <= 150
        |GROUP BY 1""".stripMargin,

    // COW formulation on purpose: upserts replace, then deletes subtract —
    // matching this against Spark's deletion-vector read path proves
    // MoR == COW on real data
    "q_merge_on_read" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pay_cents
        |  FROM orders),
        |upd AS (
        |  SELECT k, 'U' AS status, pay_cents + 999 AS pay_cents
        |  FROM base WHERE k % 7 = 0),
        |cow AS (
        |  SELECT * FROM upd
        |  UNION ALL
        |  SELECT * FROM base WHERE k % 7 <> 0)
        |SELECT k, status, pay_cents FROM cow WHERE k % 13 <> 0""".stripMargin,

    // COW twin of the position-delete protocol: the single sorted data
    // file makes row_index == row_number() - 1 in o_orderkey order
    "q_pos_delete" ->
      """WITH ordered AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |         row_number() OVER (ORDER BY o_orderkey) - 1 AS rn
        |  FROM orders)
        |SELECT o_orderstatus AS status, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM ordered
        |WHERE rn % 13 <> 0 AND o_orderkey % 101 <> 0
        |GROUP BY 1""".stripMargin,

    // full COW re-join twin: moved rows (custkey -1) match no customer,
    // deleted rows gone, updated rows carry the new image
    "q_join_mv" ->
      """WITH f AS (
        |  SELECT o_orderkey AS k, o_custkey AS ck, o_orderstatus AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |fnew AS (
        |  SELECT k, ck, 'U' AS status, cents + 999 AS cents FROM f
        |  WHERE k % 7 = 0 AND k % 11 <> 0 AND k % 13 <> 0
        |  UNION ALL
        |  SELECT k, ck, status, cents FROM f
        |  WHERE k % 7 <> 0 AND k % 11 <> 0 AND k % 13 <> 0)
        |SELECT c_mktsegment AS mktsegment, count(*) AS n,
        |  CAST(sum(k) AS BIGINT) AS key_sum,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM fnew JOIN customer ON ck = c_custkey
        |GROUP BY 1""".stripMargin,

    "q_dv_mask_stats" ->
      """WITH base AS (SELECT o_orderkey AS k FROM orders),
        |data AS (
        |  SELECT k, CAST(0 AS BIGINT) AS seq FROM base
        |  UNION ALL
        |  SELECT k, CAST(1 AS BIGINT) AS seq FROM base WHERE k % 7 = 0),
        |live AS (
        |  SELECT seq, count(*) AS n_live FROM data
        |  WHERE k % 13 <> 0 AND (seq >= 1 OR k % 7 <> 0)
        |  GROUP BY seq)
        |SELECT d.seq, count(*) AS n_written,
        |  CAST(coalesce(any_value(n_live), 0) AS BIGINT) AS n_live,
        |  CAST(count(*) - coalesce(any_value(n_live), 0) AS BIGINT) AS n_masked
        |FROM data d LEFT JOIN live USING (seq)
        |GROUP BY d.seq""".stripMargin,

    "q_scd2_lookup" ->
      """WITH hist AS (
           SELECT c_custkey, c_acctbal,
                  CAST('1990-01-01 00:00:00' AS TIMESTAMP) AS effective_from,
                  CASE WHEN c_custkey % 7 = 0
                       THEN CAST('1996-07-01 00:00:00' AS TIMESTAMP) END AS effective_to
           FROM customer
           UNION ALL
           SELECT c_custkey, c_acctbal + 1000.0,
                  CAST('1996-07-01 00:00:00' AS TIMESTAMP),
                  CAST(NULL AS TIMESTAMP)
           FROM customer WHERE c_custkey % 7 = 0
         )
         SELECT o.o_orderkey, h.c_custkey, h.c_acctbal, h.effective_from
         FROM orders o
         JOIN hist h ON o.o_custkey = h.c_custkey
           AND CAST(o.o_orderdate AS TIMESTAMP) >= h.effective_from
           AND (h.effective_to IS NULL OR CAST(o.o_orderdate AS TIMESTAMP) < h.effective_to)""",

    "q_incr_agg" ->
      """WITH edited AS (
           SELECT l_returnflag, l_linestatus,
                  CAST(l_quantity AS DECIMAL(18,2)) AS qty,
                  CAST(l_extendedprice AS DECIMAL(18,2)) AS price
           FROM lineitem WHERE l_orderkey % 13 <> 0
           UNION ALL
           SELECT l_returnflag, l_linestatus,
                  CAST(l_quantity AS DECIMAL(18,2)) + 5 AS qty,
                  CAST(l_extendedprice AS DECIMAL(18,2)) AS price
           FROM lineitem WHERE l_orderkey % 17 = 0
         )
         SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
                CAST(SUM(qty) AS DOUBLE) AS sum_qty,
                CAST(SUM(price) AS DOUBLE) AS sum_price
         FROM edited GROUP BY 1, 2""",

    // net-change replay over (0, 2]: inserts = window images that survive
    // at 2; deletes = every seq-0 original whose key a window mask killed
    "q_dv_change_feed" ->
      """WITH f AS (
        |  SELECT o_orderkey AS k,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |ins AS (
        |  SELECT k, cents + 999 AS cents FROM f
        |   WHERE k % 7 = 0 AND k % 13 <> 0 AND k % 5 <> 0
        |  UNION ALL
        |  SELECT k, cents + 555 FROM f WHERE k % 5 = 0),
        |del AS (
        |  SELECT k, cents FROM f
        |   WHERE k % 7 = 0 OR k % 13 = 0 OR k % 5 = 0)
        |SELECT 'insert' AS change, count(*) AS n,
        |       CAST(sum(k) AS BIGINT) AS key_sum,
        |       CAST(sum(cents) AS BIGINT) AS cents_sum FROM ins
        |UNION ALL
        |SELECT 'delete', count(*), CAST(sum(k) AS BIGINT),
        |       CAST(sum(cents) AS BIGINT) FROM del""".stripMargin,

    // from-scratch SQL replay of all three historical states — the DV
    // sequence/mask filters must reproduce each one exactly
    "q_dv_asof" ->
      """WITH f AS (
        |  SELECT o_orderkey AS k,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |s1 AS (SELECT k, CASE WHEN k % 7 = 0 THEN cents + 999 ELSE cents END
        |         AS cents FROM f),
        |s2 AS (
        |  SELECT k, cents + 555 AS cents FROM f WHERE k % 5 = 0
        |  UNION ALL
        |  SELECT k, CASE WHEN k % 7 = 0 THEN cents + 999 ELSE cents END
        |  FROM f WHERE k % 5 <> 0 AND k % 13 <> 0)
        |SELECT CAST(0 AS BIGINT) AS as_of, count(*) AS n,
        |       CAST(sum(k) AS BIGINT) AS key_sum,
        |       CAST(sum(cents) AS BIGINT) AS cents_sum FROM f
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), count(*), CAST(sum(k) AS BIGINT),
        |       CAST(sum(cents) AS BIGINT) FROM s1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), count(*), CAST(sum(k) AS BIGINT),
        |       CAST(sum(cents) AS BIGINT) FROM s2""".stripMargin,

    // from-scratch min/max/count over the surviving multiset — the
    // k-reserve maintenance + targeted refresh must land exactly here
    "q_incr_extrema" ->
      """WITH f AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS priority,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |post AS (
        |  SELECT priority, cents FROM f
        |   WHERE k % 13 <> 0 AND k % 7 <> 0
        |     AND NOT (priority = '1-URGENT' AND cents < 2000000)
        |  UNION ALL
        |  SELECT priority, cents + 999 FROM f
        |   WHERE k % 7 = 0 AND k % 13 <> 0
        |  UNION ALL
        |  SELECT priority, cents + 1234567 FROM f
        |   WHERE k % 11 = 0 AND k % 7 <> 0 AND k % 13 <> 0)
        |SELECT priority, min(cents) AS min_cents, max(cents) AS max_cents,
        |       count(*) AS cnt
        |FROM post GROUP BY 1""".stripMargin,

    "q_change_feed" ->
      """WITH o AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         ), neu AS (
           SELECT o_orderkey,
                  CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
                  o_totalprice
           FROM o WHERE o_orderkey % 23 <> 0
           UNION ALL
           SELECT o_orderkey + 100000000, o_orderstatus, o_totalprice
           FROM o WHERE o_orderkey % 97 = 0
         )
         SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
                CASE WHEN n.o_orderkey IS NULL THEN o.o_orderstatus ELSE n.o_orderstatus END AS o_orderstatus,
                CASE WHEN n.o_orderkey IS NULL THEN o.o_totalprice ELSE n.o_totalprice END AS o_totalprice,
                CASE WHEN n.o_orderkey IS NULL THEN 'd'
                     WHEN o.o_orderkey IS NULL THEN 'i' ELSE 'u' END AS op
         FROM o FULL JOIN neu n ON o.o_orderkey = n.o_orderkey
         WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
            OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
            OR o.o_totalprice IS DISTINCT FROM n.o_totalprice""",

    "q_schema_evolve" ->
      """SELECT o_orderkey,
                CAST(CAST(o_custkey AS INT) AS BIGINT) AS o_custkey,
                CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS o_totalprice,
                CAST(NULL AS INT) AS priority_rank
         FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT o_orderkey, o_custkey, o_totalprice,
                CAST(SUBSTR(o_orderpriority, 1, 1) AS INT) AS priority_rank
         FROM orders WHERE o_orderkey % 2 = 1""",

    "q_scd2_apply" ->
      """WITH hist AS (
           SELECT c_custkey, c_acctbal,
                  TIMESTAMP '2020-01-01 00:00:00' AS effective_from,
                  CAST(NULL AS TIMESTAMP) AS effective_to
           FROM customer
         ), changes AS (
           SELECT c_custkey, c_acctbal + 1000.0 AS c_acctbal,
                  TIMESTAMP '2023-06-01 00:00:00' AS change_ts
           FROM customer WHERE c_custkey % 7 = 0
         ), closed AS (
           SELECT h.c_custkey, h.c_acctbal, h.effective_from,
                  CASE WHEN h.effective_to IS NULL AND c.c_custkey IS NOT NULL
                       THEN c.change_ts ELSE h.effective_to END AS effective_to
           FROM hist h LEFT JOIN changes c ON h.c_custkey = c.c_custkey
         )
         SELECT * FROM closed
         UNION ALL
         SELECT c_custkey, c_acctbal, change_ts AS effective_from,
                CAST(NULL AS TIMESTAMP) AS effective_to
         FROM changes"""
  )
}
