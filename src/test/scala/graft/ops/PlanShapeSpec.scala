package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Pins the plan properties that make catalog queries scale: predicate
  * pushdown reaching the parquet scan, column pruning in ReadSchema, and
  * pipeline-breaking operators absent where the query promises none. These
  * hold on any data size — asserting them in CI means a refactor that
  * silently un-pushes a filter (e.g. wrapping a scan in a UDF projection)
  * fails here instead of surfacing as a 100x regression on a cluster.
  */
class PlanShapeSpec extends AnyFunSuite with SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def formattedPlan(name: String): String = {
    val df = RelationalQueries.queries(name)(spark, d)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("q6_forecast_revenue: every predicate pushed to the parquet scan") {
    val plan = formattedPlan("q6_forecast_revenue")
    assert(plan.contains("PushedFilters"), plan)
    // shipdate range, discount range, and quantity bound all reach the scan
    Seq("l_shipdate", "l_discount", "l_quantity").foreach { c =>
      val pushed = plan.linesIterator
        .filter(_.contains("PushedFilters")).mkString
      assert(pushed.contains(c), s"$c not pushed: $pushed")
    }
  }

  test("q_scan_project: ReadSchema pruned to exactly the referenced columns") {
    val plan = formattedPlan("q_scan_project")
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .foreach(c => assert(readSchema.contains(c), readSchema))
    // untouched wide columns must NOT be read
    Seq("l_extendedprice", "l_shipdate", "l_comment")
      .foreach(c => assert(!readSchema.contains(c), s"$c not pruned: $readSchema"))
  }

  test("q_filter_isin: IN-set and comparison filters pushed to the scan") {
    val plan = formattedPlan("q_filter_isin")
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("l_returnflag") && pushed.contains("l_quantity"), pushed)
  }

  test("q1_pricing_summary stays inside whole-stage codegen") {
    // AQE prints no codegen spans until the plan is finalized — execute
    // first, then inspect the adaptive plan's final form
    val df = RelationalQueries.queries("q1_pricing_summary")(spark, d)
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.CodegenMode)
    assert(plan.contains("WholeStageCodegen"), plan)
  }

  test("q6_forecast_revenue plans no shuffle beyond the single-row agg merge") {
    val df = RelationalQueries.queries("q6_forecast_revenue")(spark, d)
    val exchanges = df.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))
    // one exchange: partial-agg -> final single-row merge; anything more
    // means a stray repartition/sort crept in
    assert(exchanges <= 1, df.queryExecution.executedPlan.toString)
  }

  test("range/interval joins prune their scans and push the probe filter") {
    // the bucketized joins must stay lean at the scan: q_range_join reads
    // 2 of orders' 9 columns and 2 of lineitem's 16, and the probe-order
    // filter reaches the parquet scan
    val plan = formattedPlan("q_range_join")
    val schemas = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    Seq("o_orderkey", "o_orderdate", "l_quantity", "l_shipdate")
      .foreach(c => assert(schemas.contains(c), s"$c missing: $schemas"))
    Seq("o_custkey", "o_totalprice", "l_extendedprice", "l_comment")
      .foreach(c => assert(!schemas.contains(c), s"$c not pruned: $schemas"))
    val iplan = formattedPlan("q_interval_join")
    val ischemas = iplan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!ischemas.contains("o_totalprice") && !ischemas.contains("o_orderstatus"),
      s"interval join reads unused columns: $ischemas")
  }

  test("shuffle-free projection queries stay shuffle-free") {
    // chunking, JSON extraction, and quantization promise scan-pipeline
    // plans (quantization's only exchange is the 1-row stats aggregate)
    for (q <- Seq("q_text_chunk", "q_json_funcs")) {
      val df = graft.SparkEntry.queries(q)(spark, d)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.linesIterator.exists(_.contains("Exchange")), s"$q: $plan")
    }
    // broadcast of the 1-row stats is the intended shape; only SHUFFLE
    // exchanges are the hazard (a corpus repartition would appear here)
    val vq = graft.SparkEntry.queries("q_vec_quantize")(spark, d)
    val shuffles = vq.queryExecution.executedPlan.toString
      .linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles <= 1, vq.queryExecution.executedPlan.toString)
  }

  test("media decode/resize queries are shuffle-free scan pipelines") {
    // decode → features and resize → re-decode are pure per-row transforms;
    // any Exchange here means a repartition crept into the media path and
    // a 100 TB media scan would shuffle its payload bytes
    for (q <- Seq("q_media_decode", "q_media_decode_jpeg", "q_media_resize")) {
      val df = graft.SparkEntry.queries(q)(spark, d)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.linesIterator.exists(_.contains("Exchange")), s"$q: $plan")
    }
  }

  test("q_knn_quantized: one array-typed stats aggregate, rank-limited top-k") {
    val df = graft.SparkEntry.queries("q_knn_quantized")(spark, d)
    val plan = df.queryExecution.sparkPlan.toString
    // the int8 stats pass is a single ObjectHashAggregate (partial+final),
    // not 2*dim named agg expressions; appearing more than once would mean
    // the stats subtree is being recomputed per consumer
    assert(plan.linesIterator.count(_.contains("ObjectHashAggregate")) === 2, plan)
    // top-k runs through the rank-pushdown WindowGroupLimit, so each
    // partition retains k rows before the window shuffle
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("q_knn_wide: dim-1536 stats pass stays ONE ObjectHashAggregate, rank-limited top-k") {
    // the wide-dim probe's point: at the production embedding width the
    // int8 min/max stats must still be a single partial+final array-typed
    // aggregate (an O(dim) buffer), not 2*1536 named agg expressions and
    // not one pass per consumer
    val df = graft.SparkEntry.queries("q_knn_wide")(spark, d)
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.linesIterator.count(_.contains("ObjectHashAggregate")) === 2, plan)
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("q_text_bm25_rel: term match is a broadcast hash join; only the stats cross is a BNLJ") {
    val df = graft.SparkEntry.queries("q_text_bm25_rel")(spark, d)
    val plan = df.queryExecution.sparkPlan.toString
    // exploded tokens equi-join the broadcast term set — a nested-loop or
    // sort-merge against the corpus-side explode would be the regression
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) === 1,
      s"only the 1-row corpus-stats cross join may nest-loop: $plan")
  }

  test("q_window_rank_funcs fuses all seven ranking expressions into one WindowExec") {
    val df = graft.SparkEntry.queries("q_window_rank_funcs")(spark, d)
    // sparkPlan (pre-AQE wrapper, which hides children from collect()):
    // same partition/order spec -> Catalyst evaluates rank, dense_rank,
    // percent_rank, cume_dist, ntile, lag, lead over ONE shuffle+sort;
    // a second "Window [" node would mean a spec drifted and doubled
    // the sort
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.sliding("Window [".length).count(_ == "Window [") === 1,
      plan.linesIterator.filter(_.contains("Window")).mkString("\n"))
  }

  test("q_dpp: fact scan carries a dynamicpruning partition filter") {
    val df = graft.SparkEntry.queries("q_dpp")(spark, d)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // the month set comes from the dim side at RUNTIME: the partitioned
    // orders scan must prune directories via a dynamicpruning expression —
    // a plan without it reads all ~80 month partitions at any scale
    assert(plan.contains("dynamicpruning"), plan)
    // and the dim's selective predicates reach the lineitem scan
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters")).mkString
    Seq("l_returnflag", "l_quantity", "l_discount")
      .foreach(c => assert(pushed.contains(c), s"$c not pushed: $pushed"))
  }

  test("q_bloom_join: fact side carries a runtime bloom filter ahead of the join") {
    val df = graft.SparkEntry.queries("q_bloom_join")(spark, d)
    val optimized = df.queryExecution.optimizedPlan.toString
    // InjectRuntimeFilter must have stamped might_contain(<bloom over the
    // filtered dim's keys>) onto the lineitem side — the row-level twin of
    // q_dpp's dynamicpruning: non-matching fact rows die at the scan, not
    // after the shuffle. Without it a 100 TB fact shuffles in full to
    // discard 97% at the join.
    assert(optimized.contains("might_contain"), optimized)
    // the bloom build happens on the CREATION side: a bloom_filter_agg
    // over the filtered orders keys, not over the fact
    assert(optimized.contains("bloom_filter_agg"), optimized)
    // and the helper restored the session confs after optimizing
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1",
      "withBloomFilter leaked autoBroadcastJoinThreshold=-1")
  }

  test("q_incr_agg: unchanged groups bypass via anti join; only touched groups re-combine") {
    val df = graft.SparkEntry.queries("q_incr_agg")(spark, d)
    val plan = df.queryExecution.sparkPlan.toString
    // the maintenance shape: base-agg rows split by the delta's group
    // keys — LeftAnti passes untouched groups through untouched,
    // LeftSemi routes only touched ones into the re-combine. A plan
    // without the split re-aggregates the whole aggregate table per delta.
    assert(plan.contains("LeftAnti"), plan)
    assert(plan.contains("LeftSemi"), plan)
  }

  test("q_schema_evolve: both generation scans prune to referenced columns only") {
    val df = graft.SparkEntry.queries("q_schema_evolve")(spark, d)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val readSchemas = plan.linesIterator
      .filter(_.contains("ReadSchema")).mkString("\n")
    // evolution casts must not widen the SCAN: neither generation
    // references o_orderstatus/o_orderdate, so no scan may read them
    assert(!readSchemas.contains("o_orderstatus"), readSchemas)
    assert(!readSchemas.contains("o_orderdate"), readSchemas)
  }

  test("q_skew_profile: parallel TakeOrdered top-k; windows only over the 20-row result") {
    val df = graft.SparkEntry.queries("q_skew_profile")(spark, d)
    val plan = df.queryExecution.sparkPlan
    // the top-20 must come from TakeOrderedAndProject (each partition keeps
    // 20, merged on the driver) — not a global sort
    assert(plan.toString.contains("TakeOrderedAndProject"), plan.toString)
    // every Window must sit ABOVE the limit (its subtree contains the
    // TakeOrdered), i.e. it evaluates over <= 20 rows — an unpartitioned
    // window directly over the distinct-key frame is the 100 TB hazard
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty, plan.toString)
    windows.foreach { w =>
      assert(w.collectFirst {
        case t if t.nodeName.contains("TakeOrderedAndProject") => t
      }.isDefined, s"Window over an unlimited frame:\n$w")
    }
  }

  test("q_seq_pack_greedy shuffles once, on the shard key") {
    val df = graft.SparkEntry.queries("q_seq_pack_greedy")(spark, d)
    val exchanges = df.queryExecution.executedPlan.toString
      .linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    // one exchange: the groupByKey on shard; the greedy state machine then
    // runs inside each group with no further data movement
    assert(exchanges == 1, df.queryExecution.executedPlan.toString)
  }

  test("q_events_ohlc: order statistics ride the grouped aggregate, no window") {
    val df = graft.SparkEntry.queries("q_events_ohlc")(spark, d)
    val plan = df.queryExecution.sparkPlan.toString
    // min_by/max_by are typed-imperative → partial+final SortAggregate
    // (per-partition sort by group key — the scale-safe map-side-combine
    // shape); the hazard pin is a WindowExec, which would sort per
    // (type, hour) FRAME instead of aggregating
    assert(!plan.contains("WindowExec"), s"OHLC planned a window:\n$plan")
    val aggs = plan.linesIterator.count(l =>
      l.contains("HashAggregate") || l.contains("SortAggregate"))
    assert(aggs >= 2, s"unexpected aggregate shape:\n$plan")
  }

  test("q_rolling_distinct: windows absent; distinct contribution via aggregates only") {
    val df = graft.SparkEntry.queries("q_rolling_distinct")(spark, d)
    val plan = df.queryExecution.sparkPlan.toString
    // COUNT(DISTINCT) OVER is illegal; the offset-explode formulation must
    // not smuggle in an unpartitioned window instead
    assert(!plan.contains("WindowExec"), s"rolling distinct planned a window:\n$plan")
  }

  test("q_linkage_jw: the JW scorer is codegen'd, not a UDF boundary") {
    val df = graft.SparkEntry.queries("q_linkage_jw")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("jaro_winkler_similarity"), plan)
    // the scoring projection lives inside a WholeStageCodegen span
    assert(!plan.contains("BatchEvalPython") &&
      !plan.linesIterator.exists(l =>
        l.contains("ScalaUDF") && l.contains("jaro")),
      s"JW fell out of codegen:\n$plan")
  }

  test("q_window_topk: partial WindowGroupLimit below the shuffle (map-side top-k)") {
    val df = graft.SparkEntry.queries("q_window_topk")(spark, d)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // Spark 4 rewrites rank <= k into partial+final WindowGroupLimit:
    // each map task forwards at most k rows per group, so the shuffle
    // carries k·groups·partitions rows instead of the whole fact — the
    // reason a custom top-k-per-group operator is NOT needed here. This
    // pin fails if a refactor (e.g. filtering on a derived column)
    // breaks the rewrite and silently reverts to full-sort windows.
    val limits = plan.linesIterator.count(_.contains("WindowGroupLimit"))
    assert(limits >= 2, s"partial top-k rewrite lost:\n$plan")
  }

  test("bloom-table point lookup: key equality pushed to the parquet scan") {
    // the read side of q_bloom_skip_stats' accounting: a point probe on
    // the bloom-indexed md5 key must reach the scan as a pushed EqualTo —
    // that is where Spark's vectorized reader consults the same footer
    // bloom filter the query measures (parquet.filter.bloom enabled by
    // default under spark.sql.parquet.filterPushdown)
    val dir = graft.layout.LayoutQueries.bloomDocsDir(spark, d)
    import org.apache.spark.sql.functions.{col, lit, md5}
    val probe = spark.read.parquet(dir)
      .filter(col("key") === md5(lit("0")))
    val plan = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("EqualTo(key"), s"point probe not pushed:\n$pushed")
  }

  test("q_pagerank: rank/edge joins are equi (hash) joins; only scalars cross") {
    // the catalog's fixture graph runs the driver tier; above the edge cap
    // the distributed loop runs, and it localCheckpoints each span, so
    // the result's plan is a LogicalRDD scan — pin the join strategy on
    // the plan each checkpoint action executes, forcing that tier on the
    // q_pagerank graph
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.QueryExecution
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") plans.add(qe.executedPlan.toString)
      def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      graft.graph.PageRank.pageRank(graft.graph.GraphQueries.docEdges(spark, d),
        "src", "dst", driverEdgeCap = 0L).collect()
      // listener events are delivered asynchronously
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    assert(!plans.isEmpty, "no localCheckpoint action observed")
    val plan = plans.asScala.mkString("\n")
    // the per-iteration contrib join must be an equi join on src/node —
    // BNLJ is reserved for the broadcast 1-row scalars (allowlisted)
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"no equi join strategy in PageRank plan:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"a node-scale frame crossed instead of a broadcast scalar:\n$plan")
  }
}
