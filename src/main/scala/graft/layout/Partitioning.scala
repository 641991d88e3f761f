package graft.layout

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ops.Tables

/** Partitioned-table layout + the two RUNTIME pruning proofs — the rest
  * of the file-skipping story next to [[ZOrder]]: Z-order cuts files
  * WITHIN a partition via footer min/max boxes; date partitioning cuts
  * whole directories before any footer is opened; DPP extends that to
  * runtime (a join against a filtered dimension prunes fact PARTITIONS
  * using the dim's values, discovered during execution); and the runtime
  * bloom filter ([[graft.ops.RuntimeFilters]]) is the row-level
  * counterpart for joins whose key carries no partition structure — fact
  * ROWS that cannot match die at the scan instead of crossing the
  * shuffle.
  */
object Partitioning {

  private val written = scala.collection.concurrent.TrieMap.empty[String, String]

  /** One-time (per JVM × sf dir × fixture generation) materialization of
    * orders partitioned by order month (`o_month=yyyy-MM/` directories) —
    * the layout a production fact table ships with, here built on demand so
    * catalog queries can exercise partition-wise plans against it (a
    * [[graft.ops.QueryFixtures]] dir, so a regenerated fixture set can
    * never serve a stale layout). `repartition` on the
    * partition column first: without it every input task writes a file
    * into every month dir (tasks × partitions small files — the
    * anti-pattern [[Compaction]] exists to clean up).
    */
  def partitionedOrdersDir(spark: SparkSession, sfDir: String): String =
    graft.ops.QueryFixtures.fixtureDir(written, "orders_by_month", "orders", sfDir) { dir =>
      Tables.orders(spark, sfDir)
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
        .repartition(col("o_month"))
        .write.mode("overwrite").partitionBy("o_month")
        .parquet(dir)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Monthly order volume/revenue restricted to months where a selective
    // lineitem pattern shipped (returned, max-quantity, deep-discount
    // rows). The month set is computed AT RUNTIME from the dim side, so a
    // static partition filter cannot express it — the fact scan must carry
    // a dynamicpruning partition filter (PlanShapeSpec pins it) and read
    // only the qualifying month directories. At 100 TB: the dim subquery
    // broadcasts, and the fact side opens ~3% of its partitions instead
    // of all 80.
    "q_dpp" -> ((s, d) => {
      val fact = s.read.parquet(partitionedOrdersDir(s, d))
      val dim = Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R" &&
          col("l_quantity") > 49 && col("l_discount") > 0.09)
        .select(date_format(col("l_shipdate"), "yyyy-MM").as("o_month"))
        .distinct()
      fact.join(broadcast(dim), Seq("o_month"))
        .groupBy(col("o_month"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(28, 6)))
            .cast("double").as("total_price"))
    }),

    // Row-level runtime pruning, the twin proof to q_dpp: a selectively
    // filtered orders dim joins the lineitem fact on the shuffle key, and
    // InjectRuntimeFilter stamps might_contain(<dim-key bloom>) onto the
    // fact SCAN (PlanShapeSpec pins it) — fact rows that cannot match die
    // before the exchange instead of after it. Thresholds are pinned only
    // while this plan optimizes (see RuntimeFilters.withBloomFilter);
    // values are filter-independent, so the oracle is the plain join.
    "q_bloom_join" -> ((s, d) =>
      graft.ops.RuntimeFilters.withBloomFilter(s, {
        val dim = Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT" &&
            col("o_totalprice") > 150000.0)
          .select(col("o_orderkey"), col("o_orderdate"))
        val fact = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        fact.join(dim, col("l_orderkey") === col("o_orderkey"))
          .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(
            count(lit(1)).as("n_lines"),
            sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
              (lit(1).cast(DecimalType(18, 2)) -
                col("l_discount").cast(DecimalType(18, 2))))
              .cast("double").as("revenue"))
      })))

  val oracles: Map[String, String] = Map(
    // Values are layout-independent: the same join/agg over the original
    // (unpartitioned) orders — DuckDB proves the partitioned path changed
    // WHERE bytes were read, not WHAT was computed.
    "q_dpp" ->
      """WITH dim AS (
        |  SELECT DISTINCT strftime(l_shipdate, '%Y-%m') AS o_month
        |  FROM lineitem
        |  WHERE l_returnflag = 'R' AND l_quantity > 49 AND l_discount > 0.09
        |)
        |SELECT strftime(o.o_orderdate, '%Y-%m') AS o_month,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total_price
        |FROM orders o JOIN dim ON strftime(o.o_orderdate, '%Y-%m') = dim.o_month
        |GROUP BY 1""".stripMargin,

    // The bloom filter is value-transparent (false positives only ever
    // ADMIT rows the join then rejects) — the oracle is the plain join.
    "q_bloom_join" ->
      """SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
        |       COUNT(*) AS n_lines,
        |       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
        |            AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 150000.0
        |GROUP BY 1""".stripMargin)
}
