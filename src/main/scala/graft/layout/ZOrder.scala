package graft.layout

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) multi-dimensional clustering for data layout — the
  * file-skipping lever at 100 TB: parquet footers carry per-column min/max,
  * and a scan with predicates on BOTH x and y skips a file only when the
  * file's bounding box misses the predicate box. Rows sorted by a single
  * dimension give tight boxes on that dimension and full-range boxes on
  * every other; rows sorted by the interleaved-bit Morton key give boxes
  * tight in ALL interleaved dimensions at once (each additional sorted bit
  * halves one side of the box, alternating sides). Range-repartition +
  * in-partition sort by the Morton key makes each output file cover one
  * compact Z-curve segment.
  *
  * The key is pure bit arithmetic over codegen'd built-ins (`shiftleft`,
  * `bitwiseAND`/`OR`) — no UDF, stays inside whole-stage codegen, and the
  * identical mask-shift chain is expressible in ANSI SQL, so the catalog
  * queries are value-oracled bit-for-bit against DuckDB.
  *
  * Same magic-mask spread as the classic interleave (Delta/Iceberg Z-order
  * use interleaved byte order; Hacker's Delight §7-2 "spreading bits").
  */
object ZOrder {

  /** Spread the low 32 bits of `x` to the even bit positions of a long
    * (bit i of x lands at bit 2i). JVM twin of [[spreadBits]] for tests
    * and driver-side use.
    */
  def spreadBitsLong(x: Long): Long = {
    var v = x & 0xffffffffL
    v = (v | (v << 16)) & 0x0000ffff0000ffffL
    v = (v | (v << 8)) & 0x00ff00ff00ff00ffL
    v = (v | (v << 4)) & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v << 2)) & 0x3333333333333333L
    v = (v | (v << 1)) & 0x5555555555555555L
    v
  }

  /** Inverse of [[spreadBitsLong]]: collect the even bit positions back to
    * a 32-bit value (for the round-trip property and key decoding).
    */
  def unspreadBitsLong(z: Long): Long = {
    var v = z & 0x5555555555555555L
    v = (v | (v >>> 1)) & 0x3333333333333333L
    v = (v | (v >>> 2)) & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v >>> 4)) & 0x00ff00ff00ff00ffL
    v = (v | (v >>> 8)) & 0x0000ffff0000ffffL
    v = (v | (v >>> 16)) & 0x00000000ffffffffL
    v
  }

  /** 31-bit coordinate mask. Keys interleave at most 31 bits per 2-D
    * coordinate: bit 31 of y would spread to bit 62 and shift onto the long
    * SIGN bit, making the key negative and breaking unsigned Z-curve order
    * under `repartitionByRange` (negative keys would sort before all
    * positive ones). Masking here — not at call sites — makes [[zkey]]
    * sign-safe by construction.
    */
  val Mask31 = 0x7fffffffL

  /** Morton key of two non-negative coordinates (masked to their low
    * 31 bits — see [[Mask31]]): x on even bits, y on odd bits. JVM twin of
    * [[zkey]].
    */
  def interleaveLong(x: Long, y: Long): Long =
    spreadBitsLong(x & Mask31) | (spreadBitsLong(y & Mask31) << 1)

  /** 3-D spread: the low 21 bits of `x` land at bit positions 3i (the
    * standard 3-D Morton magic masks). 21 bits × 3 dims = 63 key bits,
    * sign-safe.
    */
  def spreadBits3Long(x: Long): Long = {
    var v = x & 0x1fffffL
    v = (v | (v << 32)) & 0x001f00000000ffffL
    v = (v | (v << 16)) & 0x001f0000ff0000ffL
    v = (v | (v << 8)) & 0x100f00f00f00f00fL
    v = (v | (v << 4)) & 0x10c30c30c30c30c3L
    v = (v | (v << 2)) & 0x1249249249249249L
    v
  }

  /** Inverse of [[spreadBits3Long]]. */
  def unspreadBits3Long(z: Long): Long = {
    var v = z & 0x1249249249249249L
    v = (v | (v >>> 2)) & 0x10c30c30c30c30c3L
    v = (v | (v >>> 4)) & 0x100f00f00f00f00fL
    v = (v | (v >>> 8)) & 0x001f0000ff0000ffL
    v = (v | (v >>> 16)) & 0x001f00000000ffffL
    v = (v | (v >>> 32)) & 0x1fffffL
    v
  }

  /** 3-D Morton key: x at bits 3i, y at 3i+1, z at 3i+2 (21 bits each). */
  def interleave3Long(x: Long, y: Long, z: Long): Long =
    spreadBits3Long(x) | (spreadBits3Long(y) << 1) | (spreadBits3Long(z) << 2)

  /** Column form of [[spreadBits3Long]]. */
  def spreadBits3(c: Column): Column = {
    var v = c.bitwiseAND(lit(0x1fffffL))
    v = v.bitwiseOR(shiftleft(v, 32)).bitwiseAND(lit(0x001f00000000ffffL))
    v = v.bitwiseOR(shiftleft(v, 16)).bitwiseAND(lit(0x001f0000ff0000ffL))
    v = v.bitwiseOR(shiftleft(v, 8)).bitwiseAND(lit(0x100f00f00f00f00fL))
    v = v.bitwiseOR(shiftleft(v, 4)).bitwiseAND(lit(0x10c30c30c30c30c3L))
    v = v.bitwiseOR(shiftleft(v, 2)).bitwiseAND(lit(0x1249249249249249L))
    v
  }

  /** 3-D Morton key column (values masked to their low 21 bits). */
  def zkey3(x: Column, y: Column, z: Column): Column =
    spreadBits3(x.cast("long"))
      .bitwiseOR(shiftleft(spreadBits3(y.cast("long")), 1))
      .bitwiseOR(shiftleft(spreadBits3(z.cast("long")), 2))

  /** Column form of [[spreadBitsLong]] — six mask-shift steps over
    * codegen'd built-ins.
    */
  def spreadBits(c: Column): Column = {
    var v = c.bitwiseAND(lit(0xffffffffL))
    v = v.bitwiseOR(shiftleft(v, 16)).bitwiseAND(lit(0x0000ffff0000ffffL))
    v = v.bitwiseOR(shiftleft(v, 8)).bitwiseAND(lit(0x00ff00ff00ff00ffL))
    v = v.bitwiseOR(shiftleft(v, 4)).bitwiseAND(lit(0x0f0f0f0f0f0f0f0fL))
    v = v.bitwiseOR(shiftleft(v, 2)).bitwiseAND(lit(0x3333333333333333L))
    v = v.bitwiseOR(shiftleft(v, 1)).bitwiseAND(lit(0x5555555555555555L))
    v
  }

  /** Morton key column over two non-negative integral columns (values are
    * masked to their low 31 bits so the key can never reach the sign bit —
    * see [[Mask31]]; cast/scale upstream if wider).
    */
  def zkey(x: Column, y: Column): Column =
    spreadBits(x.cast("long").bitwiseAND(lit(Mask31)))
      .bitwiseOR(shiftleft(spreadBits(y.cast("long").bitwiseAND(lit(Mask31))), 1))

  /** Layout quality report: bucket rows into `buckets` equal-size runs of
    * the given ordering and emit each bucket's (x, y) bounding box and
    * box area — exactly the per-file min/max a parquet footer would carry
    * under that layout. Deterministic (SQL ntile semantics over a total
    * order — the oracle replays it with DuckDB `ntile`), so the
    * zorder-vs-linear comparison is value-oracled, not a heuristic:
    * Σ area(zorder buckets) ≪ Σ area(linear buckets) IS the file-skipping
    * win, measured.
    *
    * Scale shape: NO unpartitioned window over the data. The global rank
    * each row needs for its ntile bucket is assembled distributively:
    * rows are binned by an equal-integer-width cut of the LEADING order
    * column (`bin = (o0 - min) div width`, width = (max-min) div bins + 1
    * — a deterministic, monotone function of the row's own values, so
    * every re-evaluation of the plan agrees; a `spark_partition_id` after
    * repartitionByRange would NOT, as column pruning can defeat exchange
    * reuse and range boundaries resample per instantiation). Bins are
    * ordered, so global order = (bin, orderBy); each row's local rank
    * comes from a PARTITIONED window over its bin, its bin's starting
    * offset from a per-bin-count frame of ≤ `bins` rows (metadata scale —
    * the only unpartitioned window runs over THAT; the [[Compaction]]
    * per-file-metadata adjudication), broadcast back. Bucket assignment
    * is then the closed-form SQL ntile rule: with n rows and b buckets,
    * the first n%b buckets take ⌈n/b⌉ rows, the rest ⌊n/b⌋.
    *
    * `bins` shapes parallelism only, never the result. The leading order
    * column must be integral (every layout key here is a long); NULL
    * leading keys are supported — they bin to a -1 sentinel that sorts
    * first, matching SQL ntile's nulls-first ascending rank (a bare div
    * would leave the bin NULL and the offset equi-join would silently
    * drop those rows). A heavily skewed leading column concentrates
    * bins — size `bins` generously on a cluster, the per-bin frame stays
    * metadata-scale regardless; the local rank is long-typed, so even a
    * single bin holding >2^31 rows ranks correctly.
    */
  def layoutBoxes(
      df: DataFrame, xCol: String, yCol: String,
      orderBy: Seq[Column], buckets: Int,
      bins: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val oCols = orderBy.indices.map(i => col(s"_o$i"))
    val base = df.select(
      orderBy.zipWithIndex.map { case (c, i) => c.as(s"_o$i") } ++
        Seq(col(xCol).cast("long").as("_x"), col(yCol).cast("long").as("_y")): _*)
    val span = base.agg(min(col("_o0").cast("long")).as("_lo"),
      max(col("_o0").cast("long")).as("_hi"))
    // NULL leading keys bin to -1: real bins are >= 0 (o0 - min >= 0), so
    // the sentinel sorts FIRST in the offset frame — exactly where SQL
    // ntile's default nulls-first ascending order ranks NULL rows. A bare
    // div would leave _bin NULL and the equi-join below would silently
    // DROP those rows (NULL never equi-matches).
    val binned = base.crossJoin(broadcast(span))
      .withColumn("_bin", coalesce(expr(
        s"(cast(_o0 as bigint) - _lo) div (((_hi - _lo) div ${bins}L) + 1L)"),
        lit(-1L)))
      .drop("_lo", "_hi")
    // long-typed local rank (running count over the bin partition), NOT
    // row_number(): that returns IntegerType and a single bin past ~2.1B
    // rows — the skewed-leading-key concentration the doc warns about —
    // would overflow _rn into negative buckets at the stated 100 TB scale
    val local = binned.withColumn("_lrn",
      sum(lit(1L)).over(Window.partitionBy(col("_bin")).orderBy(oCols: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wMeta = Window.orderBy(col("_bin"))
    val offsets = binned.groupBy(col("_bin")).agg(count(lit(1)).as("_cnt"))
      .withColumn("_off", coalesce(sum(col("_cnt"))
        .over(wMeta.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_n", sum(col("_cnt")).over(
        wMeta.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("_bin"), col("_off"), col("_n"))
    local.join(broadcast(offsets), Seq("_bin"))
      .withColumn("_rn", col("_off") + col("_lrn"))
      .withColumn("_q", expr(s"_n div ${buckets}L"))
      .withColumn("_rem", expr(s"_n % ${buckets}L"))
      .withColumn("_bucket",
        when(col("_rn") <= col("_rem") * (col("_q") + lit(1L)),
          expr("(_rn - 1) div (_q + 1) + 1"))
          .otherwise(expr("_rem + ((_rn - (_rem * (_q + 1)) - 1) div _q) + 1")))
      .groupBy(col("_bucket").as("bucket"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("_x")).as("x_min"),
        max(col("_x")).as("x_max"),
        min(col("_y")).as("y_min"),
        max(col("_y")).as("y_max"))
      .withColumn("box_area",
        (col("x_max") - col("x_min") + lit(1L)) *
          (col("y_max") - col("y_min") + lit(1L)))
  }
}
