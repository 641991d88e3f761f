package graft.layout

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkSpec

class ZOrderSpec extends AnyFunSuite with SparkSpec {

  test("spread/unspread round-trips and interleave separates planes") {
    val rnd = new scala.util.Random(7)
    (1 to 2000).foreach { _ =>
      val x = rnd.nextInt(Int.MaxValue).toLong
      val y = rnd.nextInt(Int.MaxValue).toLong
      val z = ZOrder.interleaveLong(x, y)
      assert(ZOrder.unspreadBitsLong(z) === x)
      assert(ZOrder.unspreadBitsLong(z >>> 1) === y)
      assert(z >= 0L, "31-bit inputs must never reach the sign bit")
    }
    // known value: x=0b101 (bits 0,2), y=0b11 (bits 0,1)
    // → even bits 0,4 from x, odd bits 1,3 from y = 0b11011 = 27
    assert(ZOrder.interleaveLong(5L, 3L) === 27L)
    // inputs with bit 31 set are masked to 31 bits, so the key can never
    // land on the long sign bit (the range-partition contract:
    // a negative key would sort before every positive one)
    val big = 0xffffffffL
    assert(ZOrder.interleaveLong(big, big) >= 0L)
    assert(ZOrder.interleaveLong(big, big) ===
      ZOrder.interleaveLong(big & ZOrder.Mask31, big & ZOrder.Mask31))
  }

  test("3-D spread/unspread round-trips; zkey3 column matches the kernel") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    (1 to 2000).foreach { _ =>
      val Seq(x, y, z) = Seq.fill(3)(rnd.nextInt(1 << 21).toLong)
      val k = ZOrder.interleave3Long(x, y, z)
      assert(k >= 0L)
      assert(ZOrder.unspreadBits3Long(k) === x)
      assert(ZOrder.unspreadBits3Long(k >>> 1) === y)
      assert(ZOrder.unspreadBits3Long(k >>> 2) === z)
    }
    assert(ZOrder.interleave3Long(1L, 1L, 1L) === 7L)
    assert(ZOrder.interleave3Long(3L, 0L, 0L) === 9L) // x bits 0,1 → 0,3
    val rows = Seq.fill(200)((rnd.nextInt(1 << 21).toLong,
      rnd.nextInt(1 << 21).toLong, rnd.nextInt(1 << 21).toLong))
    val got = rows.toDF("x", "y", "z")
      .withColumn("k", ZOrder.zkey3(col("x"), col("y"), col("z")))
      .collect()
    got.foreach { r =>
      assert(r.getLong(3) ===
        ZOrder.interleave3Long(r.getLong(0), r.getLong(1), r.getLong(2)))
    }
  }

  test("zkey column matches the JVM kernel row-for-row") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val pairs = Seq.fill(500)((rnd.nextInt(Int.MaxValue).toLong,
      rnd.nextInt(Int.MaxValue).toLong)) ++
      // sign-bit stress: values with bit 31 (and above) set must mask
      // identically in the column form and the JVM kernel
      Seq((0xffffffffL, 0xffffffffL), (0x80000000L, 1L), (1L, 0x80000001L))
    val df = pairs.toDF("x", "y")
      .withColumn("zk", ZOrder.zkey(col("x"), col("y")))
    val got = df.select("x", "y", "zk").collect()
    got.foreach { r =>
      assert(r.getLong(2) === ZOrder.interleaveLong(r.getLong(0), r.getLong(1)))
    }
  }

  test("Morton key is monotone in the coordinate partial order") {
    // if x1 <= x2 AND y1 <= y2 then zkey(x1,y1) <= zkey(x2,y2): dominated
    // points never sort later — the property that makes min/max bounding
    // boxes of curve segments valid skip filters for box predicates.
    val rnd = new scala.util.Random(29)
    (1 to 5000).foreach { _ =>
      val x1 = rnd.nextInt(1 << 20).toLong; val y1 = rnd.nextInt(1 << 20).toLong
      val x2 = x1 + rnd.nextInt(1 << 10); val y2 = y1 + rnd.nextInt(1 << 10)
      assert(ZOrder.interleaveLong(x1, y1) <= ZOrder.interleaveLong(x2, y2),
        s"($x1,$y1) vs ($x2,$y2)")
      assert(ZOrder.interleave3Long(x1, y1, x1) <=
        ZOrder.interleave3Long(x2, y2, x1 + rnd.nextInt(1 << 10)),
        "3-D monotonicity")
    }
  }

  test("zorder buckets' bounding boxes are far tighter than linear-order buckets") {
    val li = graft.ops.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .withColumn("_zk", ZOrder.zkey(col("l_partkey"), col("l_suppkey")))
    def totalArea(order: Seq[org.apache.spark.sql.Column]): Long =
      ZOrder.layoutBoxes(li, "l_partkey", "l_suppkey", order, buckets = 16)
        .agg(sum(col("box_area"))).head.getLong(0)
    val zArea = totalArea(Seq(col("_zk"), col("l_orderkey"), col("l_linenumber")))
    val linArea = totalArea(Seq(col("l_orderkey"), col("l_linenumber")))
    // linear order (scan order) leaves every bucket spanning ~the full
    // (part, supp) plane; z-order cuts each bucket to a curve segment.
    // The margin is deliberately loose — the claim is "clusters at all",
    // the exact ratio is data-dependent.
    assert(zArea * 2 < linArea, s"zorder=$zArea linear=$linArea")
  }

  test("layoutBoxes matches the single-window ntile reference exactly") {
    // the distributed bucketing (range partitions + local row_number +
    // offset join) must reproduce SQL ntile bit-for-bit — this is the
    // equivalence that lets the DuckDB oracle keep using plain ntile
    import org.apache.spark.sql.expressions.Window
    val li = graft.ops.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .withColumn("_zk", ZOrder.zkey(col("l_partkey"), col("l_suppkey")))
    val order = Seq(col("_zk"), col("l_orderkey"), col("l_linenumber"))
    val ref = li
      .withColumn("_bucket",
        ntile(16).over(Window.orderBy(order: _*)).cast("long"))
      .groupBy(col("_bucket").as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).cast("long").as("x_min"),
        max(col("l_partkey")).cast("long").as("x_max"),
        min(col("l_suppkey")).cast("long").as("y_min"),
        max(col("l_suppkey")).cast("long").as("y_max"))
      .orderBy("bucket").collect().map(_.toSeq)
    // bin count deliberately ≠ bucket count and non-dividing
    val got = ZOrder.layoutBoxes(li, "l_partkey", "l_suppkey", order,
        buckets = 16, bins = 7)
      .drop("box_area").orderBy("bucket").collect().map(_.toSeq)
    assert(got.toSeq === ref.toSeq)
  }

  test("layoutBoxes keeps NULL leading keys and ranks them nulls-first like ntile") {
    // r14 advisory: a NULL leading key used to bin to NULL and vanish in
    // the offset equi-join — silent row loss vs the ntile reference,
    // which ranks NULLs first. Pin: no rows dropped, bit-for-bit ntile
    // equivalence on a frame where 1/5 of leading keys are NULL.
    import org.apache.spark.sql.expressions.Window
    val li = graft.ops.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .withColumn("_zk",
        when(col("l_linenumber") % 5 === 0, lit(null).cast("long"))
          .otherwise(ZOrder.zkey(col("l_partkey"), col("l_suppkey"))))
    val order = Seq(col("_zk"), col("l_orderkey"), col("l_linenumber"))
    val got = ZOrder.layoutBoxes(li, "l_partkey", "l_suppkey", order,
      buckets = 16, bins = 7)
    assert(got.agg(sum(col("n_rows"))).head.getLong(0) === li.count(),
      "rows with NULL leading keys were dropped")
    val ref = li
      .withColumn("_bucket",
        ntile(16).over(Window.orderBy(order: _*)).cast("long"))
      .groupBy(col("_bucket").as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).cast("long").as("x_min"),
        max(col("l_partkey")).cast("long").as("x_max"),
        min(col("l_suppkey")).cast("long").as("y_min"),
        max(col("l_suppkey")).cast("long").as("y_max"))
      .orderBy("bucket").collect().map(_.toSeq)
    assert(got.drop("box_area").orderBy("bucket").collect().map(_.toSeq).toSeq
      === ref.toSeq)
  }
}
