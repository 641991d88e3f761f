package graft.layout

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Hilbert-curve layout key — [[ZOrder]]'s stronger sibling: the Hilbert
  * curve is the space-filling curve with UNIT-STEP continuity (every two
  * consecutive curve positions are grid-adjacent; Morton jumps across
  * the plane at every power-of-two boundary), so equal-size curve
  * segments have tighter bounding boxes and a 2-D box predicate skips
  * more files under footer min/max pruning. The trade: the index needs
  * a per-level rotation loop, not pure mask-shift arithmetic — so where
  * [[ZOrder.zkey]] is a built-in expression tree, the Hilbert key is a
  * native codegen'd expression over a static JVM kernel (the
  * [[graft.functions.DtwKernels]] discipline). The classic bit-level
  * algorithm (Wikipedia's xy2d/d2xy formulation of Hilbert 1891).
  *
  * Range-repartition on this key instead of the Morton key and every
  * output file is one contiguous Hilbert segment.
  */
object Hilbert {

  /** Curve order: 16 bits per coordinate → indexes 0 .. 2^32-1. */
  val Order = 16

  /** Column form: Hilbert index of (x, y), coordinates masked to
    * [[Order]] bits.
    */
  def hkey(x: Column, y: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(HilbertIndex(
      GraftColumnBridge.expression(x.cast("long")),
      GraftColumnBridge.expression(y.cast("long"))))
  }
}

/** Static kernels for generated code and tests. */
object HilbertKernels {

  /** Hilbert index of the cell (x, y) on the 2^order × 2^order grid. */
  def xy2d(order: Int, x0: Long, y0: Long): Long = {
    val n = 1L << order
    var x = x0 & (n - 1)
    var y = y0 & (n - 1)
    var d = 0L
    var s = n >> 1
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Inverse: cell (x, y) of curve position d — the spec's tool for the
    * unit-step continuity property.
    */
  def d2xy(order: Int, d0: Long): (Long, Long) = {
    val n = 1L << order
    var x = 0L; var y = 0L
    var t = d0
    var s = 1L
    while (s < n) {
      val rx = 1L & (t / 2)
      val ry = 1L & (t ^ rx)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val tmp = x; x = y; y = tmp
      }
      x += s * rx
      y += s * ry
      t /= 4
      s <<= 1
    }
    (x, y)
  }

  /** Entry point referenced by generated Java (fixed default order). */
  def hkey(x: Long, y: Long): Long = xy2d(Hilbert.Order, x, y)
}

/** Native codegen'd `hilbert_index(x, y)` over long coordinates. */
case class HilbertIndex(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType == LongType)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hilbert_index expects (bigint, bigint), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = LongType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HilbertKernels.hkey(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.layout.HilbertKernels.hkey($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertIndex =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "hilbert_index"
}
