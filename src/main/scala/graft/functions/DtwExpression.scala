package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

import graft.dist.Distances

/** JVM kernels invoked from generated code (static-call targets — the
  * generated Java references them by fully qualified name).
  */
object DtwKernels {
  def dtw(a: ArrayData, b: ArrayData): Double =
    Distances.dtw(a.toDoubleArray(), b.toDoubleArray())

  def euclidean(a: ArrayData, b: ArrayData): Double =
    Distances.Euclidean(a.toDoubleArray(), b.toDoubleArray())

  /** Left-to-right fold, same order as DuckDB's list_dot_product and the
    * Catalyst aggregate-HOF formulation — bit-identical results. Reads
    * ArrayData directly: no boxing, no Seq conversion.
    */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** LB_Keogh lower bound (Keogh & Ratanamahatana 2005): sqrt of x's
    * squared excursions outside the per-position envelope [l, u] — with
    * squared local costs and a shared band this lower-bounds banded DTW,
    * the pruning gate of [[graft.sim.DtwSearch]]. One interleaved pass;
    * each element contributes to exactly one branch, so the value can
    * differ from a two-sum HOF formulation only in addition ORDER (ulps)
    * — fine for a pruning bound that never reaches an oracle.
    */
  def lbKeogh(x: ArrayData, u: ArrayData, l: ArrayData): Double = {
    val n = math.min(x.numElements(),
      math.min(u.numElements(), l.numElements()))
    var s = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i)
      val ui = u.getDouble(i)
      val li = l.getDouble(i)
      if (xi > ui) { val d = xi - ui; s += d * d }
      else if (xi < li) { val d = li - xi; s += d * d }
      i += 1
    }
    math.sqrt(s)
  }
}

/** The input check every expression below shares: each child is
  * array<double>, else a failure with the caller's message.
  */
private object DoubleArrays {
  def check(children: Seq[Expression], message: => String): TypeCheckResult =
    if (children.forall(_.dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(message)
}

/** Native Catalyst expression: DTW distance between two array<double>
  * series (squared local cost, sqrt at the end — see
  * [[graft.dist.Distances.dtw]]). Full codegen via a static kernel call —
  * the expression participates in whole-stage codegen instead of the
  * Scala-UDF encode/decode boundary, and is SQL-addressable once
  * registered (`SELECT dtw_distance(a, b)`).
  */
case class DtwDistance(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    DoubleArrays.check(Seq(left, right),
      s"dtw_distance expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DtwKernels.dtw(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.DtwKernels.dtw($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DtwDistance =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dtw_distance"
}

/** Same shape for plain Euclidean over arrays (the hot nearest-exemplar
  * kernel when series are aligned).
  */
case class EuclideanDistance(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def checkInputDataTypes(): TypeCheckResult =
    DoubleArrays.check(Seq(left, right),
      "euclidean_distance expects (array<double>, array<double>)")
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    DtwKernels.euclidean(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.DtwKernels.euclidean($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): EuclideanDistance =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "euclidean_distance"
}

/** Codegen'd dot product over two array<double> columns. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def checkInputDataTypes(): TypeCheckResult =
    DoubleArrays.check(Seq(left, right), "dot_product expects (array<double>, array<double>)")
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    DtwKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.DtwKernels.dot($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "dot_product"
}

/** Codegen'd LB_Keogh lower bound over (series, upper-envelope,
  * lower-envelope) array<double> columns — the scalar gate of the pruned
  * DTW search promoted to a native expression (no HOF interpretation in
  * the hot corpus×queries pass).
  */
case class LbKeogh(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with Serializable {
  override def checkInputDataTypes(): TypeCheckResult =
    DoubleArrays.check(Seq(first, second, third),
      "lb_keogh expects (array<double>, array<double>, array<double>)")
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(x: Any, u: Any, l: Any): Any =
    DtwKernels.lbKeogh(x.asInstanceOf[ArrayData], u.asInstanceOf[ArrayData],
      l.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (x, u, l) => s"graft.functions.DtwKernels.lbKeogh($x, $u, $l)")
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): LbKeogh =
    copy(first = newFirst, second = newSecond, third = newThird)
  override def prettyName: String = "lb_keogh"
}

/** SQL names for the native expressions, registered on every session by
  * [[graft.GraftSession.local]]; the Column entry points need no registry.
  */
object GraftFunctions {
  private val injections
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("dtw_distance"),
      new ExpressionInfo(classOf[DtwDistance].getName, "dtw_distance"),
      (es: Seq[Expression]) => DtwDistance(es(0), es(1))),
    (FunctionIdentifier("euclidean_distance"),
      new ExpressionInfo(classOf[EuclideanDistance].getName, "euclidean_distance"),
      (es: Seq[Expression]) => EuclideanDistance(es(0), es(1))),
    (FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))),
    (FunctionIdentifier("jaro_winkler_similarity"),
      new ExpressionInfo(classOf[JaroWinklerSimilarity].getName,
        "jaro_winkler_similarity"),
      (es: Seq[Expression]) => JaroWinklerSimilarity(es(0), es(1))),
    (FunctionIdentifier("lb_keogh"),
      new ExpressionInfo(classOf[LbKeogh].getName, "lb_keogh"),
      (es: Seq[Expression]) => LbKeogh(es(0), es(1), es(2))))

  /** Registers the SQL names on a live session (idempotent). */
  def register(spark: SparkSession): Unit =
    injections.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }

  // Column-API entry points — registry-free construction so operators can
  // use the native expressions under ANY session
  private def col2(build: (Expression, Expression) => Expression)(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      build(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  }
  def dotProduct(a: Column, b: Column): Column = col2(DotProduct.apply)(a, b)
  def jaroWinkler(a: Column, b: Column): Column = col2(JaroWinklerSimilarity.apply)(a, b)
  def lbKeogh(x: Column, u: Column, l: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(LbKeogh(
      GraftColumnBridge.expression(x), GraftColumnBridge.expression(u),
      GraftColumnBridge.expression(l)))
  }
}
