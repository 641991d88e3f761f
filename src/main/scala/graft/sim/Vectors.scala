package graft.sim

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float|double>` columns as pure Catalyst
  * expressions (zip_with / aggregate — sequential left fold, so results are
  * bit-reproducible across engines and runs).
  */
object Vectors {

  // r20: a native array cast instead of the per-element transform lambda —
  // Catalyst HOFs evaluate interpreted per element; Cast over arrays is
  // codegen'd and widens float→double exactly like the element cast did
  // (NULL array and NULL elements preserved identically).
  def toDoubleArray(v: Column): Column = v.cast("array<double>")

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  // r20: norms are computed once per row on every ANN/coreset/dedup path —
  // route through the native codegen'd fold (same left-to-right order as
  // the HOF [[dot]], bit-identical doubles; the cosineFromNorms doctrine)
  def norm(a: Column): Column = sqrt(fastDot(a, a))

  /** Dot product via the native codegen'd [[graft.functions.DotProduct]]
    * expression: reads ArrayData directly (no boxing, no UDF encode/decode
    * boundary) and participates in whole-stage codegen. Catalyst
    * higher-order functions evaluate interpreted per element — on pairwise
    * joins they dominated runtime ~10x at sf0.1. Fold order is
    * left-to-right, the same sequence as the [[dot]] expression and
    * DuckDB's list_dot_product, so results are bit-identical.
    */
  def fastDot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dotProduct(a, b)

  /** Cosine from a precomputed-norm layout: sim = dot/(na*nb). Use when the
    * norms were computed once per row before a pairwise join — recomputing
    * ||v|| per PAIR is O(pairs x dim) wasted work at any scale.
    */
  def cosineFromNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    when(na * nb > 0, fastDot(a, b) / (na * nb)).otherwise(lit(0.0))

  /** Poison guard shared by every cosine/stats path: NaN ranks above all
    * numbers in both Spark and DuckDB, so a single NaN/Inf embedding's NaN
    * similarity would outrank every honest neighbor (and clear any
    * threshold), and a non-finite element poisons any global aggregate it
    * reaches. The norm is finite iff every element is — test it once per
    * row where the norm is already computed.
    */
  def finiteNorm(n: Column): Column =
    !isnan(n) && n < lit(Double.PositiveInfinity)
}
