package graft.split

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.prep.DeterministicSampling

/** Train/test split operators (reference: code/src/utilities.py:36-76). */
object Splits {

  /** T2 — stratified split (reference: code/src/utilities.py:52-76, seed
    * 123 at code/src/controller_loop.py:193): a row goes to train iff its
    * [[graft.prep.DeterministicSampling.contentDraw]] over every column
    * falls below `trainFraction`, else to test. The draw ignores the
    * label, so each class splits in proportion in expectation. It is
    * never null and equal for identical rows: every row, nulls included,
    * lands on exactly one side, and no test row equals a train row —
    * without the reference's all-column anti-join (SURVEY "J1"), which
    * shuffles and never matches a row holding a null.
    */
  def stratifiedSplit(
      df: DataFrame,
      labelCol: String,
      trainFraction: Double,
      seed: Long = 123L): (DataFrame, DataFrame) = {
    val inTrain = DeterministicSampling.contentDraw(
      seed ^ DeterministicSampling.SplitSalt, df.columns.map(col).toSeq: _*) < trainFraction
    (df.filter(inTrain), df.filter(!inTrain))
  }

  /** Deterministic, engine-portable split: a row goes to train iff the first
    * hex digit of md5(key) falls below `sixteenths`/16. Stratification is
    * implicit (hash independent of label), reproducible across engines, and
    * runs as a pure map — no shuffle, no driver state, scales to any size.
    */
  def hashSplitColumn(keyCol: String, sixteenths: Int) = {
    val cutoff = "0123456789abcdef".charAt(sixteenths).toString
    when(substring(md5(col(keyCol).cast("string")), 1, 1) < lit(cutoff), lit("train"))
      .otherwise(lit("test"))
  }
}
