package graft.split

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Train/test split operators (reference: code/src/utilities.py:36-76). */
object Splits {

  /** T2 — stratified split: per-class Bernoulli sample (map-side, no shuffle)
    * for train; test = anti-join complement on all columns
    * (reference: code/src/utilities.py:52-76, seed 123 at
    * code/src/controller_loop.py:193).
    *
    * NOTE (kept from the reference, flagged in SURVEY §7): the
    * anti-join-on-all-columns complement drops duplicate rows from the test
    * set. `hashSplitColumn` below is the scale-safe idiom.
    */
  def stratifiedSplit(
      df: DataFrame,
      labelCol: String,
      trainFraction: Double,
      seed: Long = 123L): (DataFrame, DataFrame) = {
    val classes = df.select(labelCol).distinct().collect().map(_.get(0))
    val fractions = classes.map(c => c -> trainFraction).toMap
    val train = df.stat.sampleBy(col(labelCol), fractions, seed)
    val test = df.join(train, df.columns.toSeq, "left_anti")
    (train, test)
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
