package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Domain mixing — static target-proportion reweighting (the Pile /
  * DoReMi recipe): compute per-domain acceptance rates
  * min(1, budget·p_d / avail_d) from ONE domain-cardinality-bounded
  * aggregate, then admit documents by a seeded md5 uniform (the
  * [[Dsir.selectGumbel]] noise doctrine — u = (v + 0.5) / 2^52,
  * exactly DuckDB-replayable). Plan at 100 TB: one bounded aggregate +
  * a broadcast rate join + a stateless filter — no corpus shuffle, no
  * per-domain repartition.
  *
  * One admission definition ([[admit]]) serves batch and stream: in
  * batch ([[rates]] + [[admit]] — the q_select_mix shape) the rates are
  * derived from the corpus being mixed; on a stream they are FROZEN
  * inputs, and because admission is a pure per-row projection + filter
  * against the broadcast rate table, a streamed corpus admits EXACTLY
  * the docs its batch twin admits (MixingSpec pins set equality) — no
  * state, no watermark, nothing to crash-recover.
  */
object Mixing {

  /** Per-domain acceptance rates toward target proportions
    * `weightExpr / Σ weightExpr` at total budget `budgetFrac · N`,
    * capped at availability: (domain, rate). One bounded aggregate;
    * rows = domain cardinality. The cap LOSES its excess mass by
    * design — no renormalization onto the other domains: a mixing
    * stage that silently over-samples abundant domains because a
    * scarce one ran out is exactly the distribution drift the target
    * proportions exist to prevent (under-delivering the budget is
    * visible; a shifted mix is not).
    */
  def rates(docs: DataFrame, domainCol: String, weightExpr: Column,
      budgetFrac: Double): DataFrame = {
    require(budgetFrac > 0.0 && budgetFrac <= 1.0,
      s"budgetFrac must be in (0,1], got $budgetFrac")
    val avail = docs.groupBy(col(domainCol))
      .agg(count(lit(1)).as("avail"))
    val tot = avail.agg(sum(col("avail")).as("n_total"),
      sum(weightExpr).as("wsum"))
    // NULL guard (r19 ADVICE): a null weight would flow into least(),
    // whose null-skipping turns the rate into 1.0 — a silent admit-all
    // for exactly the domain whose target was mis-specified. Fail loudly
    // instead; the uncapped expression is null iff the weight was.
    val uncapped = lit(budgetFrac) * col("n_total") *
      (weightExpr.cast("double") / col("wsum")) / col("avail")
    avail.crossJoin(broadcast(tot))
      .select(col(domainCol),
        when(uncapped.isNull, raise_error(concat(
            lit("Mixing.rates: null weight for domain "),
            col(domainCol).cast("string"))))
          .otherwise(least(lit(1.0), uncapped)).as("rate"))
  }

  /** The seeded admission draw: u = (md5-derived 52-bit uniform) — one
    * definition shared by the batch and streaming faces and mirrored
    * verbatim by the q_select_mix oracle.
    */
  def drawU(idCol: String, seed: Long): Column = {
    val v = conv(substring(md5(concat(lit(s"$seed:"),
      col(idCol).cast("string"))), 1, 13), 16, 10).cast("long")
    (v.cast("double") + lit(0.5)) / lit(4503599627370496.0) // 2^52
  }

  /** Admit rows of `docs` whose draw clears their domain's rate:
    * (docs.*, u, rate) for the admitted rows. `ratesDf` must expose
    * (domainCol, rate) and be domain-cardinality-bounded — it rides a
    * broadcast join, so this works identically on a batch frame and a
    * streaming one (stream-static equi join, stateless).
    */
  def admit(docs: DataFrame, ratesDf: DataFrame, domainCol: String,
      idCol: String, seed: Long): DataFrame = {
    // (r19 ADVICE) withColumn below would silently OVERWRITE caller
    // columns named u/rate — refuse up front rather than corrupt
    require(!docs.columns.contains("u") && !docs.columns.contains("rate"),
      "Mixing.admit: input must not carry 'u' or 'rate' columns " +
        "(the admission output claims those names)")
    val u = drawU(idCol, seed)
    docs.join(broadcast(ratesDf), Seq(domainCol))
      .filter(u < col("rate"))
      .withColumn("u", round(u, 6))
      .withColumn("rate", round(col("rate"), 6))
  }
}
