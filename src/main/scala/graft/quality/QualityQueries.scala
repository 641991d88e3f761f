package graft.quality

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Tables

/** Catalog entries for the data-profiling / constraint-validation surface
  * — every stat is integer-exact or decimal-summed, so all three queries
  * are value-oracled bit-for-bit against DuckDB.
  */
object QualityQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // In-plan logistic regression (LogReg.train): learn a quality/langid
    // classifier from weak labels — iters passes, each ONE decimal-summed
    // global aggregate (the KMeans loop shape; no shuffle, no UDF).
    // Features mirror the oracle's SQL text exactly; the unrolled-CTE
    // twin replays every gradient step bit-for-bit.
    "q_quality_lr" -> ((s, d) => {
      val (docs, feats, label) = lrInputs(s, d)
      graft.ml.LogReg.trainReadout(docs, feats,
        Seq("w_chars", "w_spaces"), label, iters = lrIters,
        lr = lrRate.toDouble)
    }),

    // DSIR-shaped importance resampling (Dsir.selectTopK): the %10 docs
    // play the curated target seed, the rest are the raw pool; each raw
    // doc scores the summed hashed-ngram log-likelihood-ratio between
    // the two smoothed distributions, and the 100 most target-like are
    // selected. Buckets use the q_feature_hash md5 function, per-gram
    // ratios decimal-sum (the LogReg doctrine), so distributions,
    // smoothing arithmetic, scores, and the final ranking are ALL
    // value-oracled bit-for-bit.
    "q_select_importance" -> ((s, d) =>
      Dsir.selectTopK(Tables.documents(s, d), "doc_id", "text",
        isTarget = col("doc_id") % 10 === 0, k = 100,
        buckets = dsirBuckets, alpha = dsirAlpha)
        .withColumnRenamed("id", "doc_id")),
    // The RESAMPLED face of the same selection (Dsir.selectGumbel):
    // Gumbel-max top-k samples without replacement ∝ exp(score) — the
    // actual DSIR draw, with seeded md5-derived noise so the oracle
    // replays scores, uniforms, −ln(−ln u), and the final draw exactly.
    "q_select_gumbel" -> ((s, d) =>
      Dsir.selectGumbel(Tables.documents(s, d), "doc_id", "text",
        isTarget = col("doc_id") % 10 === 0, k = 100, seed = dsirSeed,
        buckets = dsirBuckets, alpha = dsirAlpha)
        .withColumnRenamed("id", "doc_id")),
    // The COMPOSED data-selection pipeline (r18 verdict task 4) — the
    // curation funnel a pretraining run schedules as ONE job, each stage
    // the already-oracled single-stage operator with its source swapped
    // to the previous stage's survivors:
    //   1. train the OVR quality-band LR on weak length-band labels
    //      (the bootstrapped-classifier setup: heuristic rules label,
    //      the model learns a smooth boundary), then SERVE it as the
    //      corpus filter (LogReg.classify over the trained weights — the
    //      multiclass serving face, argmax over the k sigmoids; keeps
    //      the learned head band, ~49% of the corpus at every SF);
    //   2. DSIR Gumbel-top-k resample of the survivors toward the
    //      curated target slice (sampling without replacement ∝ the
    //      likelihood ratio);
    //   3. CCNet LM band cut: bigram LM trained IN-SUBSET over the
    //      resampled docs, exact p10/p90 fences, keep the middle band;
    //   4. per-cell k-center diversity cut over the survivors'
    //      embeddings against the frozen SemDeDup quantizer.
    // The oracle replays train → serve → resample → band → diversify
    // end-to-end from the raw tables (every shared CTE chain is the
    // single-stage oracle's own definition with src/prefix bound), so a
    // stage-BOUNDARY drift — what materializes between stages, which
    // order the cuts compose — lands here even while each stage's own
    // query stays green. Scale shape: stage 1 is expressions over the
    // corpus scan; stage 2's output is k rows, so stages 3-4 run on
    // broadcast-sized survivors; no corpus-sized shuffle anywhere.
    //
    // Domain MIXING — the curation stage AFTER selection (the Pile /
    // DoReMi static-reweighting face): given target domain proportions
    // (here ∝ source index + 1 — a deliberately non-uniform target over
    // the uniform fixture, so high-weight domains hit the availability
    // cap and low-weight ones subsample), compute per-domain acceptance
    // rates min(1, budget·p_d / avail_d) from ONE bounded
    // groupBy(source) aggregate, then admit docs by the seeded md5
    // uniform (the selectGumbel noise doctrine — u = (v+0.5)/2^52,
    // exactly DuckDB-replayable). Plan at 100 TB: one 20-row aggregate
    // + a broadcast rate join + a stateless filter — no corpus shuffle,
    // no per-domain repartition. Rates, draws, and the admit decision
    // are ALL value-oracled per doc.
    "q_select_mix" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val idx = expr("CAST(substring(source, 4) AS INT)")
      Mixing.admit(docs,
          Mixing.rates(docs, "source", idx + 1, mixBudgetFrac),
          "source", "doc_id", mixSeed)
        .select(col("doc_id"), col("source"), col("u"), col("rate"))
    }),

    // BENCH NOTE — ~7.3 s at the r19 close, the #2 battery weight:
    // stage-profiled (r19) as ~40 sub-100ms stages — the funnel runs
    // ~15 sequential bounded jobs (4 training passes, the Gumbel
    // TakeOrdered chain, LM fences, per-cell anchor + advance +
    // assignment), so warm wall time is job-count × scheduler latency,
    // CONSTANT in corpus size (the q_corpus_build residual class, not
    // recompute: every per-job scan is one-pass and bounded).
    "q_select_pipeline" -> ((s, d) => selectPipeline(s, d)),

    // The COMPLETE curation funnel (r19 verdict task 2): the composed
    // selection pipeline with domain MIXING as its final stage — where
    // a production funnel actually ends (train → serve → resample →
    // band → diversify → capped domain-proportional admission). The
    // diversified survivors (≤ kPerCell × 32 rows, broadcast-sized)
    // rejoin `documents` for their source, then q_select_mix's exact
    // rate/draw/admit machinery runs OVER THE SURVIVORS: availability
    // and the weight sum come from the surviving mix (a domain the
    // funnel eliminated contributes nothing — the real post-selection
    // distribution, not the corpus prior). Every stage chain in the
    // oracle is the single-stage oracle's own definition with
    // (src, prefix) bound; mixing reuses mixCtesFrom — the same CTEs
    // q_select_mix interpolates over `documents`. Scale shape: stages
    // 3-6 all run on broadcast-sized survivors; the mix tail is one
    // ≤20-row aggregate + a broadcast rate join + a stateless filter.
    "q_select_funnel" -> ((s, d) => selectFunnel(s, d)),

    // The frozen-stats DSIR SERVING face on the real production split
    // (r19 verdict task 3): the bucket log-ratio table (≤256 rows —
    // DSIR's entire model state) trains on the doc_id%5≠1 slice
    // (target = the curated %10 slice, wholly inside the train split),
    // and the HELD-OUT %5=1 slice is scored against the FROZEN
    // broadcast table via Dsir.scoreWith — the rebuild-cadence cadence
    // (ratios retrain at snapshot time, scoring is a pure per-doc
    // computation against broadcast state, so it runs identically in a
    // foreachBatch micro-batch; DsirSpec pins stream == batch). The
    // oracle retrains the ratio chain from the train slice and replays
    // the held-out gram/hash/score join per doc.
    "q_select_dsir_served" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val frozen = Dsir.ratios(docs.filter(col("doc_id") % 5 =!= 1),
        "doc_id", "text", col("doc_id") % 10 === 0,
        dsirBuckets, dsirAlpha)
      Dsir.scoreWith(docs.filter(col("doc_id") % 5 === 1),
        "doc_id", "text", frozen, dsirBuckets)
        .withColumnRenamed("id", "doc_id")
    }),
    // The k-way corpus-filter shape (r17 verdict task 4): one-vs-rest
    // langid over IN-PLAN STANDARDIZED features — the stats pass is one
    // decimal-summed aggregate (mean and raw second moment, combine-
    // order independent), standardization rides as expressions over the
    // broadcast 1-row stats, and every class's gradient vector lands in
    // ONE aggregate per iteration (k·(d+1) decimal sums, zero shuffle).
    // The oracle replays stats, standardize, and all k unrolled GD
    // chains bit-for-bit.
    "q_quality_lr_multi" -> ((s, d) => {
      val (docs, feats, label) = lrMultiInputs(s, d)
      graft.ml.LogReg.trainMultiReadout(docs, feats,
        Seq("w_chars", "w_spaces"), label, classes = lrMultiClasses,
        iters = lrIters, lr = lrRate.toDouble)
    }),
    // TRUE softmax multinomial beside the OVR twin (LogReg.trainSoftmax):
    // the coupled posterior p_c = exp(z_c)/Σ exp(z_j) over the SAME
    // standardized features, all 5 corpus languages (softmax needs total
    // label coverage — no rest bucket — and refuses uncovered labels in
    // the gradient pass). Still k·(d+1) decimal sums in ONE aggregate
    // per iteration, zero data shuffle; the oracle replays stats,
    // standardize, and every coupled gradient step as MATERIALIZED
    // unrolled CTEs.
    "q_quality_lr_softmax" -> ((s, d) => {
      val (docs, feats, label) = lrMultiInputs(s, d)
      graft.ml.LogReg.trainSoftmaxReadout(docs, feats,
        Seq("w_chars", "w_spaces"), label, classes = lrSoftmaxClasses,
        iters = lrIters, lr = lrRate.toDouble)
    }),
    // Mergeable fixed-bin histogram quantiles (HistQuantiles.scala) — the
    // quantile face of the incremental-stats family: fence frozen by the
    // init batch (l_orderkey%4==0), four per-batch 32-bin histograms
    // folded by integer addition, quantiles read off the merged bins with
    // RATIONAL targets (ceil(num*n/den) in integers — never p*n in
    // doubles). The oracle replays the whole table one-shot, so the hash
    // match IS the merged==one-shot exactness proof, per-value.
    "q_quantile_hist" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(
        floor(col("l_extendedprice") * 100d + lit(0.5d)).cast("long").as("v"),
        pmod(col("l_orderkey"), lit(4L)).as("b"))
      val fence = li.filter(col("b") === 0L)
        .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      val hist = HistQuantiles.mergedHistogram(li, "v", "b", fence, bins = 32)
      HistQuantiles.quantiles(hist, fence, bins = 32,
        ps = Seq((50, 1, 2), (90, 9, 10), (99, 99, 100)))
    }),

    // One-pass numeric column profile over the fact table.
    "q_profile_numeric" -> ((s, d) =>
      DataQuality.profileNumeric(Tables.lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // PERSISTED incrementally-maintained table statistics
    // (IncrementalStats): the base profiled once (day 0), three ingest
    // days folded in via delta-sized aggregates + O(registers) sketch
    // unions — the base is never rescanned (ANALYZE-per-batch at 100 TB
    // is a full rescan; this is the production alternative, and the
    // mergeable-stats table is what CboStats-style planners would read).
    // cnt/n_null/min/max are exact and hash-checked; the NDV estimate is
    // checked as the within-5%-of-exact INVARIANT flag (the
    // q_ndv_incremental doctrine — estimates aren't cross-engine values,
    // their correctness envelope is).
    "q_stats_incremental" -> ((s, d) => {
      val dir = statsIncrDir(s, d)
      val li = graft.prep.Preprocessing.spread(Tables.lineitem(s, d)) // r20
      val exact = li.agg(
        countDistinct(col("l_partkey")).as("x_l_partkey"),
        countDistinct(col("l_suppkey")).as("x_l_suppkey"))
      IncrementalStats.report(s, dir)
        .crossJoin(broadcast(exact))
        .select(col("col_name"), col("cnt"), col("n_null"),
          col("min_v"), col("max_v"),
          (abs(col("ndv_est").cast("double") -
            when(col("col_name") === "l_partkey", col("x_l_partkey"))
              .otherwise(col("x_l_suppkey")).cast("double")) <=
            lit(0.05) * when(col("col_name") === "l_partkey", col("x_l_partkey"))
              .otherwise(col("x_l_suppkey")).cast("double"))
            .cast("long").as("ndv_within_5pct"))
    }),

    // Equi-DEPTH histogram (quartile bins) — the complement of
    // q_profile_histogram's equi-width bins: fences at exact p25/p50/p75
    // (one broadcast 1-row aggregate, 6-dp-snapped so boundary values
    // bin identically everywhere), then one grouped count with observed
    // per-bin bounds. Equal-population bins are what query optimizers
    // and drift monitors actually want on skewed columns.
    "q_histogram_eqdepth" -> ((s, d) => {
      // r20: spread the single-row-group scan so the exact-percentile
      // partials and the bucketed count parallelize (no-op at scale)
      val li = graft.prep.Preprocessing.spread(Tables.lineitem(s, d))
      val q = li.agg(
        expr("percentile(CAST(l_extendedprice AS DOUBLE), array(0.25D, 0.5D, 0.75D))")
          .as("__f"))
      val x = col("l_extendedprice").cast("double")
      def above(i: Int) =
        when(x > round(element_at(col("__f"), i), 6), 1L).otherwise(0L)
      li.crossJoin(broadcast(q))
        .select(x.as("x"),
          (lit(1L) + above(1) + above(2) + above(3)).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          round(min(col("x")), 6).as("b_min"),
          round(max(col("x")), 6).as("b_max"))
    }),

    // Population Stability Index — the ML-monitoring drift metric
    // (PSI = Σ (p_cur − p_ref)·ln(p_cur/p_ref) over reference-defined
    // bins; < 0.1 stable, > 0.25 retrain). Reference = full lineitem,
    // current = an in-plan shifted version (every 3rd price × 1.10 —
    // both engines see identical inputs); bins are the REFERENCE's
    // quartile fences (the standard protocol: score the new data
    // against the old binning). Per-bin contribution rows keep every
    // term a closed-form double from exact integer counts.
    "q_psi_drift" -> ((s, d) => {
      // r21 (§2.4): the old shape scanned lineitem THREE times (reference
      // fences, reference bucketing, current bucketing — each behind its
      // own spread exchange) and derived totals via two unpartitioned
      // windows feeding an inner join. Both sides' bucket counts are
      // conditional sums over the SAME rows, so one counting aggregate
      // over one scan produces all 8 counters; totals and shares become
      // plain expressions over the 1-row wide frame, and the inner join's
      // drop-one-sided-bucket semantics becomes a filter (n_ref > 0 AND
      // n_cur > 0). Two scans total (fences + counts), zero windows, same
      // integers into the same double arithmetic — bit-identical output.
      val li = graft.prep.Preprocessing.spread(Tables.lineitem(s, d)) // r20
      val refX = col("l_extendedprice").cast("double")
      val curX = when(pmod(col("l_orderkey"), lit(3)) === 0,
        col("l_extendedprice").cast("double") * 1.10)
        .otherwise(col("l_extendedprice").cast("double"))
      val q = li.select(refX.as("x")).agg(
        expr("percentile(x, array(0.25D, 0.5D, 0.75D))").as("__f"))
      def bucketOf(x: org.apache.spark.sql.Column) = {
        def above(i: Int) =
          when(x > round(element_at(col("__f"), i), 6), 1L).otherwise(0L)
        lit(1L) + above(1) + above(2) + above(3)
      }
      val counters = (1 to 4).flatMap(b => Seq(
        sum(when(col("__br") === b, 1L).otherwise(0L)).as(s"__nr$b"),
        sum(when(col("__bc") === b, 1L).otherwise(0L)).as(s"__nc$b")))
      val wide = li.crossJoin(broadcast(q))
        // each side's bucket computed ONCE per row; the 8 counters read
        // the projected ids instead of re-evaluating the fence chain
        .select(bucketOf(refX).as("__br"), bucketOf(curX).as("__bc"))
        .agg(counters.head, counters.tail: _*)
        .withColumn("__tr", (1 to 4).map(b => col(s"__nr$b")).reduce(_ + _))
        .withColumn("__tc", (1 to 4).map(b => col(s"__nc$b")).reduce(_ + _))
      val stackArgs = (1 to 4)
        .map(b => s"CAST($b AS BIGINT), `__nr$b`, `__nc$b`").mkString(", ")
      // ln-safety precondition, guaranteed by construction: the filter
      // below only keeps buckets populated on BOTH sides (the old inner
      // join's semantics), so the oracle's ln(p_cur/p_ref) never sees 0
      // or NULL on any data distribution (DuckDB ln(0) is a hard error,
      // not a NULL, so this must hold structurally, not by fixture luck).
      val pRef = col("n_ref").cast("double") / col("__tr")
      val pCur = col("n_cur").cast("double") / col("__tc")
      wide
        .select(col("__tr"), col("__tc"),
          expr(s"stack(4, $stackArgs) AS (bucket, n_ref, n_cur)"))
        .filter(col("n_ref") > 0 && col("n_cur") > 0)
        .select(col("bucket"), col("n_ref"), col("n_cur"),
          round(pRef, 6).as("p_ref"),
          round(pCur, 6).as("p_cur"),
          round((pCur - pRef) * log(pCur / pRef), 6).as("psi_term"))
    }),

    // Chi-square independence cells between two categorical columns —
    // the "are these fields related" screen of exploratory profiling.
    // One fact-scale aggregate (the contingency counts); expected
    // frequencies and contributions from window sums over the CELLS
    // frame (|flag| x |status| ≈ 6 rows — metadata scale, documented).
    // Per-cell output keeps every term float-order independent: obs and
    // margins are exact integers, each contribution is one closed-form
    // double expression.
    "q_chi_square" -> ((s, d) => {
      val cells = graft.prep.Preprocessing.spread(Tables.lineitem(s, d)) // r20
        .groupBy(col("l_returnflag").as("flag"), col("l_linestatus").as("status"))
        .agg(count(lit(1)).as("obs"))
      val wr = org.apache.spark.sql.expressions.Window.partitionBy(col("flag"))
      val wc = org.apache.spark.sql.expressions.Window.partitionBy(col("status"))
      val wt = org.apache.spark.sql.expressions.Window.partitionBy()
      // margins cast to double BEFORE multiplying: a long x long margin
      // product overflows at real fact scale (ANSI throws, silently on
      // pre-ANSI engines); the double product is the scale-safe form
      val expected = sum(col("obs")).over(wr).cast("double") *
        sum(col("obs")).over(wc).cast("double") / sum(col("obs")).over(wt)
      cells.select(col("flag"), col("status"), col("obs"),
        round(expected, 6).as("expected"),
        round(pow(col("obs") - expected, 2.0) / expected, 6).as("contrib"))
    }),

    // Shannon entropy per categorical column — the "how informative is
    // this field" profile stat (0 = constant column, ln(ndv) = uniform).
    // One aggregate per column over the fact, entropy from the handful
    // of value rows; round(6) absorbs the ln-sum association order
    // (the q_text_lm_score doctrine).
    "q_col_entropy" -> ((s, d) => {
      def one(c: String): DataFrame = {
        val counts = graft.prep.Preprocessing.spread(Tables.lineitem(s, d)) // r20
          .groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
        val wt = org.apache.spark.sql.expressions.Window.partitionBy()
        val p = col("cnt").cast("double") / sum(col("cnt")).over(wt)
        counts.select(lit(c).as("col_name"), col("v"), col("cnt"), p.as("p"))
          .groupBy(col("col_name"))
          .agg(count(lit(1)).as("ndv"),
            round(-sum(col("p") * log(col("p"))), 6).as("entropy"))
          .select(col("col_name"), col("ndv"), col("entropy"),
            round(col("entropy") / log(col("ndv").cast("double")), 6)
              .as("norm_entropy"))
      }
      one("l_returnflag").unionByName(one("l_linestatus"))
    }),

    // Robust profile: exact quartiles + IQR + Tukey-fence outlier counts
    // — the heavy-tail-safe twin of q_profile_numeric/q_dq_outliers
    // (see DataQuality.profileRobust for the two-pass shape and the
    // 6-dp fence snap that keeps on-the-fence values engine-agnostic).
    "q_profile_robust" -> ((s, d) =>
      DataQuality.profileRobust(Tables.lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // The 100 TB robust-profile variant: approx_percentile (KLL-style
    // mergeable sketch, rank error n/accuracy) in place of exact
    // percentile's value-count materialization — the documented scale
    // knob on profileRobust, EXERCISED: exact quartiles stay
    // value-oracled, the sketch lands within 1% relative per quantile
    // (rank error 60/600k at accuracy 10k — far inside the band).
    "q_profile_robust_approx" -> ((s, d) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val li = graft.prep.Preprocessing.spread(Tables.lineitem(s, d)) // r20
      val aggs = cols.flatMap { c =>
        Seq(
          expr(s"percentile(CAST($c AS DOUBLE), array(0.25D, 0.5D, 0.75D))")
            .as(s"${c}__e"),
          expr(s"approx_percentile(CAST($c AS DOUBLE), array(0.25D, 0.5D, 0.75D), 10000)")
            .as(s"${c}__a"))
      }
      val wide = li.agg(aggs.head, aggs.tail: _*)
      val stackArgs = cols.map(c => s"'$c', `${c}__e`, `${c}__a`").mkString(", ")
      // tolerance: 1% of the value + 5% of IQR. The sketch promises a
      // RANK within n/accuracy of the target; converting rank error to
      // value error needs local density, and IQR is that scale — it
      // also covers discrete columns (integer quantities), where the
      // nearest DATA value sits a full step from the interpolated exact
      val iqr = abs(element_at(col("_e"), 3) - element_at(col("_e"), 1))
      val outCols = Seq(col("col_name"),
        round(element_at(col("_e"), 1), 6).as("p25"),
        round(element_at(col("_e"), 2), 6).as("p50"),
        round(element_at(col("_e"), 3), 6).as("p75")) ++
        (0 to 2).map(i =>
          (abs(element_at(col("_a"), i + 1) - element_at(col("_e"), i + 1)) <=
            lit(0.01) * abs(element_at(col("_e"), i + 1)) +
              lit(0.05) * iqr + lit(1e-9))
            .cast("long").as(s"approx_ok_q${i + 1}"))
      wide.select(expr(
        s"stack(${cols.size}, $stackArgs) AS (col_name, _e, _a)"))
        .select(outCols: _*)
    }),

    // The 100 TB profile variant: HLL++ NDV instead of exact-distinct
    // Expand (the scale knob on DataQuality.profileNumeric). Exact stats
    // stay value-oracled; the sketch column is an invariant row — per
    // column, is approx NDV within 5% of the exact count (rsd 0.02 keeps
    // it inside at any SF; HLL++ is exact in sparse mode so small SFs
    // pass trivially). Mirrors the q_approx_distinct oracle pattern.
    // r21 measured NON-win, kept two-pass deliberately: fusing the exact
    // profile and the HLL sketch into ONE aggregate (tried: countDistinct
    // x4 + approx_count_distinct in the same agg) plans the HLL as a
    // regular aggregate over the multi-distinct Expand — an HLL++ buffer
    // per (gid, value) group in the partial (measured sf0.1: 68.6 MB
    // shuffled, 74 s executor time, 5-16 s wall vs 2.5-2.9 s for this
    // shape). Two scans joined on col_name is the cheaper plan because
    // the approx pass's plain aggregate never touches the Expand.
    "q_profile_numeric_approx" -> ((s, d) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val exact = DataQuality.profileNumeric(Tables.lineitem(s, d), cols)
      val approx = DataQuality.profileNumericApprox(Tables.lineitem(s, d), cols)
        .select(col("col_name"), col("ndv").as("_ndv_approx"))
      exact.join(approx, Seq("col_name"))
        .select(col("col_name"), col("n"), col("n_null"), col("null_frac"),
          col("min_num"), col("max_num"), col("avg_num"),
          (abs(col("_ndv_approx") - col("ndv")).cast("double") <=
            lit(0.05) * col("ndv")).cast("long").as("ndv_within_5pct"))
    }),

    // Incremental NDV via mergeable HLL sketches — the distinct-count
    // complement to ops/IncrementalAgg (count/sum update arithmetically;
    // NDV cannot, but a per-batch Datasketches HLL unions in O(registers)
    // with no rescan). Four "ingest days" each sketch their partkeys;
    // BOTH the union-of-days estimate and the direct whole-table sketch
    // must land within 5% of exact. (They are NOT asserted equal to each
    // other: Datasketches HLL promotes sparse coupon lists to dense
    // registers at different points on the direct vs union path, so the
    // two estimates can differ by a hair while both stay in tolerance.)
    // At 100 TB: store the per-day sketch column, union at query time,
    // never rescan.
    "q_ndv_incremental" -> ((s, d) => {
      val li = graft.prep.Preprocessing.spread(Tables.lineitem(s, d)) // r20
        .select(col("l_partkey"), (col("l_orderkey") % 4).as("day"))
      val daily = li.groupBy(col("day"))
        .agg(hll_sketch_agg(col("l_partkey")).as("sk"))
      val merged = daily.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("_ndv_merged"))
      val direct = li.agg(
        hll_sketch_estimate(hll_sketch_agg(col("l_partkey"))).as("_ndv_direct"),
        countDistinct(col("l_partkey")).as("ndv_exact"))
      merged.crossJoin(broadcast(direct))
        .select(col("ndv_exact"),
          (abs(col("_ndv_merged") - col("ndv_exact")) <=
            lit(0.05) * col("ndv_exact")).cast("long").as("merged_within_5pct"),
          (abs(col("_ndv_direct") - col("ndv_exact")) <=
            lit(0.05) * col("ndv_exact")).cast("long").as("direct_within_5pct"))
    }),

    // Migration reconciliation: orders vs a deterministically corrupted
    // replica (every 23rd key dropped, every 10th surviving key's price
    // +10) compared by order month — the drop months report
    // count_mismatch, the +10 months value_mismatch, untouched months ok.
    // Each side is ONE aggregate; only month-level rows cross the network.
    "q_dq_reconcile" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      val replica = o.filter(col("o_orderkey") % 23 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 0, col("o_totalprice") + 10.0)
            .otherwise(col("o_totalprice")))
      DataQuality.reconcile(o, replica, Seq("o_month"), "o_totalprice")
    }),

    // The sampled profile a 100 TB table runs daily: md5-keyed
    // deterministic 10% sample (replayable cross-engine — the oracle
    // replays the SAME sample), counts scaled back by 1/rate, NDV
    // deliberately absent (doesn't scale linearly from a row sample).
    "q_profile_sampled" -> ((s, d) =>
      DataQuality.profileNumericSampled(Tables.lineitem(s, d),
        col("l_orderkey") * 8 + col("l_linenumber"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        rate = 0.1)),

    // One-pass exact Pearson correlation across the fact's numeric pairs
    // — decimal moment sums, closed-form double combination, identical
    // expression tree in the SQL twin (a float corr aggregate would be
    // partition-order dependent).
    "q_profile_corr" -> ((s, d) =>
      DataQuality.profileCorrelation(Tables.lineitem(s, d), Seq(
        "l_quantity" -> "l_extendedprice",
        "l_extendedprice" -> "l_discount",
        "l_quantity" -> "l_tax",
        "l_discount" -> "l_tax"))),

    // Schema-drift gate: the lineitem footer schema checked against a
    // contract that deliberately exercises every status class — widened
    // (int→double is absorbable), changed (string where int was
    // promised: rewrite, page someone), missing, added. Pure metadata:
    // zero data rows read.
    "q_schema_drift" -> ((s, d) => {
      import org.apache.spark.sql.types._
      graft.io.SchemaEvolution.driftReport(s, Seq(
        "l_orderkey" -> LongType,
        "l_linenumber" -> IntegerType,
        "l_quantity" -> IntegerType,          // fixture: double  -> widened
        "l_returnflag" -> IntegerType,        // fixture: string  -> changed
        "l_extendedprice" -> DoubleType,
        "l_shipinstruct" -> StringType),      // absent            -> missing
        Tables.lineitem(s, d).schema)
        // l_shipdate's PHYSICAL ts type has drifted across fixture
        // generations (micros-NTZ today, micros-UTC/nanos before — the
        // events-ts doctrine in ops/Tables); an oracle literal pinning it
        // would break on regeneration, so its 'added' row stays out of
        // the oracled surface. EventsTsSpec owns ts-type coverage.
        .filter(col("col_name") =!= "l_shipdate")
    }),

    // One-pass string column profile over the documents table.
    "q_profile_strings" -> ((s, d) =>
      DataQuality.profileStrings(Tables.documents(s, d),
        Seq("text", "lang", "source"))),

    // Equi-width histogram of the price distribution — one aggregate
    // pass with explicit bounds (out-of-range clamps to edge buckets).
    "q_profile_histogram" -> ((s, d) =>
      DataQuality.histogram(Tables.lineitem(s, d), "l_extendedprice",
        buckets = 10, lo = 900.0, hi = 105000.0)),

    // Functional-dependency gate: does l_orderkey determine
    // l_returnflag? (It doesn't on the fixture — multi-line orders carry
    // mixed flags — so violations provably surface here too.)
    "q_dq_fd" -> ((s, d) =>
      DataQuality.checkFunctionalDependency("fd_orderkey_returnflag",
        Tables.lineitem(s, d), Seq("l_orderkey"), "l_returnflag")
        .withColumn("pass", col("violations") === lit(0L))),

    // Z-score outlier gate on the price column (3σ rule) — exact
    // decimal-sum stats make the count deterministic cross-engine.
    "q_dq_outliers" -> ((s, d) =>
      DataQuality.checkOutliers("outliers_l_extendedprice",
        Tables.lineitem(s, d), "l_extendedprice")
        .withColumn("pass", col("violations") === lit(0L))),

    // The admission-gate report over the star schema: key uniqueness,
    // referential integrity, null/range/accepted-set constraints. The
    // accepted-lang check deliberately FAILS on the fixture (es/zh rows
    // exist) so the report provably surfaces violations, not just zeros.
    "q_dq_report" -> ((s, d) => DataQuality.report(Seq(
      DataQuality.checkUnique("unique_lineitem_pk",
        Tables.lineitem(s, d), Seq("l_orderkey", "l_linenumber")),
      DataQuality.checkForeignKey("fk_lineitem_orders",
        Tables.lineitem(s, d), "l_orderkey", Tables.orders(s, d), "o_orderkey"),
      DataQuality.checkForeignKey("fk_orders_customer",
        Tables.orders(s, d), "o_custkey", Tables.customer(s, d), "c_custkey"),
      DataQuality.checkNonNull("nonnull_l_shipdate",
        Tables.lineitem(s, d), "l_shipdate"),
      DataQuality.checkRange("range_l_discount",
        Tables.lineitem(s, d), "l_discount", 0.0, 0.1),
      DataQuality.checkAccepted("accepted_doc_lang",
        Tables.documents(s, d), "lang", Seq("en", "de", "fr"))))))

  private def numProfileSql(c: String): String =
    s"""SELECT '$c' AS col_name, COUNT(*) AS n,
       |       COUNT(*) - COUNT($c) AS n_null,
       |       ROUND((COUNT(*) - COUNT($c)) / COUNT(*), 6) AS null_frac,
       |       COUNT(DISTINCT $c) AS ndv,
       |       CAST(MIN($c) AS DOUBLE) AS min_num,
       |       CAST(MAX($c) AS DOUBLE) AS max_num,
       |       ROUND(CAST(SUM(CAST($c AS DECIMAL(28,6))) AS DOUBLE) / COUNT($c), 6) AS avg_num
       |FROM lineitem""".stripMargin

  private def robustProfileSql(c: String): String =
    s"""SELECT '$c' AS col_name,
       |  ROUND(q25, 6) AS p25, ROUND(q50, 6) AS p50, ROUND(q75, 6) AS p75,
       |  ROUND(q75 - q25, 6) AS iqr,
       |  CAST(SUM(CASE WHEN CAST($c AS DOUBLE) < ROUND(q25 - (q75 - q25) * 1.5, 6)
       |             OR CAST($c AS DOUBLE) > ROUND(q75 + (q75 - q25) * 1.5, 6)
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       |  ROUND(CAST(SUM(CASE WHEN CAST($c AS DOUBLE) < ROUND(q25 - (q75 - q25) * 1.5, 6)
       |             OR CAST($c AS DOUBLE) > ROUND(q75 + (q75 - q25) * 1.5, 6)
       |           THEN 1 ELSE 0 END) AS DOUBLE) / COUNT($c), 6) AS outlier_frac
       |FROM lineitem, (
       |  SELECT quantile_cont(CAST($c AS DOUBLE), 0.25) AS q25,
       |         quantile_cont(CAST($c AS DOUBLE), 0.5) AS q50,
       |         quantile_cont(CAST($c AS DOUBLE), 0.75) AS q75
       |  FROM lineitem) q
       |GROUP BY q25, q50, q75""".stripMargin

  private def sampledProfileSql(c: String): String =
    s"""SELECT '$c' AS col_name, COUNT(*) AS n_sampled,
       |       CAST(COUNT(*) AS DOUBLE) / 0.1 AS n_est,
       |       ROUND((COUNT(*) - COUNT($c)) / COUNT(*), 6) AS null_frac,
       |       CAST(MIN($c) AS DOUBLE) AS min_num,
       |       CAST(MAX($c) AS DOUBLE) AS max_num,
       |       ROUND(CAST(SUM(CAST($c AS DECIMAL(28,6))) AS DOUBLE) / COUNT($c), 6) AS avg_num
       |FROM s""".stripMargin

  private def corrPairSql(x: String, y: String): String =
    s"""SELECT '$x' AS x_col, '$y' AS y_col,
       |  COUNT(CASE WHEN $x IS NOT NULL AND $y IS NOT NULL THEN 1 END) AS n,
       |  CAST(SUM(CAST($x AS DECIMAL(18,2))) AS DOUBLE) AS _sx,
       |  CAST(SUM(CAST($y AS DECIMAL(18,2))) AS DOUBLE) AS _sy,
       |  CAST(SUM(CAST($x AS DECIMAL(18,2)) * CAST($x AS DECIMAL(18,2))) AS DOUBLE) AS _sxx,
       |  CAST(SUM(CAST($y AS DECIMAL(18,2)) * CAST($y AS DECIMAL(18,2))) AS DOUBLE) AS _syy,
       |  CAST(SUM(CAST($x AS DECIMAL(18,2)) * CAST($y AS DECIMAL(18,2))) AS DOUBLE) AS _sxy
       |FROM lineitem""".stripMargin

  private def strProfileSql(c: String): String =
    s"""SELECT '$c' AS col_name, COUNT(*) AS n,
       |       COUNT(*) - COUNT($c) AS n_null,
       |       ROUND((COUNT(*) - COUNT($c)) / COUNT(*), 6) AS null_frac,
       |       COUNT(DISTINCT $c) AS ndv,
       |       CAST(MIN(LENGTH($c)) AS BIGINT) AS min_len,
       |       CAST(MAX(LENGTH($c)) AS BIGINT) AS max_len,
       |       ROUND(SUM(LENGTH($c)) / COUNT($c), 6) AS avg_len
       |FROM documents""".stripMargin

  private val statsIncrWritten = scala.collection.concurrent.TrieMap.empty[String, String]

  /** One-time (per JVM x sf dir x fixture generation) incrementally-built
    * stats table for `q_stats_incremental`: init on day 0 (l_orderkey %
    * 4), three update batches folded in (a [[graft.ops.QueryFixtures]]
    * dir).
    */
  private def statsIncrDir(s: SparkSession, d: String): String =
    graft.ops.QueryFixtures.fixtureDir(statsIncrWritten, "incr_stats", "lineitem", d) { dir =>
      val li = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"), col("l_orderkey"))
      IncrementalStats.init(li.filter(col("l_orderkey") % 4 === 0),
        Seq("l_partkey", "l_suppkey"), s"$dir/stats")
      (1 to 3).foreach { day =>
        IncrementalStats.update(s, s"$dir/stats",
          li.filter(col("l_orderkey") % 4 === day))
      }
    } + "/stats"

  /** Eager-query lint twins (the CatalogPlanLintSpec doctrine): the
    * trainReadout result is a driver-built 3-row frame, so the screened
    * plan is one gradient pass itself.
    */
  val lintVariants: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_quality_lr" -> ((s, d) => {
      val (docs, feats, label) = lrInputs(s, d)
      graft.ml.LogReg.lintPass(docs, feats, label)
    }),
    "q_quality_lr_multi" -> ((s, d) => {
      val (docs, feats, label) = lrMultiInputs(s, d)
      graft.ml.LogReg.lintPassMulti(docs, feats, label, lrMultiClasses)
    }),
    "q_quality_lr_softmax" -> ((s, d) => {
      val (docs, feats, label) = lrMultiInputs(s, d)
      graft.ml.LogReg.lintPassSoftmax(docs, feats, label, lrSoftmaxClasses)
    }),
    // the composed pipeline trains (collect) at construction and
    // driver-advances the final greedy; the twin is the SAME chain with
    // zero-weight serving models and the one-pass per-cell shape
    "q_select_pipeline" -> ((s, d) => selectPipeline(s, d, lint = true)),
    // the funnel twin: the pipeline twin plus the declarative mix tail
    "q_select_funnel" -> ((s, d) => selectFunnel(s, d, lint = true)))

  /** q_quality_lr's frame/features/label — ONE definition for the query
    * and its lint twin (review fix: copy-pasted features let the
    * screened plan drift from the real one, the drift class the lint
    * exists to catch). The expression TEXT mirrors qualityLrSql's SQL.
    */
  private def lrInputs(s: SparkSession, d: String)
      : (DataFrame, Seq[org.apache.spark.sql.Column], org.apache.spark.sql.Column) = {
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    val f0 = length(col("text")).cast("double") / lit(100.0)
    val f1 = (length(col("text")) -
      length(expr("replace(text, ' ', '')"))).cast("double") / lit(10.0)
    (docs, Seq(f0, f1), (col("lang") <=> "en").cast("int"))
  }

  // q_quality_lr hyperparameters, shared by the operator call and the
  // generated oracle (declared before the strict maps force lrSql)
  private val lrIters = 3
  private val lrRate = "0.5" // exact double literal in both engines
  // one-vs-rest target languages for q_quality_lr_multi ('zh'/'de' are
  // rest-only — a class set need not cover the label domain)
  private val lrMultiClasses = Seq("en", "fr", "es")

  // q_select_importance knobs, shared by the operator call and the
  // interpolated oracle (the jaccardDfCap must-move-together pattern)
  private val dsirBuckets = 256
  private val dsirAlpha = 0.5
  private val dsirSeed = 42L

  // q_select_pipeline knobs: the resample budget (stage 2's k — every
  // downstream stage is bounded by it) and the per-cell diversity budget
  private val pipeGumbelK = 60
  private val pipeKPerCell = 2

  // q_select_mix knobs, shared by the operator and the interpolated
  // oracle: total budget as a corpus fraction, and the draw seed
  private val mixBudgetFrac = 0.8
  private val mixSeed = 77L

  // stage-1 weak supervision: length-band labels (the bootstrapped
  // quality-classifier setup — heuristic rules label, LR learns a smooth
  // boundary, the SERVED model filters). The head class is the kept
  // band. Chosen over a langid target because the synthetic corpus's
  // lang labels are independent of its text (measured: every text
  // feature classifies ~plurality — a langid filter would be a
  // pass-through at every SF, leaving the serve stage untestable);
  // length bands are genuinely learnable (0.81 rule agreement) and the
  // trained argmax cuts ~49% at every SF.
  private val pipeLrClasses = Seq("short", "mid", "long")
  private val pipeLrLabelSql =
    "CASE WHEN length(text) < 250 THEN 'short' " +
      "WHEN length(text) < 350 THEN 'mid' ELSE 'long' END"
  private def pipeLrLabel: org.apache.spark.sql.Column =
    when(length(col("text")) < 250, "short")
      .when(length(col("text")) < 350, "mid")
      .otherwise(lit("long"))

  /** The production stage-boundary fetch of the pipeline/funnel tails —
    * ONE definition for every driver-advanced branch and the lint probe
    * (r21, VERDICT item 9: the shipped `lint = false` plans must stay
    * screenable). Contract, enforced at runtime AND asserted by
    * CatalogPlanLintSpec: the collected id set is bounded by a QUERY
    * CONSTANT (never data size), and the fetch plans as an `isin` filter
    * the parquet scan can push (row-group skip at 100 TB, not a second
    * corpus scan).
    */
  private[graft] def idFetch(df: DataFrame, idCol: String, ids: Seq[Long],
      cap: Int, what: String): DataFrame = {
    require(ids.length <= cap,
      s"$what: bounded-collect contract violated (${ids.length} ids > cap $cap)")
    df.filter(col(idCol).isin(ids: _*))
  }

  /** The bounded-collect caps of the production pipeline/funnel branches,
    * exposed for the lint spec (must be literals of the query, never
    * data-dependent).
    */
  private[graft] def lintFetchCaps: Map[String, Int] = Map(
    "selectPipeline stage-2 resample" -> pipeGumbelK,
    "selectPipeline stage-4 band" -> pipeGumbelK,
    "selectFunnel survivor fetch" -> (pipeKPerCell * 32))

  /** q_select_pipeline's composed plan — ONE definition for the catalog
    * query and its lint twin (`lint = true` swaps the eager stages for
    * their declarative shapes: zero-weight serving models instead of the
    * trained collect, the declarative k-row join boundaries instead of
    * the driver-advanced id fetches, and
    * [[graft.sim.Coreset.lintPerCellPass]] instead of the driver-advanced
    * greedy).
    *
    * OPTIMIZATION r20 (guide §8 "decide with small rows, move big rows
    * once" + §5 driver discipline): stage 2's TakeOrdered emits exactly
    * `pipeGumbelK` rows, yet the old fully-declarative tail re-executed
    * the corpus-scale prefix (classify scan + BOTH DSIR gram passes,
    * each an explode + md5 over every kept doc) once per downstream
    * ACTION — the LM fence aggregate, the per-cell anchor aggregate and
    * the greedy pass each rebuilt the stage-2 broadcast from scratch
    * (measured at sf0.1: band alone 8.1 s, the k-center anchor 11.1 s,
    * q_select_pipeline 9.2 s total). The k surviving ids are a BOUNDED
    * driver collect (k is a query constant, the adjudicated cap-math
    * pattern), and fetching their text back is an `isin` pushed-filter
    * scan — at 100 TB a row-group-skipping id fetch instead of a second
    * full corpus scan + classify re-evaluation. The k-row fetched frame
    * is localCheckpoint'd (k rows — metadata-scale at any corpus size)
    * so stages 3-5 never touch corpus-scale state again. Same rows,
    * same results; the declarative twin keeps the screenable shape.
    */
  private[graft] def selectPipeline(s: SparkSession, d: String,
      lint: Boolean = false): DataFrame = {
    val (ds, feats, _) = lrMultiInputs(s, d)
    // stage 1: train on the weak length-band labels, then serve.
    // classify() = argmax over the k OVR sigmoids, trained weights as
    // literals — pure codegen'd expressions over the corpus scan, zero
    // extra shuffle. The kept band is the head class.
    val models =
      if (lint) pipeLrClasses.map(c => (c, Array(0.0, 0.0, 0.0)))
      else graft.ml.LogReg.trainMulti(ds, feats, pipeLrLabel, pipeLrClasses,
        lrIters, lrRate.toDouble)
    val kept = ds
      .filter(graft.ml.LogReg.classify(feats, models) === pipeLrClasses.head)
      .select(col("doc_id"), col("text"))
    // stage 2: DSIR Gumbel resample of the survivors (target = the
    // curated %10 slice INSIDE the survivors). Output is k rows.
    val picked = Dsir.selectGumbel(kept, "doc_id", "text",
      isTarget = col("doc_id") % 10 === 0, k = pipeGumbelK,
      seed = dsirSeed, buckets = dsirBuckets, alpha = dsirAlpha)
      .select(col("id").as("doc_id"))
    // picked ⊆ kept and doc_id is the documents key, so fetching the k
    // ids straight from the corpus scan returns exactly the join's rows
    // (kept only filters docs; it never rewrites doc_id/text)
    val pickedDocs =
      if (lint) kept.join(broadcast(picked), Seq("doc_id"))
      else {
        val ids = picked.collect().map(_.getLong(0)).toSeq // k rows, bounded
        idFetch(Tables.documents(s, d), "doc_id", ids,
          cap = pipeGumbelK, what = "selectPipeline stage-2 resample")
          .select(col("doc_id"), col("text"))
          .localCheckpoint()
      }
    // stage 3: the q_select_lm_band cut verbatim, LM trained IN-SUBSET
    // over the resampled docs (broadcast-sized from here on)
    val scores = graft.text.LanguageModel
      .bigramLogProbScores(pickedDocs, "doc_id", "text", k = 0.5)
      .filter(col("n_bigrams") > 0)
    val fences = scores.agg(
      expr("percentile(avg_logprob, array(0.1D, 0.9D))").as("__p"))
    val lo = round(element_at(col("__p"), 1), 6)
    val hi = round(element_at(col("__p"), 2), 6)
    val band = scores.crossJoin(broadcast(fences))
      .filter(col("avg_logprob") >= lo && col("avg_logprob") <= hi)
      .select(col("doc_id").as("vec_id"))
    // stage 4: per-cell k-center over the band survivors' embeddings.
    // band is ≤ k ids derived from the checkpointed k-row frame — the
    // same bounded-collect + pushed-filter fetch as the stage-2/3 cut
    // (the embeddings side skips row groups instead of full-scanning)
    val sub =
      if (lint) Tables.embeddings(s, d).join(band, Seq("vec_id"), "left_semi")
      else {
        val bandIds = band.collect().map(_.getLong(0)).toSeq // ≤ k rows
        idFetch(Tables.embeddings(s, d), "vec_id", bandIds,
          cap = pipeGumbelK, what = "selectPipeline stage-4 band")
      }
    val centroids = graft.dedup.DedupQueries.semanticCentroidFrame(s)
    if (lint)
      graft.sim.Coreset.lintPerCellPass(sub, "vec_id", "embedding",
        centroids, "cid", "embedding")
    else
      graft.sim.Coreset.kCenterPerCell(sub, "vec_id", "embedding",
        kPerCell = pipeKPerCell, centroids = centroids,
        cidCol = "cid", centroidVecCol = "embedding")
  }

  /** q_select_funnel's composed plan: [[selectPipeline]] through the
    * diversify stage, then [[Mixing.rates]]+[[Mixing.admit]] over the
    * surviving docs — rates derived from the SURVIVORS' per-source
    * availability (the post-selection distribution), admission by the
    * q_select_mix seed. The survivor frame is broadcast-sized
    * (≤ kPerCell × 32 rows), so the mix tail adds one tiny aggregate
    * and two broadcast joins — nothing corpus-scale.
    */
  private[graft] def selectFunnel(s: SparkSession, d: String,
      lint: Boolean = false): DataFrame = {
    val ids = selectPipeline(s, d, lint).select(col("id").as("doc_id"))
    // r20: the pipeline result is a driver-built ≤ kPerCell × 32-row
    // frame, so the survivor fetch is the same bounded-collect + `isin`
    // pushed-filter scan as the pipeline's stage-2/3 cut (row-group skip
    // instead of a full corpus scan + broadcast join); the lint twin
    // keeps the declarative join shape.
    val surv =
      if (lint)
        Tables.documents(s, d).select(col("doc_id"), col("source"))
          .join(broadcast(ids), Seq("doc_id"))
      else {
        val survIds = ids.collect().map(_.getLong(0)).toSeq // ≤ 64 rows
        // checkpointed (≤ 64 rows): rates and admit both read surv — one
        // pushed-filter fetch instead of two
        idFetch(Tables.documents(s, d), "doc_id", survIds,
          cap = pipeKPerCell * 32, what = "selectFunnel survivor fetch")
          .select(col("doc_id"), col("source"))
          .localCheckpoint()
      }
    val idx = expr("CAST(substring(source, 4) AS INT)")
    Mixing.admit(surv,
        Mixing.rates(surv, "source", idx + 1, mixBudgetFrac),
        "source", "doc_id", mixSeed)
      .select(col("doc_id"), col("source"), col("u"), col("rate"))
  }

  /** Spec probe: the trained filter's survivor count — stage 1 alone,
    * trained weights served through the same classify expression the
    * pipeline uses (SelectPipelineSpec pins that it cuts a proper,
    * non-empty subset — the degenerate pass-through guard).
    */
  private[quality] def selectPipelineKeptCount(s: SparkSession,
      d: String): Long = {
    val (ds, feats, _) = lrMultiInputs(s, d)
    val models = graft.ml.LogReg.trainMulti(ds, feats, pipeLrLabel,
      pipeLrClasses, lrIters, lrRate.toDouble)
    ds.filter(graft.ml.LogReg.classify(feats, models) === pipeLrClasses.head)
      .count()
  }

  /** q_select_pipeline's oracle: train → serve → resample → band →
    * diversify replayed end-to-end from the raw tables. Every chain is
    * the single-stage oracle's OWN definition with (src, prefix, mat)
    * bound — [[lrMultiCtes]] (serving reads the final RAW weight CTEs,
    * the exact doubles LogReg.classify gets from trainMulti),
    * [[dsirCtesFrom]] over the kept survivors,
    * [[graft.text.TextQueries.lmScoreCtesFrom]] over the resampled k,
    * [[graft.dedup.DedupQueries.kcenterCellsChain]] over the banded
    * embeddings. Stage outputs are MATERIALIZED (the bpeTrainCtes
    * lesson — the serving CTE alone references 9 scalar subqueries on
    * the weight chain). Split into (ctes, final select) so the composed
    * q_select_funnel oracle can extend the identical replay with the
    * mixing tail.
    */
  private lazy val selectPipelineParts: (String, String) = {
    def zOf(ci: Int) =
      s"(x0*(SELECT w0 FROM w${lrIters}c$ci) + " +
        s"x1*(SELECT w1 FROM w${lrIters}c$ci) + (SELECT wb FROM w${lrIters}c$ci))"
    def pOf(ci: Int) = s"(1.0/(1.0 + exp(-${zOf(ci)})))"
    // argmax with lower-index ties = class 0 wins every >= comparison
    val keepCond = (1 until pipeLrClasses.size)
      .map(ci => s"${pOf(0)} >= ${pOf(ci)}").mkString(" AND ")
    val kept =
      s"kept AS MATERIALIZED (SELECT doc_id, text FROM e WHERE $keepCond)"
    val gumbelKey =
      s"""round(score + (-ln(-ln(
           (CAST('0x' || substr(md5($dsirSeed || ':' || doc_id), 1, 13) AS BIGINT)
             + 0.5) / 4503599627370496.0))), 6)"""
    val pick =
      s"""pick AS MATERIALIZED (SELECT doc_id FROM (
            SELECT doc_id, $gumbelKey AS key FROM ds
            ORDER BY key DESC, doc_id LIMIT $pipeGumbelK))"""
    val pkd =
      """pkd AS MATERIALIZED (SELECT k.doc_id, k.text
           FROM kept k JOIN pick ON k.doc_id = pick.doc_id)"""
    val ls =
      "ls AS (SELECT doc_id, round(avg_lp, 6) AS avg_logprob FROM lmsc)"
    val lf =
      """lf AS (SELECT round(quantile_cont(avg_logprob, 0.1), 6) AS lo,
            round(quantile_cont(avg_logprob, 0.9), 6) AS hi FROM ls)"""
    val band =
      """band AS MATERIALIZED (SELECT doc_id FROM ls, lf
            WHERE avg_logprob >= lo AND avg_logprob <= hi)"""
    val pe =
      """pe AS (SELECT vec_id, embedding FROM embeddings
            WHERE vec_id IN (SELECT doc_id FROM band))"""
    val (kcCtes, kcSel) = graft.dedup.DedupQueries
      .kcenterCellsChain("pe", pipeKPerCell, "kc", mat = true)
    val lmCtes = graft.text.TextQueries
      .lmScoreCtesFrom("pkd", "lm", mat = true)
    (s"${(lrMultiCtes(pipeLrClasses, pipeLrLabelSql, carryDoc = true)
        :+ kept).mkString(", ")}, " +
      s"${dsirCtesFrom("kept", "d", mat = true)}, $pick, $pkd, " +
      s"$lmCtes, $ls, $lf, $band, $pe, $kcCtes", kcSel)
  }

  private lazy val selectPipelineSql: String =
    s"WITH ${selectPipelineParts._1} ${selectPipelineParts._2}"

  /** Domain-mixing CTE chain over any (doc_id, source) relation — ONE
    * definition shared by the q_select_mix oracle (src = `documents`)
    * and the composed q_select_funnel oracle (src = the diversified
    * survivors): availability counts, the capped target-proportional
    * rates with the engine's exact left-assoc double arithmetic, the
    * seeded md5 uniform, and the admit comparison. Returns
    * (ctes, final select).
    */
  private def mixCtesFrom(src: String, p: String = "",
      mat: Boolean = false): (String, String) = {
    val m = if (mat) "MATERIALIZED " else ""
    val w = "CAST(substr(source, 4) AS INT) + 1"
    val ctes =
      s"""${p}avail AS $m(SELECT source, count(*) AS avail
            FROM $src GROUP BY 1),
          ${p}tot AS (SELECT sum(avail) AS n_total, sum($w) AS wsum
            FROM ${p}avail),
          ${p}rates AS (SELECT source,
            least(1.0, CAST($mixBudgetFrac AS DOUBLE) * n_total *
              (($w) / CAST(wsum AS DOUBLE)) / avail) AS rate
            FROM ${p}avail, ${p}tot),
          ${p}uu AS (SELECT doc_id, source,
            (CAST('0x' || substr(md5('$mixSeed:' || doc_id), 1, 13) AS BIGINT)
              + 0.5) / 4503599627370496.0 AS u
            FROM $src)"""
    val sel =
      s"""SELECT uu.doc_id, uu.source, round(uu.u, 6) AS u,
            round(r.rate, 6) AS rate
          FROM ${p}uu uu JOIN ${p}rates r USING (source)
          WHERE uu.u < r.rate"""
    (ctes, sel)
  }

  /** q_select_funnel's oracle: the whole q_select_pipeline replay, its
    * diversified survivors rejoined to `documents`, then the mixing
    * chain over that survivor relation. */
  private lazy val selectFunnelSql: String = {
    val (mixC, mixSel) = mixCtesFrom("fsurv", "fm", mat = true)
    s"WITH ${selectPipelineParts._1}, " +
      s"fdiv AS MATERIALIZED (SELECT id FROM (${selectPipelineParts._2}) t), " +
      "fsurv AS MATERIALIZED (SELECT dd.doc_id, dd.source " +
      "FROM documents dd JOIN fdiv ON fdiv.id = dd.doc_id), " +
      s"$mixC $mixSel"
  }

  /** DSIR scoring CTE chain, ending in `${p}s(doc_id, score)` — ONE
    * definition shared by the q_select_importance and q_select_gumbel
    * oracles and (r19, with `src`/`p` bound) the composed
    * q_select_pipeline oracle's resample stage (the boilerplateCtes
    * pattern: the resampler must draw from the identical scored frame
    * or it validates a different selection). `src` must expose
    * (doc_id, text); `p` prefixes every CTE name; `mat` adds
    * MATERIALIZED for deep compositions.
    */
  /** The tokenize → gram → hash-bucket sub-chain, tagged (training: the
    * %10 target flag rides along) or untagged (frozen-stats serving) —
    * shared so a served doc hashes exactly like a training doc. */
  private def dsirGramCtes(src: String, p: String, m: String,
      tagged: Boolean): String = {
    val tagSel = if (tagged) " doc_id % 10 = 0 AS is_target," else ""
    val tagCol = if (tagged) " is_target," else ""
    s"""${p}t AS $m(SELECT doc_id,$tagSel
          list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks
        FROM $src),
        ${p}g AS $m(SELECT doc_id,$tagCol
          unnest(list_concat(toks,
            list_transform(range(1, len(toks)),
              i -> toks[i] || ' ' || toks[i + 1]))) AS gram
        FROM ${p}t),
        ${p}b AS $m(SELECT doc_id,$tagCol
          CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) % $dsirBuckets AS bucket
        FROM ${p}g)"""
  }

  /** The per-doc decimal-summed scoring aggregate over a bucketed gram
    * CTE against a ratio CTE — shared by the in-corpus chain and the
    * served oracle. */
  private def dsirScoreSel(gramCte: String, ratioCte: String,
      filter: String = ""): String =
    s"""SELECT b.doc_id,
        round(CAST(sum(CAST(round(r.logratio, 12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS score
        FROM $gramCte b JOIN $ratioCte r USING (bucket)$filter
        GROUP BY 1"""

  private def dsirCtesFrom(src: String, p: String = "",
      mat: Boolean = false): String = {
    val m = if (mat) "MATERIALIZED " else ""
    s"""${dsirGramCtes(src, p, m, tagged = true)},
        ${p}c AS $m(SELECT bucket,
          sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS tc,
          sum(CASE WHEN is_target THEN 0 ELSE 1 END) AS rc
        FROM ${p}b GROUP BY 1),
        ${p}tot AS $m(SELECT sum(tc) AS bt, sum(rc) AS br FROM ${p}c),
        ${p}ratio AS $m(SELECT bucket,
          ln((tc + $dsirAlpha) / (bt + $dsirAlpha * $dsirBuckets)) -
          ln((rc + $dsirAlpha) / (br + $dsirAlpha * $dsirBuckets)) AS logratio
        FROM ${p}c, ${p}tot),
        ${p}s AS $m(${dsirScoreSel(s"${p}b", s"${p}ratio",
          " WHERE NOT is_target")})"""
  }

  private lazy val dsirCtes: String = dsirCtesFrom("documents")

  // softmax classes = the FULL observed label domain (the likelihood
  // has no rest bucket; trainSoftmax refuses uncovered labels)
  private val lrSoftmaxClasses = Seq("de", "en", "es", "fr", "zh")

  /** The softmax GD loop unrolled: same stats/standardize CTEs as the
    * OVR twin, then per iteration ONE gradient CTE per class computing
    * (exp(z_c)/Σ_j exp(z_j) − 1{y=c})·x decimal sums with the PREVIOUS
    * level's k weight CTEs as scalar subqueries, and a weight CTE
    * applying w − lr·(g/n) in doubles. Every CTE is MATERIALIZED — the
    * coupled normalizer makes each gradient reference all k prior
    * weight CTEs, and inlined replay goes exponential in the iteration
    * count (the bpeTrainSql lesson).
    */
  private lazy val qualityLrSoftmaxSql: String = {
    val x0 = "CAST(length(text) AS DOUBLE)/100.0"
    val x1 = "CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)/10.0"
    def dsum(e: String) =
      s"CAST(SUM(CAST(round($e, 12) AS DECIMAL(38,12))) AS DOUBLE)"
    val e0 =
      s"""e0 AS MATERIALIZED (SELECT $x0 AS r0, $x1 AS r1, lang AS y
          FROM documents WHERE text IS NOT NULL)"""
    val st =
      s"""st AS MATERIALIZED (SELECT ${dsum("r0")}/COUNT(*) AS m0,
          ${dsum("r0*r0")}/COUNT(*) AS q0,
          ${dsum("r1")}/COUNT(*) AS m1,
          ${dsum("r1*r1")}/COUNT(*) AS q1 FROM e0)"""
    def stdSql(r: String, mc: String, qc: String) =
      s"($r - $mc) / (CASE WHEN $qc - $mc*$mc > 0 " +
        s"THEN sqrt($qc - $mc*$mc) ELSE 1.0 END)"
    val e =
      s"""e AS MATERIALIZED (SELECT ${stdSql("r0", "m0", "q0")} AS x0,
          ${stdSql("r1", "m1", "q1")} AS x1, y FROM e0, st)"""
    def gsum(expr: String, alias: String) =
      s"CAST(SUM(CAST(round($expr, 12) AS DECIMAL(38,12))) AS DOUBLE) AS $alias"
    val ks = lrSoftmaxClasses.indices
    val w0s = ks.map(ci =>
      s"""w0c$ci AS MATERIALIZED (SELECT CAST(0.0 AS DOUBLE) AS w0,
          CAST(0.0 AS DOUBLE) AS w1, CAST(0.0 AS DOUBLE) AS wb)""")
    def zOf(i: Int, ci: Int) =
      s"(x0*(SELECT w0 FROM w${i - 1}c$ci) + " +
        s"x1*(SELECT w1 FROM w${i - 1}c$ci) + (SELECT wb FROM w${i - 1}c$ci))"
    val iters = (1 to lrIters).flatMap { i =>
      // the shared normalizer: exp(z_j) summed left-to-right in class
      // order, exactly LogReg.softmaxProbs' reduceLeft
      val denom = ks.map(cj => s"exp(${zOf(i, cj)})").mkString("(", " + ", ")")
      lrSoftmaxClasses.zipWithIndex.flatMap { case (cls, ci) =>
        val g = s"(exp(${zOf(i, ci)}) / $denom - " +
          s"CASE WHEN y = '$cls' THEN 1.0 ELSE 0.0 END)"
        Seq(
          s"""g${i}c$ci AS MATERIALIZED (SELECT ${gsum(s"$g * x0", "g0")},
              ${gsum(s"$g * x1", "g1")}, ${gsum(s"$g * 1.0", "gb")},
              COUNT(*) AS n FROM e)""",
          s"""w${i}c$ci AS MATERIALIZED (SELECT
              (SELECT w0 FROM w${i - 1}c$ci) - $lrRate * (g0/n) AS w0,
              (SELECT w1 FROM w${i - 1}c$ci) - $lrRate * (g1/n) AS w1,
              (SELECT wb FROM w${i - 1}c$ci) - $lrRate * (gb/n) AS wb
              FROM g${i}c$ci)""")
      }
    }
    val selects = lrSoftmaxClasses.zipWithIndex.flatMap { case (cls, ci) =>
      val last = s"w${lrIters}c$ci"
      Seq(
        s"SELECT '$cls' AS class, 'w_chars' AS term, round((SELECT w0 FROM $last), 6) AS weight",
        s"SELECT '$cls', 'w_spaces', round((SELECT w1 FROM $last), 6)",
        s"SELECT '$cls', 'bias', round((SELECT wb FROM $last), 6)")
    }
    s"WITH ${(Seq(e0, st, e) ++ w0s ++ iters).mkString(", ")} " +
      selects.mkString(" UNION ALL ")
  }

  /** q_quality_lr_multi's frame/features/label — the [[lrInputs]]
    * doctrine (ONE definition for query + lint twin) with the in-plan
    * standardize step composed in: raw features → one decimal-summed
    * stats aggregate (mean + raw second moment per feature — combine-
    * order independent, so cross-engine exact) broadcast as a 1-row
    * cross join → (f−m)/s expressions with the zero-variance guard.
    * The expression TEXT mirrors qualityLrMultiSql's CTEs exactly.
    */
  private def lrMultiInputs(s: SparkSession, d: String)
      : (DataFrame, Seq[org.apache.spark.sql.Column], org.apache.spark.sql.Column) = {
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    val f0 = length(col("text")).cast("double") / lit(100.0)
    val f1 = (length(col("text")) -
      length(expr("replace(text, ' ', '')"))).cast("double") / lit(10.0)
    def m(f: org.apache.spark.sql.Column) =
      sum(round(f, 12).cast("decimal(38,12)")).cast("double") / count(lit(1))
    val stats = docs.agg(m(f0).as("m0"), m(f0 * f0).as("q0"),
      m(f1).as("m1"), m(f1 * f1).as("q1"))
    val ds = docs.crossJoin(broadcast(stats))
    def std(f: org.apache.spark.sql.Column, mc: String, qc: String) = {
      val v = col(qc) - col(mc) * col(mc)
      (f - col(mc)) / when(v > 0, sqrt(v)).otherwise(lit(1.0))
    }
    (ds, Seq(std(f0, "m0", "q0"), std(f1, "m1", "q1")), col("lang"))
  }

  /** The gradient-descent loop unrolled to `lrIters` CTE levels: each
    * level recomputes per-row σ(w·x)−y contributions with the PREVIOUS
    * level's weights (scalar subqueries), sums them as DECIMAL(38,12)
    * of round(·,12) — the exact-aggregation doctrine, combine-order
    * independent — and applies w − lr·(g/n) in doubles, the same ops
    * LogReg.train runs on the driver. Weights publish rounded to 6.
    */
  private lazy val qualityLrSql: String = {
    val x0 = "CAST(length(text) AS DOUBLE)/100.0"
    val x1 = "CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)/10.0"
    val e =
      s"""e AS MATERIALIZED (SELECT $x0 AS x0, $x1 AS x1,
          CASE WHEN lang IS NOT DISTINCT FROM 'en'
            THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y
          FROM documents WHERE text IS NOT NULL)"""
    val w0 =
      """w0c AS MATERIALIZED (SELECT CAST(0.0 AS DOUBLE) AS w0,
          CAST(0.0 AS DOUBLE) AS w1, CAST(0.0 AS DOUBLE) AS wb)"""
    def gsum(expr: String, alias: String) =
      s"CAST(SUM(CAST(round($expr, 12) AS DECIMAL(38,12))) AS DOUBLE) AS $alias"
    val iters = (1 to lrIters).flatMap { i =>
      val pw = s"w${i - 1}c"
      val z = s"(x0*(SELECT w0 FROM $pw) + x1*(SELECT w1 FROM $pw) + (SELECT wb FROM $pw))"
      val g = s"(1.0/(1.0 + exp(-$z)) - y)"
      Seq(
        s"""g${i}c AS MATERIALIZED (SELECT ${gsum(s"$g * x0", "g0")},
            ${gsum(s"$g * x1", "g1")}, ${gsum(s"$g * 1.0", "gb")},
            COUNT(*) AS n FROM e)""",
        s"""w${i}c AS MATERIALIZED (SELECT
            (SELECT w0 FROM $pw) - $lrRate * (g0/n) AS w0,
            (SELECT w1 FROM $pw) - $lrRate * (g1/n) AS w1,
            (SELECT wb FROM $pw) - $lrRate * (gb/n) AS wb FROM g${i}c)""")
    }
    val last = s"w${lrIters}c"
    s"WITH ${(Seq(e, w0) ++ iters).mkString(", ")} " +
      s"SELECT 'w_chars' AS term, round((SELECT w0 FROM $last), 6) AS weight " +
      s"UNION ALL SELECT 'w_spaces', round((SELECT w1 FROM $last), 6) " +
      s"UNION ALL SELECT 'bias', round((SELECT wb FROM $last), 6)"
  }

  /** The multiclass GD unrolled per class: shared e0 (raw features) →
    * st (decimal-summed mean/second-moment, 1 row) → e (standardized
    * features, the cross-join replay of the broadcast stats) → per
    * class an independent w/g CTE chain — the [[qualityLrSql]] steps
    * verbatim with the class's own binary target. 3 classes × 3 iters
    * × (d+1) sums, the same arithmetic the single Spark-side aggregate
    * per iteration computes.
    */
  private lazy val qualityLrMultiSql: String =
    s"WITH ${lrMultiCtes(lrMultiClasses, "lang").mkString(", ")} " +
      lrMultiClasses.zipWithIndex.flatMap { case (cls, ci) =>
        val last = s"w${lrIters}c$ci"
        Seq(
          s"SELECT '$cls' AS class, 'w_chars' AS term, round((SELECT w0 FROM $last), 6) AS weight",
          s"SELECT '$cls', 'w_spaces', round((SELECT w1 FROM $last), 6)",
          s"SELECT '$cls', 'bias', round((SELECT wb FROM $last), 6)")
      }.mkString(" UNION ALL ")

  /** The OVR training chain as composable CTEs (e0 → st → e →
    * w{i}c{ci}/g{i}c{ci} per class per iteration) — ONE definition for
    * the q_quality_lr_multi oracle (classes = langid, y = lang) and
    * (r19) the q_select_pipeline oracle (classes = length bands, y =
    * the weak-rule CASE, carryDoc = true), which serves with the FINAL
    * raw weight CTEs. With `carryDoc`, `e` carries doc_id + text
    * alongside the standardized features so a serving stage can
    * classify per doc; the training aggregates ignore the extra
    * columns, so the replayed arithmetic is unchanged — but the multi
    * oracle, which never serves, keeps its lean footprint (review fix:
    * two corpus-sized text copies in DuckDB memory for columns its 18
    * training aggregates ignore). All
    * CTEs are MATERIALIZED: the chain is scalar-subquery-linked level
    * to level, and a downstream serving stage referencing all k final
    * weight CTEs would re-evaluate the whole inlined chain per
    * reference (the bpeTrainCtes / qualityLrSoftmaxSql lesson).
    */
  private def lrMultiCtes(classes: Seq[String], ySql: String,
      carryDoc: Boolean = false): Seq[String] = {
    val x0 = "CAST(length(text) AS DOUBLE)/100.0"
    val x1 = "CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)/10.0"
    def dsum(e: String) =
      s"CAST(SUM(CAST(round($e, 12) AS DECIMAL(38,12))) AS DOUBLE)"
    val e0 =
      s"""e0 AS MATERIALIZED (SELECT ${if (carryDoc) "doc_id, text, " else ""}$x0 AS r0, $x1 AS r1, $ySql AS y
          FROM documents WHERE text IS NOT NULL)"""
    val st =
      s"""st AS MATERIALIZED (SELECT ${dsum("r0")}/COUNT(*) AS m0,
          ${dsum("r0*r0")}/COUNT(*) AS q0,
          ${dsum("r1")}/COUNT(*) AS m1,
          ${dsum("r1*r1")}/COUNT(*) AS q1 FROM e0)"""
    def stdSql(r: String, mc: String, qc: String) =
      s"($r - $mc) / (CASE WHEN $qc - $mc*$mc > 0 " +
        s"THEN sqrt($qc - $mc*$mc) ELSE 1.0 END)"
    val e =
      s"""e AS MATERIALIZED (SELECT ${if (carryDoc) "doc_id, text, " else ""}
          ${stdSql("r0", "m0", "q0")} AS x0,
          ${stdSql("r1", "m1", "q1")} AS x1, y FROM e0, st)"""
    def gsum(expr: String, alias: String) =
      s"CAST(SUM(CAST(round($expr, 12) AS DECIMAL(38,12))) AS DOUBLE) AS $alias"
    val w0s = classes.indices.map(ci =>
      s"""w0c$ci AS MATERIALIZED (SELECT CAST(0.0 AS DOUBLE) AS w0,
          CAST(0.0 AS DOUBLE) AS w1, CAST(0.0 AS DOUBLE) AS wb)""")
    val iters = (1 to lrIters).flatMap { i =>
      classes.zipWithIndex.flatMap { case (cls, ci) =>
        val pw = s"w${i - 1}c$ci"
        val z = s"(x0*(SELECT w0 FROM $pw) + x1*(SELECT w1 FROM $pw) + (SELECT wb FROM $pw))"
        val g = s"(1.0/(1.0 + exp(-$z)) - CASE WHEN y = '$cls' THEN 1.0 ELSE 0.0 END)"
        Seq(
          s"""g${i}c$ci AS MATERIALIZED (SELECT ${gsum(s"$g * x0", "g0")},
              ${gsum(s"$g * x1", "g1")}, ${gsum(s"$g * 1.0", "gb")},
              COUNT(*) AS n FROM e)""",
          s"""w${i}c$ci AS MATERIALIZED (SELECT
              (SELECT w0 FROM $pw) - $lrRate * (g0/n) AS w0,
              (SELECT w1 FROM $pw) - $lrRate * (g1/n) AS w1,
              (SELECT wb FROM $pw) - $lrRate * (gb/n) AS wb FROM g${i}c$ci)""")
      }
    }
    (Seq(e0, st, e) ++ w0s ++ iters)
  }

  val oracles: Map[String, String] = Map(
    "q_quality_lr" -> qualityLrSql,
    "q_quality_lr_multi" -> qualityLrMultiSql,
    "q_quality_lr_softmax" -> qualityLrSoftmaxSql,

    // full DSIR replay: same tokenization, same unigram+bigram set, the
    // q_feature_hash md5 bucket, both smoothed distributions, per-gram
    // ln-ratio round(12) decimal-summed per doc, (score desc, id) top-100
    "q_select_importance" ->
      s"""WITH $dsirCtes
          SELECT doc_id, score FROM s ORDER BY score DESC, doc_id LIMIT 100""",

    // the same scored frame, then the Gumbel-max draw replayed: seeded
    // md5 uniform u = (v + 0.5)/2^52, key = score + (−ln(−ln u)),
    // (key desc, id) top-100
    "q_select_gumbel" ->
      s"""WITH $dsirCtes
          SELECT doc_id, score,
            round(score + (-ln(-ln(
              (CAST('0x' || substr(md5($dsirSeed || ':' || doc_id), 1, 13) AS BIGINT)
                + 0.5) / 4503599627370496.0))), 6) AS key
          FROM s ORDER BY key DESC, doc_id LIMIT 100""",

    // the composed funnel: LR train chain -> raw-weight serving filter ->
    // DSIR chain over the survivors -> Gumbel top-k -> in-subset LM band
    // -> per-cell k-center over the banded embeddings, all as one
    // materialized CTE pipeline
    "q_select_pipeline" -> selectPipelineSql,

    // mixing replayed per doc: availability counts, the capped
    // target-proportional rates (identical left-assoc double
    // arithmetic), the seeded md5 uniform, and the admit comparison —
    // the shared chain the composed funnel oracle also binds
    "q_select_mix" -> {
      val (c, sel) = mixCtesFrom("documents")
      s"WITH $c $sel"
    },

    // the funnel through its real last stage: the pipeline replay's
    // diversified survivors rejoined for their source, then the mixing
    // chain over the SURVIVOR distribution
    "q_select_funnel" -> selectFunnelSql,

    // frozen-stats DSIR serving: the ratio chain trained from the
    // %5<>1 slice, the held-out %5=1 slice's grams hashed identically
    // and scored against that frozen ratio CTE
    "q_select_dsir_served" -> {
      val trainSrc =
        "(SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 1)"
      val serveSrc =
        "(SELECT doc_id, text FROM documents WHERE doc_id % 5 = 1)"
      s"""WITH ${dsirCtesFrom(trainSrc, "d", mat = true)},
          ${dsirGramCtes(serveSrc, "sv", "MATERIALIZED ", tagged = false)}
          ${dsirScoreSel("svb", "dratio")}"""
    },

    // one-shot whole-table replay of the frozen-fence binning: hash
    // equality against the four-batch folded path proves the merge exact
    "q_quantile_hist" ->
      """WITH v AS (
        |  SELECT CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS v,
        |    l_orderkey % 4 AS b
        |  FROM lineitem),
        |f AS (SELECT min(v) AS lo, max(v) AS hi FROM v WHERE b = 0),
        |h AS (
        |  SELECT least(greatest(((v - lo) * 32) // (hi - lo), 0), 31) AS bin,
        |    count(*) AS cnt
        |  FROM v, f GROUP BY 1),
        |c AS (SELECT bin, CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum FROM h),
        |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM h),
        |t AS (SELECT * FROM (VALUES (50, 1, 2), (90, 9, 10), (99, 99, 100))
        |  AS t(p_pct, num, den)),
        |sel AS (
        |  SELECT CAST(t.p_pct AS BIGINT) AS p_pct, min(c.bin) AS qbin
        |  FROM c, n, t WHERE c.cum >= (t.num * n.n + t.den - 1) // t.den
        |  GROUP BY 1)
        |SELECT s.p_pct, s.qbin, c.cum AS cum_le, n.n,
        |  round(CAST(f.lo AS DOUBLE) +
        |    (s.qbin + 1) * (CAST(f.hi - f.lo AS DOUBLE) / 32), 6) AS est
        |FROM sel s JOIN c ON c.bin = s.qbin, n, f""".stripMargin,

    "q_profile_numeric" ->
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(numProfileSql).mkString("\nUNION ALL\n"),

    // exact counters recomputed from scratch; the estimate is graded by
    // its invariant flag (within 5% of exact == 1)
    "q_stats_incremental" ->
      """SELECT 'l_partkey' AS col_name, count(*) AS cnt,
        |       CAST(0 AS BIGINT) AS n_null,
        |       min(l_partkey) AS min_v, max(l_partkey) AS max_v,
        |       CAST(1 AS BIGINT) AS ndv_within_5pct
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_suppkey', count(*), CAST(0 AS BIGINT),
        |       min(l_suppkey), max(l_suppkey), CAST(1 AS BIGINT)
        |FROM lineitem""".stripMargin,

    "q_profile_robust" ->
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(robustProfileSql).mkString("\nUNION ALL\n"),

    // Exact quartiles value-checked; the sketch columns are literal-1
    // invariants (the q_profile_numeric_approx pattern).
    "q_profile_robust_approx" ->
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map { c =>
        s"""SELECT '$c' AS col_name,
           |  ROUND(quantile_cont(CAST($c AS DOUBLE), 0.25), 6) AS p25,
           |  ROUND(quantile_cont(CAST($c AS DOUBLE), 0.5), 6) AS p50,
           |  ROUND(quantile_cont(CAST($c AS DOUBLE), 0.75), 6) AS p75,
           |  CAST(1 AS BIGINT) AS approx_ok_q1,
           |  CAST(1 AS BIGINT) AS approx_ok_q2,
           |  CAST(1 AS BIGINT) AS approx_ok_q3
           |FROM lineitem""".stripMargin
      }.mkString("\nUNION ALL\n"),

    "q_psi_drift" ->
      """WITH q AS (
        |  SELECT quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25) AS f1,
        |         quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS f2,
        |         quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75) AS f3
        |  FROM lineitem),
        |ref AS (
        |  SELECT 1 + CASE WHEN CAST(l_extendedprice AS DOUBLE) > ROUND(f1, 6) THEN 1 ELSE 0 END
        |           + CASE WHEN CAST(l_extendedprice AS DOUBLE) > ROUND(f2, 6) THEN 1 ELSE 0 END
        |           + CASE WHEN CAST(l_extendedprice AS DOUBLE) > ROUND(f3, 6) THEN 1 ELSE 0 END
        |           AS bucket
        |  FROM lineitem, q),
        |cur0 AS (
        |  SELECT CASE WHEN l_orderkey % 3 = 0
        |              THEN CAST(l_extendedprice AS DOUBLE) * 1.10
        |              ELSE CAST(l_extendedprice AS DOUBLE) END AS x
        |  FROM lineitem),
        |cur AS (
        |  SELECT 1 + CASE WHEN x > ROUND(f1, 6) THEN 1 ELSE 0 END
        |           + CASE WHEN x > ROUND(f2, 6) THEN 1 ELSE 0 END
        |           + CASE WHEN x > ROUND(f3, 6) THEN 1 ELSE 0 END
        |           AS bucket
        |  FROM cur0, q),
        |r AS (
        |  SELECT CAST(bucket AS BIGINT) AS bucket,
        |         CAST(count(*) AS BIGINT) AS n_ref,
        |         CAST(count(*) AS DOUBLE) / sum(count(*)) OVER () AS p_ref
        |  FROM ref GROUP BY bucket),
        |c AS (
        |  SELECT CAST(bucket AS BIGINT) AS bucket,
        |         CAST(count(*) AS BIGINT) AS n_cur,
        |         CAST(count(*) AS DOUBLE) / sum(count(*)) OVER () AS p_cur
        |  FROM cur GROUP BY bucket)
        |SELECT r.bucket, n_ref, n_cur,
        |  ROUND(p_ref, 6) AS p_ref, ROUND(p_cur, 6) AS p_cur,
        |  ROUND((p_cur - p_ref) * ln(p_cur / p_ref), 6) AS psi_term
        |FROM r JOIN c ON r.bucket = c.bucket""".stripMargin,

    "q_histogram_eqdepth" ->
      """WITH q AS (
        |  SELECT quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25) AS f1,
        |         quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS f2,
        |         quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75) AS f3
        |  FROM lineitem),
        |b AS (
        |  SELECT CAST(l_extendedprice AS DOUBLE) AS x,
        |    1 + CASE WHEN CAST(l_extendedprice AS DOUBLE) > ROUND(f1, 6) THEN 1 ELSE 0 END
        |      + CASE WHEN CAST(l_extendedprice AS DOUBLE) > ROUND(f2, 6) THEN 1 ELSE 0 END
        |      + CASE WHEN CAST(l_extendedprice AS DOUBLE) > ROUND(f3, 6) THEN 1 ELSE 0 END
        |      AS bucket
        |  FROM lineitem, q)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       ROUND(min(x), 6) AS b_min, ROUND(max(x), 6) AS b_max
        |FROM b GROUP BY bucket""".stripMargin,

    "q_chi_square" ->
      """WITH cells AS (
        |  SELECT l_returnflag AS flag, l_linestatus AS status,
        |         CAST(count(*) AS BIGINT) AS obs
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT flag, status, obs,
        |  ROUND(CAST(sum(obs) OVER (PARTITION BY flag) AS DOUBLE)
        |    * CAST(sum(obs) OVER (PARTITION BY status) AS DOUBLE)
        |    / sum(obs) OVER (), 6) AS expected,
        |  ROUND(pow(obs - CAST(sum(obs) OVER (PARTITION BY flag) AS DOUBLE)
        |      * CAST(sum(obs) OVER (PARTITION BY status) AS DOUBLE)
        |      / sum(obs) OVER (), 2)
        |    / (CAST(sum(obs) OVER (PARTITION BY flag) AS DOUBLE)
        |      * CAST(sum(obs) OVER (PARTITION BY status) AS DOUBLE)
        |      / sum(obs) OVER ()), 6) AS contrib
        |FROM cells""".stripMargin,

    "q_col_entropy" -> {
      def one(c: String): String =
        s"""SELECT col_name, ndv, entropy,
           |  ROUND(entropy / ln(CAST(ndv AS DOUBLE)), 6) AS norm_entropy
           |FROM (
           |  SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS ndv,
           |    ROUND(-sum(p * ln(p)), 6) AS entropy
           |  FROM (
           |    SELECT CAST(cnt AS DOUBLE) / sum(cnt) OVER () AS p
           |    FROM (SELECT $c, CAST(count(*) AS BIGINT) AS cnt
           |          FROM lineitem GROUP BY $c)))""".stripMargin
      one("l_returnflag") + "\nUNION ALL\n" + one("l_linestatus")
    },

    // Exact stats value-checked; the sketch column is the literal-1
    // invariant (same pattern as q_approx_distinct).
    "q_profile_numeric_approx" ->
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(c =>
          s"""SELECT '$c' AS col_name, COUNT(*) AS n,
             |       COUNT(*) - COUNT($c) AS n_null,
             |       ROUND((COUNT(*) - COUNT($c)) / COUNT(*), 6) AS null_frac,
             |       CAST(MIN($c) AS DOUBLE) AS min_num,
             |       CAST(MAX($c) AS DOUBLE) AS max_num,
             |       ROUND(CAST(SUM(CAST($c AS DECIMAL(28,6))) AS DOUBLE) / COUNT($c), 6) AS avg_num,
             |       CAST(1 AS BIGINT) AS ndv_within_5pct
             |FROM lineitem""".stripMargin)
        .mkString("\nUNION ALL\n"),

    "q_profile_strings" ->
      Seq("text", "lang", "source")
        .map(strProfileSql).mkString("\nUNION ALL\n"),

    // Sketch estimates have no DuckDB twin; exact NDV is value-checked
    // and the two sketch columns are invariant rows (the established
    // q_approx_distinct pattern).
    "q_ndv_incremental" ->
      """SELECT COUNT(DISTINCT l_partkey) AS ndv_exact,
        |       CAST(1 AS BIGINT) AS merged_within_5pct,
        |       CAST(1 AS BIGINT) AS direct_within_5pct
        |FROM lineitem""".stripMargin,

    "q_dq_reconcile" ->
      """WITH o AS (
        |  SELECT *, strftime(o_orderdate, '%Y-%m') AS o_month FROM orders
        |), r AS (
        |  SELECT o_month,
        |         CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 10.0
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM o WHERE o_orderkey % 23 <> 0
        |), a AS (
        |  SELECT o_month, COUNT(*) AS cnt_a,
        |         SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS sa
        |  FROM o GROUP BY 1
        |), b AS (
        |  SELECT o_month, COUNT(*) AS cnt_b,
        |         SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS sb
        |  FROM r GROUP BY 1
        |)
        |SELECT COALESCE(a.o_month, b.o_month) AS o_month, cnt_a, cnt_b,
        |       CAST(sa AS DOUBLE) AS sum_a, CAST(sb AS DOUBLE) AS sum_b,
        |       CASE WHEN cnt_a IS NULL THEN 'missing_left'
        |            WHEN cnt_b IS NULL THEN 'missing_right'
        |            WHEN cnt_a <> cnt_b THEN 'count_mismatch'
        |            WHEN sa IS DISTINCT FROM sb THEN 'value_mismatch'
        |            ELSE 'ok' END AS status
        |FROM a FULL JOIN b ON a.o_month = b.o_month""".stripMargin,

    // The drift report is driver-side metadata (footer schema vs the
    // contract literal) — the oracle is the expected report itself.
    "q_schema_drift" ->
      """SELECT * FROM (VALUES
        |  ('l_orderkey',     'ok',           'bigint', 'bigint'),
        |  ('l_linenumber',   'ok',           'int',    'int'),
        |  ('l_quantity',     'type_widened', 'int',    'double'),
        |  ('l_returnflag',   'type_changed', 'int',    'string'),
        |  ('l_extendedprice','ok',           'double', 'double'),
        |  ('l_shipinstruct', 'missing',      'string', CAST(NULL AS VARCHAR)),
        |  ('l_partkey',      'added', CAST(NULL AS VARCHAR), 'bigint'),
        |  ('l_suppkey',      'added', CAST(NULL AS VARCHAR), 'bigint'),
        |  ('l_discount',     'added', CAST(NULL AS VARCHAR), 'double'),
        |  ('l_tax',          'added', CAST(NULL AS VARCHAR), 'double'),
        |  ('l_linestatus',   'added', CAST(NULL AS VARCHAR), 'string')
        |) AS t(col_name, status, expected_type, actual_type)""".stripMargin,

    "q_profile_sampled" ->
      ("""WITH s AS (
         |  SELECT * FROM lineitem
         |  WHERE CAST(CAST('0x' || substr(md5(CAST(l_orderkey * 8 + l_linenumber AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)
         |        / 4294967296.0 < 0.1
         |)
         |""".stripMargin +
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
          .map(sampledProfileSql).mkString("\nUNION ALL\n")),

    "q_profile_corr" ->
      ("WITH sums AS (\n" +
        Seq("l_quantity" -> "l_extendedprice",
          "l_extendedprice" -> "l_discount",
          "l_quantity" -> "l_tax",
          "l_discount" -> "l_tax")
          .map { case (x, y) => corrPairSql(x, y) }
          .mkString("\nUNION ALL\n") +
        """
          |)
          |SELECT x_col, y_col, n,
          |       ROUND((n * _sxy - _sx * _sy) /
          |             (SQRT(n * _sxx - _sx * _sx) * SQRT(n * _syy - _sy * _sy)),
          |             6) AS corr
          |FROM sums""".stripMargin),

    "q_dq_fd" ->
      """WITH g AS (
        |  SELECT l_orderkey, COUNT(DISTINCT l_returnflag) AS ndv
        |  FROM lineitem GROUP BY 1
        |), agg AS (
        |  SELECT 'fd_orderkey_returnflag' AS check_name,
        |         COUNT(*) AS n_checked,
        |         COUNT(CASE WHEN ndv > 1 THEN 1 END) AS violations
        |  FROM g
        |)
        |SELECT check_name, n_checked, violations, violations = 0 AS pass
        |FROM agg""".stripMargin,

    // Same double arithmetic as the Spark side, stats from exact decimal
    // sums (see DataQuality.checkOutliers — expression order mirrored).
    "q_dq_outliers" ->
      """WITH st AS (
        |  SELECT COUNT(l_extendedprice) AS n_checked,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,12))) AS DOUBLE) AS s,
        |         CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,12))) AS DOUBLE) AS sq
        |  FROM lineitem
        |), p AS (
        |  SELECT n_checked, s / n_checked AS mean,
        |         SQRT(GREATEST((sq - s * s / n_checked) / (n_checked - 1), 0.0)) AS sigma
        |  FROM st
        |), agg AS (
        |  SELECT 'outliers_l_extendedprice' AS check_name,
        |         p.n_checked AS n_checked,
        |         COUNT(CASE WHEN ABS(l_extendedprice - p.mean) > 3.0 * p.sigma
        |                    THEN 1 END) AS violations
        |  FROM lineitem CROSS JOIN p
        |  GROUP BY p.n_checked
        |)
        |SELECT check_name, n_checked, violations, violations = 0 AS pass
        |FROM agg""".stripMargin,

    // Same double arithmetic as the Spark side: w = (105000-900)/10 =
    // 10410.0 exactly; floor/clamp/round over doubles is IEEE-identical.
    "q_profile_histogram" ->
      """WITH b AS (
        |  SELECT CAST(LEAST(GREATEST(FLOOR((l_extendedprice - 900.0) / 10410.0), 0.0), 9.0) AS BIGINT) AS bucket
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |)
        |SELECT bucket, COUNT(*) AS n,
        |       ROUND(900.0 + bucket * 10410.0, 6) AS lo_edge,
        |       ROUND(900.0 + (bucket + 1) * 10410.0, 6) AS hi_edge
        |FROM b GROUP BY bucket""".stripMargin,

    "q_dq_report" ->
      """WITH checks AS (
        |  SELECT 'unique_lineitem_pk' AS check_name,
        |         (SELECT COUNT(*) FROM lineitem) AS n_checked,
        |         -- countDistinct semantics: tuples containing a null are
        |         -- dropped from the distinct count (mirrors checkUnique)
        |         (SELECT COUNT(*) FROM lineitem) -
        |         (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem
        |                                WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL)) AS violations
        |  UNION ALL
        |  SELECT 'fk_lineitem_orders',
        |         (SELECT COUNT(*) FROM lineitem),
        |         (SELECT COUNT(*) FROM lineitem l
        |          WHERE l.l_orderkey IS NULL
        |             OR NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |  UNION ALL
        |  SELECT 'fk_orders_customer',
        |         (SELECT COUNT(*) FROM orders),
        |         (SELECT COUNT(*) FROM orders d
        |          WHERE d.o_custkey IS NULL
        |             OR NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = d.o_custkey))
        |  UNION ALL
        |  SELECT 'nonnull_l_shipdate',
        |         (SELECT COUNT(*) FROM lineitem),
        |         (SELECT COUNT(*) - COUNT(l_shipdate) FROM lineitem)
        |  UNION ALL
        |  SELECT 'range_l_discount',
        |         (SELECT COUNT(*) FROM lineitem),
        |         (SELECT COUNT(*) FILTER (WHERE NOT (l_discount BETWEEN 0.0 AND 0.1)) FROM lineitem)
        |  UNION ALL
        |  SELECT 'accepted_doc_lang',
        |         (SELECT COUNT(*) FROM documents),
        |         (SELECT COUNT(*) FILTER (WHERE lang NOT IN ('en','de','fr')) FROM documents)
        |)
        |SELECT check_name, n_checked, violations, violations = 0 AS pass
        |FROM checks""".stripMargin)
}
