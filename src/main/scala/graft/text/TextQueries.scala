package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Tables._
import TextFunctions._

/** Text-analysis query catalog over the `documents` table, each with a
  * DuckDB oracle that recomputes the same deterministic function.
  */
object TextQueries {

  private val qualityStopwords =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "was")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // token counting: whitespace + BPE-ish pre-tokenization
    "q_text_tokens" -> ((s, d) =>
      documents(s, d).select(col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        bpeIshTokenCount(col("text")).as("n_bpe_tokens"),
        length(col("text")).cast("long").as("n_chars_obs"))),

    // REAL trained-merge BPE (vs q_text_tokens' regex approximation):
    // the frozen BpeMerges table applied as a pure projection; the oracle
    // replays the identical merge chain, so the full token stream
    // hash-matches, not just counts
    "q_text_bpe" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"),
          Bpe.tokenize(col("text")).as("__bpe"))
        .select(col("doc_id"), col("n_tokens"),
          size(col("__bpe")).cast("long").as("n_bpe_tokens"),
          concat_ws(" ", col("__bpe")).as("bpe_text"))),

    // BPE TRAINING on the live corpus (vs q_text_bpe's frozen offline
    // merges): the corpus-scale work is ONE word-frequency aggregate,
    // the merge loop runs over the bounded top-V vocabulary on the
    // driver (Bpe.trainMerges — the bounded-stats boundary every
    // trainer here respects; at 100 TB the vocab aggregate is the only
    // scan). Strictly-alnum words only (the BpeMerges generation
    // contract — keeps the wrapped-replace representation sound). The
    // oracle replays TRAINING itself: every level's weighted pair count,
    // the (count desc, pair asc) argmax, and the wrapped-replace merge
    // application, unrolled as CTEs — so the learned merge table, not
    // just its application, is value-checked.
    "q_text_bpe_train" -> ((s, d) => {
      import s.implicits._
      learnedMerges(s, d).zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("step", "merge_left", "merge_right")
    }),

    // The train→apply COMPOSITION: token accounting under the merges
    // learned from THIS corpus (vs q_text_bpe's frozen offline table) —
    // what a budget pass actually runs when the tokenizer is trained on
    // the data it will budget. One corpus-trained merge definition
    // (learnedMerges) serves both queries; the oracle re-learns the
    // merges (the q_text_bpe_train MATERIALIZED chain) and applies the
    // identical wrapped-replace chain to every corpus word.
    "q_text_bpe_learned" -> ((s, d) => {
      val merges = learnedMerges(s, d)
      documents(s, d).select(col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        size(Bpe.tokenizeWith(col("text"), merges)).cast("long")
          .as("n_bpe_tokens"))
    }),

    // quality signals + composite score
    "q_text_quality" -> ((s, d) =>
      documents(s, d).select(col("doc_id"),
        round(punctRatio(col("text")), 6).as("punct_ratio"),
        round(stopwordRatio(col("text"), qualityStopwords), 6).as("stopword_ratio"),
        round(meanTokenLength(col("text")), 6).as("mean_token_len"),
        qualityScore(col("text"), qualityStopwords).as("quality"))),

    // language-ID heuristic
    "q_text_langid" -> ((s, d) =>
      documents(s, d).select(col("doc_id"), langId(col("text")).as("lang_pred"))),

    // document fingerprints: canonical md5 + order-sensitive rolling hash
    "q_text_fingerprint" -> ((s, d) =>
      documents(s, d).select(col("doc_id"),
        fingerprint(col("text")).as("fp"),
        rollingHash(col("text")).as("rhash"))),

    // Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):
    // boilerplate repeats, prose doesn't
    "q_text_repetition" -> ((s, d) =>
      documents(s, d).select(col("doc_id"),
        repetitionRatio(col("text")).as("rep_ratio"),
        topBigramFraction(col("text")).as("top_bigram_frac"))),

    // PII scrubbing: regex redaction as a pure projection (linear with the
    // scan, no shuffle). The corpus is synthetic, so emails are planted
    // in-query on every 10th doc — both engines derive identical inputs —
    // and the oracle checks the match count and the md5 of the redacted
    // text.
    "q_pii_scrub" -> ((s, d) => {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val withPii = documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(10)) === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
            .otherwise(lit(""))).as("text"))
      withPii.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(emailRe), lit(0)))
          .cast("long").as("n_emails"),
        md5(regexp_replace(col("text"), emailRe, "<EMAIL>")).as("scrub_fp"))
    }),

    // Sequence packing for context-window shard prep: fixed token-offset
    // binning — bin = floor(preceding-token-count / budget), so a document
    // straddling a boundary stays in its start bin and a bin may overflow
    // by up to one document (no greedy reset; downstream truncation handles
    // the overflow). Windows partition by shard (100-doc ranges), NOT a
    // global order — at 100 TB each shard's window runs in parallel and no
    // single-task global sort exists.
    "q_seq_pack" -> ((s, d) => {
      val budget = 256
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("doc_id"))
      documents(s, d)
        .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"),
          floor(col("doc_id") / 100).cast("long").as("shard"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("bin", floor((col("cum") - col("n_tokens")) / budget).cast("long"))
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("bin_tokens"))
    }),

    // Greedy sequence packing — the token-efficient variant real trainers
    // use: within a shard, docs are taken in id order and a bin closes when
    // the next doc would overflow the budget (an oversized doc still gets a
    // bin of its own), so no bin except oversized-singletons exceeds the
    // budget — unlike the fixed-offset q_seq_pack above, which lets a
    // straddling doc overflow its bin. The running (bin, fill) state is
    // inherently sequential, so it runs as one flatMapGroups pass per shard:
    // shards are fixed 100-doc ranges by construction, so group state is
    // O(shard size) regardless of corpus scale and shards pack in parallel
    // (the same sharded-window scale shape as q_seq_pack — no global sort).
    "q_seq_pack_greedy" -> ((s, d) => {
      import s.implicits._
      val budget = 256L
      documents(s, d)
        .select(col("doc_id").cast("long"), tokenCount(col("text")).as("n_tokens"),
          floor(col("doc_id") / 100).cast("long").as("shard"))
        .as[(Long, Long, Long)]
        .groupByKey(_._3)
        .flatMapGroups { (shard: Long, it: Iterator[(Long, Long, Long)]) =>
          val docs = it.toArray.sortBy(_._1)
          val bins = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
          var bin = 0L; var nDocs = 0L; var fill = 0L
          docs.foreach { case (_, n, _) =>
            if (nDocs > 0 && fill + n > budget) {
              bins += ((shard, bin, nDocs, fill)); bin += 1; nDocs = 0; fill = 0
            }
            nDocs += 1; fill += n
          }
          if (nDocs > 0) bins += ((shard, bin, nDocs, fill))
          bins.iterator
        }
        .toDF("shard", "bin", "n_docs", "bin_tokens")
    }),

    // Corpus-level boilerplate removal (CCNet/RefinedWeb bulk span dedup):
    // bigrams occurring in more than max(40, 6% of the corpus) documents
    // are boilerplate; every covered token position is dropped and
    // documents reassemble in order. The FRACTIONAL cap is what survives
    // scale-up — an absolute cap eventually marks every common phrase
    // (the 40-doc cap that drops 6% of tokens at 500 docs drops ~100% at
    // 5,000). (Production uses longer grams over lines/paragraphs; this
    // corpus has single-line docs and a tiny vocab, so n=2 exercises the
    // drop path — the operator parameterizes all three knobs.)
    "q_text_boilerplate" -> ((s, d) =>
      Boilerplate.removeBoilerplate(documents(s, d), "doc_id", "text",
        n = boilerplateN, maxDocFreq = boilerplateDfCap,
        maxDocFraction = Some(boilerplateDfFraction))),

    // BM25 relevance against a fixed query — retrieval-style scoring for
    // corpus triage. One global stats row broadcast back; the score is a
    // projection (see TextRanking). round(6) absorbs the ≤1-ulp libm
    // variance of the three ln() calls.
    "q_text_bm25" -> ((s, d) =>
      TextRanking.bm25(documents(s, d), "doc_id", "text",
        terms = bm25Terms, k1 = 1.2, b = 0.75)),

    // Context-window chunking (64-token windows, stride 32): long-doc
    // training prep as a shuffle-free projection + explode (Chunking).
    "q_text_chunk" -> ((s, d) =>
      Chunking.chunkDocuments(documents(s, d), "doc_id", "text",
        window = 64, stride = 32)),

    // Sparse TF-IDF cosine pairs — text similarity with NO embeddings:
    // integer weights (tf × milli-scaled smooth idf) make every pair
    // numerator and norm an order-independent exact sum (w is cast to
    // decimal(38,0) BEFORE squaring/cross-multiplying, so the products
    // themselves get the headroom — a long×long product would throw
    // under ANSI before any decimal accumulator saw it), so
    // the only float math is the per-pair closed-form division, same op
    // order both engines, round(6). Candidates come from a postings
    // self-join on the hashed token (never all-pairs), with a df cap
    // dropping stopword-grade tokens BEFORE the join — tf-idf would
    // downweight them anyway, but the cap is what bounds candidate
    // volume at corpus scale (the jaccardPairs doctrine); norms are
    // computed over the retained universe so the cosine stays internally
    // consistent.
    "q_text_cosine" -> ((s, d) => {
      val docs = documents(s, d)
      val toks = docs.select(col("doc_id"),
        explode(safeLowerTokens(col("text"))).as("tok"))
      val tf = toks.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val dfKept = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= textCosineDfCap)
      val n = docs.agg(count(lit(1)).as("__n"))
      val idfInt = floor((log((col("__n").cast("double") + 1) /
        (col("df") + 1)) + 1) * 1000d + lit(0.5d)).cast("long")
      val wgt = tf.join(dfKept, Seq("tok")).crossJoin(broadcast(n))
        .select(col("doc_id"), xxhash64(col("tok")).as("tk"),
          (col("tf") * idfInt).as("w"))
      val norms = wgt.groupBy(col("doc_id"))
        .agg(sum(col("w").cast("decimal(38,0)") * col("w")).as("nrm"))
      wgt.as("a").join(wgt.as("b"),
          col("a.tk") === col("b.tk") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(sum(col("a.w").cast("decimal(38,0)") * col("b.w")).as("num"))
        .join(norms.select(col("doc_id").as("id_a"), col("nrm").as("na")),
          Seq("id_a"))
        .join(norms.select(col("doc_id").as("id_b"), col("nrm").as("nb")),
          Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          round(col("num").cast("double") /
            (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))),
            6).as("cosine"))
        .filter(col("cosine") >= textCosineThreshold)
    }),

    // Multinomial Naive Bayes language ID, trained and scored in-plan
    // (NaiveBayes.scala): folds 0-3 of the doc_id-residue split train the
    // per-(class, token) add-one-smoothed model, fold 4 is scored by
    // exact integer sums of fixed-point log weights (floor(ln·10⁶+0.5) —
    // the q_text_cosine idf pattern), so the argmax replays bit-for-bit.
    // Classes ride a broadcast; the only data-scale shuffle keys on
    // (doc, class).
    "q_text_nb" -> ((s, d) =>
      NaiveBayes.trainPredict(documents(s, d), "doc_id", "text", "lang")
        .withColumnRenamed("lbl", "lang")),

    // Corpus vocabulary statistics: the top-50 tokens by document
    // frequency with corpus-wide term frequency — the vocab audit every
    // corpus build starts with. One explode → distinct (doc, token) for
    // df + one posting aggregate for tf; top-k via orderBy+limit
    // (TakeOrdered — per-partition top-k then driver merge, no global
    // sort materialization).
    "q_text_vocab" -> ((s, d) => {
      // safeLowerTokens, NOT tokens(): the oracle tokenizes with toksSql,
      // which lowercases — mixed-case corpora would silently diverge
      val toks = documents(s, d).select(col("doc_id"),
        explode(safeLowerTokens(col("text"))).as("tok"))
      val tf = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
      toks.distinct().groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .join(tf, Seq("tok"))
        .orderBy(desc("df"), desc("tf"), asc("tok"))
        .limit(50)
    }),

    // Zipf fit — the corpus-statistics sanity gauge (natural language's
    // token frequencies follow freq ∝ rank^s with s ≈ -1; a corpus that
    // DOESN'T is boilerplate, spam, or synthetic). Top-100 tokens by
    // frequency via TakeOrdered, deterministic (freq DESC, token ASC)
    // rank, then the closed-form log-log regression slope over the
    // 100-row frame — fact-scale work is the ONE token count aggregate.
    "q_text_zipf" -> ((s, d) => {
      val freq = documents(s, d)
        .select(explode(safeLowerTokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("f"))
        .orderBy(desc("f"), asc("tok")).limit(100)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(desc("f"), asc("tok"))
      val pts = freq.withColumn("rk", row_number().over(w))
        .select(log(col("rk").cast("double")).as("x"),
          log(col("f").cast("double")).as("y"))
      val st = pts.agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      val cov = col("n") * col("sxy") - col("sx") * col("sy")
      val varX = col("n") * col("sxx") - col("sx") * col("sx")
      val varY = col("n") * col("syy") - col("sy") * col("sy")
      st.select(col("n").cast("long").as("n_tokens"),
        round(cov / varX, 6).as("zipf_slope"),
        round((col("sy") - (cov / varX) * col("sx")) / col("n"), 6)
          .as("intercept"),
        round(cov * cov / (varX * varY), 6).as("r2"))
    }),

    // TF-IDF keyword extraction — each doc's top-3 terms by smoothed
    // tf·idf (idf = ln((N+1)/(df+1)) + 1, the sklearn smoothing that
    // keeps corpus-universal terms finite). Postings aggregate once for
    // tf, once (distinct) for df; N rides a broadcast 1-row aggregate;
    // top-3 is a per-doc window (partitioned by doc — parallel). The
    // deterministic (score DESC, term ASC) order makes the kept rows
    // engine-exact: equal scores only arise from equal (tf, df) pairs,
    // which both engines score identically.
    "q_text_tfidf" -> ((s, d) => {
      val docs = documents(s, d)
      val toks = docs.select(col("doc_id"),
        explode(safeLowerTokens(col("text"))).as("tok"))
      val tf = toks.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val df = toks.distinct().groupBy(col("tok"))
        .agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("__n"))
      val score = col("tf") *
        (log((col("__n").cast("double") + 1) / (col("df") + 1)) + 1)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("score").desc, col("tok"))
      tf.join(df, Seq("tok")).crossJoin(broadcast(n))
        .withColumn("score", score)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("tok"), col("tf"), col("df"),
          round(col("score"), 6).as("score"))
    }),

    // Self-validating count-min heavy hitters: the sketch answers token
    // frequencies in O(eps^-1) space at ANY corpus size (the 100 TB vocab
    // path — exact groupBy needs vocab-proportional state); the invariant
    // row pins count-min's one-sided-error contract against in-plan exact
    // counts for the top-20 tokens: estimates never undercount, and
    // overshoot stays within eps * total tokens. DuckDB replays the exact
    // counts and pins both booleans (the q_contamination_bloom pattern —
    // the sketch itself is implementation-defined hashing).
    "q_text_heavy_hitters" -> ((s, d) => heavyHitters(s, d, None)),

    // CCNet-style LM quality scoring: an add-k-smoothed bigram language
    // model trained from the corpus IN the same plan, each doc scored by
    // its mean bigram log-prob (the perplexity-filter signal). Exact
    // integer counts in double arithmetic; round(6) absorbs the per-doc
    // ln-sum association order.
    "q_text_lm_score" -> ((s, d) =>
      LanguageModel.bigramLogProbScores(documents(s, d), "doc_id", "text",
        k = 0.5)),

    // The LM's frozen-stats SERVING face on the real production split
    // (r19 verdict task 3): counts + vocab trained on the doc_id%5≠1
    // slice (LanguageModel.trainCounts — the snapshot-cadence rebuild),
    // the HELD-OUT %5=1 slice scored against the frozen model via
    // scoreWith. Out-of-model bigrams are excluded by definition (no
    // defined P under the trained add-k model — scaladoc'd): n_bigrams
    // counts the KNOWN bigrams each held-out doc was scored on, and a
    // doc with none surfaces (0, 0.0) through the spine join. The
    // oracle retrains the counts from the train slice and replays the
    // held-out scoring join per doc.
    "q_text_lm_served" -> ((s, d) => {
      val docs = documents(s, d)
      val (lm, vocab) = LanguageModel.trainCounts(
        docs.filter(col("doc_id") % 5 =!= 1), "text")
      LanguageModel.scoreWith(docs.filter(col("doc_id") % 5 === 1),
        "doc_id", "text", lm, vocab, k = 0.5)
    }),

    // CCNet's band cut COMPLETED (q_text_lm_score only scores; a
    // curation pipeline then SELECTS): exact p10/p90 fences over the
    // scored docs (the q_winsorize percentile idiom — one broadcast
    // 1-row aggregate), keep the inclusive middle band. Gibberish sits
    // in the low tail, templated boilerplate in the high tail; both are
    // cut in the same plan that scored them. Docs without bigrams have
    // no LM evidence and can't band. Fences ride the output so the
    // selection is auditable; everything value-oracled.
    "q_select_lm_band" -> ((s, d) => {
      val scores = LanguageModel.bigramLogProbScores(documents(s, d),
        "doc_id", "text", k = 0.5)
        .filter(col("n_bigrams") > 0)
      val fences = scores.agg(
        expr("percentile(avg_logprob, array(0.1D, 0.9D))").as("__p"))
      val lo = round(element_at(col("__p"), 1), 6)
      val hi = round(element_at(col("__p"), 2), 6)
      scores.crossJoin(broadcast(fences))
        .filter(col("avg_logprob") >= lo && col("avg_logprob") <= hi)
        .select(col("doc_id"), col("avg_logprob"),
          lo.as("fence_lo"), hi.as("fence_hi"))
    }),

    // BM25 in the search-engine shape: the SAME terms as q_text_bm25 but
    // fed as a relation — per-term df from one aggregation over the
    // posting join, any query runnable without re-planning. Scores equal
    // the scalar variant to the 6-dp rounding, and the oracle replays the
    // relational formulation exactly.
    "q_text_bm25_rel" -> ((s, d) => {
      import s.implicits._
      TextRanking.bm25Relation(documents(s, d), "doc_id", "text",
        terms = bm25Terms.toDF("term"), termCol = "term",
        k1 = 1.2, b = 0.75)
    }),

    // The PERSISTENT index face of BM25 (the q_knn_ivf_index /
    // q_dedup_lsh_index protocol for lexical retrieval): postings +
    // doc-length spine built once on the even-id corpus, the odd half
    // appended later — no existing index file rewritten (TextIndexSpec
    // pins the filesystem half). Because df/N/avgdl are computed at
    // QUERY time from the stored frames, the incrementally-built index
    // must score the corpus EXACTLY like the inline relational BM25 —
    // same oracle as q_text_bm25_rel, bit-for-bit.
    "q_text_bm25_index" -> ((s, d) => {
      import s.implicits._
      val dir = textIndexDir(s, d)
      TextIndex.scoreAll(s, dir, bm25Terms.toDF("term"), termCol = "term",
        k1 = 1.2, b = 0.75)
        .withColumnRenamed("id", "doc_id")
    }),

    // The MUTABLE-corpus face: %7 docs tombstoned (IndexHealth.delete —
    // sidecar only, no index file touched, TextIndexSpec pins the
    // filesystem half), then scored. Because N/avgdl/df recompute over
    // the SURVIVING spine at query time, the oracle is simply the
    // relational BM25 over the corpus with those docs never present —
    // deletes are exact, not approximate, and every statistic shifts
    // accordingly (hash-checked per doc).
    "q_text_bm25_mutable" -> ((s, d) => {
      import s.implicits._
      val dir = textIndexMutDir(s, d)
      TextIndex.scoreAll(s, dir, bm25Terms.toDF("term"), termCol = "term",
        k1 = 1.2, b = 0.75)
        .withColumnRenamed("id", "doc_id")
    }),

    // The CLOSED maintenance loop on the lexical index (IvfIndex.maintain's
    // policy doctrine applied to TextIndex — exact-counter signals, so no
    // hysteresis by design; see IndexHealth.maintainTombstoneIndex): the
    // fixture builds the index, tombstones the %11 docs (dead ratio
    // ~0.091, under the 0.2 bar — maintain records "none" and touches
    // nothing), then tombstones the %7 docs as well (~0.221 — maintain
    // compacts, folding the union). The query returns the SQL-derivable
    // slice of the audit ledger; the oracle recomputes BOTH decisions —
    // ratios, bar crossings, survivors, folded — from the raw corpus, so
    // the decision logic itself is value-checked, not just the moves.
    "q_text_index_maintain" -> ((s, d) => {
      val dir = textIndexMntDir(s, d)
      graft.io.IndexHealth.tombstoneMaintenanceLog(s, dir)
        .select(col("seq"), col("dead_ratio"), col("action"),
          col("survivors"), col("folded"))
    }),

    // STABLE token codebook maintained across three ingest days
    // (prep/Codebook — the vocabulary/feature-id contract: once a token
    // has an id it never moves, new tokens extend the id space
    // monotonically, each day's newcomers ranked by in-day frequency
    // with the lexicographic tie-break). The global rank is sort +
    // zipWithIndex — the two-pass distributed exact rank, no
    // single-partition window funnel on an open vocabulary. The oracle
    // replays the full three-stage assignment protocol in SQL, so every
    // (token, id) pair is hash-checked.
    "q_codebook_tokens" -> ((s, d) =>
      graft.prep.Codebook.read(s, codebookDir(s, d))),

    // Count-min sketch over the token stream (CountMin.scala): frequency
    // estimation with O(depth·width) memory instead of a full-vocabulary
    // groupBy — ONE map-side-combined global aggregate builds the 4×256
    // grid; estimates are a pure projection against the broadcast 1-row
    // sketch. Probes = the vocabulary of every 101st document (bounded,
    // in-corpus), each emitted with its exact count beside the estimate —
    // the md5 bucket functions, the collision-inflated counters, and the
    // CMS overestimate property are all value-oracled in SQL.
    "q_cms_freq" -> ((s, d) => {
      val toks = documents(s, d).select(
        explode(TextFunctions.safeLowerTokens(col("text"))).as("tok"),
        col("doc_id"))
      val sk = graft.quality.CountMin.sketch(toks, "tok", depth = 4, width = 256)
      val truth = toks.groupBy(col("tok")).agg(count(lit(1)).as("true_n"))
      val probes = toks.filter(pmod(col("doc_id"), lit(101L)) === 0L)
        .select(col("tok")).distinct()
        .join(truth, Seq("tok"))
      graft.quality.CountMin.estimate(probes, "tok", sk, depth = 4, width = 256)
    }),

    // The HASHING-TRICK encoder beside the codebook (Codebook.hashEncode):
    // bucket = md5(token) mod 1024 — stateless, OOV-free, collisions
    // traded for zero maintenance; a pure projection with no shuffle
    // before the summary aggregate. Per-bucket occupancy (distinct tokens
    // + occurrences) is hash-checked against DuckDB rebuilding the same
    // md5 buckets, so the bucket function, the collision pattern, and the
    // load distribution are all value-oracled.
    "q_feature_hash" -> ((s, d) => {
      val tok = documents(s, d).select(
        explode(TextFunctions.safeLowerTokens(col("text"))).as("tok"))
      graft.prep.Codebook.hashEncode(tok, "tok", "bucket", 1024)
        .groupBy(col("bucket"))
        .agg(countDistinct(col("tok")).as("n_distinct"),
          count(lit(1)).as("n_occurrences"))
    })
  )

  private val codebookWritten = scala.collection.concurrent.TrieMap.empty[String, String]

  /** One-time three-day incrementally-built token codebook for
    * `q_codebook_tokens` (day = doc_id % 3; a [[graft.ops.QueryFixtures]]
    * dir).
    */
  private def codebookDir(s: SparkSession, d: String): String =
    graft.ops.QueryFixtures.fixtureDir(codebookWritten, "codebook", "documents", d) { dir =>
      val tok = documents(s, d).select(
        pmod(col("doc_id"), lit(3)).as("day"),
        explode(TextFunctions.safeLowerTokens(col("text"))).as("tok"))
      graft.prep.Codebook.init(tok.filter(col("day") === 0), "tok", s"$dir/book")
      (1 to 2).foreach { day =>
        graft.prep.Codebook.update(s, s"$dir/book", tok.filter(col("day") === day), "tok")
      }
    } + "/book"

  private val bm25Terms = Seq("spark", "window", "join")

  /** The relational BM25 replay — shared verbatim by q_text_bm25_rel and
    * q_text_bm25_index (the index path must land on it bit-for-bit);
    * the mutable face restricts the corpus CTE to the never-deleted docs.
    */
  private lazy val bm25RelationalSql: String = bm25RelationalSqlOver("")

  private lazy val bm25MutableSql: String =
    bm25RelationalSqlOver("WHERE doc_id % 7 <> 0")

  private def bm25RelationalSqlOver(corpusFilter: String): String = {
    val (k1, b) = (1.2, 0.75)
    val termValues = bm25Terms.map(t => s"('$t')").mkString(", ")
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents $corpusFilter),
        terms(term) AS (SELECT * FROM (VALUES $termValues)),
        stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
          avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM t),
        m AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
          FROM (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
                  unnest(toks) AS tok FROM t) p
          JOIN terms ON p.tok = terms.term
          GROUP BY 1, 2, 3),
        dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
          FROM m GROUP BY 1),
        sc AS (SELECT doc_id,
            sum(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * m.tf * ($k1 + 1.0)
              / (m.tf + $k1 * (1.0 - $b + $b * m.dl / s.avgdl))) AS score
          FROM m JOIN dfreq d USING (term), stats s GROUP BY 1)
        SELECT t.doc_id, round(coalesce(sc.score, 0.0), 6) AS bm25
        FROM t LEFT JOIN sc USING (doc_id)"""
  }

  private val textIndexMutWritten = scala.collection.concurrent.TrieMap.empty[String, String]

  /** One-time mutable-corpus index for `q_text_bm25_mutable`: full build,
    * then %7 doc_ids tombstoned via IndexHealth.delete.
    */
  private def textIndexMutDir(s: SparkSession, d: String): String =
    graft.ops.QueryFixtures.fixtureDir(textIndexMutWritten,
        "text_index_mut", "documents", d) { dir =>
      val doc = documents(s, d)
      TextIndex.build(doc, "doc_id", "text", dir)
      graft.io.IndexHealth.delete(s, dir,
        doc.filter(col("doc_id") % 7 === 0).select("doc_id"), "doc_id")
    }

  private val textIndexMntWritten = scala.collection.concurrent.TrieMap.empty[String, String]

  /** One-time maintenance-loop fixture for `q_text_index_maintain`:
    * build on the full corpus, tombstone %11 → maintain (healthy, no-op),
    * tombstone %7 as well → maintain (dead ratio over the bar, compacts).
    * Same staleness-stamped dir + completion-marker protocol as the
    * other index fixtures.
    */
  private def textIndexMntDir(s: SparkSession, d: String): String =
    graft.ops.QueryFixtures.fixtureDir(textIndexMntWritten,
        "text_index_mnt2", "documents", d) { dir =>
      val doc = documents(s, d)
      TextIndex.build(doc, "doc_id", "text", dir)
      // filesBar pinned off (review fix): postings files scale with
      // shuffle partitions (= cpus), so the default 96 could flip
      // the FIRST decision on a >96-core box — the oracle replays
      // only the corpus-derived dead-ratio signal
      val pol = graft.io.IndexHealth.MaintenancePolicy(filesBar = Int.MaxValue)
      graft.io.IndexHealth.delete(s, dir,
        doc.filter(col("doc_id") % 11 === 0).select("doc_id"), "doc_id")
      TextIndex.maintain(s, dir, pol)
      graft.io.IndexHealth.delete(s, dir,
        doc.filter(col("doc_id") % 7 === 0).select("doc_id"), "doc_id")
      TextIndex.maintain(s, dir, pol)
      ()
    }

  private val textIndexWritten = scala.collection.concurrent.TrieMap.empty[String, String]

  /** One-time (per JVM x sf dir x fixture generation) incrementally-built
    * inverted index for `q_text_bm25_index`: build on even doc_ids,
    * append the odd half (the staleness-stamped dir + completion-marker
    * protocol shared with the IVF/LSH index fixtures).
    */
  private def textIndexDir(s: SparkSession, d: String): String =
    graft.ops.QueryFixtures.fixtureDir(textIndexWritten, "text_index",
        "documents", d) { dir =>
      val doc = documents(s, d)
      TextIndex.build(doc.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", dir)
      TextIndex.append(s, dir,
        doc.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      ()
    }

  private val qualityStopwordsSql = qualityStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
  private def langListSql(lang: String) =
    langStopwords.toMap.apply(lang).map(w => s"'$w'").mkString("[", ", ", "]")

  // Shared SQL fragment: whitespace tokens with empties removed.
  private val toksSql =
    """list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '')"""

  /** Boilerplate-removal catalog parameters — ONE source of truth for the
    * Spark call sites (q_text_boilerplate here, the q_corpus_build
    * composition in dedup.DedupQueries) AND the SQL twin below, which
    * interpolates them: editing a knob cannot silently desynchronize the
    * oracles (the jaccardDfCap pattern).
    */
  private[graft] val boilerplateN = 2
  private[graft] val boilerplateDfCap = 40
  private[graft] val boilerplateDfFraction = 0.06

  // q_text_bpe_train knobs, shared by the operator call and the
  // generated oracle (the jaccardDfCap must-move-together pattern)
  private val bpeTrainVocab = 30
  private val bpeTrainMerges = 6

  /** Corpus-trained merges — ONE definition serving q_text_bpe_train
    * (publishes them) and q_text_bpe_learned (applies them): top-V
    * strictly-alnum words by (freq desc, word asc) — the bounded-
    * vocabulary boundary, the only corpus-scale work — then
    * [[Bpe.trainMerges]]' driver loop over the V rows.
    */
  private def learnedMerges(s: SparkSession, d: String): Seq[(String, String)] = {
    import s.implicits._
    val vocab = documents(s, d)
      .select(explode(TextFunctions.safeLowerTokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .orderBy(desc("f"), asc("w")).limit(bpeTrainVocab)
      .as[(String, Long)].collect().toSeq
    val merges = Bpe.trainMerges(vocab, bpeTrainMerges)
    // loud, not a silent oracle drift (review fix): trainMerges stops
    // early when the vocab's pairs exhaust, but the unrolled-CTE oracle
    // replays exactly bpeTrainMerges levels — an exhausted level's
    // argmax CTE would emit NULL merges Spark never produces
    require(merges.size == bpeTrainMerges,
      s"vocabulary exhausted after ${merges.size} of $bpeTrainMerges " +
        "merges — shrink bpeTrainMerges or widen bpeTrainVocab so the " +
        "oracle's fixed-depth replay stays faithful")
    merges
  }

  /** Bigram-LM scoring CTE chain, ending in `${p}sc(doc_id, n_bigrams,
    * avg_lp)` with `${p}t` still in scope — ONE definition shared by the
    * q_text_lm_score oracle, the q_select_lm_band oracle, and (r19,
    * with `src`/`p` bound) the composed q_select_pipeline oracle's
    * in-subset LM stage (the boilerplateCtes pattern: every band cut
    * must score with the identical chain or it validates a different
    * corpus). `src` must expose (doc_id, text); `p` prefixes every CTE
    * name so the chain composes into a larger WITH without collisions;
    * `mat` adds MATERIALIZED (the bpeTrainCtes lesson — deep
    * compositions re-evaluate inlined CTEs per reference).
    */
  private[graft] def lmScoreCtesFrom(src: String, p: String = "",
      mat: Boolean = false): String = {
    val m = if (mat) "MATERIALIZED " else ""
    s"""${p}t AS $m(SELECT doc_id, $toksSql AS toks FROM $src),
        ${p}bgp AS $m(SELECT doc_id, toks[i] AS w1,
            toks[i] || ' ' || toks[i+1] AS bg
          FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                FROM ${p}t WHERE len(toks) >= 2)),
        ${p}cbg AS $m(SELECT w1, bg, count(*) AS cbg FROM ${p}bgp GROUP BY 1, 2),
        ${p}cw1 AS $m(SELECT w1, count(*) AS cw1 FROM ${p}bgp GROUP BY 1),
        ${p}v AS $m(SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
          FROM (SELECT unnest(toks) AS tok FROM ${p}t)),
        ${p}sc AS $m(SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
            sum(ln((cbg + 0.5) / (cw1 + 0.5 * ${p}v.v))) / count(*) AS avg_lp
          FROM ${p}bgp JOIN ${p}cbg USING (w1, bg) JOIN ${p}cw1 USING (w1), ${p}v
          GROUP BY doc_id)"""
  }

  private val lmScoreCtes: String = lmScoreCtesFrom("documents")

  /** Unrolled-CTE replay of BPE TRAINING (q_text_bpe_train): level i
    * derives weighted pair counts from level i-1's wrapped forms (split
    * back to symbol lists), takes the (count desc, pair asc) argmax,
    * and applies the merge via the same wrapped-replace both engines
    * use for application (see [[Bpe]]'s object doc — replace restarts
    * after each replacement, so overlap handling agrees bit-for-bit
    * with the trainer's explicit left-to-right scan).
    *
    * Every CTE is MATERIALIZED: each level references the previous one
    * through several scalar subqueries, and DuckDB inlines plain CTEs —
    * without the hint the replay re-evaluates the whole chain per
    * reference and goes exponential in the level count (measured: 6
    * levels inlined never finish; materialized, 0.7 s at sf0.001).
    */
  private lazy val bpeTrainCtes: String = {
    val v0 =
      s"""v0 AS MATERIALIZED (SELECT w, f, regexp_replace(w, '(.)', '<\\1>', 'g') AS wr
          FROM (SELECT w, count(*) AS f
            FROM (SELECT unnest($toksSql) AS w FROM documents)
            WHERE regexp_matches(w, '^[a-z0-9]+$$')
            GROUP BY 1 ORDER BY f DESC, w LIMIT $bpeTrainVocab))"""
    val levels = (1 to bpeTrainMerges).flatMap { i =>
      val prev = s"v${i - 1}"
      Seq(
        s"""p$i AS MATERIALIZED (SELECT syms[j] AS a, syms[j + 1] AS b, sum(f) AS c
            FROM (SELECT f, string_split(
                replace(replace(replace(wr, '><', '|'), '<', ''), '>', ''),
                '|') AS syms
              FROM $prev),
              LATERAL unnest(range(1, len(syms))) AS u(j)
            GROUP BY 1, 2)""",
        s"m$i AS MATERIALIZED (SELECT a, b FROM p$i ORDER BY c DESC, a, b LIMIT 1)",
        s"""v$i AS MATERIALIZED (SELECT w, f, replace(wr,
            '<' || (SELECT a FROM m$i) || '><' || (SELECT b FROM m$i) || '>',
            '<' || (SELECT a FROM m$i) || (SELECT b FROM m$i) || '>') AS wr
            FROM $prev)""")
    }
    (v0 +: levels).mkString(", ")
  }

  private lazy val bpeTrainSql: String = {
    val selects = (1 to bpeTrainMerges).map { i =>
      s"SELECT CAST(${i - 1} AS BIGINT) AS step, " +
        s"(SELECT a FROM m$i) AS merge_left, " +
        s"(SELECT b FROM m$i) AS merge_right"
    }
    s"WITH $bpeTrainCtes ${selects.mkString(" UNION ALL ")}"
  }

  /** The train→apply oracle: re-learn the merges (the [[bpeTrainCtes]]
    * chain), then apply the identical wrapped-replace chain — each
    * learned pair as scalar subqueries from its m-CTE, in training
    * order — to every corpus word, counting symbols as '<' occurrences
    * (the q_text_bpe accounting idiom).
    */
  private lazy val bpeLearnedSql: String = {
    val applied = (1 to bpeTrainMerges).foldLeft(
      "regexp_replace(ws[i], '(.)', '<\\1>', 'g')") { (acc, i) =>
      s"replace($acc, '<' || (SELECT a FROM m$i) || '><' || (SELECT b FROM m$i) || '>', " +
        s"'<' || (SELECT a FROM m$i) || (SELECT b FROM m$i) || '>')"
    }
    s"""WITH $bpeTrainCtes,
        base AS (SELECT doc_id, $toksSql AS ws FROM documents),
        w AS (SELECT doc_id, i, $applied AS wr
          FROM base, LATERAL unnest(range(1, len(ws) + 1)) AS u(i)),
        a AS (SELECT doc_id,
            CAST(sum(len(wr) - len(replace(wr, '<', ''))) AS BIGINT) AS n_bpe_tokens
          FROM w GROUP BY 1)
        SELECT b.doc_id,
          CAST(len(b.ws) AS BIGINT) AS n_tokens,
          coalesce(a.n_bpe_tokens, 0) AS n_bpe_tokens
        FROM base b LEFT JOIN a USING (doc_id)"""
  }

  // sparse-cosine knobs, shared with the SQL twin (the jaccardDfCap
  // must-move-together pattern)
  private[graft] val textCosineDfCap = 1000
  private[graft] val textCosineThreshold = 0.5

  /** Boilerplate-removal CTE chain (gram width [[boilerplateN]], cap =
    * max([[boilerplateDfCap]], [[boilerplateDfFraction]] of corpus)),
    * ending in `cln(doc_id, text_clean, n_kept)` with `t` still in scope.
    * Shared by q_text_boilerplate and the q_corpus_build composition — the
    * two oracles must replay the identical cleaning or the composition
    * validates a different corpus.
    */
  private[graft] val boilerplateCtes: String = {
    val gramExpr = (1 to boilerplateN).map(j => s"toks[i+${j - 1}]")
      .mkString(" || ' ' || ")
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        g AS (SELECT doc_id, unnest(list_transform(
            range(1, greatest(len(toks) - ${boilerplateN - 2}, 1)),
            i -> {'gpos': CAST(i - 1 AS BIGINT),
                  'gram': $gramExpr}),
            recursive := true)
          FROM t),
        dfreq AS (SELECT gram, count(*) AS df
          FROM (SELECT DISTINCT doc_id, gram FROM g) GROUP BY 1),
        freq AS (SELECT gram FROM dfreq
          WHERE df > greatest($boilerplateDfCap.0,
            $boilerplateDfFraction * (SELECT count(*) FROM t))),
        cov AS (SELECT DISTINCT g.doc_id, g.gpos + k.k AS pos
          FROM g JOIN freq USING (gram),
            (SELECT unnest(range(0, $boilerplateN)) AS k) k),
        tok AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
            i -> {'pos': CAST(i - 1 AS BIGINT), 'tok': toks[i]}),
            recursive := true)
          FROM t),
        kept AS (SELECT tok.doc_id, tok.pos, tok.tok
          FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
          WHERE cov.doc_id IS NULL),
        cln AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean,
          count(*) AS n_kept FROM kept GROUP BY 1)"""
  }

  /** Shared body of q_text_heavy_hitters. `prebuilt` (lint only) skips
    * the count-min-sketch driver action; sketch contents never change
    * the plan shape, so the screened plan is the runtime plan.
    */
  private def heavyHitters(
      s: SparkSession,
      d: String,
      prebuilt: Option[org.apache.spark.util.sketch.CountMinSketch]): DataFrame = {
    import org.apache.spark.sql.functions.{sum => fsum}
    val eps = 0.001
    val toks = documents(s, d).select(col("doc_id"),
      explode(safeLowerTokens(col("text"))).as("tok"))
    val cms = prebuilt.getOrElse(toks.stat.countMinSketch("tok", eps = eps,
      confidence = 0.99, seed = 42))
    val bc = s.sparkContext.broadcast(cms)
    val est = udf((t: String) => bc.value.estimateCount(t))
    val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
      .orderBy(desc("tf"), asc("tok")).limit(20)
      .withColumn("est", est(col("tok")))
    val total = toks.agg(count(lit(1)).cast("double").as("n_total"))
    top.crossJoin(broadcast(total))
      .agg(max(col("n_total")).cast("long").as("n_tokens_total"),
        count(lit(1)).as("n_checked"),
        (fsum(when(col("est") < col("tf"), 1L).otherwise(0L)) === 0L)
          .as("no_undercount"),
        (fsum(when(col("est").cast("double") >
          col("tf").cast("double") + lit(eps) * col("n_total"), 1L)
          .otherwise(0L)) === 0L).as("overshoot_bounded"))
  }

  /** Lint twin (see DedupQueries.lintVariants): the heavy-hitters plan
    * with an injected empty sketch so construction is action-free.
    */
  val lintVariants: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_heavy_hitters" -> ((s, d) => heavyHitters(s, d,
      Some(org.apache.spark.util.sketch.CountMinSketch.create(
        0.001, 0.99, 42)))),
    // q_text_bpe_train's distributed half: the runtime query collects
    // the bounded vocab and returns a local relation (which would screen
    // trivially), so the twin screens the plan that actually touches the
    // corpus — the word-frequency aggregate feeding the driver loop
    "q_text_bpe_train" -> ((s, d) =>
      documents(s, d)
        .select(explode(TextFunctions.safeLowerTokens(col("text"))).as("w"))
        .filter(col("w").rlike("^[a-z0-9]+$"))
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
        .orderBy(desc("f"), asc("w")).limit(bpeTrainVocab)))

  val oracles: Map[String, String] = Map(
    // the NB model replayed: identical smoothing ratios under ln, the
    // same fixed-point floor, integer evidence sums (HUGEINT cast back),
    // ties broken (score DESC, cls ASC) on both engines
    "q_text_nb" ->
      s"""WITH base AS (SELECT doc_id, lang AS cls, $toksSql AS toks
            FROM documents),
          tr AS (SELECT * FROM base WHERE doc_id % 5 <> 4),
          te AS (SELECT * FROM base WHERE doc_id % 5 = 4),
          trtok AS (SELECT cls, unnest(toks) AS tok FROM tr),
          tot AS (SELECT cls, count(*) AS tot FROM trtok GROUP BY 1),
          voc AS (SELECT count(DISTINCT tok) AS v FROM trtok),
          ntr AS (SELECT count(*) AS ntr FROM tr),
          cl AS (
            SELECT nd.cls,
              CAST(floor(ln(nd.nd / CAST(ntr.ntr AS DOUBLE)) * 1000000.0
                + 0.5) AS BIGINT) AS prior,
              CAST(floor(ln(CAST(1 AS DOUBLE) / (tot.tot + voc.v))
                * 1000000.0 + 0.5) AS BIGINT) AS dflt
            FROM (SELECT cls, count(*) AS nd FROM tr GROUP BY 1) nd
            JOIN tot ON tot.cls = nd.cls, voc, ntr),
          w AS (
            SELECT c.cls, c.tok,
              CAST(floor(ln((c.c + 1) / CAST(tot.tot + voc.v AS DOUBLE))
                * 1000000.0 + 0.5) AS BIGINT) AS w
            FROM (SELECT cls, tok, count(*) AS c FROM trtok GROUP BY 1, 2) c
            JOIN tot ON tot.cls = c.cls, voc),
          tetok AS (SELECT doc_id, unnest(toks) AS tok FROM te),
          ev AS (
            SELECT tt.doc_id, cl.cls,
              CAST(sum(coalesce(w.w, cl.dflt)) AS BIGINT) AS ev
            FROM tetok tt CROSS JOIN cl
            LEFT JOIN w ON w.cls = cl.cls AND w.tok = tt.tok
            GROUP BY 1, 2),
          sc AS (
            SELECT te.doc_id, te.cls AS lang, cl.cls,
              cl.prior + coalesce(ev.ev, 0) AS score,
              row_number() OVER (PARTITION BY te.doc_id
                ORDER BY cl.prior + coalesce(ev.ev, 0) DESC, cl.cls ASC)
                AS rk
            FROM te CROSS JOIN cl
            LEFT JOIN ev ON ev.doc_id = te.doc_id AND ev.cls = cl.cls)
          SELECT doc_id, lang, cls AS pred, score FROM sc WHERE rk = 1""",

    "q_text_cosine" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
          tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
          dfk AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1
                  HAVING count(*) <= $textCosineDfCap),
          nn AS (SELECT count(*) AS n FROM documents),
          wgt AS (
            SELECT tf.doc_id, tf.tok,
              tf.tf * CAST(floor((ln((nn.n + 1) / CAST(dfk.df + 1 AS DOUBLE))
                + 1) * 1000 + 0.5) AS BIGINT) AS w
            FROM tf JOIN dfk USING (tok), nn),
          norms AS (SELECT doc_id, sum(w * w) AS nrm FROM wgt GROUP BY 1),
          num AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w * b.w) AS num
            FROM wgt a JOIN wgt b
              ON a.tok = b.tok AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
          SELECT id_a, id_b, cosine FROM (
            SELECT num.id_a, num.id_b,
              round(CAST(num.num AS DOUBLE) /
                (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))),
                6) AS cosine
            FROM num
            JOIN norms na ON num.id_a = na.doc_id
            JOIN norms nb ON num.id_b = nb.doc_id) p
          WHERE cosine >= $textCosineThreshold""",

    "q_text_tokens" ->
      s"""SELECT doc_id,
          CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS BIGINT) AS n_tokens,
          CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
          CAST(length(text) AS BIGINT) AS n_chars_obs
          FROM documents""",

    // Full replay of the frozen-merge BPE: per word, the identical
    // wrapped replace chain (interpolated from BpeMerges via
    // Bpe.bpeWordSqlExpr); token count = '<' count, token stream
    // unwrapped and re-joined in document order. Docs with no words
    // (NULL/empty text) come back via the left join spine.
    "q_text_bpe" ->
      s"""WITH base AS (
            SELECT doc_id,
              list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\\s+'), x -> x <> '') AS ws
            FROM documents),
          w AS (
            SELECT doc_id, i, ${Bpe.bpeWordSqlExpr("ws[i]")} AS wr
            FROM base, LATERAL unnest(range(1, len(ws) + 1)) AS u(i)),
          a AS (
            SELECT doc_id,
              CAST(sum(len(wr) - len(replace(wr, '<', ''))) AS BIGINT) AS n_bpe_tokens,
              string_agg(replace(replace(replace(wr, '><', ' '), '<', ''), '>', ''), ' ' ORDER BY i) AS bpe_text
            FROM w GROUP BY doc_id)
          SELECT b.doc_id,
            CAST(len(b.ws) AS BIGINT) AS n_tokens,
            coalesce(a.n_bpe_tokens, 0) AS n_bpe_tokens,
            coalesce(a.bpe_text, '') AS bpe_text
          FROM base b LEFT JOIN a USING (doc_id)""",

    // TRAINING replayed, not just application: weighted pair counts,
    // argmax, and merge application unrolled per level (bpeTrainSql)
    "q_text_bpe_train" -> bpeTrainSql,

    // the composition: merges re-learned (same chain), then applied to
    // every corpus word — the corpus-trained token accounting
    "q_text_bpe_learned" -> bpeLearnedSql,

    "q_text_quality" ->
      s"""WITH t AS (SELECT doc_id, text,
            list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks,
            list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS rawtoks
          FROM documents),
          sig AS (SELECT doc_id,
            CASE WHEN length(text) > 0
              THEN CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) / length(text)
              ELSE 0.0 END AS punct_ratio,
            CASE WHEN len(toks) > 0
              THEN CAST(len(list_filter(toks, x -> list_contains($qualityStopwordsSql, x))) AS DOUBLE) / len(toks)
              ELSE 0.0 END AS stopword_ratio,
            CASE WHEN len(rawtoks) > 0
              THEN CAST(list_sum(list_transform(rawtoks, x -> length(x))) AS DOUBLE) / len(rawtoks)
              ELSE 0.0 END AS mean_token_len,
            len(rawtoks) AS n_tok
          FROM t)
          SELECT doc_id, round(punct_ratio, 6) AS punct_ratio,
            round(stopword_ratio, 6) AS stopword_ratio,
            round(mean_token_len, 6) AS mean_token_len,
            round(((CASE WHEN n_tok >= 10 AND n_tok <= 10000 THEN 1.0
                         WHEN n_tok > 0 THEN 0.5 ELSE 0.0 END)
                 + (CASE WHEN punct_ratio < 0.2 THEN 1.0 ELSE 0.3 END)
                 + (CASE WHEN stopword_ratio > 0.03 AND stopword_ratio < 0.6 THEN 1.0 ELSE 0.4 END)
                  ) / 3.0, 6) AS quality
          FROM sig""",

    "q_text_langid" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          s AS (SELECT doc_id,
            len(list_filter(toks, x -> list_contains(${langListSql("en")}, x))) AS en,
            len(list_filter(toks, x -> list_contains(${langListSql("de")}, x))) AS de,
            len(list_filter(toks, x -> list_contains(${langListSql("fr")}, x))) AS fr,
            len(list_filter(toks, x -> list_contains(${langListSql("es")}, x))) AS es
          FROM t)
          SELECT doc_id,
            CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
                 WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
                 WHEN fr >= es AND fr > 0 THEN 'fr'
                 WHEN es > 0 THEN 'es'
                 ELSE 'und' END AS lang_pred
          FROM s""",

    "q_text_fingerprint" ->
      """SELECT doc_id,
         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(
               regexp_extract_all(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), '.'),
               c -> CAST(ascii(c) AS BIGINT))),
           (acc, c) -> (acc * 131 + c) % 2147483647) AS rhash
         FROM documents""",

    "q_text_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          bg AS (SELECT doc_id, len(toks) AS n,
              unnest(list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i+1])) AS b
            FROM t WHERE len(toks) >= 2),
          cnt AS (SELECT doc_id, n, b, count(*) AS c FROM bg GROUP BY 1, 2, 3),
          mx AS (SELECT doc_id, n, max(c) AS mc FROM cnt GROUP BY 1, 2)
          SELECT t.doc_id,
            CASE WHEN len(t.toks) > 0
              THEN round(1.0 - CAST(len(list_distinct(t.toks)) AS DOUBLE) / len(t.toks), 6)
              ELSE 0.0 END AS rep_ratio,
            COALESCE(round(least(1.0, 2.0 * mx.mc / mx.n), 6), 0.0) AS top_bigram_frac
          FROM t LEFT JOIN mx ON t.doc_id = mx.doc_id""",

    "q_pii_scrub" ->
      """WITH w AS (SELECT doc_id,
           text || CASE WHEN doc_id % 10 = 0
             THEN ' contact user' || doc_id || '@example.com' ELSE '' END AS text
         FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           md5(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')) AS scrub_fp
         FROM w""",

    "q_seq_pack" ->
      s"""WITH t AS (SELECT doc_id,
            CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
            CAST(doc_id // 100 AS BIGINT) AS shard
          FROM documents),
          c AS (SELECT doc_id, n_tokens, shard,
            sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) AS cum
          FROM t)
          SELECT shard, CAST((cum - n_tokens) // 256 AS BIGINT) AS bin,
            count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
          FROM c GROUP BY 1, 2""",

    // the greedy state machine replayed doc-by-doc per shard via a
    // recursive CTE (rn chains the recursion in the same id order the
    // Spark side packs in)
    "q_seq_pack_greedy" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id,
            CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
            CAST(doc_id // 100 AS BIGINT) AS shard,
            row_number() OVER (PARTITION BY doc_id // 100 ORDER BY doc_id) AS rn
          FROM documents),
          rec AS (
            SELECT shard, rn, n_tokens,
              CAST(0 AS BIGINT) AS bin, n_tokens AS fill
            FROM t WHERE rn = 1
            UNION ALL
            SELECT t.shard, t.rn, t.n_tokens,
              CASE WHEN rec.fill + t.n_tokens > 256
                   THEN rec.bin + 1 ELSE rec.bin END,
              CASE WHEN rec.fill + t.n_tokens > 256
                   THEN t.n_tokens ELSE rec.fill + t.n_tokens END
            FROM t JOIN rec ON t.shard = rec.shard AND t.rn = rec.rn + 1)
          SELECT shard, bin, count(*) AS n_docs,
            CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
          FROM rec GROUP BY 1, 2""",

    // full boilerplate-removal replay: positional bigrams -> df over
    // distinct (doc, gram) -> positions covered by any frequent gram ->
    // ordered reassembly of the survivors. Exact string + count parity.
    "q_text_boilerplate" ->
      s"""WITH $boilerplateCtes
          SELECT t.doc_id, coalesce(cln.text_clean, '') AS text_clean,
            CAST(coalesce(cln.n_kept, 0) AS BIGINT) AS n_kept,
            CAST(len(t.toks) - coalesce(cln.n_kept, 0) AS BIGINT) AS n_dropped
          FROM t LEFT JOIN cln USING (doc_id)""",

    // same Lucene-variant BM25 replayed: exact integer tf/df/dl in double
    // arithmetic, identical formula association, round(6) on the score
    "q_text_bm25" -> {
      val (k1, b) = (1.2, 0.75)
      val termScore = Seq("spark", "window", "join").zipWithIndex.map {
        case (t, i) =>
          s"""(ln(1.0 + (s.n_docs - s.df_$i + 0.5) / (s.df_$i + 0.5))
              * CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) * ($k1 + 1.0)
              / (CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE)
                 + $k1 * (1.0 - $b + $b * CAST(len(toks) AS DOUBLE) / s.avgdl)))"""
      }.mkString(" + ")
      val dfAggs = Seq("spark", "window", "join").zipWithIndex.map {
        case (t, i) =>
          s"CAST(sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS DOUBLE) AS df_$i"
      }.mkString(", ")
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          s AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
            avg(CAST(len(toks) AS DOUBLE)) AS avgdl, $dfAggs FROM t)
          SELECT doc_id, round($termScore, 6) AS bm25 FROM t, s"""
    },

    "q_text_vocab" ->
      s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
          tf AS (SELECT tok, count(*) AS tf FROM toks GROUP BY 1),
          df AS (SELECT tok, count(*) AS df
            FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY 1)
          SELECT df.tok, df.df, tf.tf FROM df JOIN tf USING (tok)
          ORDER BY df.df DESC, tf.tf DESC, df.tok ASC LIMIT 50""",

    "q_text_zipf" ->
      s"""WITH freq AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS f
         |  FROM (SELECT unnest($toksSql) AS tok FROM documents) t
         |  GROUP BY tok ORDER BY f DESC, tok LIMIT 100),
         |pts AS (
         |  SELECT ln(CAST(row_number() OVER (ORDER BY f DESC, tok) AS DOUBLE)) AS x,
         |         ln(CAST(f AS DOUBLE)) AS y
         |  FROM freq),
         |st AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n,
         |    sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
         |    sum(x*x) AS sxx, sum(y*y) AS syy
         |  FROM pts)
         |SELECT CAST(n AS BIGINT) AS n_tokens,
         |  ROUND((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS zipf_slope,
         |  ROUND((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n, 6) AS intercept,
         |  ROUND((n*sxy - sx*sy) * (n*sxy - sx*sy)
         |    / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r2
         |FROM st""".stripMargin,

    "q_text_tfidf" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
         |       FROM t GROUP BY 1, 2),
         |df AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |       FROM t GROUP BY tok),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |sc AS (SELECT tf.doc_id, tf.tok, tf.tf, df.df,
         |         tf.tf * (ln((CAST(n.n AS DOUBLE) + 1) / (df.df + 1)) + 1) AS score
         |       FROM tf JOIN df USING (tok), n)
         |SELECT doc_id, tok, tf, df, ROUND(score, 6) AS score FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY score DESC, tok) AS rk FROM sc)
         |WHERE rk <= 3""".stripMargin,

    // exact totals + the count-min contract as pinned booleans: DuckDB
    // cannot rebuild the sketch (implementation-defined hashing) but CAN
    // verify the token totals and the one-sided-error invariants
    "q_text_heavy_hitters" ->
      s"""WITH toks AS (SELECT unnest($toksSql) AS tok FROM documents)
          SELECT CAST(count(*) AS BIGINT) AS n_tokens_total,
            CAST(20 AS BIGINT) AS n_checked,
            TRUE AS no_undercount, TRUE AS overshoot_bounded
          FROM toks""",

    // the bigram LM replayed: sequential bigram postings with
    // multiplicity, bigram/prefix counts, vocabulary scalar, identical
    // smoothing formula, sum/count (not avg()) so both engines divide
    // the same way
    "q_text_lm_score" ->
      s"""WITH $lmScoreCtes
          SELECT t.doc_id,
            coalesce(sc.n_bigrams, 0) AS n_bigrams,
            round(coalesce(sc.avg_lp, 0.0), 6) AS avg_logprob
          FROM t LEFT JOIN sc USING (doc_id)""",

    // the frozen-LM serving replay: counts/vocab CTEs from the TRAIN
    // slice, bigram postings from the HELD-OUT slice, the same
    // smoothing formula joined per known bigram, spine left-join for
    // zero-known-bigram docs
    "q_text_lm_served" -> {
      val m = "MATERIALIZED "
      s"""WITH sv AS (SELECT doc_id, text FROM documents
            WHERE doc_id % 5 = 1),
          tt AS $m(SELECT doc_id, $toksSql AS toks FROM documents
            WHERE doc_id % 5 <> 1),
          tbgp AS $m(SELECT doc_id, toks[i] AS w1,
              toks[i] || ' ' || toks[i+1] AS bg
            FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                  FROM tt WHERE len(toks) >= 2)),
          tcbg AS $m(SELECT w1, bg, count(*) AS cbg FROM tbgp GROUP BY 1, 2),
          tcw1 AS $m(SELECT w1, count(*) AS cw1 FROM tbgp GROUP BY 1),
          tv AS $m(SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
            FROM (SELECT unnest(toks) AS tok FROM tt)),
          st AS $m(SELECT doc_id, $toksSql AS toks FROM sv),
          sbgp AS $m(SELECT doc_id, toks[i] AS w1,
              toks[i] || ' ' || toks[i+1] AS bg
            FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                  FROM st WHERE len(toks) >= 2)),
          ssc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
              sum(ln((cbg + 0.5) / (cw1 + 0.5 * tv.v))) / count(*) AS avg_lp
            FROM sbgp JOIN tcbg USING (w1, bg) JOIN tcw1 USING (w1), tv
            GROUP BY doc_id)
          SELECT s.doc_id,
            coalesce(c.n_bigrams, 0) AS n_bigrams,
            round(coalesce(c.avg_lp, 0.0), 6) AS avg_logprob
          FROM sv s LEFT JOIN ssc c USING (doc_id)"""
    },

    // the same LM replay, then the band cut: rounded scores, p10/p90
    // quantile_cont fences rounded to the same 6 dp (the q_winsorize
    // fence idiom), inclusive keep
    "q_select_lm_band" ->
      s"""WITH $lmScoreCtes,
          s AS (SELECT doc_id, round(avg_lp, 6) AS avg_logprob FROM sc),
          f AS (SELECT round(quantile_cont(avg_logprob, 0.1), 6) AS lo,
                       round(quantile_cont(avg_logprob, 0.9), 6) AS hi
                FROM s)
          SELECT doc_id, avg_logprob, lo AS fence_lo, hi AS fence_hi
          FROM s, f WHERE avg_logprob >= lo AND avg_logprob <= hi""",

    // the relational BM25 replayed relationally: posting join against the
    // VALUES term set, tf/df aggregates, per-doc sum, score-0 docs
    // restored through the left join on the doc spine
    "q_text_bm25_rel" -> bm25RelationalSql,

    // the persistent-index face must land on the SAME relational replay
    // bit-for-bit — query-time statistics make incremental indexing exact
    "q_text_bm25_index" -> bm25RelationalSql,

    // tombstoned docs never existed as far as scoring goes: same replay
    // over the surviving corpus (N, avgdl, df all shift)
    "q_text_bm25_mutable" -> bm25MutableSql,

    // both maintenance decisions recomputed from the raw corpus: the
    // %11 tombstone round stays under the 0.2 dead-ratio bar (action
    // "none", no survivors/folded), the %11∪%7 round crosses it
    // (action "compact", survivors = corpus minus the union, folded =
    // the union). TextIndex spines every doc, so dead∩spine = the
    // filter counts directly.
    "q_text_index_maintain" ->
      """WITH n AS (SELECT count(*) AS c FROM documents),
        |d1 AS (SELECT count(*) AS c FROM documents WHERE doc_id % 11 = 0),
        |d2 AS (SELECT count(*) AS c FROM documents
        |       WHERE doc_id % 11 = 0 OR doc_id % 7 = 0)
        |SELECT CAST(0 AS BIGINT) AS seq,
        |  round(d1.c * 1.0 / n.c, 6) AS dead_ratio,
        |  'none' AS action,
        |  CAST(NULL AS BIGINT) AS survivors,
        |  CAST(NULL AS BIGINT) AS folded
        |FROM n, d1
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), round(d2.c * 1.0 / n.c, 6), 'compact',
        |  n.c - d2.c, d2.c
        |FROM n, d2""".stripMargin,

    // the 4x256 counter grid rebuilt exactly: counter (r, b) = the number
    // of token occurrences hashing to bucket b under row r's md5; the
    // estimate is the min over the probe's four buckets. Probes are
    // in-corpus, so every probed bucket holds >= 1 and the sketch
    // group-by join never drops a row
    "q_cms_freq" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |grid AS (
         |  SELECT u.r,
         |    CAST('0x' || substr(md5(u.r || ':' || tok), 1, 15) AS BIGINT) % 256 AS b,
         |    count(*) AS c
         |  FROM toks, LATERAL unnest(range(0, 4)) AS u(r) GROUP BY 1, 2),
         |truth AS (SELECT tok, count(*) AS true_n FROM toks GROUP BY 1),
         |probes AS (
         |  SELECT DISTINCT t.tok, tr.true_n
         |  FROM toks t JOIN truth tr USING (tok) WHERE t.doc_id % 101 = 0)
         |SELECT p.tok, p.true_n, min(g.c) AS est_n
         |FROM probes p, LATERAL unnest(range(0, 4)) AS u(r)
         |  JOIN grid g ON g.r = u.r
         |    AND g.b = CAST('0x' || substr(md5(u.r || ':' || p.tok), 1, 15) AS BIGINT) % 256
         |GROUP BY 1, 2""".stripMargin,

    // the same md5 buckets rebuilt: bucket function, collisions, and
    // load distribution all value-checked
    "q_feature_hash" ->
      s"""WITH tok AS (SELECT unnest(toks) AS tok
         |  FROM (SELECT $toksSql AS toks FROM documents)),
         |b AS (SELECT tok,
         |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 1024 AS bucket
         |  FROM tok)
         |SELECT bucket, count(DISTINCT tok) AS n_distinct,
         |       count(*) AS n_occurrences
         |FROM b GROUP BY 1""".stripMargin,

    // the full three-stage stable-id assignment replayed: day-0 tokens
    // ranked (count desc, token asc) from 0; each later day's UNSEEN
    // tokens ranked by in-day counts, offset by the book size so far
    "q_codebook_tokens" ->
      s"""WITH tok AS (
         |  SELECT doc_id % 3 AS day, unnest(toks) AS category
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
         |c0 AS (SELECT category, count(*) AS cnt FROM tok
         |  WHERE day = 0 GROUP BY 1),
         |b0 AS (SELECT category,
         |    row_number() OVER (ORDER BY cnt DESC, category) - 1 AS id
         |  FROM c0),
         |c1 AS (SELECT category, count(*) AS cnt FROM tok
         |  WHERE day = 1 AND category NOT IN (SELECT category FROM b0)
         |  GROUP BY 1),
         |b1 AS (SELECT category,
         |    (SELECT count(*) FROM b0) +
         |    row_number() OVER (ORDER BY cnt DESC, category) - 1 AS id
         |  FROM c1),
         |c2 AS (SELECT category, count(*) AS cnt FROM tok
         |  WHERE day = 2 AND category NOT IN (SELECT category FROM b0)
         |    AND category NOT IN (SELECT category FROM b1)
         |  GROUP BY 1),
         |b2 AS (SELECT category,
         |    (SELECT count(*) FROM b0) + (SELECT count(*) FROM b1) +
         |    row_number() OVER (ORDER BY cnt DESC, category) - 1 AS id
         |  FROM c2)
         |SELECT category, CAST(id AS BIGINT) AS id FROM b0
         |UNION ALL SELECT category, CAST(id AS BIGINT) FROM b1
         |UNION ALL SELECT category, CAST(id AS BIGINT) FROM b2""".stripMargin,

    // identical chunk boundaries replayed via positional slices; the
    // final short chunk and gram-less docs fall out of the same formula
    "q_text_chunk" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents)
          SELECT doc_id, unnest(list_transform(
            range(0, CASE WHEN len(toks) > 0
                          THEN (len(toks) - 1) // 32 + 1 ELSE 0 END),
            i -> {'chunk_idx': CAST(i AS BIGINT),
                  'chunk_text': array_to_string(toks[i*32+1 : i*32+64], ' '),
                  'n_tokens': CAST(len(toks[i*32+1 : i*32+64]) AS BIGINT)}),
            recursive := true)
          FROM t"""
  )
}
