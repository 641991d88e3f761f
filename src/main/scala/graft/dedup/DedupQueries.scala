package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Tables._
import graft.sim.{Knn, SemanticDedup}

/** Dedup + similarity-search query catalog (documents / embeddings tables).
  *
  * Exact-arithmetic entries carry DuckDB oracles; the LSH-based entries
  * (minhash / simhash / srp buckets) depend on xxhash64, which has no DuckDB
  * equivalent — those are deterministic (seeded) but verified by the
  * rows-only check plus ScalaTest invariants (see DedupSpec).
  */
object DedupQueries {

  // declared BEFORE the strict `queries`/`oracles` vals: object vals
  // initialize in declaration order, and the oracles map forces the
  // (lazy) kcenterSql during init — a later declaration would read 0
  private val kcenterK = 4
  private val kcenterCellsK = 3 // per-cell budget for q_select_kcenter_cells

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup groups on canonical fingerprint
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exactGroups(documents(s, d), "doc_id", "text")),

    // Same fingerprint groups through the CUSTOM-STATE operator
    // (flatMapGroupsWithState in batch mode — the streaming ingest
    // deduper of graft.streaming.DedupStreams, whose cross-trigger
    // admission/TTL semantics DedupStreamsSpec pins on real
    // MemoryStream triggers): proves the stateful path agrees with the
    // declarative group-by under the same DuckDB oracle, the
    // q_events_sessions_stateful doctrine applied to dedup.
    "q_dedup_stateful" -> ((s, d) => {
      import s.implicits._
      val fpDocs = documents(s, d).select(
        graft.text.TextFunctions.fingerprint(col("text")).as("fp"),
        col("doc_id")).as[graft.streaming.DedupStreams.FpDoc]
      graft.streaming.DedupStreams.admitFirst(s, fpDocs)
        .toDF("fp", "keep_id", "dup_cnt")
    }),

    // exact substring (duplicated-span) dedup, Lee et al. 2022: excise
    // every >=substringMinLen-token span that also appears verbatim in
    // another document, keeping the lowest-doc-id copy. minLen is passed
    // EXPLICITLY because the DuckDB oracle replays the same window length
    // (see the q_dedup_substring oracle) — the two must move together.
    "q_dedup_substring" -> ((s, d) =>
      Dedup.substringDedup(documents(s, d), "doc_id", "text",
        minLen = substringMinLen)),

    // bigram Jaccard near-dup pairs, blocked by lang. maxDocFreq is passed
    // EXPLICITLY (not defaulted) because the DuckDB oracle encodes the same
    // cap — the two must move together (see jaccardPairsCtes).
    "q_dedup_jaccard" -> ((s, d) =>
      Dedup.jaccardPairs(documents(s, d), "doc_id", "text",
        blockCols = Seq("lang"), n = 2, threshold = 0.3,
        maxDocFreq = jaccardDfCap)),

    // asymmetric containment over the SAME candidate universe: the
    // quote/subset detector (|A∩B| / min) — catches a small doc embedded
    // in a big one where jaccard stays near 0. Lower threshold than
    // jaccard's because containment dominates it pointwise.
    "q_dedup_containment" -> ((s, d) =>
      Dedup.containmentPairs(documents(s, d), "doc_id", "text",
        blockCols = Seq("lang"), n = 2, threshold = 0.6,
        maxDocFreq = jaccardDfCap)),

    // EXACT threshold-Jaccard join by prefix filtering (AllPairs/ppjoin):
    // no df cap, no blocking — each doc indexes only its rarest
    // (sz - ceil(t*sz) + 1) bigrams under the global frequency order, so
    // candidate fan-out stays bounded WITHOUT discarding hot shingles.
    // The oracle is the brute-force all-pairs replay — lossless candidate
    // generation means the two must agree row-for-row. Threshold 0.5:
    // prefix filtering is the HIGH-threshold (near-dup) exact path — at
    // t=0.1 prefixes span ~90% of each doc and the join degenerates to
    // brute force; the low-threshold regime belongs to the banded/capped
    // operators (q_dedup_jaccard, q_dedup_minhash). FIXTURE SIZED to
    // doc_id < 1250: this synthetic corpus has only ~930 distinct bigrams
    // with median df ~285/5000 — EVERY shingle is hot, so the frequency
    // order cannot prune and exact all-pairs is inherently near-quadratic
    // here. The id cap leaves sf0.001/sf0.01 (ids 0-499) untouched
    // (25-28 planted pairs) and quarters sf0.1 (14 pairs survive), so the
    // operator does real verified work at every SF. Real web corpora have
    // Zipfian shingle tails — precisely what the rarest-first prefix
    // exploits.
    "q_dedup_prefix" -> ((s, d) =>
      Dedup.prefixJaccardPairs(
        documents(s, d).filter(col("doc_id") < 1250L),
        "doc_id", "text", n = 2, thresholdPct = 50)),

    // transitive duplicate CLUSTERS over the jaccard pair graph (threshold
    // 0.1 so multi-hop chains exist in this corpus): hash-min label
    // propagation to the component minimum — the keep/drop assignment a
    // production dedup emits. Oracle recomputes components via a recursive
    // min-reachability CTE.
    "q_dedup_clusters" -> ((s, d) =>
      Dedup.connectedComponents(
        Dedup.jaccardPairs(documents(s, d), "doc_id", "text",
          blockCols = Seq("lang"), n = 2, threshold = 0.1,
          maxDocFreq = jaccardDfCap),
        "id_a", "id_b")),

    // the production keep/drop decision end to end: pair detection →
    // transitive clusters → drop every non-representative member (keep the
    // cluster-min id), keep all unpaired docs. One left-anti against the
    // drop set — the final shape a 100 TB dedup actually emits.
    "q_dedup_keep" -> ((s, d) => {
      val clusters = Dedup.connectedComponents(
        Dedup.jaccardPairs(documents(s, d), "doc_id", "text",
          blockCols = Seq("lang"), n = 2, threshold = 0.1,
          maxDocFreq = jaccardDfCap),
        "id_a", "id_b")
      val drop = clusters.filter(col("member_id") =!= col("cluster_id"))
        .select(col("member_id"))
      documents(s, d).select(col("doc_id"))
        .join(drop, col("doc_id") === col("member_id"), "left_anti")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).cast("long").as("kept_id_sum"))
    }),

    // Incrementally-maintained transitive clustering (ClusterIndex): the
    // q_dedup_clusters pair graph arrives in three epochs (build + two
    // delta batches that MERGE standing clusters); resolved merge-on-read
    // labels must equal the from-scratch clustering over all pairs —
    // the oracle below IS q_dedup_clusters' SQL.
    "q_dedup_cluster_index" -> ((s, d) =>
      ClusterIndex.resolve(s, clusterIndexDir(s, d))),

    // Quality-aware survivorship (Dedup.keepBest): keep the LONGEST
    // member of each near-dup cluster (tie -> min id) instead of the min
    // id — the production rule when duplicates differ in quality. Same
    // pair graph as q_dedup_clusters/keep; the summary fingerprints the
    // kept set by count, id sum, AND length sum (so a keep-min result
    // cannot masquerade as keep-best).
    "q_dedup_keep_best" -> ((s, d) => {
      val docs = documents(s, d)
      val clusters = Dedup.connectedComponents(
        Dedup.jaccardPairs(docs, "doc_id", "text",
          blockCols = Seq("lang"), n = 2, threshold = 0.1,
          maxDocFreq = jaccardDfCap),
        "id_a", "id_b")
      Dedup.keepBest(docs, "doc_id", length(col("text")).cast("long"),
          clusters)
        .join(docs, col("keep_id") === col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("keep_id")).cast("long").as("kept_id_sum"),
          sum(length(col("text")).cast("long")).cast("long")
            .as("kept_len_sum"))
    }),

    // INCREMENTAL survivorship (r17): the keep-best DECISION maintained
    // beside the incremental clustering instead of recomputed from full
    // resolved labels — the same pair graph arrives in three epochs
    // (build + two addPairsWithBest deltas with cross-epoch merges), and
    // only affected clusters' winners are re-derived per epoch. The
    // resolved keep set must hash-match the from-scratch keepBest: the
    // oracle below IS q_dedup_keep_best's SQL.
    "q_dedup_keep_best_incremental" -> ((s, d) => {
      val docs = documents(s, d)
      ClusterIndex.resolveBest(s, clusterBestIndexDir(s, d), docs, "doc_id")
        .join(docs, col("keep_id") === col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("keep_id")).cast("long").as("kept_id_sum"),
          sum(length(col("text")).cast("long")).cast("long")
            .as("kept_len_sum"))
    }),

    // The needs_repair loop CLOSED and value-oracled (r19 verdict task
    // 5 — the fourth persistent structure gets the decision-logic
    // coverage the other three have): the fixture plants epoch 2's
    // exact crash state (pairs recorded, updates+seal gone), maintain
    // reports needs_repair, repairWithBest re-derives the epoch's
    // labels AND winners from the recorded pairs with the corpus score
    // rule, and the second maintain reads the index healthy. Output =
    // the healed keep-set fingerprint (count, id sum, length sum — the
    // q_dedup_keep_best summary, which must equal the from-scratch
    // all-pairs truth: a repair that lost epoch 2's merges or winner
    // flips lands here) crossed with the seq-ordered ledger arc.
    "q_dedup_cluster_repair" -> ((s, d) => {
      val docs = documents(s, d)
      val dir = clusterRepairDir(s, d)
      val keep = ClusterIndex.resolveBest(s, dir, docs, "doc_id")
        .join(docs, col("keep_id") === col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("keep_id")).cast("long").as("kept_id_sum"),
          sum(length(col("text")).cast("long")).cast("long")
            .as("kept_len_sum"))
      val arc = ClusterIndex.maintenanceLog(s, dir)
        .agg(
          concat_ws(",", transform(
            sort_array(collect_list(struct(col("seq"), col("action")))),
            x => x.getField("action"))).as("actions"),
          sum(col("unsealed_epochs")).cast("long").as("unsealed_total"))
      keep.crossJoin(arc)
    }),

    // MinHash+LSH candidates -> EXACT-Jaccard verification: output equals
    // the true near-dup pair set whenever band recall holds (the data's
    // thinnest true pair has J=0.82 -> P(miss) ~ 7e-5 per pair at 16x4
    // bands), so the DuckDB all-pairs oracle checks the full pipeline.
    "q_dedup_minhash" -> ((s, d) =>
      Dedup.minhashPairsExact(documents(s, d), "doc_id", "text",
        shingleN = 2, numHashes = 64, bands = 16, threshold = 0.3)),

    // The PERSISTENT index face of the near-dup stack, maintained
    // INCREMENTALLY (the q_knn_ivf_index protocol applied to MinHash):
    // band postings + shingle sets built once on the even-id corpus,
    // the %4==1 batch appended later against the FROZEN hash parameters
    // (no existing index file rewritten — LshIndexSpec pins the
    // filesystem half + one-shot-write equivalence), then the %4==3
    // batch probes: batch-only signatures, candidate discovery against
    // the stored postings (index side never shuffles — the batch
    // postings ride a gated broadcast), exact-Jaccard verification
    // against the stored shingles. The oracle recomputes the TRUE
    // cross-Jaccard pair set from scratch in SQL — equality proves both
    // the banding recall and that append kept the index probe-
    // equivalent, not just written.
    "q_dedup_lsh_index" -> ((s, d) => {
      val dir = lshIndexDir(s, d)
      LshIndex.probe(s, dir,
        documents(s, d).filter(col("doc_id") % 4 === 3),
        "doc_id", "text", threshold = 0.3)
    }),

    // The CLOSED maintenance loop on the near-dup index (the
    // q_text_index_maintain protocol on LshIndex.maintain — exact-counter
    // signals, no hysteresis by design): build the full index, tombstone
    // %11 (dead ratio under the 0.2 bar — "none"), tombstone %7 as well
    // (over the bar — compacts the union away). The LSH spine holds only
    // docs with >= 1 shingle (>= 2 tokens at shingleN 2), so the oracle's
    // dead-ratio numerator/denominator and survivors count are
    // spine-conditioned, while folded counts every sidecar id — exactly
    // the implementation's semantics, all recomputed from the raw corpus.
    "q_lsh_index_maintain" -> ((s, d) => {
      val dir = lshIndexMntDir(s, d)
      graft.io.IndexHealth.tombstoneMaintenanceLog(s, dir)
        .select(col("seq"), col("dead_ratio"), col("action"),
          col("survivors"), col("folded"))
    }),

    // SimHash near-dup pairs within Hamming distance 3. md5 token hashing
    // so DuckDB can rebuild the exact 64-bit simhash; slice blocking is
    // recall-complete by pigeonhole, so the oracle is exact.
    "q_dedup_simhash" -> ((s, d) =>
      Dedup.simhashPairs(documents(s, d), "doc_id", "text", maxHamming = 3,
        tokenHasher = "md5")),

    // Exact edit-distance verification over prefix blocks — the
    // verify-the-candidates stage after any blocking scheme: equal
    // 16-char normalized prefix blocks (equi join, never all-pairs),
    // Levenshtein over the 64-char prefix, keep dist <= 8.
    "q_dedup_edit" -> ((s, d) =>
      Dedup.editDistancePairs(documents(s, d), "doc_id", "text")),

    // embedding-cosine near-dup pairs through the SRP-LSH blocked path —
    // the plan that survives 100×: bucket equi-joins over L independent
    // hash tables (OR-construction, ~0.87 pair recall at cos 0.4), never
    // all-pairs. The DuckDB oracle rebuilds the SAME buckets from the
    // seeded hyperplanes (inlined as literals — projections are just
    // dot-product signs), so blocking, the cross-table distinct, and the
    // cosine arithmetic are all hash-verified exactly.
    "q_dedup_cosine" -> ((s, d) =>
      Knn.cosinePairs(embeddings(s, d), "vec_id", "embedding", threshold = 0.4,
        numPlanes = cosLshPlanes, numTables = cosLshTables, seed = cosLshSeed,
        expectedDim = Some(cosLshDim))),

    // exact all-pairs twin (B×B block-pair replication): the small-data
    // oracle for recall studies — quadratic by nature, NOT a scale path
    "q_dedup_cosine_exact" -> ((s, d) =>
      Knn.cosinePairs(embeddings(s, d), "vec_id", "embedding", threshold = 0.4)),

    // SemDeDup cluster-then-prune with the TRAINED quantizer: nearest-
    // centroid assignment against the offline k-means centroids
    // (SemanticCentroids — seeded spherical Lloyd's over a corpus sample,
    // frozen as literals; the full production recipe of Abbas et al.
    // 2023), one shuffle by cluster, drop any vector cosine-similar to a
    // lower-id clustermate. Fully value-oracled: DuckDB inlines the SAME
    // frozen centroids and replays assignment argmax (identical left-fold
    // dot products, centroid-id tie-break) and the in-cluster prune, so
    // cluster ids, keep flags, and both joins are hash-checked exactly.
    // Threshold 0.4 = the corpus's near-dup band (the same bar
    // q_dedup_cosine uses), so the prune path demonstrably fires here
    // (~20 drops at sf0.01); at 0.5 this synthetic corpus has no
    // in-cluster pair above the bar and the drop join would be a no-op.
    "q_dedup_semantic" -> ((s, d) =>
      SemanticDedup.keepFlags(embeddings(s, d), "vec_id", "embedding",
        centroids = semanticCentroidFrame(s), cidCol = "cid",
        threshold = 0.4)),

    // recall of the LSH-blocked path measured against the exact twin,
    // value-oracled (not merely bounded): both pair sets rebuild in SQL, so
    // the driver hash-checks the exact n_exact/n_found/recall numbers. A
    // blocking regression (plane drift, bucket packing bug, probe loss)
    // lands here as a hash mismatch even if q_dedup_cosine's own rows stay
    // plausible.
    "q_dedup_cosine_recall" -> ((s, d) => {
      val lsh = Knn.cosinePairs(embeddings(s, d), "vec_id", "embedding",
        threshold = 0.4, numPlanes = cosLshPlanes, numTables = cosLshTables,
        seed = cosLshSeed, expectedDim = Some(cosLshDim))
        .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
      val exact = Knn.cosinePairs(embeddings(s, d), "vec_id", "embedding",
        threshold = 0.4)
        .select(col("id_a"), col("id_b"))
      exact.join(lsh, Seq("id_a", "id_b"), "left_outer")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_found"),
          round(sum(coalesce(col("hit"), lit(0L))).cast("double") /
            count(lit(1)), 6).as("recall"))
    }),

    // Distributed Lloyd's k-means trained IN-ENGINE (KMeans.scala): 3
    // iterations, k=8, md5-rank seeding, fixed-point long domain — per
    // iteration one projection-only assignment (centroids ride the plan
    // as an array literal; no join) + one O(k·dim)-buffer typed
    // aggregate. Bit-for-bit oracled: DuckDB unrolls the identical
    // iterations as CTEs (integer sums/divs are order- and
    // engine-independent). Emits (cid, n, inertia, pos, cval).
    "q_kmeans_train" -> ((s, d) =>
      graft.sim.KMeans.trainReadout(embeddings(s, d), "vec_id", "embedding",
        k = 8, dim = cosLshDim, iters = 3)),

    // One-pass Gram matrix (Gram.scala) — the covariance/PCA precursor:
    // a SINGLE typed aggregate whose shuffle carries one d(d+1)/2 long
    // buffer per partition (first 16 dims here); products/sums of
    // quantized longs are exact, so the upper triangle hash-matches the
    // SQL replay. At 100 TB this is the only shape that works: the d x d
    // second moment reduces map-side; eigen work on it is driver trivia.
    "q_gram_matrix" -> ((s, d) =>
      graft.sim.Gram.gramReadout(embeddings(s, d), "embedding", dim = 16)),

    // int8 embedding quantization (VectorQuant): one stats aggregate,
    // then a pure projection — 4x storage cut, no corpus shuffle. DuckDB
    // replays the exact integer codes (floor(x+0.5), not round(): engines
    // disagree on round-half semantics) and the reconstruction error.
    "q_vec_quantize" -> ((s, d) =>
      graft.sim.VectorQuant.quantizeInt8(embeddings(s, d), "vec_id",
        "embedding", dim = cosLshDim)),

    // Chunk→document embedding pooling: elementwise mean per group (every
    // 50 vectors stand in for one document's chunks) as ONE grouped
    // ObjectHashAggregate with an O(dim) buffer — not explode+groupBy(dim),
    // which would shuffle rows×dim records. Micro-unit integer CSV is the
    // cross-engine canonical form (sum order and double formatting both
    // differ engine-to-engine; integers don't).
    "q_vec_mean_pool" -> ((s, d) =>
      graft.sim.VectorQuant.meanPool(
        embeddings(s, d).withColumn("group_id",
          floor(col("vec_id") / 50).cast("long")),
        "group_id", "embedding", dim = cosLshDim)),

    // brute-force cosine top-5 for query vectors vec_id < 10 (oracled)
    "q_knn_brute" -> ((s, d) => {
      val emb = embeddings(s, d)
      Knn.bruteForceTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5)
    }),

    // Hard-negative mining (Knn.hardNegatives): top-5 nearest-by-cosine
    // candidates with a DIFFERENT label per query — the contrastive-
    // training negative set; label inequality fused into the join
    // predicate so ranking never sees positives. Oracled row-for-row
    // against the same cosine/tie-break arithmetic in DuckDB.
    "q_hard_negatives" -> ((s, d) => {
      val emb = embeddings(s, d)
      Knn.hardNegatives(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", "label", k = 5)
    }),

    // Per-document top-k exact-Jaccard neighbors (Dedup.jaccardTopK):
    // the retrieval face of the pair detector — same lang-blocked
    // df-capped postings, k best per DIRECTION (jaccard desc, id asc).
    "q_dedup_topk_jaccard" -> ((s, d) =>
      Dedup.jaccardTopK(documents(s, d), "doc_id", "text",
        blockCols = Seq("lang"), n = 2, k = 3,
        maxDocFreq = jaccardDfCap)),

    // SRP-LSH bucketed ANN with 2-bit multiprobe, self-validating: the
    // query computes recall@5 against the in-query brute-force answer and
    // emits an invariant row the DuckDB oracle checks (query/result counts
    // from the data + the recall bound as a literal). The synthetic
    // embeddings have near-uniform similarity (no planted neighbors), so
    // measured mean recall is 0.92-0.94 here; any probe-coverage
    // regression flips recall_ge_085 and fails the hash. The recall-vs-
    // probe curve is asserted in ScalaTest.
    "q_knn_lsh" -> ((s, d) => {
      val emb = embeddings(s, d)
      val q = emb.filter(col("vec_id") < 10)
      annRecallSummary(
        Knn.lshTopK(q, emb, "vec_id", "embedding", k = 5,
          numPlanes = 3, multiprobe = 2),
        Knn.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5))
    }),

    // IVF coarse-quantizer ANN — the billion-vector layout (spherical
    // quantizer, nprobe/nlist = 5/8 here; the ratio shrinks as nlist grows
    // with corpus size). Same self-validating recall contract as q_knn_lsh
    // (measured 0.90-0.92 on this corpus).
    "q_knn_ivf" -> ((s, d) => {
      val emb = embeddings(s, d)
      val q = emb.filter(col("vec_id") < 10)
      annRecallSummary(
        Knn.ivfTopK(q, emb, "vec_id", "embedding", k = 5,
          nlist = 8, nprobe = 5),
        Knn.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5))
    }),

    // The PERSISTENT index face of the IVF stack, maintained
    // INCREMENTALLY: the index is built once on the even-id half of the
    // corpus (trained centroids + hive cell=N/ vector layout on disk),
    // the odd-id half arrives later via IvfIndex.append — assigned
    // against the FROZEN centroids, appended into the existing cell
    // dirs, no rewrite of any existing file (IvfIndexSpec pins the
    // filesystem half + one-shot-write equivalence). The probe then
    // reads nprobe cell DIRECTORIES under partition pruning and must
    // meet the same recall contract vs the float brute-force truth as
    // the inline queries — proving the ingest path kept the index
    // search-equivalent, not just written.
    "q_knn_ivf_index" -> ((s, d) => {
      val emb = embeddings(s, d)
      val q = emb.filter(col("vec_id") < 10)
      val dir = ivfIndexDir(s, d)
      annRecallSummary(
        graft.sim.IvfIndex.search(s, dir, q, "vec_id", "embedding",
          k = 5, nprobe = 6),
        Knn.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5))
    }),

    // The IVF maintenance loop's LEDGER value-oracled (r18 verdict task
    // 5 — the q_text_index_maintain doctrine on the vector index): the
    // fixture builds on the FROZEN SemDeDup quantizer (so the oracle can
    // replay assignment), runs maintain on the healthy index (skew
    // ~1.7-2.2 at every SF, under the 4.0 bar — "none"), appends one
    // copy of vec 0's embedding per corpus vector (every dup lands in
    // vec 0's cell: skew ~16.5, over the bar), then maintains twice —
    // the first bad observation HELD by hysteresis (badToAct = 2), the
    // second retrains. recallFloor = 0 pins THIS fixture's decision to
    // the skew arm (the scenario is an occupancy flood); the RECALL arm
    // of the same decision is value-oracled by its own fixture below
    // (q_knn_ivf_maintain_recall — r19 verdict task 1, enabled by the
    // md5-deterministic probe sample). The oracle recomputes the
    // assignment argmin, both skews, and the bar crossings from the raw
    // embeddings — the decision logic itself is value-checked, not just
    // the moves.
    "q_knn_ivf_maintain" -> ((s, d) => {
      val dir = ivfMntDir(s, d)
      graft.sim.IvfIndex.maintenanceLog(s, dir)
        .select(col("seq"), col("skew"), col("skew_bar"),
          col("unhealthy"), col("consecutive_bad"), col("action"))
    }),

    // The RECALL arm of the IVF maintenance decision value-oracled
    // (r19 verdict task 1 — the half of `unhealthy` the skew fixture
    // deliberately pins off). recallProbe now samples its self-queries
    // by md5(seed:vec_id) order (partition-invariant, engine-replayable
    // — the Mixing.drawU doctrine), so DuckDB can replay the WHOLE
    // recall pipeline: probe sample → per-query nprobe-cell ANN search
    // → brute cosine truth → recall → floor crossing. The fixture owns
    // its quantizer: 8 orthonormal basis centroids e_0..e_7 (trivial
    // literals, exactly symmetric geometry), a healthy corpus of 8
    // tight anchored clusters c_r + β·û_i (every member assigns to its
    // anchor cell; self-query top-5 stays in-cell → recall 1.0, skew
    // ~1.0), then DRIFT: pods anchored on exact Voronoi midpoints
    // (e_2p + e_2p+1) + β·û_i — the jitter's coordinate difference
    // û[2p]−û[2p+1] splits each pod ~50/50 across the boundary, so a
    // drift self-query's true neighbors straddle two cells while
    // nprobe=1 reads one: measured recall 1.0 → 0.81-0.82 across all
    // three SFs with skew flat at ~1.0 (floor 0.92 sits mid-gap; the
    // skew arm stays quiet — recall alone drives held-then-retrain).
    "q_knn_ivf_maintain_recall" -> ((s, d) => {
      val dir = ivfRecallDir(s, d)
      graft.sim.IvfIndex.maintenanceLog(s, dir)
        .select(col("seq"), col("skew"), col("recall"), col("skew_bar"),
          col("recall_floor"), col("unhealthy"), col("consecutive_bad"),
          col("action"))
    }),

    // The full production ANN stack (FAISS IVF+SQ8 shape): coarse
    // quantizer cells bound the probe set AND candidates ride as int8
    // codes — nlist/nprobe cuts the work, int8 cuts the scan bytes 4x.
    // Same recall contract vs the FLOAT brute-force truth, so the
    // invariant prices cells and quantization together.
    "q_knn_ivf_quantized" -> ((s, d) => {
      val emb = embeddings(s, d)
      val q = emb.filter(col("vec_id") < 10)
      annRecallSummary(
        Knn.ivfTopK(q, emb, "vec_id", "embedding", k = 5,
          nlist = 8, nprobe = 5, quantized = true, dim = Some(cosLshDim)),
        Knn.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5))
    }),

    // Wide-dim end-to-end probe: the production embedding width (1536,
    // the text-embedding standard) through the full quantize → IVF+SQ8 →
    // top-k stack. The corpus's 64-dim vectors are expanded IN-PLAN by
    // deterministic tiling (tile r scales the base vector by r), which
    // multiplies every dot product and both norms by the same factor —
    // cosine geometry is IDENTICAL to the 64-dim corpus, so the recall
    // invariant stays anchored while the stats aggregate, int8 codes,
    // cell assignment and scoring all run at the real width. PlanShapeSpec
    // pins the dim-1536 stats pass to ONE ObjectHashAggregate.
    "q_knn_wide" -> ((s, d) => {
      val wide = flatten(transform(sequence(lit(1), lit(24)),
        r => transform(graft.sim.Vectors.toDoubleArray(col("embedding")),
          x => x * r.cast("double"))))
      // r20: spread the single-row-group scan BEFORE the dim-1536 tiling
      // projection — otherwise every pass (k-means sample, stats, cell
      // assignment, both scorers) re-evaluates the interpreted tiling HOF
      // on ONE task (measured: three serial 1-task 1.0-1.8 s stages).
      // Post-exchange, the operators' own spread() no-ops, and the tile
      // runs 32-way in each pass.
      val emb = graft.prep.Preprocessing.spread(embeddings(s, d))
        .select(col("vec_id"), wide.as("embedding"))
      val q = emb.filter(col("vec_id") < 10)
      annRecallSummary(
        Knn.ivfTopK(q, emb, "vec_id", "embedding", k = 5,
          nlist = 8, nprobe = 5, quantized = true, dim = Some(24 * cosLshDim)),
        Knn.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5))
    }),

    // Product quantization + exact refine — the 16-32x billion-vector
    // FAISS tier above SQ8: candidates ride as m=16 sub-centroid codes
    // (16 bytes vs 256 float bytes), the asymmetric pass ranks against
    // code reconstructions, and a constant-size shortlist re-ranks on
    // true floats. Same in-plan recall contract vs the float brute twin
    // (measured 0.94-1.0 at m=16/ksub=64/shortlist=100 across the three
    // SFs — near-uniform similarity is PQ's worst case, which is exactly
    // why the refine stage is part of the operator).
    "q_knn_pq" -> ((s, d) => {
      val emb = embeddings(s, d)
      val q = emb.filter(col("vec_id") < 10)
      annRecallSummary(
        Knn.pqTopK(q, emb, "vec_id", "embedding", k = 5, dim = cosLshDim),
        Knn.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5))
    }),

    // Quantized (asymmetric-distance) ANN: float queries scored against
    // int8-dequantized candidates — the 4x scan-bytes cut that makes
    // 100 TB ANN affordable. Same self-validating recall contract as
    // q_knn_lsh/q_knn_ivf, but vs the FLOAT brute-force path, so the
    // invariant pins how much ranking fidelity quantization costs
    // (measured ~1.0 on this corpus: per-dim error <= scale/2 barely
    // moves cosine ranks).
    "q_knn_quantized" -> ((s, d) => {
      val emb = embeddings(s, d)
      val q = emb.filter(col("vec_id") < 10)
      annRecallSummary(
        Knn.quantizedTopK(q, emb, "vec_id", "embedding", k = 5,
          dim = cosLshDim),
        Knn.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5))
    }),

    // Binary (sign) quantization + Hamming shortlist + exact refine — the
    // 32x memory tier below SQ8 (256 sign bits = 32 bytes/vector,
    // dim-independent): first pass ranks by XOR+popcount over packed longs
    // (no floats touched), a constant-size shortlist re-ranks on true
    // floats. Same in-plan recall contract vs the float brute twin as the
    // other ANN variants (measured 1.0 here — shortlist 100 over this
    // corpus; the bit budget and shortlist both scale independently of
    // corpus size, and the recall-vs-bits curve is pinned in KnnBinarySpec).
    "q_knn_binary" -> ((s, d) => {
      val emb = embeddings(s, d)
      val q = emb.filter(col("vec_id") < 10)
      annRecallSummary(
        Knn.binaryTopK(q, emb, "vec_id", "embedding", k = 5,
          numBits = 256, shortlist = 100),
        Knn.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5))
    }),

    // Asymmetric-distance binary ANN (Knn.binaryAdcTopK, r17 verdict
    // task 6): corpus stays 256 sign bits, the query keeps its floats —
    // distance-to-code instead of code-to-code, the SDC→ADC upgrade at
    // IDENTICAL memory and scan bytes. Two in-plan contracts: the
    // saturated-shortlist recall_ge_085 every ANN variant carries, AND
    // adc_ge_sym_starved — at a starved shortlist (20, where the refine
    // cannot repair estimator misses) the asymmetric estimator's recall
    // must match-or-beat the symmetric Hamming one (measured 0.78 vs
    // 0.68 at sf0.001; expectation backed by a 20-seed study in
    // KnnBinarySpec: ADC wins 18-19/20 with mean +0.07..+0.11).
    "q_knn_binary_adc" -> ((s, d) => {
      val emb = embeddings(s, d)
      val q = emb.filter(col("vec_id") < 10)
      annAdcSummary(
        Knn.binaryAdcTopK(q, emb, "vec_id", "embedding", k = 5,
          numBits = 256, shortlist = 100),
        Knn.binaryAdcTopK(q, emb, "vec_id", "embedding", k = 5,
          numBits = 256, shortlist = 20),
        Knn.binaryTopK(q, emb, "vec_id", "embedding", k = 5,
          numBits = 256, shortlist = 20),
        Knn.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5))
    }),

    // The composed billion-scale serving stack (Knn.ivfBinaryTopK):
    // IVF cells bound per-query work to nprobe/nlist of the corpus AND
    // candidates ride as 256 sign bits inside the probed cells
    // (XOR+popcount scan, 32 bytes/vector), with the constant-size
    // shortlist refined on true floats. Same recall contract vs the
    // float brute twin — the invariant prices cells, codes, and refine
    // together. nprobe 7/8 is SIZED FOR THE FIXTURE (near-uniform
    // similarity, tiny nlist — the q_dedup_cosine doctrine): measured
    // 0.94 at sf0.1 vs 0.82-0.86 at 5-6/8, where unprobed-cell misses
    // dominate; at production nlist (thousands) the same ratio argument
    // runs in reverse and nprobe/nlist shrinks with corpus size.
    "q_knn_ivf_binary" -> ((s, d) => {
      val emb = embeddings(s, d)
      val q = emb.filter(col("vec_id") < 10)
      annRecallSummary(
        Knn.ivfBinaryTopK(q, emb, "vec_id", "embedding", k = 5,
          nlist = 8, nprobe = 7, numBits = 256, shortlist = 150),
        Knn.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5))
    }),

    // Diversity-aware selection (Coreset.kCenterGreedy): the 4 vectors
    // that COVER the embedding space — k-1 passes, each ONE global
    // struct-max aggregate (no shuffle, no window, centers ride as
    // literals). Deterministic (min-id anchor, lower-id ties), so the
    // DuckDB oracle replays the greedy loop exactly as k unrolled CTEs
    // ranking on the same left-fold doubles.
    "q_select_kcenter" -> ((s, d) =>
      graft.sim.Coreset.kCenterGreedy(embeddings(s, d), "vec_id",
        "embedding", k = kcenterK)),

    // The large-k composition (r17 verdict task 3): assign to the frozen
    // SemDeDup quantizer, advance the greedy selection in EVERY cell
    // simultaneously — kPerCell-1 passes, each one groupBy(cell)
    // struct-max (map-side combine, no data shuffle), selecting
    // 32 x kcenterCellsK centers for the arithmetic a flat greedy would
    // spend on ~3 (the nCells² saving). Deterministic per-cell anchors
    // let the oracle replay assignment + every level as unrolled CTEs.
    "q_select_kcenter_cells" -> ((s, d) =>
      graft.sim.Coreset.kCenterPerCell(embeddings(s, d), "vec_id",
        "embedding", kPerCell = kcenterCellsK,
        centroids = semanticCentroidFrame(s), cidCol = "cid",
        centroidVecCol = "embedding")),

    // Benchmark decontamination — the pretraining hygiene op: flag every
    // train document sharing ANY word 5-gram with the eval set (here:
    // every 50th doc stands in for the benchmark). Shape: explode grams to
    // postings, distinct the (small) benchmark gram set, LEFT-SEMI join —
    // an inverted-index membership probe; the 100 TB train side streams
    // through one shuffle on 5-gram keys and non-matching docs never
    // materialize a pair.
    "q_contamination" -> ((s, d) => {
      val docs = documents(s, d)
      val grams = docs.select(col("doc_id"),
        explode(Dedup.wordShingles(col("text"), 5)).as("g"))
      val bench = grams.filter(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("g")).distinct()
      grams.filter(pmod(col("doc_id"), lit(50)) =!= 0)
        .join(bench, Seq("g"), "left_semi")
        .select(col("doc_id")).distinct()
    }),

    // Bloom-filter decontamination, self-validating: the broadcast-bloom
    // probe (no shuffle of the train side — the 100 TB plan) runs beside
    // the exact semi-join twin, and the output row asserts the filter's
    // one-sided-error contract: every exactly-contaminated doc flags
    // (no_false_negatives) and the false-positive overhead stays under 5%
    // of the train corpus (fpp=1e-4 over ~70 grams/doc → ~0.7% expected).
    // DuckDB recomputes n_train/n_exact exactly and pins both booleans.
    "q_contamination_bloom" -> ((s, d) => contaminationBloom(s, d, None)),

    // End-to-end corpus curation: quality filter -> language filter ->
    // exact dedup -> per-language token statistics. The composability
    // showcase — one declarative plan, fully DuckDB-oracled.
    "q_curation_pipeline" -> ((s, d) => {
      val docs = documents(s, d)
      val scored = docs.select(col("doc_id"), col("text"), col("lang"),
          graft.text.TextFunctions.tokenCount(col("text")).as("n_tokens"),
          graft.text.TextFunctions.fingerprint(col("text")).as("fp"))
        .filter(col("n_tokens") >= 5)
        .filter(col("lang").isin("en", "de", "fr", "es"))
      // min (not first): identical texts could in principle carry different
      // lang labels — min is deterministic on both engines
      val deduped = scored.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("doc_id"),
          min(col("lang")).as("lang"), min(col("n_tokens")).as("n_tokens"))
      deduped.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("total_tokens"),
          round(sum(col("n_tokens")).cast("double") / count(lit(1)), 6)
            .as("avg_tokens"))
    }),

    // THE WHOLE PIPELINE: corpus-level boilerplate removal → quality +
    // language filter → exact dedup on the CLEANED text → benchmark
    // decontamination of the cleaned 5-grams → context-window chunk
    // accounting, one declarative plan end to end. Every stage is an
    // operator proven above on its own; this query pins that they
    // COMPOSE — Catalyst sees one tree (no materialization barriers), and
    // the DuckDB twin replays every stage, so a semantics drift anywhere
    // in the chain lands here even if each stage's own query stays green.
    //
    // BENCH NOTE — the r16→r17 clean-close creep (6.11 → 7.78 s vs the
    // 6.58 floor) is ADJUDICATED (r18, measured, the q_zorder_layout
    // playbook): no code touched this query since the floor was cut, and
    // a fresh-JVM rep profile on identical code reads
    // 18.7/38.8/7.7/8.1/7.2/7.1 s — the heaviest codegen chain in the
    // battery (five composed stages) JIT-converges to a 7.1-7.2 s steady
    // state (1.08× floor), so a median-of-3 close samples the
    // compilation tail and lands anywhere in 6.1-8.6 s depending on how
    // much the neighboring battery queries pre-warmed. Cause named: JIT
    // tail + box noise, not a plan change; escalate only past the
    // 1.75×/1.0 s mid drift tier, which the steady state sits far under.
    "q_corpus_build" -> ((s, d) => corpusBuild(s, d, materialize = true)),

    // Incremental-ingest dedup: even doc_ids play the standing corpus,
    // odd doc_ids the nightly batch — admit only fingerprints the corpus
    // lacks, min-id winner within the batch.
    "q_dedup_incremental" -> ((s, d) => {
      val docs = documents(s, d)
      Dedup.incrementalDedup(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text")
    }),

    // Domain-mixture weighting — the data-mixing step of a pretraining
    // corpus build: per domain (lang standing in), the sampling weight that
    // rescales its observed token share to a uniform target mixture
    // (weight = target_share / observed_share; >1 upsample, <1 downsample).
    // One aggregation plus a broadcast-sized window over the domain rows —
    // corpus-scale work is the single groupBy, so the plan holds at 100 TB.
    "q_mix_weights" -> ((s, d) => {
      val perDomain = documents(s, d)
        .select(col("lang"),
          graft.text.TextFunctions.tokenCount(col("text")).as("n_tokens"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("domain_tokens"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy() // all domains: a handful of rows post-aggregation
      perDomain
        .withColumn("share",
          col("domain_tokens").cast("double") /
            sum(col("domain_tokens")).over(w))
        .withColumn("target",
          lit(1.0) / count(lit(1)).over(w))
        .select(col("lang"), col("n_docs"), col("domain_tokens"),
          round(col("share"), 6).as("share"),
          round(col("target") / col("share"), 6).as("weight"))
    }),

    // Mixture weights under the REAL token accounting: domain budgets in
    // frozen-merge BPE tokens instead of whitespace tokens (production
    // budgets are subword-based; whitespace counts skew the share of
    // agglutinative/verbose domains). Same aggregation + domain-row
    // window shape as q_mix_weights.
    "q_mix_weights_bpe" -> ((s, d) => {
      val perDomain = documents(s, d)
        .select(col("lang"),
          size(graft.text.Bpe.tokenize(col("text"))).cast("long").as("__nb"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__nb")).cast("long").as("domain_bpe_tokens"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy()
      perDomain
        .withColumn("share",
          col("domain_bpe_tokens").cast("double") /
            sum(col("domain_bpe_tokens")).over(w))
        .withColumn("target", lit(1.0) / count(lit(1)).over(w))
        .select(col("lang"), col("n_docs"), col("domain_bpe_tokens"),
          round(col("share"), 6).as("share"),
          round(col("target") / col("share"), 6).as("weight"))
    }),

    // Corpus version diff — both "versions" derived in-plan so each
    // engine sees identical inputs (the q_pii_scrub planting technique):
    // v2 edits every 7th doc, drops every 13th, and adds a shifted copy
    // of every 11th. One fingerprint projection per side + a single
    // full-outer id join; the summary counts what a re-process has to
    // touch (added+changed) vs skip (unchanged).
    "q_corpus_diff" -> ((s, d) => {
      val docs = documents(s, d)
      val v2 = docs
        .filter(pmod(col("doc_id"), lit(13)) =!= 0)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(col("text"), lit(" [edited v2]")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(11)) === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.corpusDiff(docs, v2, "doc_id", "text")
        .groupBy(col("change_type"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // Temperature-scaled mixture weights (the mT5/XLM-R multilingual
    // recipe: sampling share ∝ observed_share^alpha, alpha < 1 flattens
    // the distribution toward low-resource domains). Same single
    // aggregation + domain-row window as q_mix_weights; the upsample
    // factor temp_share/share is what a sampler multiplies each domain's
    // keep rate by.
    "q_mix_temperature" -> ((s, d) => {
      val alpha = 0.3
      val perDomain = documents(s, d)
        .select(col("lang"),
          graft.text.TextFunctions.tokenCount(col("text")).as("n_tokens"))
        .groupBy(col("lang"))
        .agg(sum(col("n_tokens")).cast("long").as("domain_tokens"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy()
      perDomain
        .withColumn("share",
          col("domain_tokens").cast("double") /
            sum(col("domain_tokens")).over(w))
        .withColumn("temp_share",
          pow(col("share"), alpha) / sum(pow(col("share"), alpha)).over(w))
        .select(col("lang"), col("domain_tokens"),
          round(col("share"), 6).as("share"),
          round(col("temp_share"), 6).as("temp_share"),
          round(col("temp_share") / col("share"), 6).as("upsample"))
    }),

    // Weighted sampling WITHOUT replacement — Efraimidis–Spirakis
    // (2006): per row a key ln(u)/w from the md5-uniform draw u and the
    // weight w (token count here: longer docs proportionally likelier),
    // global top-k by key = an exact weighted sample. The draw is a
    // pure function of doc_id (DeterministicSampling doctrine — the
    // sample replays across engines/reruns), and top-k is TakeOrdered:
    // per-partition heaps + one k-row driver merge, no global sort, the
    // distributed-sampling shape that holds at 100 TB.
    "q_weighted_sample" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("lang"),
        graft.text.TextFunctions.tokenCount(col("text")).as("n_tokens"))
        .filter(col("n_tokens") >= 1)
      // clamp the draw away from 0 (md5 32-bit prefix can legitimately be
      // 0x00000000 — p=2^-32 per row, a certainty at 100 TB): ln(0) is
      // -inf here but an Out of Range ERROR in the DuckDB oracle, and a
      // NULL key would sort differently across engines. The clamp floor
      // is one draw-quantum, so no other draw value is disturbed.
      val u = greatest(
        graft.prep.DeterministicSampling.uniformDraw(col("doc_id")),
        lit(1.0 / 4294967296.0))
      docs.withColumn("key", log(u) / col("n_tokens"))
        .orderBy(col("key").desc, col("doc_id"))
        .limit(100)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          round(col("key"), 6).as("es_key"))
    }),

    // Distribution drift between two corpus versions — the mixture
    // monitor a recurring corpus build runs before retraining: per-domain
    // KL(P||Q), KL(Q||P), and Jensen-Shannon contribution terms over the
    // token-mass shares of v1 (the shipped corpus) vs v2 (the candidate,
    // derived in-plan: every 13th doc dropped, every 5th doubled — both
    // engines see identical inputs). Shape: ONE aggregate per side over
    // the corpus, then all arithmetic on the handful of domain rows
    // (inner join keeps the terms finite; a domain present on one side
    // only is exactly what q_corpus_diff already surfaces). Token sums
    // are exact BIGINTs, shares are single double divisions, so both
    // engines feed identical doubles into log().
    "q_mix_divergence" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("lang"),
        graft.text.TextFunctions.tokenCount(col("text")).as("n_tokens"))
      val v2 = docs.filter(pmod(col("doc_id"), lit(13)) =!= 0)
        .unionByName(docs.filter(pmod(col("doc_id"), lit(5)) === 0))
      def shares(df: DataFrame, tot: String): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window.partitionBy()
        df.groupBy(col("lang"))
          .agg(sum(col("n_tokens")).cast("long").as(tot))
          .withColumn(tot + "_share",
            col(tot).cast("double") / sum(col(tot)).over(w))
      }
      val p = shares(docs, "t1")
      val q = shares(v2, "t2")
      val ps = col("t1_share"); val qs = col("t2_share")
      val m = (ps + qs) / 2.0
      p.join(q, Seq("lang"))
        .select(col("lang"), col("t1"), col("t2"),
          round(ps, 6).as("p_share"), round(qs, 6).as("q_share"),
          round(ps * log(ps / qs), 6).as("kl_pq_term"),
          round(qs * log(qs / ps), 6).as("kl_qp_term"),
          round(ps / 2.0 * log(ps / m) + qs / 2.0 * log(qs / m), 6)
            .as("js_term"))
    }),

    // Graded decontamination: instead of the binary flag, the FRACTION of
    // each train doc's distinct 5-grams that appear in the benchmark set —
    // the threshold knob real pipelines tune (drop at >x% overlap, keep
    // incidental collisions). Same inverted-index shape as
    // q_contamination: one semi-ish join on gram keys, counts per doc.
    "q_contamination_overlap" -> ((s, d) => {
      val docs = documents(s, d)
      val grams = docs.select(col("doc_id"),
        explode(Dedup.wordShingles(col("text"), 5)).as("g"))
      val bench = grams.filter(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("g")).distinct().withColumn("__hit", lit(1L))
      grams.filter(pmod(col("doc_id"), lit(50)) =!= 0)
        .join(bench, Seq("g"), "left_outer")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_grams"),
          sum(coalesce(col("__hit"), lit(0L))).cast("long").as("n_matched"))
        .filter(col("n_matched") > 0)
        .select(col("doc_id"), col("n_grams"), col("n_matched"),
          round(col("n_matched").cast("double") / col("n_grams"), 6)
            .as("overlap"))
    }),

    // Domain-mixture sampling EXECUTED — the q_mix_weights weights applied
    // as a reproducible Bernoulli keep: the draw is a pure function of the
    // doc id (DeterministicSampling — md5 prefix, not rand()), so the
    // sample is identical across reruns, repartitionings, and engines,
    // and DuckDB replays the exact keep set. Corpus side is one scan +
    // one broadcast join against the handful of domain weights.
    "q_mix_sample" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("lang"),
        graft.text.TextFunctions.tokenCount(col("text")).as("n_tokens"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy()
      val weights = docs.groupBy(col("lang"))
        .agg(sum(col("n_tokens")).cast("double").as("domain_tokens"))
        .withColumn("weight",
          (lit(1.0) / count(lit(1)).over(w)) /
            (col("domain_tokens") / sum(col("domain_tokens")).over(w)))
        .select(col("lang"), col("weight"))
      docs.join(weights, Seq("lang"))
        .filter(graft.prep.DeterministicSampling.weightedKeep(
          col("doc_id"), col("weight")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tokens")).cast("long").as("kept_tokens"))
    })
  )

  private val ivfIndexWritten = scala.collection.concurrent.TrieMap.empty[String, String]

  /** One-time (per JVM x sf dir x fixture generation) incrementally-built
    * IVF index for `q_knn_ivf_index`: build on even vec_ids, append the
    * odd half against the frozen centroids (the staleness-stamped dir
    * protocol shared with [[graft.layout.LayoutQueries]]); a completion
    * marker distinguishes a finished build+append from an interrupted
    * one, which is discarded and redone whole.
    */
  private def ivfIndexDir(s: SparkSession, d: String): String =
    graft.ops.QueryFixtures.fixtureDir(ivfIndexWritten, "ivf_index",
        "embeddings", d) { dir =>
      val emb = embeddings(s, d)
      graft.sim.IvfIndex.build(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", dir, nlist = 8, sampleSize = 500, seed = 7L)
      graft.sim.IvfIndex.append(s, dir,
        emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
      ()
    }

  // q_knn_ivf_maintain's skew bar, shared by the fixture policy and the
  // interpolated oracle (the jaccardDfCap must-move-together pattern).
  // Measured headroom: natural skew 1.66-2.18 across the three SFs,
  // post-append ~16.5 — the bar sits ~2x from both.
  private val ivfMntSkewBar = 4.0

  private val ivfMntWritten = scala.collection.concurrent.TrieMap.empty[String, String]

  /** One-time maintenance-loop fixture for `q_knn_ivf_maintain`: build
    * on the frozen [[graft.sim.SemanticCentroids]] quantizer (oracle-
    * replayable assignment), maintain (healthy no-op), append one copy
    * of vec 0's embedding per corpus vector (ids offset by 1e6 — all
    * land in vec 0's cell), maintain twice (held, then retrain). Same
    * staleness-stamped dir + completion-marker protocol as
    * [[ivfIndexDir]].
    */
  private def ivfMntDir(s: SparkSession, d: String): String =
    graft.ops.QueryFixtures.fixtureDir(ivfMntWritten, "ivf_mnt",
        "embeddings", d) { dir =>
      val emb = embeddings(s, d)
      graft.sim.IvfIndex.buildWithCentroids(emb, "vec_id", "embedding",
        dir, graft.sim.SemanticCentroids.values.toSeq)
      // recallFloor = 0 disables the (JVM-sampled, non-replayable)
      // recall arm; the probe still runs, so keep it small
      val pol = graft.sim.IvfIndex.MaintenancePolicy(
        skewBar = ivfMntSkewBar, recallFloor = 0.0,
        probeN = 10, probeK = 5)
      graft.sim.IvfIndex.maintain(s, dir, pol)
      val v0 = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("__v0"))
      val dups = emb.select((col("vec_id") + 1000000L).as("vec_id"))
        .crossJoin(broadcast(v0))
        .select(col("vec_id"), col("__v0").as("embedding"))
      graft.sim.IvfIndex.append(s, dir, dups, "vec_id", "embedding")
      graft.sim.IvfIndex.maintain(s, dir, pol)
      graft.sim.IvfIndex.maintain(s, dir, pol)
      ()
    }

  // q_knn_ivf_maintain_recall knobs — shared by the fixture policy, the
  // engine-side corpus construction, and the interpolated oracle (the
  // ivfMntSkewBar must-move-together pattern). Measured landscape at
  // probeN=20/k=5/nprobe=1 across sf0.001/0.01/0.1: healthy recall
  // exactly 1.0 (skew 1.0-1.008), drifted recall 0.81-0.82 (skew
  // 1.02-1.08) — the 0.92 floor sits mid-gap with ≥0.08 margin both
  // sides, and skew never approaches the 4.0 bar.
  private val ivfRecallFloor = 0.92
  private val ivfRecallBeta = 0.25
  private val ivfRecallProbeN = 20
  private val ivfRecallK = 5

  /** The recall fixture's FROZEN quantizer: 8 orthonormal basis
    * centroids e_0..e_7. Owning the quantizer (instead of reusing the
    * trained SemDeDup centroids) is what makes the drift geometry
    * exact: equal norms + orthogonality put the pod anchors
    * e_2p + e_2p+1 precisely ON the assignment boundary, so the
    * per-member jitter decides the side — the trained centroids'
    * unequal norms bias every midpoint off-boundary (measured: pods
    * collapse into single cells and recall barely moves).
    */
  private def ivfBasisCentroids: Seq[Array[Double]] =
    (0 until 8).map(r => Array.tabulate(64)(i => if (i == r) 1.0 else 0.0))

  private def ivfRecallPolicy = graft.sim.IvfIndex.MaintenancePolicy(
    skewBar = ivfMntSkewBar, recallFloor = ivfRecallFloor, badToAct = 2,
    probeN = ivfRecallProbeN, probeK = ivfRecallK, probeNprobe = 1,
    seed = 42L)

  private val ivfRecallWritten = scala.collection.concurrent.TrieMap.empty[String, String]

  /** One-time maintenance fixture for `q_knn_ivf_maintain_recall`:
    * build the anchored-cluster corpus on the basis quantizer, maintain
    * (healthy — recall 1.0), append the midpoint-straddle drift pods,
    * maintain twice (held by hysteresis, then retrain — both decided by
    * the RECALL floor; skew stays ~1.0 throughout). Only β·û_i uses
    * corpus data (the jitter — real per-vector variety); anchors and
    * pods are pure literals, so the oracle rebuilds both corpora from
    * `embeddings` with +,*,/ and sqrt alone.
    */
  private def ivfRecallDir(s: SparkSession, d: String): String =
    graft.ops.QueryFixtures.fixtureDir(ivfRecallWritten, "ivf_recall",
        "embeddings", d) { dir =>
      val v = graft.sim.Vectors.toDoubleArray(col("embedding"))
      val jitter = embeddings(s, d).select(col("vec_id"), v.as("v"))
        .withColumn("n", graft.sim.Vectors.norm(col("v")))
        .filter(graft.sim.Vectors.finiteNorm(col("n")) && col("n") > 0)
        .select(col("vec_id"),
          transform(col("v"), x => x / col("n")).as("u"))
      val beta = lit(ivfRecallBeta)
      val cAll = array(ivfBasisCentroids.map(cr =>
        array(cr.map(lit): _*)): _*)
      val base = jitter.select(col("vec_id"),
        zip_with(element_at(cAll,
            (pmod(col("vec_id"), lit(8)) + 1).cast("int")),
          col("u"), (a, b) => a + beta * b).as("vec"))
      graft.sim.IvfIndex.buildWithCentroids(base, "vec_id", "vec", dir,
        ivfBasisCentroids)
      graft.sim.IvfIndex.maintain(s, dir, ivfRecallPolicy)
      val podAll = array((0 until 4).map { p =>
        array(Array.tabulate(64)(i => if (i / 2 == p) 1.0 else 0.0)
          .map(lit): _*)
      }: _*)
      val drift = jitter.select((col("vec_id") + 1000000L).as("vec_id"),
        zip_with(element_at(podAll,
            (pmod(col("vec_id"), lit(4)) + 1).cast("int")),
          col("u"), (a, b) => a + beta * b).as("vec"))
      graft.sim.IvfIndex.append(s, dir, drift, "vec_id", "vec")
      graft.sim.IvfIndex.maintain(s, dir, ivfRecallPolicy)
      graft.sim.IvfIndex.maintain(s, dir, ivfRecallPolicy)
      ()
    }

  private val lshIndexWritten = scala.collection.concurrent.TrieMap.empty[String, String]
  private val clusterIndexWritten = scala.collection.concurrent.TrieMap.empty[String, String]

  /** One-time (per JVM x sf dir x fixture generation) incrementally-built
    * cluster index for `q_dedup_cluster_index`: the q_dedup_clusters pair
    * graph split into thirds by (id_a + id_b) % 3 — build on residue 0,
    * then two addPairs epochs — so the resolved labels exercise
    * cross-epoch merges while the oracle stays the from-scratch cluster
    * SQL over ALL pairs.
    */
  private def clusterIndexDir(s: SparkSession, d: String): String =
    // v2: sealed-epoch layout (r16 review) — never reuse a pre-seal dir
    graft.ops.QueryFixtures.fixtureDir(clusterIndexWritten,
        "cluster_index_v2", "documents", d) { dir =>
      val pairs = Dedup.jaccardPairs(documents(s, d), "doc_id", "text",
        blockCols = Seq("lang"), n = 2, threshold = 0.1,
        maxDocFreq = jaccardDfCap).localCheckpoint(true)
      def part(r: Int) = pairs.filter(
        pmod(col("id_a") + col("id_b"), lit(3L)) === r)
      ClusterIndex.build(part(0), "id_a", "id_b", dir)
      ClusterIndex.addPairs(s, dir, part(1), "id_a", "id_b", epoch = 1)
      ClusterIndex.addPairs(s, dir, part(2), "id_a", "id_b", epoch = 2)
      Dedup.releasePlan(pairs)
    }

  private val clusterBestIndexWritten = scala.collection.concurrent.TrieMap.empty[String, String]

  /** [[clusterIndexDir]]'s best-enabled twin for
    * `q_dedup_keep_best_incremental`: same three-epoch pair-graph split,
    * built with [[ClusterIndex.buildWithBest]] / addPairsWithBest under
    * the q_dedup_keep_best quality rule (longest text, tie -> min id) so
    * per-epoch winner maintenance — including cross-epoch merges
    * changing a cluster's winner — is what the oracle checks.
    */
  private def clusterBestIndexDir(s: SparkSession, d: String): String =
    graft.ops.QueryFixtures.fixtureDir(clusterBestIndexWritten,
        "cluster_best_index", "documents", d) { dir =>
      val docs = documents(s, d)
      val score = length(col("text")).cast("long")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        blockCols = Seq("lang"), n = 2, threshold = 0.1,
        maxDocFreq = jaccardDfCap).localCheckpoint(true)
      def part(r: Int) = pairs.filter(
        pmod(col("id_a") + col("id_b"), lit(3L)) === r)
      ClusterIndex.buildWithBest(part(0), "id_a", "id_b",
        docs, "doc_id", score, dir)
      ClusterIndex.addPairsWithBest(s, dir, part(1),
        "id_a", "id_b", docs, "doc_id", score, epoch = 1)
      ClusterIndex.addPairsWithBest(s, dir, part(2),
        "id_a", "id_b", docs, "doc_id", score, epoch = 2)
      Dedup.releasePlan(pairs)
    }

  private val clusterRepairWritten = scala.collection.concurrent.TrieMap.empty[String, String]

  /** [[clusterBestIndexDir]] with a PLANTED CRASH for
    * `q_dedup_cluster_repair` (r19 verdict task 5): the same three-epoch
    * best-enabled build, then epoch 2's crash window is reproduced
    * exactly — its label/best updates and seal removed, its pairs left
    * (addPairs' write 1 landed, writes 2-3 did not). maintain then reads
    * the damage (`needs_repair` — a REPORT, because re-deriving winners
    * needs the corpus scores maintain must not invent),
    * [[ClusterIndex.repairWithBest]] re-derives epoch 2's labels AND
    * winners from the recorded pairs with the real score rule, and a
    * second maintain confirms the index healthy. The catalog query
    * value-checks BOTH faces: the healed keep set against the
    * from-scratch all-pairs truth, and the needs_repair→none arc.
    */
  private def clusterRepairDir(s: SparkSession, d: String): String =
    graft.ops.QueryFixtures.fixtureDir(clusterRepairWritten,
        "cluster_repair", "documents", d) { dir =>
      val docs = documents(s, d)
      val score = length(col("text")).cast("long")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        blockCols = Seq("lang"), n = 2, threshold = 0.1,
        maxDocFreq = jaccardDfCap).localCheckpoint(true)
      def part(r: Int) = pairs.filter(
        pmod(col("id_a") + col("id_b"), lit(3L)) === r)
      ClusterIndex.buildWithBest(part(0), "id_a", "id_b",
        docs, "doc_id", score, dir)
      ClusterIndex.addPairsWithBest(s, dir, part(1),
        "id_a", "id_b", docs, "doc_id", score, epoch = 1)
      ClusterIndex.addPairsWithBest(s, dir, part(2),
        "id_a", "id_b", docs, "doc_id", score, epoch = 2)
      Dedup.releasePlan(pairs)
      // plant the crash: epoch 2 loses its updates and seal, keeps its
      // pairs — the exact state a crash between addPairs' first and
      // last writes leaves behind. The update faces may legitimately be
      // absent (a no-change epoch writes none — fixture-regen-proof);
      // the seal always exists, so its removal is the asserted plant.
      val conf = s.sessionState.newHadoopConf()
      Seq(s"$dir/label_updates/epoch=2", s"$dir/best_updates/epoch=2")
        .foreach { p =>
          val hp = new org.apache.hadoop.fs.Path(p)
          hp.getFileSystem(conf).delete(hp, true)
          ()
        }
      val sealP = new org.apache.hadoop.fs.Path(s"$dir/seals/epoch_2")
      require(sealP.getFileSystem(conf).delete(sealP, true),
        "crash plant failed to remove epoch 2's seal")
      require(ClusterIndex.unsealedEpochs(s, dir) == Seq(2L),
        "planted crash must leave exactly epoch 2 unsealed")
      ClusterIndex.maintain(s, dir) // reads the damage: needs_repair
      val repaired = ClusterIndex.repairWithBest(s, dir, docs,
        "doc_id", score)
      require(repaired == Seq(2L), s"expected to repair epoch 2: $repaired")
      ClusterIndex.maintain(s, dir) // healthy again: none
      ()
    }

  /** One-time (per JVM x sf dir x fixture generation) incrementally-built
    * LSH index for `q_dedup_lsh_index`: build on even doc_ids, append the
    * %4==1 batch against the frozen hash parameters (same staleness-
    * stamped dir + completion-marker protocol as [[ivfIndexDir]]).
    */
  private def lshIndexDir(s: SparkSession, d: String): String =
    graft.ops.QueryFixtures.fixtureDir(lshIndexWritten, "lsh_index",
        "documents", d) { dir =>
      val doc = documents(s, d)
      LshIndex.build(doc.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", dir)
      LshIndex.append(s, dir,
        doc.filter(col("doc_id") % 4 === 1), "doc_id", "text")
      ()
    }

  private val lshIndexMntWritten = scala.collection.concurrent.TrieMap.empty[String, String]

  /** One-time maintenance-loop fixture for `q_lsh_index_maintain`:
    * full-corpus build, tombstone %11 → maintain (no-op), tombstone %7
    * as well → maintain (compacts). Same staleness-stamped dir +
    * completion-marker protocol as the other index fixtures.
    */
  private def lshIndexMntDir(s: SparkSession, d: String): String =
    graft.ops.QueryFixtures.fixtureDir(lshIndexMntWritten, "lsh_index_mnt2",
        "documents", d) { dir =>
      val doc = documents(s, d)
      LshIndex.build(doc, "doc_id", "text", dir)
      // filesBar pinned off — the q_text_index_maintain fixture
      // reasoning: the oracle replays only the dead-ratio signal
      val pol = graft.io.IndexHealth.MaintenancePolicy(filesBar = Int.MaxValue)
      graft.io.IndexHealth.delete(s, dir,
        doc.filter(col("doc_id") % 11 === 0).select("doc_id"), "doc_id")
      LshIndex.maintain(s, dir, pol)
      graft.io.IndexHealth.delete(s, dir,
        doc.filter(col("doc_id") % 7 === 0).select("doc_id"), "doc_id")
      LshIndex.maintain(s, dir, pol)
      ()
    }

  /** One-row recall@k summary of an ANN result vs the brute-force truth:
    * (n_queries, n_result_rows, k, recall_ge_085). Everything but the
    * recall bound is data-derived, so the DuckDB oracle can reproduce it;
    * the bound itself flips to 0 (hash mismatch) if probe coverage decays.
    */
  private def annRecallSummary(ann: DataFrame, brute: DataFrame): DataFrame = {
    val a = ann.select(col("query_id"), col("neighbor_id"))
    val b = brute.select(col("query_id"), col("neighbor_id"))
      .withColumn("is_true", lit(1))
    a.join(b, Seq("query_id", "neighbor_id"), "left_outer")
      .agg(
        countDistinct(col("query_id")).cast("long").as("n_queries"),
        count(lit(1)).cast("long").as("n_result_rows"),
        lit(5L).as("k"),
        (sum(coalesce(col("is_true"), lit(0))).cast("double") / count(lit(1))
          >= 0.85).cast("long").as("recall_ge_085"))
  }

  /** The q_knn_binary_adc readout: the standard saturated-shortlist
    * recall contract PLUS the asymmetric-vs-symmetric starved-shortlist
    * comparison, all in one plan (three 1-row recall aggregates crossed
    * — each a bounded scalar).
    */
  private def annAdcSummary(full: DataFrame, adcStarved: DataFrame,
      symStarved: DataFrame, brute: DataFrame): DataFrame = {
    val b = brute.select(col("query_id"), col("neighbor_id"))
      .withColumn("is_true", lit(1))
    def stats(ann: DataFrame) =
      ann.select(col("query_id"), col("neighbor_id"))
        .join(b, Seq("query_id", "neighbor_id"), "left_outer")
        .agg(countDistinct(col("query_id")).cast("long").as("nq"),
          count(lit(1)).cast("long").as("nr"),
          (sum(coalesce(col("is_true"), lit(0))).cast("double") /
            count(lit(1))).as("r"))
    stats(full)
      .select(col("nq").as("n_queries"), col("nr").as("n_result_rows"),
        lit(5L).as("k"), (col("r") >= 0.85).cast("long").as("recall_ge_085"))
      .crossJoin(stats(adcStarved).select(col("r").as("ra")))
      .crossJoin(stats(symStarved).select(col("r").as("rs")))
      .select(col("n_queries"), col("n_result_rows"), col("k"),
        col("recall_ge_085"),
        (col("ra") >= col("rs")).cast("long").as("adc_ge_sym_starved"))
  }

  private val shinglesSql =
    """list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))"""
  private val toksSql =
    """list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')"""

  // SRP blocking parameters for q_dedup_cosine; the oracle inlines the
  // SAME seeded hyperplanes, so both engines compute identical buckets.
  // k=2 planes x L=4 tables: pair recall 1-(1-p^2)^4 ~ 0.87 at cos 0.4.
  // SIZED FOR THE FIXTURE, not for scale: this synthetic corpus has no
  // planted duplicates, so the 0.4 threshold sits in the similarity bulk
  // and only a coarse k keeps recall measurable. In production near-dup
  // dedup the threshold is ~0.9 (p ~ 0.86/plane), and k scales with the
  // corpus (k ~ log2(n / targetBucketRows), e.g. k=16 -> 65k buckets per
  // table at 1B vectors) while L sets recall (L=8 -> ~0.93). The OPERATOR
  // takes both as parameters; the plan shape (narrow-row bucket joins,
  // cross-table distinct, payload join by id) is identical at any k/L.
  private val cosLshPlanes = 2
  private val cosLshTables = 4
  private val cosLshSeed = 42L
  private val cosLshDim = 64 // embeddings.embedding element count (TESTDATA.md)

  /** The frozen offline-trained SemDeDup quantizer as a 32-row local
    * relation (cid, embedding) — broadcast-sized by construction; see
    * [[graft.sim.SemanticCentroids]] for training provenance.
    */
  private[graft] def semanticCentroidFrame(s: SparkSession): DataFrame = {
    import s.implicits._
    graft.sim.SemanticCentroids.values.toSeq.zipWithIndex
      .map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("cid", "embedding")
  }

  /** The same frozen centroids as a DuckDB VALUES relation — shortest-
    * round-trip double literals parse to the identical IEEE doubles, so
    * both engines score the identical quantizer.
    */
  private lazy val semanticCentroidsSql: String =
    graft.sim.SemanticCentroids.values.zipWithIndex.map { case (v, i) =>
      s"($i, CAST([${v.map(_.toString).mkString(", ")}] AS DOUBLE[]))"
    }.mkString(",\n             ")

  /** Oracle for the LSH-blocked cosine path: per table, bucket k-th bit =
    * sign of the k-th hyperplane projection (most-significant first,
    * matching Knn.srpBucket's reduceLeft); a pair is a candidate when its
    * buckets agree in ANY table (OR-construction). Plane coordinates are
    * Java double round-trip literals — DuckDB parses them to the identical
    * IEEE doubles, and both engines fold dot products left-to-right, so the
    * signs agree bit-for-bit.
    */
  // Document-frequency cap shared by the Spark call sites (explicit
  // maxDocFreq above) and the SQL twins (jaccardPairsCtes below). The two
  // MUST encode the same number: Dedup.jaccardPairs drops postings whose
  // (block, shingle) df exceeds the cap and recomputes set sizes over the
  // retained universe, so an oracle computing UNCAPPED Jaccard would
  // silently diverge the moment any shingle crosses the cap (common
  // bigrams cross 1000 docs somewhere between sf0.1 and sf1).
  // private[graft]: FixtureStats pins the pair graph built with THIS cap
  private[graft] val jaccardDfCap = 1000

  // Span length (in whitespace tokens) for exact substring dedup — shared
  // by the Spark call site and the SQL twin, same doctrine as
  // [[jaccardDfCap]]. 10 here so the operator actually fires on the
  // synthetic corpus (~1000 cross-doc 10-gram seeds at every SF);
  // production pipelines use ~50 per Lee et al. 2022 §4.
  private val substringMinLen = 10

  /** df-capped Jaccard pair CTEs — the exact SQL mirror of
    * [[Dedup.jaccardPairs]]: posting list per (lang, distinct bigram),
    * postings with df > [[jaccardDfCap]] dropped BEFORE pairing, set sizes
    * recomputed over the retained universe, Jaccard from exact integer
    * counts. Ends in a `pairs(id_a, id_b, jaccard)` CTE.
    */
  private def jaccardPairsCtes(threshold: Double): String =
    pairGraphCtes(threshold,
      "CAST(co.inter AS DOUBLE) / (sa.sz + sb.sz - co.inter)", "jaccard")

  private def containmentPairsCtes(threshold: Double): String =
    pairGraphCtes(threshold,
      "CAST(co.inter AS DOUBLE) / least(sa.sz, sb.sz)", "containment")

  // shared skeleton: same shingle space, df cap, and candidate join for
  // every pair score — only the closing formula differs, so the jaccard
  // and containment oracles cannot drift apart structurally. `pairs`
  // always carries contained_id (the smaller-set side; ties → id_a).
  private def pairGraphCtes(threshold: Double, scoreSql: String,
      scoreName: String): String =
    s"""t AS MATERIALIZED (SELECT doc_id, lang, $shinglesSql AS sh
          FROM (SELECT doc_id, lang, $toksSql AS toks FROM documents)
          WHERE len(toks) >= 2),
        post AS MATERIALIZED (SELECT doc_id, lang, unnest(sh) AS s FROM t),
        keptp AS MATERIALIZED (
          SELECT doc_id, lang, s FROM (
            SELECT doc_id, lang, s,
              count(*) OVER (PARTITION BY lang, s) AS df
            FROM post)
          WHERE df <= $jaccardDfCap),
        sz AS MATERIALIZED (SELECT doc_id, count(*) AS sz FROM keptp GROUP BY 1),
        co AS MATERIALIZED (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM keptp a JOIN keptp b
            ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        pairs AS MATERIALIZED (
          SELECT id_a, id_b, $scoreName, contained_id FROM (
            SELECT co.id_a, co.id_b,
              round($scoreSql, 6) AS $scoreName,
              CASE WHEN sa.sz <= sb.sz THEN co.id_a ELSE co.id_b END
                AS contained_id
            FROM co
            JOIN sz sa ON co.id_a = sa.doc_id
            JOIN sz sb ON co.id_b = sb.doc_id) p
          WHERE $scoreName >= $threshold)"""

  // One source of truth for the jaccard pair graph + reachability CTEs
  // behind q_dedup_clusters AND q_dedup_keep — both oracles must see the
  // identical graph or keep/drop silently validates a different clustering.
  private lazy val jaccardClusterCtes: String =
    s"""${jaccardPairsCtes(0.1)},
        edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL SELECT id_b, id_a FROM pairs),
        reach(v, r) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.v)"""

  private lazy val cosLshSqlFragments: (String, String) = {
    val tables = Knn.randomHyperplanes(cosLshPlanes * cosLshTables, cosLshDim, cosLshSeed)
      .grouped(cosLshPlanes).toSeq
    val bucketCols = tables.zipWithIndex.map { case (planes, t) =>
      val expr = planes.zipWithIndex.map { case (p, k) =>
        val lit = p.map(_.toString).mkString("[", ", ", "]")
        val weight = 1L << (cosLshPlanes - 1 - k)
        s"(CASE WHEN list_dot_product(v, $lit) >= 0 THEN $weight ELSE 0 END)"
      }.mkString(" + ")
      s"($expr) AS b$t"
    }.mkString(", ")
    val anyTable = tables.indices.map(t => s"x.b$t = y.b$t").mkString(" OR ")
    (bucketCols, anyTable)
  }

  // shared CTE bodies: embeddings as double vectors, their SRP buckets, the
  // LSH-candidate pair set, and the exact all-pairs set — composed by the
  // three cosine oracles below
  // unrounded cosine over explicit vector EXPRESSIONS (the semantic-dedup
  // oracle compares raw doubles — argmax and thresholding must see the
  // same bits the Spark side sees, so no round())
  private def cosSim2(a: String, b: String): String =
    s"""CASE WHEN sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)) > 0
          THEN list_dot_product($a, $b) /
            (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))
          ELSE 0.0 END"""

  private def cosSim(a: String, b: String): String =
    s"""round(CASE WHEN sqrt(list_dot_product($a.v, $a.v)) * sqrt(list_dot_product($b.v, $b.v)) > 0
          THEN list_dot_product($a.v, $b.v) /
            (sqrt(list_dot_product($a.v, $a.v)) * sqrt(list_dot_product($b.v, $b.v)))
          ELSE 0.0 END, 6)"""
  private lazy val cosCommonCtes: String = {
    val (bucketCols, anyTable) = cosLshSqlFragments
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
          WHERE isfinite(sqrt(list_dot_product(
            CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))))),
        b AS (SELECT vec_id, v, $bucketCols FROM e),
        lshp AS (
          SELECT id_a, id_b, cosine_sim FROM (
            SELECT x.vec_id AS id_a, y.vec_id AS id_b, ${cosSim("x", "y")} AS cosine_sim
            FROM b x JOIN b y ON x.vec_id < y.vec_id AND ($anyTable)) p
          WHERE cosine_sim >= 0.4),
        exactp AS (
          SELECT id_a, id_b, cosine_sim FROM (
            SELECT a.vec_id AS id_a, b2.vec_id AS id_b, ${cosSim("a", "b2")} AS cosine_sim
            FROM e a JOIN e b2 ON a.vec_id < b2.vec_id) p
          WHERE cosine_sim >= 0.4)"""
  }

  private lazy val cosLshOracleSql: String =
    s"WITH $cosCommonCtes SELECT id_a, id_b, cosine_sim FROM lshp"

  /** Recall of the LSH-blocked path against the exact pair set, computed
    * EXACTLY on both engines (both pair sets are SQL-expressible, so the
    * oracle checks the true recall value, not just a bound).
    */
  private lazy val cosRecallOracleSql: String =
    s"""WITH $cosCommonCtes
        SELECT count(*) AS n_exact,
          CAST(sum(CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
          round(CAST(sum(CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS recall
        FROM exactp x LEFT JOIN lshp l ON x.id_a = l.id_a AND x.id_b = l.id_b"""

  /** q_kmeans_train unrolled: the SAME 3 Lloyd iterations as CTEs. Exact
    * parity holds because every quantity is fixed-point long (offset
    * non-negative, so Spark `div` == DuckDB `//` == floor) and integer
    * sums are order-independent; seeding is the shared md5-rank protocol;
    * argmin ties break (d, cid) on both engines (Spark: array_position's
    * first-minimum; here: the row_number window). Empty clusters keep the
    * previous centroid via the left-join coalesce, mirroring
    * [[graft.sim.KMeans.train]]'s getOrElse.
    */
  private lazy val kmeansOracleSql: String = {
    val k = 8; val dim = 64
    def assign(s: String, a: String): String =
      s"""$a AS (
          SELECT vec_id, q, cid, d FROM (
            SELECT e.vec_id, e.q, s.cid,
              CAST(list_sum(list_transform(range(1,${dim + 1}),
                i -> (e.q[i]-s.c[i])*(e.q[i]-s.c[i]))) AS BIGINT) AS d
            FROM e CROSS JOIN $s s)
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1)"""
    def update(a: String, sprev: String, snew: String): String =
      s"""$snew AS (
          SELECT p.cid, coalesce(u.c, p.c) AS c FROM $sprev p LEFT JOIN (
            SELECT cid, list(s // n ORDER BY pos) AS c FROM (
              SELECT cid, i AS pos, CAST(sum(q[i]) AS BIGINT) AS s, count(*) AS n
              FROM $a, LATERAL unnest(range(1,${dim + 1})) AS u(i) GROUP BY cid, i)
            GROUP BY cid) u USING (cid))"""
    s"""WITH e AS (
          SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
            x -> CAST(floor(x*10000 + 0.5) AS BIGINT) + 100000) AS q
          FROM embeddings),
        s0 AS (
          SELECT CAST(row_number() OVER (ORDER BY m, vec_id) - 1 AS BIGINT) AS cid, q AS c
          FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS m, vec_id, q FROM e
                ORDER BY 1, 2 LIMIT $k)),
        ${assign("s0", "a1")}, ${update("a1", "s0", "s1")},
        ${assign("s1", "a2")}, ${update("a2", "s1", "s2")},
        ${assign("s2", "a3")}, ${update("a3", "s2", "s3")},
        ${assign("s3", "af")},
        stats AS (
          SELECT cid, CAST(count(*) AS BIGINT) AS n, CAST(sum(d) AS BIGINT) AS inertia
          FROM af GROUP BY cid)
        SELECT s.cid, coalesce(st.n, 0) AS n, coalesce(st.inertia, 0) AS inertia,
          CAST(u.i AS BIGINT) AS pos, s.c[u.i] AS cval
        FROM s3 s LEFT JOIN stats st USING (cid),
          LATERAL unnest(range(1,${dim + 1})) AS u(i)"""
  }


  /** Shared body of q_contamination_bloom. `prebuilt` (lint only) skips
    * the bloom-build driver action — sketch contents never change the
    * plan shape, so the screened plan is the runtime plan.
    */
  private def contaminationBloom(
      s: SparkSession,
      d: String,
      prebuilt: Option[org.apache.spark.util.sketch.BloomFilter]): DataFrame = {
    val docs = documents(s, d)
    val isBench = pmod(col("doc_id"), lit(50)) === 0
    val train = docs.filter(!isBench)
    val flags = Dedup.bloomContaminationFlags(
      train, docs.filter(isBench), "doc_id", "text", n = 5, fpp = 1e-4,
      prebuilt = prebuilt)
    val benchGrams = docs.filter(isBench)
      .select(explode(Dedup.wordShingles(col("text"), 5)).as("g")).distinct()
    val exact = train
      .select(col("doc_id"), explode(Dedup.wordShingles(col("text"), 5)).as("g"))
      .join(benchGrams, Seq("g"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("exact_hit", lit(true))
    flags.join(exact, Seq("doc_id"), "left_outer")
      .select(col("bloom_hit"),
        coalesce(col("exact_hit"), lit(false)).as("exact_hit"))
      .agg(count(lit(1)).cast("long").as("n_train"),
        sum(col("exact_hit").cast("long")).cast("long").as("n_exact"),
        (sum(when(col("exact_hit") && !col("bloom_hit"), 1L).otherwise(0L))
          === 0L).as("no_false_negatives"),
        (sum(when(col("bloom_hit") && !col("exact_hit"), 1L).otherwise(0L))
          <= ceil(count(lit(1)) * lit(0.05))).as("fp_bounded"))
  }

  /** Shared body of q_corpus_build. `materialize = false` (lint only)
    * elides the cleaned-corpus localCheckpoint so the WHOLE declarative
    * chain is one screenable tree; the runtime path keeps the boundary
    * (four downstream subtrees reuse the cleaned corpus — left lazy, each
    * reuse re-runs the boilerplate chain, measured ~19 s vs ~4 s at
    * sf0.1; narrow rows: id, cleaned text, counts).
    */
  private def corpusBuild(
      s: SparkSession,
      d: String,
      materialize: Boolean): DataFrame = {
    val docs = documents(s, d)
    val cleanedPlan = graft.text.Boilerplate
      .removeBoilerplate(docs, "doc_id", "text",
        n = graft.text.TextQueries.boilerplateN,
        maxDocFreq = graft.text.TextQueries.boilerplateDfCap,
        maxDocFraction = Some(graft.text.TextQueries.boilerplateDfFraction))
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val cleaned =
      if (materialize) cleanedPlan.localCheckpoint() else cleanedPlan
    val scored = cleaned
      .filter(col("n_kept") >= 5)
      .filter(col("lang").isin("en", "de", "fr", "es"))
    // (measured non-wins recorded: a window-over-fingerprint dedup and a
    // second checkpoint boundary both changed nothing — the residual
    // wall time is per-stage scheduler latency, constant in data size,
    // not recompute or exchange count)
    val deduped = scored.join(
      scored.groupBy(graft.text.TextFunctions.fingerprint(col("text_clean"))
          .as("fp"))
        .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val isBench = pmod(col("doc_id"), lit(50)) === 0
    val benchGrams = deduped.filter(isBench)
      .select(explode(Dedup.wordShingles(col("text_clean"), 5)).as("g"))
      .distinct()
    val contaminated = deduped.filter(!isBench)
      .select(col("doc_id"),
        explode(Dedup.wordShingles(col("text_clean"), 5)).as("g"))
      .join(benchGrams, Seq("g"), "left_semi")
      .select(col("doc_id")).distinct()
    deduped.filter(!isBench)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(floor((col("n_kept") - lit(1)).cast("double") / 32).cast("long")
          + lit(1L)).cast("long").as("n_chunks"),
        sum(col("n_kept")).cast("long").as("clean_tokens"))
  }

  /** Lint twins for the queries whose runtime path materializes
    * mid-plan (localCheckpoint / sketch build at construction): the SAME
    * logical content with the stage boundary elided, so
    * CatalogPlanLintSpec screens a full declarative tree instead of a
    * trivial post-checkpoint scan. NOT an execution path — Verify/Bench
    * run the `queries` entries.
    */
  val lintVariants: Map[String, (SparkSession, String) => DataFrame] = Map(
    // one symbolic propagation round over the full pair-detection subtree
    "q_dedup_clusters" -> ((s, d) =>
      Dedup.componentsRoundPlan(
        Dedup.jaccardPairs(documents(s, d), "doc_id", "text",
          blockCols = Seq("lang"), n = 2, threshold = 0.1,
          maxDocFreq = jaccardDfCap),
        "id_a", "id_b")),
    "q_dedup_keep" -> ((s, d) => {
      val clusters = Dedup.componentsRoundPlan(
        Dedup.jaccardPairs(documents(s, d), "doc_id", "text",
          blockCols = Seq("lang"), n = 2, threshold = 0.1,
          maxDocFreq = jaccardDfCap),
        "id_a", "id_b")
      val drop = clusters.filter(col("member_id") =!= col("cluster_id"))
        .select(col("member_id"))
      documents(s, d).select(col("doc_id"))
        .join(drop, col("doc_id") === col("member_id"), "left_anti")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).cast("long").as("kept_id_sum"))
    }),
    "q_contamination_bloom" -> ((s, d) => contaminationBloom(s, d,
      Some(org.apache.spark.util.sketch.BloomFilter.create(1000, 1e-4)))),
    "q_corpus_build" -> ((s, d) => corpusBuild(s, d, materialize = false)),
    // the probe without its checkpoint/pushdown stage boundary
    "q_dedup_lsh_index" -> ((s, d) =>
      LshIndex.probe(s, lshIndexDir(s, d),
        documents(s, d).filter(col("doc_id") % 4 === 3),
        "doc_id", "text", threshold = 0.3, materialize = false)),
    // kCenterGreedy returns a driver-built k-row frame — the screened
    // plan is the per-pass global struct-max aggregate itself
    "q_select_kcenter" -> ((s, d) =>
      graft.sim.Coreset.lintPass(embeddings(s, d), "vec_id", "embedding")),
    // same doctrine for the per-cell composition: screen the
    // assignment + one per-cell pass
    "q_select_kcenter_cells" -> ((s, d) =>
      graft.sim.Coreset.lintPerCellPass(embeddings(s, d), "vec_id",
        "embedding", semanticCentroidFrame(s), "cid", "embedding")))

  val oracles: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
         min(doc_id) AS keep_id, count(*) AS dup_cnt
         FROM documents GROUP BY 1""",

    // the stateful path must produce the SAME admission groups (in batch
    // mode one invocation sees the whole group, so keep_id = min id)
    "q_dedup_stateful" ->
      """SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
         min(doc_id) AS keep_id, count(*) AS dup_cnt
         FROM documents GROUP BY 1""",

    "q_dedup_incremental" ->
      """WITH corpus AS (
           SELECT DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
           FROM documents WHERE doc_id % 2 = 0
         ), batch AS (
           SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
           FROM documents WHERE doc_id % 2 = 1
         )
         SELECT fp, min(doc_id) AS keep_id, count(*) AS dup_cnt
         FROM batch b
         WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
         GROUP BY 1""",

    // Exact SQL replay of Dedup.substringDedup: same md5-keyed L-token
    // windows, same cross-doc seed rule (>=2 distinct docs, lowest doc
    // canonical), same position-coverage excision and single-space
    // rebuild. Window length interpolated from substringMinLen so a knob
    // edit cannot desynchronize the twins.
    "q_dedup_substring" ->
      s"""WITH base AS (
            SELECT doc_id,
              list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'), x -> x <> '') AS raw,
              list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\\s+'), x -> x <> '') AS low
            FROM documents),
          win AS (
            SELECT doc_id, i - 1 AS pos,
              md5(list_aggregate(low[i:i+$substringMinLen-1], 'string_agg', ' ')) AS k
            FROM base, LATERAL unnest(range(1, len(low) - $substringMinLen + 2)) AS u(i)
            WHERE len(low) >= $substringMinLen),
          seeds AS (
            SELECT k, min(doc_id) AS canon FROM win
            GROUP BY k HAVING count(DISTINCT doc_id) >= 2),
          covered AS (
            SELECT DISTINCT w.doc_id, u.p
            FROM win w JOIN seeds s ON w.k = s.k AND w.doc_id <> s.canon,
              LATERAL unnest(range(w.pos, w.pos + $substringMinLen)) AS u(p)),
          toks AS (
            SELECT doc_id, i - 1 AS p, raw[i] AS tok
            FROM base, LATERAL unnest(range(1, len(raw) + 1)) AS u(i)),
          kept AS (
            SELECT t.doc_id, t.p, t.tok
            FROM toks t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.p = c.p
            WHERE c.doc_id IS NULL),
          reb AS (
            SELECT doc_id, count(*) AS kept_n,
              string_agg(tok, ' ' ORDER BY p) AS clean
            FROM kept GROUP BY doc_id)
          SELECT b.doc_id,
            CAST(len(b.raw) AS BIGINT) AS n_tokens,
            CAST(len(b.raw) - coalesce(r.kept_n, 0) AS BIGINT) AS n_removed,
            coalesce(r.clean, '') AS clean_text
          FROM base b LEFT JOIN reb r ON b.doc_id = r.doc_id""",

    "q_dedup_jaccard" ->
      s"""WITH ${jaccardPairsCtes(0.3)}
          SELECT id_a, id_b, jaccard FROM pairs""",

    "q_dedup_containment" ->
      s"""WITH ${containmentPairsCtes(0.6)}
          SELECT id_a, id_b, containment, contained_id FROM pairs""",

    // brute-force exact replay of the prefix-filtered join: every pair
    // sharing any bigram, exact integer acceptance inter*100 >= pct*union
    // (the double jaccard column is reporting, never the comparison).
    // No df cap, no lang blocking — the Spark side's prefix candidates
    // are provably lossless, so the two agree row-for-row.
    "q_dedup_prefix" ->
      s"""WITH t AS (SELECT doc_id, $shinglesSql AS sh
            FROM (SELECT doc_id, $toksSql AS toks FROM documents
                  WHERE doc_id < 1250)
            WHERE len(toks) >= 2),
          post AS (SELECT doc_id, unnest(sh) AS s FROM t),
          sz AS (SELECT doc_id, count(*) AS sz FROM post GROUP BY 1),
          co AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
            FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
          SELECT co.id_a, co.id_b,
            round(CAST(co.inter AS DOUBLE) / (sa.sz + sb.sz - co.inter), 6)
              AS jaccard
          FROM co
          JOIN sz sa ON co.id_a = sa.doc_id
          JOIN sz sb ON co.id_b = sb.doc_id
          WHERE co.inter * 100 >= 50 * (sa.sz + sb.sz - co.inter)""",

    // Components = min reachable id per vertex, via recursive reachability
    // over the same symmetrized pair graph the Spark side propagates on.
    // Shared CTE block so both cluster-family oracles validate the SAME
    // pair graph (a threshold edit cannot diverge them).
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $jaccardClusterCtes
          SELECT CAST(v AS BIGINT) AS member_id, CAST(min(r) AS BIGINT) AS cluster_id
          FROM reach GROUP BY 1""",

    // the incremental index must resolve to the FROM-SCRATCH clustering —
    // same SQL as q_dedup_clusters by design
    "q_dedup_cluster_index" ->
      s"""WITH RECURSIVE $jaccardClusterCtes
          SELECT CAST(v AS BIGINT) AS member_id, CAST(min(r) AS BIGINT) AS cluster_id
          FROM reach GROUP BY 1""",

    "q_dedup_keep" ->
      s"""WITH RECURSIVE $jaccardClusterCtes,
          dropset AS (
            SELECT v FROM (SELECT v, min(r) AS cluster_id FROM reach GROUP BY 1)
            WHERE v <> cluster_id)
          SELECT count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS kept_id_sum
          FROM documents WHERE doc_id NOT IN (SELECT v FROM dropset)""",

    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE $jaccardClusterCtes,
          labels AS (SELECT v, min(r) AS cluster_id FROM reach GROUP BY 1),
          best AS (
            SELECT v FROM (
              SELECT l.v, row_number() OVER (PARTITION BY l.cluster_id
                ORDER BY length(d.text) DESC, l.v ASC) AS rn
              FROM labels l JOIN documents d ON d.doc_id = l.v)
            WHERE rn = 1),
          kept AS (
            SELECT v AS doc_id FROM best
            UNION ALL
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT v FROM labels))
          SELECT count(*) AS n_kept,
            CAST(sum(d.doc_id) AS BIGINT) AS kept_id_sum,
            CAST(sum(length(d.text)) AS BIGINT) AS kept_len_sum
          FROM documents d WHERE d.doc_id IN (SELECT doc_id FROM kept)""",

    // the REPAIRED index's keep set must equal the from-scratch keepBest
    // (same SQL as q_dedup_keep_best by design — repair re-derives the
    // crashed epoch exactly); the ledger arc columns are the fixture's
    // pinned decision constants (needs_repair with 1 unsealed epoch,
    // then none)
    "q_dedup_cluster_repair" ->
      s"""WITH RECURSIVE $jaccardClusterCtes,
          labels AS (SELECT v, min(r) AS cluster_id FROM reach GROUP BY 1),
          best AS (
            SELECT v FROM (
              SELECT l.v, row_number() OVER (PARTITION BY l.cluster_id
                ORDER BY length(d.text) DESC, l.v ASC) AS rn
              FROM labels l JOIN documents d ON d.doc_id = l.v)
            WHERE rn = 1),
          kept AS (
            SELECT v AS doc_id FROM best
            UNION ALL
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT v FROM labels))
          SELECT count(*) AS n_kept,
            CAST(sum(d.doc_id) AS BIGINT) AS kept_id_sum,
            CAST(sum(length(d.text)) AS BIGINT) AS kept_len_sum,
            'needs_repair,none' AS actions,
            CAST(1 AS BIGINT) AS unsealed_total
          FROM documents d WHERE d.doc_id IN (SELECT doc_id FROM kept)""",

    // the incrementally-maintained keep set must equal the from-scratch
    // keepBest — same SQL as q_dedup_keep_best by design
    "q_dedup_keep_best_incremental" ->
      s"""WITH RECURSIVE $jaccardClusterCtes,
          labels AS (SELECT v, min(r) AS cluster_id FROM reach GROUP BY 1),
          best AS (
            SELECT v FROM (
              SELECT l.v, row_number() OVER (PARTITION BY l.cluster_id
                ORDER BY length(d.text) DESC, l.v ASC) AS rn
              FROM labels l JOIN documents d ON d.doc_id = l.v)
            WHERE rn = 1),
          kept AS (
            SELECT v AS doc_id FROM best
            UNION ALL
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT v FROM labels))
          SELECT count(*) AS n_kept,
            CAST(sum(d.doc_id) AS BIGINT) AS kept_id_sum,
            CAST(sum(length(d.text)) AS BIGINT) AS kept_len_sum
          FROM documents d WHERE d.doc_id IN (SELECT doc_id FROM kept)""",

    // True near-dup pair set via an inverted-index posting join (cheap in
    // DuckDB too) — matches q_dedup_minhash whenever LSH recall holds.
    "q_dedup_minhash" ->
      s"""WITH t AS (SELECT doc_id, $shinglesSql AS sh
            FROM (SELECT doc_id, $toksSql AS toks FROM documents)
            WHERE len(toks) >= 2),
          p AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM t),
          co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              a.sz AS sza, b.sz AS szb, count(*) AS inter
            FROM p a JOIN p b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4)
          SELECT id_a, id_b, jaccard FROM (
            SELECT id_a, id_b,
              round(CAST(inter AS DOUBLE) / (sza + szb - inter), 6) AS jaccard
            FROM co) WHERE jaccard >= 0.3""",

    // TRUE cross-Jaccard pair set (probe batch x indexed corpus) rebuilt
    // from scratch — the incremental index path must find exactly these
    "q_dedup_lsh_index" ->
      s"""WITH t AS (SELECT doc_id, $shinglesSql AS sh
            FROM (SELECT doc_id, $toksSql AS toks FROM documents)
            WHERE len(toks) >= 2),
          i AS (SELECT doc_id, sh FROM t
            WHERE doc_id % 2 = 0 OR doc_id % 4 = 1),
          q AS (SELECT doc_id, sh FROM t WHERE doc_id % 4 = 3),
          pi AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM i),
          pq AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM q),
          co AS (SELECT a.doc_id AS index_id, b.doc_id AS probe_id,
              a.sz AS sza, b.sz AS szb, count(*) AS inter
            FROM pi a JOIN pq b ON a.s = b.s
            GROUP BY 1, 2, 3, 4)
          SELECT index_id, probe_id, jaccard FROM (
            SELECT index_id, probe_id,
              round(CAST(inter AS DOUBLE) / (sza + szb - inter), 6) AS jaccard
            FROM co) WHERE jaccard >= 0.3""",

    // both maintenance decisions recomputed from the raw corpus. The
    // spine holds only docs with >= 2 tokens (shingleN 2), so dead
    // ratio and survivors condition on it; folded counts every
    // tombstoned id (the sidecar count compact returns), spine or not.
    "q_lsh_index_maintain" ->
      s"""WITH sp AS (SELECT doc_id
            FROM (SELECT doc_id, $toksSql AS toks FROM documents)
            WHERE len(toks) >= 2),
          n AS (SELECT count(*) AS c FROM sp),
          t1 AS (SELECT count(*) AS c FROM sp WHERE doc_id % 11 = 0),
          t2 AS (SELECT count(*) AS c FROM sp
                 WHERE doc_id % 11 = 0 OR doc_id % 7 = 0),
          u2 AS (SELECT count(*) AS c FROM documents
                 WHERE doc_id % 11 = 0 OR doc_id % 7 = 0)
          SELECT CAST(0 AS BIGINT) AS seq,
            round(t1.c * 1.0 / n.c, 6) AS dead_ratio,
            'none' AS action,
            CAST(NULL AS BIGINT) AS survivors,
            CAST(NULL AS BIGINT) AS folded
          FROM n, t1
          UNION ALL
          SELECT CAST(1 AS BIGINT), round(t2.c * 1.0 / n.c, 6), 'compact',
            n.c - t2.c, u2.c
          FROM n, t2, u2""",

    // Full 64-bit SimHash rebuilt from scratch: md5 token hash -> per-bit
    // +/-1 vote -> sign bit -> all-pairs Hamming. Verifies the Spark
    // pipeline end to end (hash, votes, blocking recall).
    "q_dedup_edit" ->
      """WITH t AS (
        |  SELECT doc_id AS id,
        |         substr(regexp_replace(lower(text), '[^\x20-\x7e]', '', 'g'), 1, 16) AS blk,
        |         substr(regexp_replace(lower(text), '[^\x20-\x7e]', '', 'g'), 1, 64) AS cmp
        |  FROM documents
        |)
        |SELECT a.id AS id_a, b.id AS id_b,
        |       CAST(levenshtein(a.cmp, b.cmp) AS BIGINT) AS dist
        |FROM t a JOIN t b ON a.blk = b.blk AND a.id < b.id
        |WHERE levenshtein(a.cmp, b.cmp) <= 8""".stripMargin,

    "q_dedup_simhash" ->
      s"""WITH toks AS (
            SELECT doc_id, unnest($toksSql) AS t FROM documents),
          th AS (SELECT doc_id, md5(t) AS mh FROM toks),
          bits AS (
            SELECT doc_id, ks.k,
              CASE WHEN ((strpos('0123456789abcdef',
                  substr(mh, CAST(16 - (ks.k // 4) AS INT), 1)) - 1)
                  >> (ks.k % 4)) & 1 = 1
                THEN 1 ELSE -1 END AS s
            FROM th, (SELECT unnest(range(64)) AS k) ks),
          sh AS (SELECT doc_id, k,
              CASE WHEN sum(s) >= 0 THEN 1 ELSE 0 END AS bit
            FROM bits GROUP BY doc_id, k),
          h AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              CAST(sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS BIGINT) AS hamming
            FROM sh a JOIN sh b ON a.k = b.k AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
          SELECT id_a, id_b, hamming FROM h WHERE hamming <= 3""",

    "q_dedup_cosine" -> cosLshOracleSql,
    "q_dedup_cosine_recall" -> cosRecallOracleSql,

    "q_dedup_cosine_exact" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         SELECT id_a, id_b, cosine_sim FROM (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(CASE WHEN sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) > 0
               THEN list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
               ELSE 0.0 END, 6) AS cosine_sim
           FROM e a JOIN e b ON a.vec_id < b.vec_id) p
         WHERE cosine_sim >= 0.4""",

    "q_curation_pipeline" ->
      """WITH scored AS (
           SELECT doc_id, lang,
             len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tokens,
             md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
           FROM documents
           WHERE len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) >= 5
             AND lang IN ('en','de','fr','es')),
         deduped AS (
           SELECT fp, min(doc_id) AS doc_id,
             min(lang) AS lang, min(n_tokens) AS n_tokens
           FROM scored GROUP BY fp)
         SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(CAST(sum(n_tokens) AS DOUBLE) / count(*), 6) AS avg_tokens
         FROM deduped GROUP BY lang""",

    "q_mix_weights" ->
      """WITH per AS (
           SELECT lang, count(*) AS n_docs,
             CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))) AS BIGINT) AS domain_tokens
           FROM documents GROUP BY lang)
         SELECT lang, n_docs, domain_tokens,
           round(CAST(domain_tokens AS DOUBLE) / sum(domain_tokens) OVER (), 6) AS share,
           round((1.0 / count(*) OVER ()) /
             (CAST(domain_tokens AS DOUBLE) / sum(domain_tokens) OVER ()), 6) AS weight
         FROM per""",

    // BPE-token twin of q_mix_weights: per-doc token counts replayed via
    // the frozen-merge replace chain ('<' count per wrapped word), then
    // the identical share/weight arithmetic. The left-join spine keeps
    // zero-word docs in n_docs.
    "q_mix_weights_bpe" ->
      s"""WITH base AS (
            SELECT doc_id, lang,
              list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\\s+'), x -> x <> '') AS ws
            FROM documents),
          w AS (
            SELECT doc_id, ${graft.text.Bpe.bpeWordSqlExpr("ws[i]")} AS wr
            FROM base, LATERAL unnest(range(1, len(ws) + 1)) AS u(i)),
          perdoc AS (
            SELECT doc_id,
              CAST(sum(len(wr) - len(replace(wr, '<', ''))) AS BIGINT) AS nb
            FROM w GROUP BY doc_id),
          per AS (
            SELECT b.lang, count(*) AS n_docs,
              CAST(coalesce(sum(p.nb), 0) AS BIGINT) AS domain_bpe_tokens
            FROM base b LEFT JOIN perdoc p USING (doc_id)
            GROUP BY b.lang)
          SELECT lang, n_docs, domain_bpe_tokens,
            round(CAST(domain_bpe_tokens AS DOUBLE) / sum(domain_bpe_tokens) OVER (), 6) AS share,
            round((1.0 / count(*) OVER ()) /
              (CAST(domain_bpe_tokens AS DOUBLE) / sum(domain_bpe_tokens) OVER ()), 6) AS weight
          FROM per""",

    "q_contamination" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          g AS (SELECT doc_id,
              unnest(list_distinct(list_transform(range(1, len(toks) - 3),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                  || toks[i+3] || ' ' || toks[i+4]))) AS g
            FROM t WHERE len(toks) >= 5),
          bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0)
          SELECT DISTINCT doc_id FROM g
          WHERE doc_id % 50 <> 0 AND g IN (SELECT g FROM bench)""",

    "q_corpus_diff" ->
      """WITH v2 AS (
           SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' [edited v2]'
                  ELSE text END AS text
           FROM documents WHERE doc_id % 13 <> 0
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 11 = 0),
         f1 AS (SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
           FROM documents),
         f2 AS (SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
           FROM v2),
         d AS (SELECT
             CASE WHEN f1.doc_id IS NULL THEN 'added'
                  WHEN f2.doc_id IS NULL THEN 'removed'
                  WHEN f1.fp IS DISTINCT FROM f2.fp THEN 'changed'
                  ELSE 'unchanged' END AS change_type
           FROM f1 FULL OUTER JOIN f2 ON f1.doc_id = f2.doc_id)
         SELECT change_type, count(*) AS n_docs FROM d GROUP BY 1""",

    "q_mix_temperature" ->
      """WITH per AS (
           SELECT lang,
             CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))) AS BIGINT) AS domain_tokens
           FROM documents GROUP BY lang),
         sh AS (SELECT lang, domain_tokens,
             CAST(domain_tokens AS DOUBLE) / sum(domain_tokens) OVER () AS share
           FROM per)
         SELECT lang, domain_tokens,
           round(share, 6) AS share,
           round(pow(share, 0.3) / sum(pow(share, 0.3)) OVER (), 6) AS temp_share,
           round((pow(share, 0.3) / sum(pow(share, 0.3)) OVER ()) / share, 6) AS upsample
         FROM sh""",

    "q_weighted_sample" ->
      """WITH docs AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tokens
        |  FROM documents
        |  WHERE len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) >= 1),
        |keyed AS (
        |  SELECT doc_id, lang, n_tokens,
        |    ln(greatest(
        |      CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)
        |        / 4294967296.0,
        |      1.0 / 4294967296.0)) / n_tokens AS key
        |  FROM docs)
        |SELECT doc_id, lang, n_tokens, ROUND(key, 6) AS es_key
        |FROM keyed ORDER BY key DESC, doc_id LIMIT 100""".stripMargin,

    "q_mix_divergence" ->
      """WITH base AS (
           SELECT doc_id, lang,
             len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tokens
           FROM documents),
         v2 AS (
           SELECT * FROM base WHERE doc_id % 13 <> 0
           UNION ALL
           SELECT * FROM base WHERE doc_id % 5 = 0),
         p AS (
           SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS t1,
             CAST(sum(n_tokens) AS DOUBLE) / sum(sum(n_tokens)) OVER () AS p_share
           FROM base GROUP BY lang),
         q AS (
           SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS t2,
             CAST(sum(n_tokens) AS DOUBLE) / sum(sum(n_tokens)) OVER () AS q_share
           FROM v2 GROUP BY lang)
         SELECT p.lang, t1, t2,
           round(p_share, 6) AS p_share,
           round(q_share, 6) AS q_share,
           round(p_share * ln(p_share / q_share), 6) AS kl_pq_term,
           round(q_share * ln(q_share / p_share), 6) AS kl_qp_term,
           round(p_share / 2 * ln(p_share / ((p_share + q_share) / 2))
             + q_share / 2 * ln(q_share / ((p_share + q_share) / 2)), 6) AS js_term
         FROM p JOIN q ON p.lang = q.lang""",

    "q_contamination_overlap" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          g AS (SELECT doc_id,
              unnest(list_distinct(list_transform(range(1, len(toks) - 3),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                  || toks[i+3] || ' ' || toks[i+4]))) AS g
            FROM t WHERE len(toks) >= 5),
          bench AS (SELECT DISTINCT g, 1 AS hit FROM g WHERE doc_id % 50 = 0)
          SELECT doc_id, n_grams, n_matched,
            round(CAST(n_matched AS DOUBLE) / n_grams, 6) AS overlap
          FROM (
            SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
              CAST(sum(coalesce(bench.hit, 0)) AS BIGINT) AS n_matched
            FROM g LEFT JOIN bench USING (g)
            WHERE g.doc_id % 50 <> 0 GROUP BY 1) s
          WHERE n_matched > 0""",

    // exact counts + the bloom contract as pinned booleans: DuckDB cannot
    // rebuild the filter (implementation-defined hashing) but CAN verify
    // the train/contaminated counts and the one-sided-error invariants
    "q_contamination_bloom" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          g AS (SELECT doc_id,
              unnest(list_distinct(list_transform(range(1, len(toks) - 3),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                  || toks[i+3] || ' ' || toks[i+4]))) AS g
            FROM t WHERE len(toks) >= 5),
          bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0),
          exact AS (SELECT DISTINCT doc_id FROM g
            WHERE doc_id % 50 <> 0 AND g IN (SELECT g FROM bench))
          SELECT
            (SELECT count(*) FROM documents WHERE doc_id % 50 <> 0) AS n_train,
            (SELECT count(*) FROM exact) AS n_exact,
            TRUE AS no_false_negatives, TRUE AS fp_bounded""",

    "q_kmeans_train" -> kmeansOracleSql,

    // the upper triangle rebuilt over the same quantized longs — exact
    // integer products, order-independent sums
    "q_gram_matrix" ->
      """WITH e AS (
        |  SELECT list_transform((CAST(embedding AS DOUBLE[]))[1:16],
        |    x -> CAST(floor(x*10000+0.5) AS BIGINT)) AS q
        |  FROM embeddings)
        |SELECT u.i, v.j, CAST(sum(q[u.i]*q[v.j]) AS BIGINT) AS s, count(*) AS n
        |FROM e, LATERAL unnest(range(1,17)) AS u(i),
        |  LATERAL unnest(range(u.i,17)) AS v(j)
        |GROUP BY 1, 2""".stripMargin,

    // assignment argmax + in-cluster prune replayed exactly against the
    // SAME frozen trained centroids: same left-fold dot products, same
    // sqrt(da)*sqrt(db) denominator order, same (sim DESC, cid ASC)
    // tie-break — cluster ids and keep flags are deterministic doubles
    // compared on both engines
    "q_dedup_semantic" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          c AS (SELECT cid, cv FROM (VALUES
             $semanticCentroidsSql) t(cid, cv)),
          scored AS (
            SELECT e.vec_id, c.cid, ${cosSim2("e.v", "c.cv")} AS sim
            FROM e, c),
          assigned AS (
            SELECT vec_id, cid AS cluster_id FROM (
              SELECT vec_id, cid,
                row_number() OVER (PARTITION BY vec_id
                  ORDER BY sim DESC, cid ASC) AS rn
              FROM scored) r WHERE rn = 1),
          av AS (SELECT a.vec_id, a.cluster_id, e.v
                 FROM assigned a JOIN e USING (vec_id)),
          avp AS (SELECT * FROM av
                  WHERE isfinite(sqrt(list_dot_product(v, v)))),
          drops AS (
            SELECT DISTINCT b.vec_id FROM avp a JOIN avp b
              ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
            WHERE ${cosSim2("a.v", "b.v")} >= 0.4)
          SELECT a.vec_id, a.cluster_id, (d.vec_id IS NULL) AS keep
          FROM assigned a LEFT JOIN drops d ON a.vec_id = d.vec_id""",

    // every stage replayed over the SAME cleaning chain q_text_boilerplate
    // validates (shared CTEs) — filters, cleaned-text dedup, cleaned-gram
    // decontamination, closed-form chunk accounting
    "q_corpus_build" ->
      s"""WITH ${graft.text.TextQueries.boilerplateCtes},
          cleaned AS (SELECT d.doc_id, d.lang,
              coalesce(cln.text_clean, '') AS text_clean,
              coalesce(cln.n_kept, 0) AS n_kept
            FROM documents d LEFT JOIN cln USING (doc_id)),
          flt AS (SELECT * FROM cleaned
            WHERE n_kept >= 5 AND lang IN ('en', 'de', 'fr', 'es')),
          dd AS (SELECT * FROM flt WHERE doc_id IN (
            SELECT min(doc_id) FROM (
              SELECT doc_id,
                md5(lower(regexp_replace(trim(text_clean), '\\s+', ' ', 'g'))) AS fp
              FROM flt) f GROUP BY fp)),
          ct AS (SELECT doc_id, lang, n_kept,
              list_filter(regexp_split_to_array(lower(text_clean), '\\s+'),
                x -> x <> '') AS toksc
            FROM dd),
          cg AS (SELECT doc_id,
              unnest(list_distinct(list_transform(range(1, len(toksc) - 3),
                i -> toksc[i] || ' ' || toksc[i+1] || ' ' || toksc[i+2] || ' '
                  || toksc[i+3] || ' ' || toksc[i+4]))) AS g
            FROM ct WHERE len(toksc) >= 5),
          bg AS (SELECT DISTINCT g FROM cg WHERE doc_id % 50 = 0),
          cont AS (SELECT DISTINCT doc_id FROM cg
            WHERE doc_id % 50 <> 0 AND g IN (SELECT g FROM bg))
          SELECT lang, count(*) AS n_docs,
            CAST(sum((n_kept - 1) // 32 + 1) AS BIGINT) AS n_chunks,
            CAST(sum(n_kept) AS BIGINT) AS clean_tokens
          FROM ct
          WHERE doc_id % 50 <> 0
            AND doc_id NOT IN (SELECT doc_id FROM cont)
          GROUP BY 1""",

    // same md5-prefix draw and unrounded weight chain — the keep SET (not
    // just its size) is replayed, then summarized per domain
    "q_mix_sample" ->
      """WITH d AS (SELECT doc_id, lang,
           CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
         FROM documents),
         w AS (SELECT lang,
             (1.0 / count(*) OVER ()) /
               (domain_tokens / sum(domain_tokens) OVER ()) AS weight
           FROM (SELECT lang, CAST(sum(n_tokens) AS DOUBLE) AS domain_tokens
                 FROM d GROUP BY 1) p)
         SELECT d.lang, count(*) AS n_kept,
           CAST(sum(d.n_tokens) AS BIGINT) AS kept_tokens
         FROM d JOIN w ON d.lang = w.lang
         WHERE CAST(CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)
               / 4294967296.0 < least(w.weight, 1.0)
         GROUP BY 1""",

    // machine-generated per-dim replay of the same quantizer; the isfinite
    // norm filter mirrors the Spark-side poison guard (one NaN/Inf element
    // would corrupt that dimension's global min/max for every row)
    "q_vec_quantize" -> {
      val dims = 0 until cosLshDim
      val statCols = dims.map(d =>
        s"min(v[${d + 1}]) AS mn_$d, max(v[${d + 1}]) AS mx_$d").mkString(", ")
      def q(d: Int) =
        s"""CASE WHEN s.mx_$d = s.mn_$d THEN 0
            ELSE CAST(floor((v[${d + 1}] - s.mn_$d)
              / ((s.mx_$d - s.mn_$d) / 255.0) + 0.5) AS INT) END"""
      def err(d: Int) =
        s"""CASE WHEN s.mx_$d = s.mn_$d THEN abs(v[${d + 1}] - s.mn_$d)
            ELSE abs(v[${d + 1}] - (s.mn_$d + CAST(${q(d)} AS DOUBLE)
              * ((s.mx_$d - s.mn_$d) / 255.0))) END"""
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            WHERE isfinite(sqrt(list_dot_product(
              CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))))),
          s AS (SELECT $statCols FROM e)
          SELECT vec_id,
            array_to_string(list_value(${dims.map(q).mkString(", ")}), ',') AS q_csv,
            round(greatest(${dims.map(err).mkString(", ")}), 6) AS max_abs_err
          FROM e, s"""
    },

    // per-dim mean replayed via positional unnest + grouped avg, then
    // reassembled in dim order as micro-unit integers
    "q_vec_mean_pool" ->
      s"""WITH e AS (SELECT CAST(vec_id // 50 AS BIGINT) AS group_id,
            CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings
          WHERE isfinite(sqrt(list_dot_product(
            CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))))),
         p AS (SELECT group_id, d.i AS dim_i, v[d.i] AS x
           FROM e, (SELECT unnest(range(1, ${cosLshDim + 1})) AS i) d),
         m AS (SELECT group_id, dim_i,
             CAST(round(avg(x) * 1000000.0) AS BIGINT) AS micro
           FROM p GROUP BY 1, 2),
         agg AS (
           SELECT group_id, CAST(min(cnt) AS BIGINT) AS n_vecs,
             string_agg(CAST(micro AS VARCHAR), ',' ORDER BY dim_i) AS mean_micro_csv
           FROM (SELECT m.group_id, m.dim_i, m.micro,
                   (SELECT count(*) FROM e e2 WHERE e2.group_id = m.group_id) AS cnt
                 FROM m) g
           GROUP BY group_id),
         spine AS (SELECT DISTINCT CAST(vec_id // 50 AS BIGINT) AS group_id
           FROM embeddings)
         SELECT s.group_id, coalesce(a.n_vecs, 0) AS n_vecs,
           coalesce(a.mean_micro_csv, '') AS mean_micro_csv
         FROM spine s LEFT JOIN agg a USING (group_id)""",

    "q_knn_brute" -> bruteTopKSql,

    "q_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            WHERE isfinite(sqrt(list_dot_product(
              CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))))),
          q AS (SELECT vec_id AS query_id, label AS query_label, v AS qv
            FROM e WHERE vec_id < 10),
          scored AS (SELECT q.query_id, q.query_label,
            c.vec_id AS neighbor_id, c.label AS neighbor_label,
            CASE WHEN sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v)) > 0
              THEN list_dot_product(q.qv, c.v) /
                (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v)))
              ELSE 0.0 END AS sim
            FROM q JOIN e c
              ON q.query_id <> c.vec_id AND q.query_label <> c.label),
          ranked AS (SELECT query_id, neighbor_id,
            CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS BIGINT) AS rank,
            round(sim, 6) AS cosine_sim, query_label, neighbor_label
            FROM scored)
         SELECT query_id, neighbor_id, rank, cosine_sim, query_label, neighbor_label
         FROM ranked WHERE rank <= 5""",

    "q_dedup_topk_jaccard" ->
      s"""WITH ${jaccardPairsCtes(0.0)},
          sym AS (SELECT id_a AS doc_id, id_b AS neighbor_id, jaccard FROM pairs
                  UNION ALL
                  SELECT id_b, id_a, jaccard FROM pairs),
          ranked AS (SELECT doc_id, neighbor_id, jaccard,
            CAST(row_number() OVER (PARTITION BY doc_id ORDER BY jaccard DESC, neighbor_id ASC) AS BIGINT) AS rank
            FROM sym)
         SELECT doc_id, neighbor_id, jaccard, rank FROM ranked WHERE rank <= 3""",

    // ANN self-validation rows: counts come from the data, the recall
    // bound is the asserted invariant (see annRecallSummary).
    "q_knn_lsh" -> annSummarySql,
    "q_knn_ivf" -> annSummarySql,
    "q_knn_ivf_index" -> annSummarySql,

    // the IVF maintenance ledger replayed from the raw embeddings: the
    // frozen-quantizer assignment (argmin of the L2 distance from the
    // unit-normalized vector — list_dot_product(d, d) folds the squared
    // diffs left-to-right exactly like the engine's loop, cid-ascending
    // ties), per-cell occupancy, max*k/total skew for BOTH corpus states
    // (natural, and with one vec-0 dup per corpus vector folded into
    // vec 0's cell), HALF_UP round(6), and the bar crossings
    "q_knn_ivf_maintain" -> knnIvfMaintainSql,

    // the recall arm replayed whole: corpus construction, assignment,
    // md5 probe sample, nprobe=1 ANN vs brute truth, recall, floor
    // crossing (see knnIvfRecallSql)
    "q_knn_ivf_maintain_recall" -> knnIvfRecallSql,
    "q_knn_quantized" -> annSummarySql,
    "q_knn_ivf_quantized" -> annSummarySql,
    "q_knn_pq" -> annSummarySql,
    "q_knn_wide" -> annSummarySql,
    "q_knn_binary" -> annSummarySql,
    "q_knn_binary_adc" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
         CAST(5 * count(*) AS BIGINT) AS n_result_rows,
         CAST(5 AS BIGINT) AS k,
         CAST(1 AS BIGINT) AS recall_ge_085,
         CAST(1 AS BIGINT) AS adc_ge_sym_starved
         FROM embeddings WHERE vec_id < 10""",
    "q_knn_ivf_binary" -> annSummarySql,
    "q_select_kcenter" -> kcenterSql,
    "q_select_kcenter_cells" -> kcenterCellsSql
  )

  /** The per-cell greedy unrolled to `kcenterCellsK` levels over the
    * frozen-quantizer assignment: `a` replays the argmax-cosine window
    * (sim DESC, cid ASC — [[graft.sim.Coreset.assignedCells]]), s1 takes
    * every cell's min-id anchor in ONE windowed pass, and level i joins
    * the unselected members against their own cell's prior centers,
    * min-aggregates the distance, and takes each cell's (d DESC, id ASC)
    * max — all cells advance per level, exactly the Spark pass. Raw
    * doubles replay because both engines fold dot products left-to-right
    * and divide by the same precomputed-norm product.
    */
  private lazy val kcenterCellsSql: String = {
    val (ctes, sel) = kcenterCellsChain("embeddings", kcenterCellsK)
    s"WITH $ctes $sel"
  }

  /** The per-cell greedy chain as composable CTEs — ONE definition for
    * the q_select_kcenter_cells oracle and (r19, with `embSrc`/`p`
    * bound) the q_select_pipeline oracle's diversity stage. `embSrc`
    * must expose (vec_id, embedding); `p` prefixes every CTE name;
    * `mat` adds MATERIALIZED for deep compositions. Returns (ctes,
    * final UNION ALL select over the k levels).
    */
  private[graft] def kcenterCellsChain(embSrc: String, k: Int,
      p: String = "", mat: Boolean = false): (String, String) = {
    val m = if (mat) "MATERIALIZED " else ""
    val vcast = "CAST(embedding AS DOUBLE[])"
    val nrm = s"sqrt(list_dot_product($vcast, $vcast))"
    val eCte =
      s"""${p}e AS $m(SELECT vec_id AS id, $vcast AS v, $nrm AS nrm
          FROM $embSrc WHERE isfinite($nrm) AND $nrm > 0)"""
    val cCte =
      s"""${p}c AS $m(SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cn
          FROM (VALUES
             $semanticCentroidsSql) t(cid, cv))"""
    val aCte =
      s"""${p}a AS $m(SELECT id, v, nrm, cell FROM (
          SELECT e.id, e.v, e.nrm, c.cid AS cell,
            row_number() OVER (PARTITION BY e.id ORDER BY
              CASE WHEN e.nrm * c.cn > 0
                THEN list_dot_product(e.v, c.cv) / (e.nrm * c.cn)
                ELSE 0.0 END DESC, c.cid ASC) AS rn
          FROM ${p}e e, ${p}c c) r WHERE rn = 1)"""
    val s1 =
      s"""${p}s1 AS $m(SELECT cell, id, v, nrm, CAST(0.0 AS DOUBLE) AS d FROM (
          SELECT a.*, row_number() OVER (PARTITION BY cell ORDER BY id) AS rn
          FROM ${p}a a) r WHERE rn = 1)"""
    val rest = (2 to k).map { i =>
      val prev = (1 until i).map(j => s"SELECT * FROM ${p}s$j")
        .mkString(" UNION ALL ")
      s"""${p}s$i AS $m(SELECT cell, id, v, nrm, d FROM (
          SELECT t.*, row_number() OVER (PARTITION BY t.cell
            ORDER BY t.d DESC, t.id ASC) AS rn
          FROM (
            SELECT m.cell, m.id, m.v, m.nrm,
              min(1 - list_dot_product(m.v, s.v) / (m.nrm * s.nrm)) AS d
            FROM ${p}a m JOIN ($prev) s ON m.cell = s.cell
            WHERE m.id NOT IN (SELECT id FROM ($prev) p)
            GROUP BY m.cell, m.id, m.v, m.nrm) t) r
          WHERE rn = 1)"""
    }
    val selects = (1 to k).map(i =>
      s"""SELECT cell, CAST($i AS BIGINT) AS sel_rank, id,
          round(d, 6) AS sel_dist FROM ${p}s$i""")
    ((Seq(eCte, cCte, aCte, s1) ++ rest).mkString(", "),
      selects.mkString(" UNION ALL "))
  }

  /** The k-center greedy loop unrolled to `kcenterK` CTE levels: level i
    * ranks every unselected row by its min cosine distance to the i-1
    * prior centers and takes the max (d desc, id asc) — the exact
    * iteration Coreset.kCenterGreedy runs as Spark aggregates. Raw-double
    * ranking is replayable because both engines compute the dot product
    * as the same left fold (the q_knn_brute precedent); norms are
    * recomputed per level with the same sqrt(fold) arithmetic the
    * operator carries from its prep projection.
    */
  private lazy val kcenterSql: String = {
    val vcast = "CAST(embedding AS DOUBLE[])"
    val nrm = s"sqrt(list_dot_product($vcast, $vcast))"
    val eCte =
      s"""e AS (SELECT vec_id AS id, $vcast AS v, $nrm AS nrm
          FROM embeddings WHERE isfinite($nrm) AND $nrm > 0)"""
    val c1 =
      "c1 AS (SELECT id, v, nrm, CAST(0.0 AS DOUBLE) AS d FROM e ORDER BY id LIMIT 1)"
    def distTo(ci: String) =
      s"(1 - list_dot_product(e.v, (SELECT v FROM $ci)) / (e.nrm * (SELECT nrm FROM $ci)))"
    val rest = (2 to kcenterK).map { i =>
      val prev = (1 until i).map(j => s"c$j")
      val dExpr =
        if (prev.size == 1) distTo(prev.head)
        else "least(" + prev.map(distTo).mkString(", ") + ")"
      val notIn = prev.map(p => s"SELECT id FROM $p").mkString(" UNION ALL ")
      s"""c$i AS (SELECT id, v, nrm, d FROM (
          SELECT e.id, e.v, e.nrm, $dExpr AS d
          FROM e WHERE e.id NOT IN ($notIn))
          ORDER BY d DESC, id ASC LIMIT 1)"""
    }
    val selects = (1 to kcenterK).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS sel_rank, (SELECT id FROM c$i) AS id,
          round((SELECT d FROM c$i), 6) AS sel_dist""")
    // survivor parity (review fix): the operator returns EVERY survivor
    // when k exceeds them; an exhausted CTE level yields NULL scalar
    // subqueries here, which must drop rather than pad the oracle to k
    s"WITH ${(Seq(eCte, c1) ++ rest).mkString(", ")} " +
      s"SELECT * FROM (${selects.mkString(" UNION ALL ")}) t " +
      "WHERE id IS NOT NULL"
  }

  /** q_knn_ivf_maintain's replay — see the catalog entry's comment. The
    * skew arithmetic mirrors [[graft.sim.IvfIndex.occupancySkew]]
    * exactly: (CAST(max AS DOUBLE) * 32) / total; the PUBLISHED skew
    * rounds HALF_UP to 6 ([[graft.io.IndexHealth.round6HalfUp]], the
    * one ledger rounding doctrine — r19) while the bar crossing
    * compares the RAW value, because that is what maintain itself does
    * (decide on rawSkew, ledger the rounded one — review fix: deriving
    * unhealthy from the rounded skew would diverge from the engine
    * exactly at the bar). Decisions on rows 1-2 share s1: no corpus
    * change between the held observation and the acting one, so
    * maintain reads the identical skew twice.
    */
  private lazy val knnIvfMaintainSql: String = {
    val bar = ivfMntSkewBar
    s"""WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
        WHERE isfinite(sqrt(list_dot_product(
          CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))))),
      u AS (SELECT vec_id,
          CASE WHEN nrm = 0 THEN v
               ELSE list_transform(v, x -> x / nrm) END AS u
        FROM (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
              FROM base)),
      cent AS (SELECT cid, cv FROM (VALUES
         $semanticCentroidsSql) t(cid, cv)),
      cells AS MATERIALIZED (SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
          ORDER BY dist ASC, cid ASC) AS rn
        FROM (SELECT q.vec_id, q.cid, list_dot_product(q.d, q.d) AS dist
              FROM (SELECT u.vec_id, c.cid,
                  list_transform(range(1, len(u.u) + 1),
                    i -> u.u[i] - c.cv[i]) AS d
                FROM u, cent c) q)) r WHERE rn = 1),
      occ AS MATERIALIZED (SELECT cell, count(*) AS n FROM cells GROUP BY 1),
      c0 AS (SELECT cell FROM cells WHERE vec_id = 0),
      s0 AS (SELECT CAST(max(n) AS DOUBLE) * 32 / sum(n) AS raw FROM occ),
      s1 AS (SELECT
               CAST(max(n + CASE WHEN cell = (SELECT cell FROM c0)
                 THEN (SELECT sum(n) FROM occ) ELSE 0 END) AS DOUBLE) * 32 /
               (2 * (SELECT sum(n) FROM occ)) AS raw FROM occ)
      SELECT CAST(0 AS BIGINT) AS seq, round(raw, 6) AS skew,
        CAST($bar AS DOUBLE) AS skew_bar,
        raw >= CAST($bar AS DOUBLE) AS unhealthy,
        CAST(0 AS BIGINT) AS consecutive_bad, 'none' AS action FROM s0
      UNION ALL SELECT CAST(1 AS BIGINT), round(raw, 6), CAST($bar AS DOUBLE),
        raw >= CAST($bar AS DOUBLE), CAST(1 AS BIGINT), 'none' FROM s1
      UNION ALL SELECT CAST(2 AS BIGINT), round(raw, 6), CAST($bar AS DOUBLE),
        raw >= CAST($bar AS DOUBLE), CAST(2 AS BIGINT), 'retrain' FROM s1"""
  }

  /** Per-corpus-state assignment chain for [[knnIvfRecallSql]]: norms,
    * unit-normalize (the engine's Knn.unit zero-guard verbatim), argmin
    * L2 to the basis centroids (dist ASC, cid ASC ties — the nearestCell
    * stable order), and the (vec_id, v, vn, cell) relation every probe
    * CTE reads. MATERIALIZED: five downstream references each.
    */
  private def ivfRecallCellCtes(p: String, src: String): String =
    s"""${p}n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS vn
          FROM $src),
        ${p}dist AS (SELECT q.vec_id, q.cid,
            list_dot_product(q.d, q.d) AS dist
          FROM (SELECT a.vec_id, c.cid,
                  list_transform(range(1, len(a.uu) + 1),
                    i -> a.uu[i] - c.cv[i]) AS d
                FROM (SELECT vec_id, CASE WHEN vn = 0 THEN v
                        ELSE list_transform(v, x -> x / vn) END AS uu
                      FROM ${p}n) a, rcent c) q),
        ${p}cell AS MATERIALIZED (SELECT n.vec_id, n.v, n.vn, r.cell
          FROM ${p}n n JOIN (SELECT vec_id, cid AS cell FROM (
              SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                ORDER BY dist ASC, cid ASC) AS rn FROM ${p}dist) x
            WHERE rn = 1) r ON r.vec_id = n.vec_id)"""

  /** The recallProbe replay for one corpus state: md5-ordered sample
    * (the engine's deterministic draw verbatim), ANN top-k restricted to
    * each query's own assignment cell (nprobe=1 probes exactly the
    * argmin cell), brute top-k over the whole live state, recall rooted
    * at the brute TRUTH side, plus the occupancy skew of the state.
    */
  private def ivfRecallProbeCtes(p: String): String = {
    val src = s"${p}cell"
    def topk(name: String, cond: String) =
      s"""${p}$name AS (SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.query_id ORDER BY
                CASE WHEN q.qn * c.vn > 0
                     THEN list_dot_product(q.qv, c.v) / (q.qn * c.vn)
                     ELSE 0.0 END DESC, c.vec_id ASC) AS rk
            FROM ${p}q q JOIN $src c
              ON c.vec_id <> q.query_id$cond) r
          WHERE rk <= $ivfRecallK)"""
    s"""${p}samp AS (SELECT vec_id FROM $src
          ORDER BY md5('42:' || CAST(vec_id AS VARCHAR)), vec_id
          LIMIT $ivfRecallProbeN),
        ${p}q AS (SELECT c.vec_id AS query_id, c.v AS qv, c.vn AS qn,
            c.cell
          FROM $src c JOIN ${p}samp s ON s.vec_id = c.vec_id),
        ${topk("ann", " AND c.cell = q.cell")},
        ${topk("brute", "")},
        ${p}rec AS (SELECT round(CAST(count(a.query_id) AS DOUBLE)
              / count(*), 4) AS recall
          FROM ${p}brute b LEFT JOIN ${p}ann a
            ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id),
        ${p}skew AS (SELECT CAST(max(n) AS DOUBLE) * 8 / sum(n) AS raw
          FROM (SELECT cell, count(*) AS n FROM $src GROUP BY 1) o)"""
  }

  /** q_knn_ivf_maintain_recall's replay — see the catalog entry's
    * comment. Both corpora are REBUILT from the raw embeddings (anchored
    * clusters, then + the midpoint-straddle pods), both maintenance
    * reads (skew AND recall) recomputed per state, and `unhealthy` is
    * the emitted OR of the two bar crossings — the engine decides on
    * the raw skew and the round(4) recall, mirrored here. Rows 1-2
    * share the drifted state's reads: no corpus change between the held
    * observation and the acting one.
    */
  private lazy val knnIvfRecallSql: String = {
    val bar = ivfMntSkewBar
    val floor = ivfRecallFloor
    val beta = ivfRecallBeta
    def row(seq: Int, p: String, bad: Int, action: String) =
      s"""SELECT CAST($seq AS BIGINT) AS seq, round(s.raw, 6) AS skew,
          r.recall AS recall, CAST($bar AS DOUBLE) AS skew_bar,
          CAST($floor AS DOUBLE) AS recall_floor,
          (s.raw >= CAST($bar AS DOUBLE)
            OR r.recall < CAST($floor AS DOUBLE)) AS unhealthy,
          CAST($bad AS BIGINT) AS consecutive_bad, '$action' AS action
          FROM ${p}skew s, ${p}rec r"""
    s"""WITH eu AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u
          FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                    CAST(embedding AS DOUBLE[]))) AS nrm FROM embeddings) t
          WHERE isfinite(nrm) AND nrm > 0),
        rcent AS (SELECT r AS cid, list_transform(range(0, 64),
            i -> CASE WHEN i = r THEN 1.0 ELSE 0.0 END) AS cv
          FROM range(0, 8) t(r)),
        corp AS (SELECT vec_id, list_transform(range(1, 65),
            i -> (CASE WHEN i - 1 = anch THEN 1.0 ELSE 0.0 END)
                 + $beta * u[i]) AS v
          FROM (SELECT vec_id, vec_id % 8 AS anch, u FROM eu) t),
        dft AS (SELECT vec_id + 1000000 AS vec_id,
            list_transform(range(1, 65),
              i -> (CASE WHEN (i - 1) // 2 = pod THEN 1.0 ELSE 0.0 END)
                   + $beta * u[i]) AS v
          FROM (SELECT vec_id, vec_id % 4 AS pod, u FROM eu) t),
        ball AS (SELECT * FROM corp UNION ALL SELECT * FROM dft),
        ${ivfRecallCellCtes("a", "corp")},
        ${ivfRecallCellCtes("b", "ball")},
        ${ivfRecallProbeCtes("a")},
        ${ivfRecallProbeCtes("b")}
        ${row(0, "a", 0, "none")}
        UNION ALL ${row(1, "b", 1, "none")}
        UNION ALL ${row(2, "b", 2, "retrain")}"""
  }

  private lazy val annSummarySql =
    """SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(5 * count(*) AS BIGINT) AS n_result_rows,
       CAST(5 AS BIGINT) AS k,
       CAST(1 AS BIGINT) AS recall_ge_085
       FROM embeddings WHERE vec_id < 10"""

  private lazy val bruteTopKSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
          WHERE isfinite(sqrt(list_dot_product(
            CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))))),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        scored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
          CASE WHEN sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v)) > 0
            THEN list_dot_product(q.qv, c.v) /
              (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v)))
            ELSE 0.0 END AS sim
          FROM q JOIN e c ON q.query_id <> c.vec_id),
        ranked AS (SELECT query_id, neighbor_id,
          CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS BIGINT) AS rank,
          round(sim, 6) AS cosine_sim
          FROM scored)
       SELECT query_id, neighbor_id, rank, cosine_sim FROM ranked WHERE rank <= 5"""
}
