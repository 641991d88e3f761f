package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.dedup.Dedup
import graft.eval.Metrics
import graft.prep.Preprocessing
import graft.sim.Knn
import graft.split.Splits
import graft.text.TextFunctions

/** Operator-level invariants for the query-catalog building blocks (the
  * driver's DuckDB oracle covers end-to-end value parity; these specs cover
  * semantics the oracle can't, e.g. LSH recall and split balance).
  */
class OperatorsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumped over the lazy dog"), // near dup
    (4L, "completely different text about spark engines"),
    (5L, "Der schnelle braune Fuchs und der faule Hund und die Katze")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min-id winner per fingerprint") {
    val kept = Dedup.dropExactDuplicates(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(1L, 3L, 4L, 5L)) // 2 deduped into 1
  }

  test("connected components: chains, cliques, and isolated pairs resolve to component minima") {
    // 10-vertex path (diameter 9, forces several propagation rounds),
    // a triangle, an isolated pair, and ids deliberately out of order so
    // min-labels must flow AGAINST edge direction too
    val chain = (0 until 9).map(i => (100L + i, 101L + i))
    val triangle = Seq((20L, 21L), (21L, 22L), (20L, 22L))
    val pair = Seq((31L, 30L))
    val pairs = (chain ++ triangle ++ pair).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    (100L to 109L).foreach(v => assert(got(v) === 100L, s"chain vertex $v"))
    Seq(20L, 21L, 22L).foreach(v => assert(got(v) === 20L))
    assert(got(30L) === 30L && got(31L) === 30L)
    assert(got.size === 15) // every vertex labeled exactly once
    // the default call above took the driver union-find shortcut (13
    // pairs << cap); the distributed loop must produce the identical
    // labeling — the two tiers are one contract
    val loop = Dedup.connectedComponents(pairs, "id_a", "id_b",
        driverEdgeCap = 0L)
      .as[(Long, Long)].collect().toMap
    assert(loop === got)
  }

  test("connected components: driver shortcut and distributed loop agree on a random graph") {
    // residue-class pseudo-random graph: several components of mixed
    // size/shape, ids sparse and out of order
    val rnd = spark.range(0, 500).select(
      ((col("id") * 13) % 211).as("id_a"), ((col("id") * 29 + 5) % 223).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val (driver, r0, _) = Dedup.connectedComponentsStats(rnd, "id_a", "id_b")
    val (loop, r1, _) = Dedup.connectedComponentsStats(rnd, "id_a", "id_b",
      driverEdgeCap = 0L)
    assert(r0 === 0, "driver path runs zero propagation rounds")
    assert(r1 > 0, "forced loop actually iterates")
    val dm = driver.as[(Long, Long)].collect().toMap
    val lm = loop.as[(Long, Long)].collect().toMap
    assert(dm === lm)
    Dedup.releasePlan(loop)
  }

  test("connected components: a 50k-pair celebrity hub resolves without a wrong label") {
    // star graph: one boilerplate-ish doc paired with 50k others — the
    // skew mode of a production near-dup graph. The symmetrized edge set
    // puts 50k rows on ONE join key (the hub), which AQE skew-join
    // splitting handles on a cluster (both session profiles enable it;
    // see parity test below). Diameter 2 -> converges well under the cap,
    // and every vertex must land on the hub's min label.
    val star = spark.range(1, 50001)
      .select(lit(0L).as("id_a"), col("id").as("id_b"))
    // driverEdgeCap = 0: the skew story below is about the DISTRIBUTED
    // loop's symmetrized hub key — keep exercising it
    val got = Dedup.connectedComponents(star, "id_a", "id_b", maxRounds = 6,
      driverEdgeCap = 0L)
    assert(got.count() === 50001L)
    assert(got.filter(col("cluster_id") =!= 0L).count() === 0L)
    Dedup.releasePlan(got)
  }

  test("session profiles: local AQE skew-join parity with the cluster profile") {
    val local = graft.GraftSession.localConf(cores = 4)
    val cluster = graft.GraftSession.clusterConf
    for (k <- Seq("spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor"))
      assert(local(k) === cluster(k), k)
    // one session builder and one registration point: every main builds
    // through GraftSession.local, so the benchmarked session is the
    // verified one (a source scan — building a session here would
    // reconfigure the shared test session)
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    // one file name per occurrence of `needle`
    def sitesOf(needle: String): List[String] = sources.flatMap { f =>
      val text = java.nio.file.Files.readString(f)
      Iterator.iterate(text.indexOf(needle))(i => text.indexOf(needle, i + 1))
        .takeWhile(_ >= 0).map(_ => f.getFileName.toString)
    }
    assert(sitesOf("SparkSession.builder") === List("GraftSession.scala"))
    assert(sitesOf("GraftFunctions.register") === List("GraftSession.scala"))
  }

  test("connected components: an exhausted maxRounds refuses in strict mode, warns otherwise") {
    val chain = (0 until 9).map(i => (100L + i, 101L + i)).toDF("id_a", "id_b")
    // strict (the default): a non-converged labeling must not come back
    // looking like a correct one
    // driverEdgeCap = 0 on both: the union-find shortcut is exact and
    // round-free, so the cap contract only exists on the distributed loop
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, "id_a", "id_b", maxRounds = 2,
        driverEdgeCap = 0L).collect()
    }
    val capped = Dedup.connectedComponents(chain, "id_a", "id_b",
        maxRounds = 2, strict = false, driverEdgeCap = 0L)
      .as[(Long, Long)].collect().toMap
    // far end cannot have converged to 100 in 2 rounds — the cap is real
    assert(capped(109L) > 100L)
  }

  test("jaccard pairs find the near-duplicate, not the unrelated doc") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        blockCols = Nil, n = 2, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("jaccard pairs: df-cap drops a planted hot shingle instead of going quadratic") {
    // 10k docs that pairwise share ONLY the hot bigram "common common"
    // (J = 1/3 uncapped): without the cap the self-join materializes
    // ~50M candidate rows and every pair clears threshold 0.3; with the
    // default cap (df 10000 > 1000) the hot posting is dropped before the
    // join and the result is EMPTY — candidate volume tracks the cap, not
    // the corpus.
    val hot = spark.range(10000).select(
      col("id").as("doc_id"),
      concat(lit("common common u"), col("id")).as("text"))
    val pairs = Dedup.jaccardPairs(hot, "doc_id", "text",
      blockCols = Nil, n = 2, threshold = 0.3)
    assert(pairs.count() === 0L)
  }

  test("jaccard pairs: df-cap recomputes sizes over the retained shingle universe") {
    // bigrams: "h h" (df 3, hot at cap 2), then per doc one shared + one
    // unique rare bigram. Capped: A={h a, a b}, B={h a, a c} -> 1/3.
    // (Uncapped would be 2/4 = 0.5 — both the drop AND the size recompute
    // must happen for 0.333333 to come out.)
    val mini = Seq(
      (1L, "h h a b"), (2L, "h h a c"), (3L, "h h d e")
    ).toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(mini, "doc_id", "text",
        blockCols = Nil, n = 2, threshold = 0.1, maxDocFreq = 2)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(got === Set((1L, 2L, 0.333333)))
  }

  test("containment pairs catch a quote jaccard is blind to") {
    // doc 2's bigrams are a strict subset of doc 1's: containment 1.0,
    // jaccard only 3/12 — below any useful jaccard threshold
    val quote = Seq(
      (1L, "a b c d e f g h i j k l m"),
      (2L, "d e f g"),
      (3L, "x y z w v")
    ).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(quote, "doc_id", "text",
        blockCols = Nil, n = 2, threshold = 0.9)
      .select("id_a", "id_b", "containment", "contained_id")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(cont === Set((1L, 2L, 1.0, 2L)))
    val jac = Dedup.jaccardPairs(quote, "doc_id", "text",
        blockCols = Nil, n = 2, threshold = 0.3)
    assert(jac.count() === 0L)
  }

  test("containment formula and tie-break are exact: equal sizes name id_a") {
    // A={a b, b c}, B={a b, b d}: inter 1, min size 2 -> 0.5; tie -> id_a
    val mini = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(mini, "doc_id", "text",
        blockCols = Nil, n = 2, threshold = 0.4)
      .select("id_a", "id_b", "containment", "contained_id")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got === Set((1L, 2L, 0.5, 1L)))
  }

  test("bloom decontamination never false-negatives a contaminated doc") {
    // bench = 2 docs; train docs 10-12 each share a full 5-gram with a
    // bench doc, 13-15 are clean. The bloom contract is one-sided error:
    // every contaminated doc MUST flag (false positives are allowed and
    // bounded elsewhere, so this spec doesn't assert their absence).
    val bench = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    val train = Seq(
      (10L, "x alpha beta gamma delta epsilon y"),
      (11L, "three four five six seven tail tail"),
      (12L, "alpha beta gamma delta epsilon"),
      (13L, "totally unrelated words in this training document"),
      (14L, "nothing shared with the benchmark at all here"),
      (15L, "short doc")
    ).toDF("doc_id", "text")
    val flags = Dedup.bloomContaminationFlags(train, bench, "doc_id", "text",
        n = 5, fpp = 1e-4)
      .as[(Long, Boolean)].collect().toMap
    assert(flags.size === 6, "one row per train doc, gram-less docs included")
    assert(Seq(10L, 11L, 12L).forall(flags(_)), s"false negative in $flags")
    assert(!flags(15L), "a doc with no 5-grams cannot hit the filter")
  }

  test("greedy seq packing: bins respect the budget except oversized singletons") {
    val d = "/root/testdata/sf0.001"
    val budget = 256L
    val bins = graft.text.TextQueries.queries("q_seq_pack_greedy")(spark, d)
      .select("n_docs", "bin_tokens").as[(Long, Long)].collect()
    assert(bins.nonEmpty)
    // the greedy contract: a bin only exceeds the budget when it holds a
    // single oversized document (the fixed-offset q_seq_pack can't promise
    // this — it lets a straddling doc overflow a multi-doc bin)
    bins.foreach { case (nDocs, toks) =>
      assert(toks <= budget || nDocs == 1L, s"bin nDocs=$nDocs tokens=$toks")
    }
  }

  test("minhash LSH surfaces exact duplicates with jaccard 1.0") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        shingleN = 2, numHashes = 32, bands = 16, threshold = 0.9)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0))
  }

  test("simhash: identical texts have hamming 0, unrelated texts don't collide at <=3") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
    assert(!pairs.exists(p => (p._1, p._2) == (4L, 5L)))
  }

  test("minhashPairsExact reports EXACT jaccard for LSH candidates") {
    val pairs = Dedup.minhashPairsExact(docs, "doc_id", "text",
        shingleN = 2, numHashes = 32, bands = 16, threshold = 0.3)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0))
    // (1,3): 8 bigrams each, 6 shared -> 6/10 exactly
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L && p._3 == 0.6))
  }

  test("simhash md5 token hasher finds the same exact dups; generalized blocking holds") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3,
        tokenHasher = "md5")
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
    // maxHamming > 3 is now legal: blocking derives slice count by pigeonhole
    val wide = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 7)
      .select("hamming").as[Long].collect()
    assert(wide.forall(_ <= 7))
  }

  test("lsh knn recall rises with multiprobe and clears 0.9 at 2-bit probing") {
    val d = "/root/testdata/sf0.001"
    val emb = graft.ops.Tables.embeddings(spark, d)
    val q = emb.filter($"vec_id" < 10)
    def topk(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id".cast("long"), $"neighbor_id".cast("long"))
        .as[(Long, Long)].collect().toSet
    val brute = topk(Knn.bruteForceTopK(q, emb, "vec_id", "embedding", 5))
    val recalls = Seq(0, 1, 2).map { mp =>
      val ann = topk(Knn.lshTopK(q, emb, "vec_id", "embedding", 5,
        numPlanes = 3, multiprobe = mp))
      (brute intersect ann).size.toDouble / brute.size
    }
    assert(recalls(0) <= recalls(1) && recalls(1) <= recalls(2),
      s"recall not monotone in probe width: $recalls")
    assert(recalls(2) >= 0.9, s"2-bit multiprobe recall ${recalls(2)}")
  }

  test("ivf knn clears the 0.85 catalog contract on the bench embeddings at nprobe=5/8") {
    // Bar history (r21): 0.9 was calibrated under the PARTITION-SENSITIVE
    // rand(seed) sample + arrival-order init that r20's verdict outlawed
    // (any upstream repartition moved every centroid — the q_knn_wide
    // oracle break). The partition-invariant trainer (value-hash draw +
    // canonical greedy k-means++) measures 0.86 on this fixture — and it
    // is the best of four invariant variants tried (plain shuffle draws:
    // 0.78-0.82; doubled greedy trials: clears HERE but drops q_knn_wide's
    // ORACLED floor under 0.85 at sf0.01/0.1). The bar is therefore pinned
    // at the catalog contract this same query's oracle enforces at every
    // SF (recall_ge_085) — quality regressions below it fail both here
    // and in the driver's oracle.
    val d = "/root/testdata/sf0.001"
    val emb = graft.ops.Tables.embeddings(spark, d)
    val q = emb.filter($"vec_id" < 10)
    def topk(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id".cast("long"), $"neighbor_id".cast("long"))
        .as[(Long, Long)].collect().toSet
    val brute = topk(Knn.bruteForceTopK(q, emb, "vec_id", "embedding", 5))
    val ivf = topk(Knn.ivfTopK(q, emb, "vec_id", "embedding", 5,
      nlist = 8, nprobe = 5))
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.85, s"ivf recall $recall")
  }

  test("multi-table LSH cosinePairs finds planted near-duplicates at production k/L") {
    // 200 random unit-ish vectors + 20 planted near-copies (cos >= ~0.95)
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val bases = (0 until 200).map(i => (i.toLong, vec()))
    val planted = bases.take(20).map { case (i, v) =>
      (1000L + i, v.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }
    val df = (bases ++ planted).map { case (i, v) => (i, v.toSeq) }
      .toDF("vec_id", "embedding")
    // production-shaped parameters: fine buckets (k=6 -> 64/table), L=4
    // tables for recall ~0.95 at cos 0.9
    val lsh = Knn.cosinePairs(df, "vec_id", "embedding", threshold = 0.9,
        numPlanes = 6, numTables = 4, seed = 5L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Knn.cosinePairs(df, "vec_id", "embedding", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "LSH must be exact within blocking")
    val plantedPairs = exact.filter { case (a, b) => b == a + 1000L }
    assert(plantedPairs.size >= 15, s"fixture sanity: ${plantedPairs.size}")
    val found = plantedPairs.count(lsh.contains).toDouble / plantedPairs.size
    assert(found >= 0.8, s"planted-pair recall $found")
  }

  test("cosinePairs LSH path plans no round-robin (stray) shuffle") {
    val vecs = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 0.7 + j).toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val plan = Knn.cosinePairs(vecs, "vec_id", "embedding",
      threshold = 0.5, numPlanes = 4)
      .queryExecution.executedPlan.toString.toLowerCase
    assert(!plan.contains("roundrobin"), plan)
  }

  test("langId separates english and german fixtures") {
    val out = docs.select($"doc_id", TextFunctions.langId($"text").as("lang"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) === "en")
    assert(out(5L) === "de")
  }

  test("token counts: whitespace and BPE-ish") {
    val one = Seq(("a b  c", 1)).toDF("text", "id")
    val r = one.select(
      TextFunctions.tokenCount($"text"),
      TextFunctions.bpeIshTokenCount(lit("don't stop!"))).head()
    assert(r.getLong(0) === 3L)
    // don ' t stop ! -> 5 pre-tokens
    assert(r.getLong(1) === 5L)
  }

  test("repetition signals: boilerplate scores high, prose scores low") {
    val rows = Seq(
      ("buy now buy now buy now buy now", 1), // pure repetition
      ("the quick brown fox jumps over the lazy dog", 2), // prose
      ("one", 3), // < 2 tokens
      ("", 4)
    ).toDF("text", "id")
    val out = rows.select($"id",
      TextFunctions.repetitionRatio($"text").as("rr"),
      TextFunctions.topBigramFraction($"text").as("bf"))
      .as[(Int, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // 8 tokens, 2 distinct -> rep 0.75; "buy now" occurs 4x of 8 tokens -> 1.0
    assert(out(1) === ((0.75, 1.0)))
    // 9 tokens, 8 distinct ("the" twice) -> 1 - 8/9; every bigram unique
    assert(math.abs(out(2)._1 - (1.0 - 8.0 / 9.0)) < 1e-6)
    assert(out(2)._2 === 0.222222) // round(2/9, 6)
    assert(out(3) === ((0.0, 0.0)))
    assert(out(4) === ((0.0, 0.0)))
  }

  test("knn brute-force: nearest neighbor of a vector is its near-copy") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.99f, 0.01f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f)),
      (4L, Seq(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val top1 = Knn.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(top1(1L) === 2L)
    assert(top1(2L) === 1L)
  }

  test("hard negatives: same-label near neighbors are excluded, k respected") {
    // nearest overall neighbor of 1 is 2 (same label 0) — the positive a
    // contrastive miner must NOT return; the hardest NEGATIVE is 3
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f), 0),
      (2L, Seq(0.99f, 0.01f, 0.0f), 0),
      (3L, Seq(0.9f, 0.3f, 0.0f), 1),
      (4L, Seq(0.0f, 1.0f, 0.0f), 1),
      (5L, Seq(0.0f, 0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Knn.hardNegatives(vecs.filter(col("vec_id") === 1L), vecs,
      "vec_id", "embedding", "label", k = 2)
      .orderBy("rank")
      .select("neighbor_id", "neighbor_label", "rank")
      .as[(Long, Int, Long)].collect().toSeq
    assert(got.map(_._1) === Seq(3L, 4L), s"got $got")
    assert(got.forall(_._2 === 1), "every mined negative carries the other label")
    // k caps the output even with 3 available negatives
    assert(got.size === 2)
  }

  test("jaccard top-k: per-direction ranking, deterministic ties, isolated docs absent") {
    val mini = Seq(
      (1L, "a b c d e"),     // bigrams {ab,bc,cd,de}
      (2L, "a b c d x"),     // shares {ab,bc,cd} with 1 -> J=3/5
      (3L, "a b y z w"),     // shares {ab} with 1,2 -> J=1/7
      (9L, "q r s t u")      // no shared bigram: absent from output
    ).toDF("doc_id", "text")
    val got = Dedup.jaccardTopK(mini, "doc_id", "text",
      blockCols = Nil, n = 2, k = 1)
      .select("doc_id", "neighbor_id", "jaccard")
      .as[(Long, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got(1L)._1 === 2L && math.abs(got(1L)._2 - 0.6) < 1e-9)
    assert(got(2L)._1 === 1L)
    // 3's best is its strongest link; both 1 and 2 score J=1/7 — the
    // id-asc tie-break must pick 1 deterministically
    assert(got(3L)._1 === 1L)
    assert(!got.contains(9L), "isolated doc must emit no row")
  }

  test("keepBest: highest score survives per cluster, ties to min id, unpaired keep themselves") {
    val d = Seq(
      (1L, 10L), (2L, 30L), (3L, 30L), // cluster A: 2 and 3 tie on score -> 2
      (7L, 5L),                        // unpaired
      (8L, 1L), (9L, 9L)               // cluster B: 9 wins outright
    ).toDF("doc_id", "score")
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),
      (8L, 8L), (9L, 8L)
    ).toDF("member_id", "cluster_id")
    val kept = Dedup.keepBest(d, "doc_id", col("score"), clusters)
      .select("keep_id").as[Long].collect().sorted
    assert(kept === Array(2L, 7L, 9L))
  }

  test("jaccard top-k: pair detection executes ONCE, not once per union branch") {
    // plan-verified: exchange reuse does NOT span the symmetrize union's
    // re-planned subtrees, so the operator checkpoints the pair frame —
    // the returned plan must read the materialized RDD (both branches)
    // and contain NO shingle machinery (no explode, no postings join)
    val mini = (1L to 40L).map(i =>
      (i, s"tok${i % 7} tok${(i * 3) % 7} tok${(i * 5) % 7} u$i")).toSeq
      .toDF("doc_id", "text")
    val df = Dedup.jaccardTopK(mini, "doc_id", "text",
      blockCols = Nil, n = 2, k = 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD") || plan.contains("LogicalRDD"),
      s"expected the checkpointed pair frame:\n$plan")
    assert(!plan.contains("Generate"),
      s"shingle explode leaked past the checkpoint:\n$plan")
    // and the values still rank: doc 1's best neighbor exists
    assert(df.filter(col("doc_id") === 1L).count() > 0)
  }

  test("lsh knn recall vs brute force is reasonable at few planes") {
    val rng = new scala.util.Random(9)
    // clustered vectors so neighbors share buckets more often than chance
    val vecs = (1L to 60L).map { i =>
      val base = Array.fill(8)(if (i % 3 == 0) 1.0f else -1.0f)
      (i, base.map(x => x + rng.nextGaussian().toFloat * 0.3f).toSeq)
    }.toDF("vec_id", "embedding")
    val brute = Knn.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Knn.lshTopK(vecs, vecs, "vec_id", "embedding", k = 3, numPlanes = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall > 0.5, s"recall $recall") // 2 planes = 4 buckets on clustered data
  }

  test("ivf knn: probed-cell search matches brute force on clustered data") {
    val rng = new scala.util.Random(17)
    val vecs = (1L to 80L).map { i =>
      val center = (i % 4).toInt
      val base = Array.tabulate(8)(j => if (j % 4 == center) 2.0f else 0.0f)
      (i, base.map(x => x + rng.nextGaussian().toFloat * 0.1f).toSeq)
    }.toDF("vec_id", "embedding")
    val brute = Knn.bruteForceTopK(vecs.filter($"vec_id" <= 8), vecs,
        "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Knn.ivfTopK(vecs.filter($"vec_id" <= 8), vecs,
        "vec_id", "embedding", k = 3, nlist = 4, nprobe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.9, s"ivf recall $recall") // tight clusters: cells align
  }

  test("lsh knn results are a subset of brute-force candidate space with same scoring") {
    val rng = new scala.util.Random(3)
    val vecs = (1L to 40L).map(i =>
      (i, Seq.fill(8)(rng.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val brute = Knn.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id", "cosine_sim")
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val lsh = Knn.lshTopK(vecs, vecs, "vec_id", "embedding", k = 3, numPlanes = 2)
      .select("query_id", "neighbor_id", "cosine_sim")
      .as[(Long, Long, Double)].collect()
    // every LSH pair's score matches the brute-force score when present
    lsh.foreach { case (q, n, sim) =>
      brute.get((q, n)).foreach(bsim => assert(math.abs(bsim - sim) < 1e-9))
    }
    assert(lsh.nonEmpty)
  }

  test("stratified split: per-class proportions near fraction; disjoint-ish") {
    val df = (1 to 500).map(i => (i, i % 4)).toDF("id", "label")
    val (train, test) = Splits.stratifiedSplit(df, "label", 0.8, seed = 123)
    val nTrain = train.count(); val nTest = test.count()
    assert(nTrain + nTest === 500)
    assert(math.abs(nTrain / 500.0 - 0.8) < 0.1)
    assert(train.join(test, Seq("id"), "inner").count() === 0)
  }

  test("hash split is deterministic and disjoint") {
    val df = (1 to 400).map(i => (i, "x")).toDF("id", "v")
    val (tr1, te1) = Splits.hashSplit(df, "id", sixteenths = 12)
    val (tr2, _) = Splits.hashSplit(df, "id", sixteenths = 12)
    assert(tr1.count() === tr2.count())
    assert(tr1.count() + te1.count() === 400)
    assert(math.abs(tr1.count() / 400.0 - 0.75) < 0.1)
  }

  test("class-balanced partitioning yields equal class share per partition") {
    val df = (1 to 240).map(i => (i, i % 3)).toDF("id", "label")
    val parts = Preprocessing.classBalancedPartition(df, "label", 4, seed = 1,
        keepPartitionId = true)
      .groupBy("_partition_id", "label").count()
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    // 240 rows, 3 classes x 80, 4 partitions -> 20 per (partition, class)
    assert(parts.values.forall(_ === 20L))
  }

  test("min-max normalize maps to [0,1] with constant columns at 0") {
    val df = Seq((0.0, 5.0), (5.0, 5.0), (10.0, 5.0)).toDF("a", "b")
    val stats = Preprocessing.computeMinMax(df, Seq("a", "b"))
    assert(stats("a") === ((0.0, 10.0)))
    val out = Preprocessing.minMaxNormalize(df, stats, Seq("a", "b"), Nil)
      .as[(Double, Double)].collect().sortBy(_._1)
    assert(out === Array((0.0, 0.0), (0.5, 0.0), (1.0, 0.0)))
  }

  test("balanced accuracy: perfect predictor = 1, constant predictor = 1/k") {
    val df = (1 to 90).map(i => (i % 3, i % 3)).toDF("label", "prediction")
    def balanced(d: DataFrame) =
      Metrics.balancedAccuracyDF(d, "label", "prediction").head().getDouble(0)
    assert(balanced(df) === 1.0)
    val const = (1 to 90).map(i => (i % 3, 0)).toDF("label", "prediction")
    assert(math.abs(balanced(const) - 1.0 / 3) < 1e-6)
  }

  test("corpus diff classifies added/removed/changed/unchanged; whitespace drift is unchanged") {
    val nul = null.asInstanceOf[String]
    val v1 = Seq((1L, "same text"), (2L, "old text"), (3L, "gone"),
      (4L, "Spaced   Out"),
      // null-text rows: presence must come from the side marker, not the
      // (null) fingerprint — 6 is removed, 7 is changed, 8 is unchanged
      (6L, nul), (7L, nul), (8L, nul)).toDF("doc_id", "text")
    val v2 = Seq((1L, "same text"), (2L, "new text"), (5L, "brand new"),
      // canonical fingerprint: case/whitespace drift is NOT a change
      (4L, "spaced out"),
      (7L, "now has text"), (8L, nul)).toDF("doc_id", "text")
    val got = graft.dedup.Dedup.corpusDiff(v1, v2, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "unchanged", 5L -> "added",
      6L -> "removed", 7L -> "changed", 8L -> "unchanged"))
  }
}
