package graft.quality

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Domain mixing: rate arithmetic (cap + target proportionality),
  * seeded-draw determinism, and the streaming face's batch-equality
  * contract — admission is a stateless projection against frozen
  * broadcast rates, so a streamed corpus must admit EXACTLY the docs
  * its batch twin admits, regardless of how triggers chop it.
  */
class MixingSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // 3 domains, skewed availability: a=100, b=50, c=10
  private def corpus = (
    (0L until 100L).map(i => (i, "a")) ++
    (100L until 150L).map(i => (i, "b")) ++
    (150L until 160L).map(i => (i, "c"))
  ).toDF("id", "dom")

  test("rates: capped target-proportional — an over-demanded scarce " +
      "domain caps at 1.0, abundant domains subsample") {
    // target ∝ (a=1, b=1, c=8): budget 0.5*160 = 80 docs; c's target
    // share 8/10*80 = 64 >> avail 10 -> rate caps at 1.0
    val w = when(col("dom") === "c", 8).otherwise(1)
    val r = Mixing.rates(corpus, "dom", w, budgetFrac = 0.5)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    // tolerance, not exact == (r19 ADVICE): the expectation mirrors the
    // VALUE, not the Spark expression's IEEE association order — a
    // harmless re-association in rates() must not fail this test
    assert(r("c") == 1.0, s"scarce over-demanded domain must cap: $r")
    assert(math.abs(r("a") - 0.5 * 160 * (1.0 / 10) / 100) < 1e-12,
      s"a rate: $r")
    assert(math.abs(r("b") - 0.5 * 160 * (1.0 / 10) / 50) < 1e-12,
      s"b rate: $r")
  }

  test("admit: deterministic given the seed; different seeds draw " +
      "different subsets of comparable size") {
    val w = lit(1)
    val r = Mixing.rates(corpus, "dom", w, budgetFrac = 0.5)
    def ids(seed: Long) = Mixing.admit(corpus, r, "dom", "id", seed)
      .select("id").as[Long].collect().toSet
    val a1 = ids(7L); val a2 = ids(7L); val b = ids(8L)
    assert(a1 == a2, "same seed must admit the same set")
    assert(a1 != b, "a different seed must draw a different subset")
    // expected mass: uniform target 80/3 per domain -> a: 80/3 of 100,
    // b: 80/3 of 50, c capped at its 10 — the cap LOSES the excess
    // (documented: no renormalization), so E ≈ 26.7 + 26.7 + 10 = 63.3,
    // binomial sd ≈ 5.7; accept ±3σ
    assert(math.abs(a1.size - 63) < 18, s"admitted ${a1.size} of 160")
  }

  test("guards (r19 ADVICE): a null weight fails loudly instead of " +
      "admitting-all; an input already carrying u/rate is refused") {
    val wNull = when(col("dom") === "c", lit(null).cast("int"))
      .otherwise(lit(1))
    val e = intercept[Exception] {
      Mixing.rates(corpus, "dom", wNull, budgetFrac = 0.5).collect()
    }
    // the raise_error may arrive wrapped (executor -> driver) — walk it
    val msg = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).mkString
    assert(msg.contains("null weight"), s"null weight must raise, got: $msg")
    val r = Mixing.rates(corpus, "dom", lit(1), budgetFrac = 0.5)
    intercept[IllegalArgumentException] {
      Mixing.admit(corpus.withColumn("u", lit(0.0)), r, "dom", "id", 7L)
    }
    intercept[IllegalArgumentException] {
      Mixing.admit(corpus.withColumn("rate", lit(0.0)), r, "dom", "id", 7L)
    }
  }

  test("streaming face == batch twin: frozen rates, any trigger " +
      "chopping — identical admitted set") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val w = when(col("dom") === "c", 8).otherwise(1)
    val frozen = Mixing.rates(corpus, "dom", w, budgetFrac = 0.5)
      .localCheckpoint() // freeze: the stream must not re-derive rates
    val batch = Mixing.admit(corpus, frozen, "dom", "id", 7L)
      .select("id").as[Long].collect().toSet

    val rows = corpus.as[(Long, String)].collect()
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = Mixing.admit(stream.toDF().toDF("id", "dom"), frozen,
        "dom", "id", 7L)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("id").collect().foreach(r => sink.add(r.getLong(0)))
        ()
      }.start()
    try {
      // three uneven triggers — the chopping must not matter
      stream.addData(rows.take(47): _*)
      q.processAllAvailable()
      stream.addData(rows.slice(47, 120): _*)
      q.processAllAvailable()
      stream.addData(rows.drop(120): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(sink.asScala.toSet == batch,
      "streamed admission must equal the batch twin exactly")
  }
}
