package graft

import org.apache.spark.sql.functions._

/** Offline BPE-merge trainer — freezes [[graft.text.BpeMerges]] the same
  * way GenSemanticCentroids freezes the SemDeDup centroids: train once on
  * the reference corpus, emit literals, and let BOTH the Spark tokenizer
  * and the interpolated DuckDB oracle read the identical table.
  *
  * The driver only ever collects the top-V (frequency, word) rows — the
  * vocabulary, never the corpus — so the recipe is the same bounded-stats
  * boundary at 100 TB (one word-count shuffle + a V-row TakeOrdered).
  *
  *   tools/run_main.sh graft.GenBpeMerges [sfDir] [outFile]
  */
object GenBpeMerges {
  val NumMerges = 40
  val VocabCap = 10000

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1)
      .getOrElse("src/main/scala/graft/text/BpeMerges.scala")
    // pinned, not SPARK_GRAFT_CPUS: the output is a committed source file
    val spark = GraftSession.local(8, "graft-gen-bpe-merges")
    val docs = ops.Tables.documents(spark, sfDir)
    val vocab = docs
      .select(explode(filter(split(lower(coalesce(col("text"), lit(""))),
        "\\s+"), t => t =!= "")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("w").asc)
      .limit(VocabCap)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    require(vocab.nonEmpty, s"no words in $sfDir to train merges on")
    // SQL-literal + delimiter safety: every symbol must be strictly
    // alphanumeric so '<sym>' wrapping and '...' interpolation need no
    // escaping in either engine
    vocab.foreach { case (w, _) =>
      require(w.forall(c => c.isLetterOrDigit && c < 128),
        s"non-alphanumeric word in vocab: '$w'")
    }
    val merges = text.Bpe.trainMerges(vocab, NumMerges)
    val rows = merges.map { case (a, b) => s"""    ("$a", "$b")""" }
      .mkString(",\n")
    val src =
      s"""package graft.text
         |
         |/** GENERATED by graft.GenBpeMerges — do not edit by hand.
         |  *
         |  * ${merges.length} BPE merges trained on the $sfDir documents
         |  * vocabulary (top ${GenBpeMerges.VocabCap} lowercased whitespace
         |  * words by frequency; highest-count pair first, ties to the
         |  * lexicographically smallest pair). Frozen as literals so the
         |  * Spark tokenizer and the interpolated DuckDB oracle replay the
         |  * SAME table — the SemanticCentroids frozen-constant technique.
         |  */
         |object BpeMerges {
         |  val values: Array[(String, String)] = Array(
         |$rows
         |  )
         |}
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      src.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[gen] wrote $out (${merges.length} merges)")
    spark.stop()
  }
}
