package graft.io

import org.apache.spark.sql.SparkSession

/** Commit-atomic epoch seals for index ledgers (round-17 ADVICE fix,
  * hardened by the r17 self-review). Directory EXISTENCE is not a commit
  * marker: Spark creates the output directory (with `_temporary/`) at
  * job setup, so a crash mid-write leaves the dir present.
  *
  * The seal is graft's OWN `_graft_commit` marker, written by [[seal]]
  * strictly after the parquet write returns — not the committer's
  * `_SUCCESS`, which is configuration-dependent
  * (`mapreduce.fileoutputcommitter.marksuccessfuljobs=false` and most
  * cloud committers omit it; gating on it would read fully-committed
  * epochs as crashed on those configs). `_SUCCESS` is still
  * ACCEPTED as proof of commit when present — it is only ever written
  * at job commit, and honoring it closes the crash window between the
  * parquet write and [[seal]] on configs that do produce it. A dir with
  * neither marker is a crashed attempt.
  */
object EpochCommit {

  private val Marker = "_graft_commit"

  // A commit is PERMANENT, so positive answers cache for the JVM's life
  // (second-review finding: readers like ClusterIndex.docScores probe
  // every historical epoch — on object stores each exists() is a HEAD
  // request). Only `true` is ever cached; `false` re-probes.
  private val committedCache =
    scala.collection.concurrent.TrieMap.empty[String, Unit]

  /** Migration caveat: epoch dirs written by PRE-marker code on a
    * committer config that also writes no `_SUCCESS` carry neither
    * proof — stamp them once via [[seal]], or they read as crashed.
    */
  private def fs(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** Stamp `dir` committed — call strictly AFTER the epoch's parquet
    * write returns. Idempotent.
    */
  def seal(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, Marker)
    val f = fs(spark, p)
    if (!f.exists(p)) f.create(p, false).close()
  }

  /** True iff the epoch write at `dir` committed fully — graft's own
    * marker, or the committer's `_SUCCESS` where the config writes one.
    */
  def committed(spark: SparkSession, dir: String): Boolean = {
    val d = new org.apache.hadoop.fs.Path(dir)
    if (committedCache.contains(d.toString)) return true
    val f = fs(spark, d)
    val ok = f.exists(new org.apache.hadoop.fs.Path(dir, Marker)) ||
      f.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))
    if (ok) committedCache.update(d.toString, ())
    ok
  }

  /** Test hook: forget cached positives for `dir` so a spec that
    * mutates commit proofs on disk re-probes honestly. Production code
    * never needs this — commits are permanent there. Matches by URI
    * path so raw and scheme-qualified forms of the same dir both drop.
    */
  private[graft] def dropCacheForTest(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir).toUri.getPath
    committedCache.keySet.toSeq
      .filter(k => new org.apache.hadoop.fs.Path(k).toUri.getPath == p)
      .foreach(committedCache.remove)
  }
}
