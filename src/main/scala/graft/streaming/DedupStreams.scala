package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming ingest deduplication — the stateful face of
  * [[graft.dedup.Dedup.incrementalDedup]]: where the batch path anti-joins
  * a nightly delta against the standing corpus's fingerprint set, the
  * streaming path carries that set as OPERATOR STATE keyed by content
  * fingerprint, so admission decisions happen per trigger with no corpus
  * rescan at all. Spark's own `dropDuplicates` on a stream keeps silent
  * per-key state too; this operator exists because a pipeline wants the
  * dup ACCOUNTING (who was admitted, how many copies arrived), which the
  * built-in does not expose.
  */
object DedupStreams {

  /** One fingerprinted document arrival. */
  final case class FpDoc(fp: String, doc_id: Long)

  /** Per-fingerprint admission state: first-arrived id + copies seen. */
  final case class FpState(keep_id: Long, cnt: Long)

  /** Admission row: `keep_id` is the first-arrived document of this
    * fingerprint (min id within the admitting trigger — in batch mode,
    * min over the whole group, matching the exact-dedup oracle),
    * `dup_cnt` the cumulative copies seen. Update-mode: a fingerprint
    * re-emits its row whenever new copies arrive.
    */
  final case class Admission(fp: String, keep_id: Long, dup_cnt: Long)

  /** Cross-trigger exact dedup with unbounded state — the right tool when
    * the fingerprint universe is bounded (a curated corpus) or the stream
    * is replayed in full. Runs identically over a batch Dataset (one
    * invocation per group →
    * exactly [[graft.dedup.Dedup.exactGroups]], spec-pinned).
    */
  def admitFirst(spark: SparkSession, docs: Dataset[FpDoc]): Dataset[Admission] = {
    import spark.implicits._
    docs
      .groupByKey(_.fp)
      .flatMapGroupsWithState[FpState, Admission](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (fp: String, batch: Iterator[FpDoc], state: GroupState[FpState]) =>
          var cnt = 0L
          var mn = Long.MaxValue
          batch.foreach { d => cnt += 1; if (d.doc_id < mn) mn = d.doc_id }
          val prev = state.getOption
          val next = FpState(prev.map(_.keep_id).getOrElse(mn),
            prev.map(_.cnt).getOrElse(0L) + cnt)
          state.update(next)
          Iterator.single(Admission(fp, next.keep_id, next.cnt))
      }
  }
}
