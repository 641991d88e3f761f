package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Merge-on-read via deletion-vector sidecars — the delete-heavy
  * complement of copy-on-write ([[MergeOps]]). COW rewrites every
  * touched file per batch; when
  * batches are frequent and deletes are scattered (GDPR erasure, crawl
  * retractions, label fixes), that rewrites the same 100 TB of survivors
  * nightly to remove kilobytes. Merge-on-read instead APPENDS: a delete
  * batch writes only a key sidecar, an upsert batch writes only its new
  * rows plus the sidecar entries masking the superseded versions, and the
  * read path subtracts the mask with one broadcast join. The deferred
  * rewrite happens once, at compaction time, amortized over many
  * batches.
  *
  * The design is the public equality-delete protocol (Apache Iceberg's
  * "equality deletes" with sequence numbers; Delta's deletion vectors are
  * the position-scoped cousin): every data file belongs to a sequence
  * number — `seq=<n>` partition directories here, so the scope of a
  * delete is a PARTITION-PRUNABLE set of files — and a sidecar entry
  * `(key, below_seq)` deletes every row of that key written at
  * `seq < below_seq`. An upsert batch at commit n masks with
  * `below_seq = n` (older versions die, its own rows survive); a delete
  * batch owns a commit id of its own and masks below it (every earlier
  * version dies). The sidecar lives under `_dv/b=<commit>/`, a
  * leading-underscore directory Spark's file index hides from table
  * scans, so base reads need no path gymnastics. Writes run under the
  * commit protocol (reserve → write → seal; see [[allocateCommit]]), so
  * readers never observe a half-landed batch and concurrent writers
  * serialize on id reservation instead of corrupting each other.
  *
  * Scale shape: the read-side mask is one aggregate over the sidecar
  * (per-key max) broadcast against the data scan — the sidecar is bounded
  * by deltas-since-last-fold, the side a 1000-executor scan wants
  * broadcast. Survivor filtering is a single codegen'd null-check-or-
  * compare per row; no shuffle of the base, ever. Fold is the only
  * table-scale pass, and it runs at compaction cadence, not batch
  * cadence.
  */
object DeletionVectors {

  val SeqCol = "seq"
  private val DvDirName = "_dv"
  private val PosDirName = "_pdv"
  private val LocksDirName = "_locks"
  private val CommitsDirName = "_commits"

  // Directory enumeration through the Hadoop FileSystem API (resolved
  // from the session's hadoopConf), NOT java.io.File: the table dir is an
  // HDFS/S3 URI on the deployment this module's scaladoc describes; the
  // footer readers in [[graft.layout.ParquetBloom]] already go through
  // the same API.
  private def hfs(spark: SparkSession, dir: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def seqDirs(spark: SparkSession, dir: String): Seq[Long] = {
    val (fs, p) = hfs(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$SeqCol="))
      .map(_.getPath.getName.stripPrefix(s"$SeqCol=").toLong).sorted
  }

  // ------------------------------------------------------------------
  // Commit protocol: every batch — data, equality delete, position
  // delete — runs as (1) RESERVE an id by creating `_locks/<n>`
  // exclusively (FileSystem.create(overwrite = false): the CAS that
  // serializes concurrent writers — the loser's create throws and it
  // retries n+1), (2) write its files, (3) SEAL by creating
  // `_commits/<n>`. Readers resolve visibility from `_commits` ONLY, so
  // a half-written batch (crashed writer, reader racing a writer) is
  // invisible until its single-file seal appears — atomic visibility
  // without a central coordinator. A crashed reservation is never
  // reused (allocation maxes over locks AND commits). Atomicity of create-exclusive holds
  // on HDFS and local filesystems; object stores need a conditional-put
  // or external-lock shim behind the same two calls.
  // ------------------------------------------------------------------

  private def listIds(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.forall(_.isDigit)).map(_.toLong)

  /** Sealed commit ids — the reader's single source of visibility. */
  def committedIds(spark: SparkSession, dir: String): Seq[Long] = {
    val (fs, _) = hfs(spark, dir)
    listIds(fs, new org.apache.hadoop.fs.Path(s"$dir/$CommitsDirName")).sorted
  }

  /** Atomic create-exclusive of an empty file — the CAS primitive. On
    * HDFS `FileSystem.create(overwrite = false)` is enforced atomically
    * by the NameNode; the LOCAL filesystems behind it are check-then-
    * create (a real TOCTOU — two racing writers both pass the exists
    * check), so file:// paths go through POSIX `Files.createFile`, which
    * is atomic (O_CREAT|O_EXCL). Returns false when the path already
    * exists — the caller lost the race.
    */
  private def createExclusive(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean =
    try {
      if (fs.getScheme == "file")
        java.nio.file.Files.createFile(java.nio.file.Paths.get(
          p.toUri.getPath))
      else fs.create(p, false).close()
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.io.IOException => false
    }

  /** Reserve the next commit id (create-exclusive CAS, retried on
    * collision with a concurrent writer).
    */
  def allocateCommit(spark: SparkSession, dir: String): Long = {
    val (fs, _) = hfs(spark, dir)
    val locks = new org.apache.hadoop.fs.Path(s"$dir/$LocksDirName")
    fs.mkdirs(locks)
    var n = (listIds(fs, locks) ++
      listIds(fs, new org.apache.hadoop.fs.Path(s"$dir/$CommitsDirName")) ++
      seqDirs(spark, dir)).foldLeft(-1L)(math.max) + 1
    while (!createExclusive(fs, new org.apache.hadoop.fs.Path(locks, n.toString)))
      n += 1 // lost the race; next id
    n
  }

  private def seal(spark: SparkSession, dir: String, n: Long): Unit = {
    val (fs, _) = hfs(spark, dir)
    val commits = new org.apache.hadoop.fs.Path(s"$dir/$CommitsDirName")
    fs.mkdirs(commits)
    require(createExclusive(fs, new org.apache.hadoop.fs.Path(commits, n.toString)),
      s"commit $n already sealed — duplicate seal indicates a protocol bug")
  }

  /** Create the table: the initial snapshot lands as sequence 0. */
  def initTable(df: DataFrame, dir: String): Unit = {
    val spark = df.sparkSession
    df.write.mode("error").parquet(s"$dir/$SeqCol=0")
    val (fs, _) = hfs(spark, dir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/$LocksDirName"))
    createExclusive(fs, new org.apache.hadoop.fs.Path(s"$dir/$LocksDirName/0"))
    seal(spark, dir, 0L)
  }

  /** The write protocol derived-view maintenance ([[JoinMv]]) uses:
    * `rows` land as a new sequence
    * directory and `maskKeys` — which may be a SUPERSET of the rows'
    * keys — are masked below it. A masked key with no replacement row in
    * the batch is thereby deleted; a masked key with one is replaced.
    * This is what lets one batch express inserts, updates, deletes, and
    * rows UPDATED OUT of a derived view (the replacement no longer
    * qualifies, so only the mask lands) with one data write + one sidecar
    * write. Returns the batch's sequence number.
    */
  def appendBatch(spark: SparkSession, dir: String, rows: DataFrame,
      maskKeys: DataFrame, key: String): Long = {
    val n = allocateCommit(spark, dir)
    rows.write.mode("error").parquet(s"$dir/$SeqCol=$n")
    maskKeys.select(col(key), lit(n).as("below_seq"))
      .distinct()
      .write.mode("error").parquet(s"$dir/$DvDirName/b=$n")
    seal(spark, dir, n)
    n
  }

  /** Append a delete batch: ONLY the sidecar is written — every data file
    * of the table stays byte-identical (spec-pinned). The batch owns a
    * commit id of its own and masks below it — every version of the keys
    * committed earlier dies. Returns the number of distinct keys deleted.
    */
  def deleteKeys(spark: SparkSession, dir: String,
      keys: DataFrame, key: String): Long = {
    val n = allocateCommit(spark, dir)
    val batch = keys.select(col(key), lit(n).as("below_seq")).distinct()
      .localCheckpoint() // count + write from one materialization
    batch.write.mode("error").parquet(s"$dir/$DvDirName/b=$n")
    seal(spark, dir, n)
    batch.count()
  }

  /** The sidecar as a frame (empty, correctly typed, when no deletes have
    * been written yet).
    */
  def readDv(spark: SparkSession, dir: String, key: String): DataFrame = {
    val (fs, _) = hfs(spark, dir)
    // only SEALED batches' sidecar subdirs: an in-flight or crashed
    // writer's mask is invisible until its commit marker lands, exactly
    // like its data files
    val dvDirs = committedIds(spark, dir)
      .map(n => new org.apache.hadoop.fs.Path(s"$dir/$DvDirName/b=$n"))
      .filter(fs.exists)
    if (dvDirs.nonEmpty)
      spark.read.parquet(dvDirs.map(_.toString): _*)
        .select(col(key), col("below_seq"))
    else {
      // no sidecar yet (fresh or just-folded table): an empty, correctly
      // key-typed frame, schema taken from any live sequence directory
      val kt = spark.read.parquet(s"$dir/$SeqCol=${seqDirs(spark, dir).head}")
        .schema(key).dataType
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(key, kt),
          org.apache.spark.sql.types.StructField("below_seq",
            org.apache.spark.sql.types.LongType))))
    }
  }

  /** The read-side combinator, pure DataFrame-in/DataFrame-out (shared by
    * [[read]] and the oracled catalog query): a row written at sequence s
    * survives iff no sidecar entry of its key has `below_seq > s`. One
    * per-key aggregate over the sidecar, broadcast, one left join, one
    * codegen'd filter — the base never shuffles.
    */
  def applyDv(data: DataFrame, dv: DataFrame, key: String,
      maxBroadcastBytes: Long = 256L * 1024 * 1024): DataFrame = {
    // streaming frames can't be size-estimated here (forcing optimizedPlan
    // below would throw mid-analysis) — fail with a message, not a stack
    // trace from the optimizer
    require(!dv.isStreaming, "applyDv is batch-only: the mask must not be a stream")
    val mask = dv.groupBy(col(key)).agg(max(col("below_seq")).as("_below"))
    // GATED broadcast (the enrichStream doctrine): the sidecar is
    // deltas-since-last-fold — normally the side a 1000-executor base
    // scan wants broadcast — but a fold-starved table can outgrow that;
    // past the cap this degrades to a keyed shuffle join instead of an
    // executor OOM. The estimate is the optimizer's own non-CBO
    // sizeInBytes, which OVERESTIMATES: Filter/Aggregate default stats
    // inherit the child scan's size, so a tiny mask distilled from a
    // large source can exceed the cap and fall back to the shuffle join —
    // a latency cost, never a correctness or OOM risk (the bias only ever
    // declines a broadcast; same doctrine as enrichStream's gate).
    val est = mask.queryExecution.optimizedPlan.stats.sizeInBytes
    val side = if (est <= maxBroadcastBytes) broadcast(mask) else mask
    data.join(side, Seq(key), "left_outer")
      .filter(col("_below").isNull || col(SeqCol) >= col("_below"))
      .drop("_below")
  }

  /** Merge-on-read scan: current table state, deletes and superseded
    * versions subtracted at read time — position deletes first (file-
    * scoped anti join), then the equality mask. Both sidecars are
    * subtractive, so application order cannot change the result.
    */
  def read(spark: SparkSession, dir: String, key: String): DataFrame =
    applyDv(scanWithPositionMask(spark, dir), readDv(spark, dir, key), key)
      .drop(SeqCol)

  /** NET change feed between two commits of a DV table (the oracled
    * catalog query's combinator): `data` carries a `seq` column, `dv` the
    * `(key, below_seq)` entries. `_change = 'insert'` rows are new images
    * that SURVIVE at `toSeq`; `_change = 'delete'` rows are the OLD
    * images of rows live at `fromSeq` that a mask in (from, to] killed —
    * an upsert appears as its delete+insert pair, and a row inserted AND
    * deleted inside the window appears not at all. The delete side joins
    * the base against the broadcast-gated NEW-mask key set, so the base
    * never shuffles.
    */
  def changesOf(data: DataFrame, dv: DataFrame, key: String,
      fromSeq: Long, toSeq: Long): DataFrame = {
    val liveAtFrom = applyDv(data.filter(col(SeqCol) <= fromSeq),
      dv.filter(col("below_seq") <= fromSeq), key)
    val liveAtTo = applyDv(data.filter(col(SeqCol) <= toSeq),
      dv.filter(col("below_seq") <= toSeq), key)
    val inserts = liveAtTo.filter(col(SeqCol) > fromSeq)
      .drop(SeqCol).withColumn("_change", lit("insert"))
    // new masks only — the delete side is bounded by keys changed in the
    // window, and rides the same gated broadcast as every DV mask
    val newMasks = dv
      .filter(col("below_seq") > fromSeq && col("below_seq") <= toSeq)
      .groupBy(col(key)).agg(max(col("below_seq")).as("_b"))
    val est = newMasks.queryExecution.optimizedPlan.stats.sizeInBytes
    val side = if (est <= 256L * 1024 * 1024) broadcast(newMasks) else newMasks
    val deletes = liveAtFrom.join(side, Seq(key))
      .filter(col(SeqCol) < col("_b"))
      .drop("_b", SeqCol).withColumn("_change", lit("delete"))
    inserts.unionByName(deletes)
  }

  /** Delete rows by POSITION — the (file, row-ordinal) variant
    * (Delta's deletion vectors / Iceberg v2 position deletes) for
    * keyless single-row erasure: when the row to remove has no equality
    * key (duplicate rows, a corrupt record at a known scan position),
    * the sidecar names the row's file and its ordinal inside that file.
    * Like [[deleteKeys]], ONLY the sidecar (`_pdv/`) is written — every
    * data file stays byte-identical (spec-pinned). `positions` must
    * carry (`file_path`, `row_index`) as produced by a scan's
    * `_metadata.file_path` / `_metadata.row_index` columns — the same
    * representation the read path re-derives, so the anti join matches
    * exactly. Positions stay valid as appends create new files and never
    * renumber existing ones. Returns the number of
    * distinct positions deleted.
    */
  def deletePositions(spark: SparkSession, dir: String,
      positions: DataFrame): Long = {
    // at_seq = the batch's OWN commit id (visible as of s iff
    // at_seq <= s, the same rule as every other commit)
    val n = allocateCommit(spark, dir)
    val batch = positions
      .select(col("file_path").cast("string").as("file_path"),
        col("row_index").cast("long").as("row_index"))
      .distinct()
      .withColumn("at_seq", lit(n))
      .localCheckpoint() // count + write from one materialization
    batch.write.mode("error").parquet(s"$dir/$PosDirName/b=$n")
    seal(spark, dir, n)
    batch.count()
  }

  /** The position sidecar as a frame (empty, correctly typed, when no
    * position deletes have been written).
    */
  def readPosDv(spark: SparkSession, dir: String): DataFrame = {
    val (fs, _) = hfs(spark, dir)
    val pDirs = committedIds(spark, dir)
      .map(n => new org.apache.hadoop.fs.Path(s"$dir/$PosDirName/b=$n"))
      .filter(fs.exists)
    if (pDirs.nonEmpty)
      spark.read.parquet(pDirs.map(_.toString): _*)
        .select(col("file_path"), col("row_index"), col("at_seq"))
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("file_path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("row_index",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("at_seq",
          org.apache.spark.sql.types.LongType))))
  }

  /** Table scan with the position mask applied: rows are identified by
    * the scan's own `_metadata` (file URI + ordinal — zero storage or
    * shuffle cost; parquet materializes `row_index` natively) and the
    * sidecar is subtracted with one anti join, broadcast-gated exactly
    * like [[applyDv]]'s mask (same overestimation-bias caveat; past the
    * cap it degrades to a keyed shuffle of the SIDECAR, never an OOM —
    * the base still doesn't shuffle under a broadcast anti join). When
    * no position sidecar exists the scan is returned untouched — the
    * equality-only path pays nothing for the feature.
    */
  def scanWithPositionMask(spark: SparkSession, dir: String,
      maxBroadcastBytes: Long = 256L * 1024 * 1024): DataFrame = {
    val (fs, _) = hfs(spark, dir)
    // only SEALED sequence directories: a crashed or in-flight writer's
    // data files are invisible until the commit marker lands (basePath
    // keeps the seq partition column over the explicit dir list)
    val dataDirs = committedIds(spark, dir)
      .map(n => new org.apache.hadoop.fs.Path(s"$dir/$SeqCol=$n"))
      .filter(fs.exists)
    require(dataDirs.nonEmpty, s"not a DV table (no sealed data): $dir")
    // mergeSchema: a later batch may carry columns the initial snapshot
    // lacked (additive schema evolution — the only kind append-only
    // storage can express); without it the scan takes one footer's schema
    // and SILENTLY drops the new column. Old rows read null there,
    // spec-pinned.
    val base = spark.read.option("basePath", dir)
      .option("mergeSchema", "true")
      .parquet(dataDirs.map(_.toString): _*)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$PosDirName"))) base
    else {
      val pdv = readPosDv(spark, dir)
        .select(col("file_path"), col("row_index")).distinct()
      val est = pdv.queryExecution.optimizedPlan.stats.sizeInBytes
      val side = if (est <= maxBroadcastBytes) broadcast(pdv) else pdv
      val tagged = base
        .withColumn("_file", col("_metadata.file_path"))
        .withColumn("_pos", col("_metadata.row_index"))
      tagged.join(side,
          tagged("_file") === side("file_path") &&
            tagged("_pos") === side("row_index"),
          "left_anti")
        .drop("_file", "_pos")
    }
  }
}
