package graft.layout

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet-native bloom filters and the page index — the third and fourth
  * file-skipping levers, for the predicates min/max boxes cannot help:
  * a HASH-DISTRIBUTED high-cardinality key (canonical URL, doc
  * fingerprint, content hash) spreads over the full value range in every
  * file, so every footer box admits every point probe and the scan reads
  * 100 TB to find one row. A column bloom filter answers "definitely not
  * in this row group" in O(1) footer bytes regardless of value
  * distribution; the page index (per-page min/max + offset index) then
  * narrows the surviving row group to the pages that can match. Both are
  * WRITER options + footer metadata — no table rewrite, no new file
  * format, and Spark's vectorized reader consults both automatically
  * under `spark.sql.parquet.filterPushdown`.
  *
  * The proof artifacts are DataFrame reports read from REAL footers on
  * executors (mapPartitions over the file list — at lake file counts the
  * driver must not open footers), spec-pinned against planted probes; the
  * value-oracle-able statistics that JUSTIFY the levers (per-file ndv,
  * overlapping min/max boxes vs exact membership) live in the catalog as
  * `q_parquet_bloom_stats`, layout-independent.
  */
object ParquetBloom {

  /** Write `df` with column bloom filters enabled for `bloomNdv`'s
    * columns (value = expected distinct count per row group, the sizing
    * knob: bits/key follows from it at the writer's default FPP).
    * `pageRowLimit` bounds rows per data page so the page index has
    * resolution inside a row group (parquet writes the column/offset
    * index unconditionally since 1.11).
    */
  def writeWithBloom(df: DataFrame, dir: String, bloomNdv: Map[String, Long],
      pageRowLimit: Int = 20000, maxRecordsPerFile: Long = 0L): Unit = {
    var w = df.write.mode("overwrite")
      .option("parquet.page.row.count.limit", pageRowLimit.toString)
    // deterministic file boundaries: a single sorted writer task + this
    // cap rolls a new file every N records, so file k holds exactly the
    // k-th sorted record range — the protocol q_bloom_skip_stats' oracle
    // replays arithmetically
    if (maxRecordsPerFile > 0L)
      w = w.option("maxRecordsPerFile", maxRecordsPerFile.toString)
    bloomNdv.foreach { case (c, ndv) =>
      w = w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }
    w.parquet(dir)
  }

  // Listing through the Hadoop FileSystem API (the same layer the footer
  // readers below already use via HadoopInputFile), NOT java.io.File —
  // the table dir is an HDFS/S3 URI on the deployment this module's
  // scaladoc describes.
  private def parquetPaths(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val ps =
      (if (fs.exists(p)) fs.listStatus(p).toSeq else Seq.empty)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
          s.getLen > 0)
        .map(_.getPath.toString).sorted
    require(ps.nonEmpty, s"no parquet files under $dir")
    ps
  }

  /** Probe every row group's bloom filter for every value in `probes`:
    * one row per (file, row group, probe) with the filter's verdict.
    * `might_contain = false` is a PROOF the row group cannot hold the
    * value — the skip a point-lookup scan takes before touching data
    * pages; `true` admits (bloom semantics: false positives possible,
    * never false negatives). `has_bloom = false` rows mean the writer
    * didn't produce a filter for that chunk — surfaced, not silently
    * treated as "admit".
    */
  def bloomProbeReport(spark: SparkSession, dir: String, colName: String,
      probes: Seq[String]): DataFrame = {
    import spark.implicits._
    val paths = parquetPaths(spark, dir)
    spark.createDataset(paths)
      .repartition(math.min(paths.length, 32))
      .flatMap { p =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(p), conf))
        try {
          val blocks = reader.getFooter.getBlocks
          (0 until blocks.size()).flatMap { g =>
            val block = blocks.get(g)
            val cmd = (0 until block.getColumns.size())
              .map(block.getColumns.get)
              .find(_.getPath.toDotString == colName)
              .getOrElse(sys.error(s"column $colName not in $p"))
            val bloom = reader.getBloomFilterDataReader(block)
              .readBloomFilter(cmd)
            val prim = cmd.getPrimitiveType.getPrimitiveTypeName.name()
            probes.map { v =>
              val verdict =
                if (bloom == null) true // no filter -> scan must admit
                else prim match {
                  case "BINARY" =>
                    bloom.findHash(bloom.hash(Binary.fromString(v)))
                  case "INT64" => bloom.findHash(bloom.hash(v.toLong))
                  case "INT32" => bloom.findHash(bloom.hash(v.toInt))
                  case "DOUBLE" => bloom.findHash(bloom.hash(v.toDouble))
                  case other => sys.error(s"unsupported bloom type $other")
                }
              (p, g.toLong, block.getRowCount, bloom != null, v, verdict)
            }
          }
        } finally reader.close()
      }
      .toDF("path", "row_group", "n_rows", "has_bloom", "probe", "might_contain")
  }


  /** Row-group column statistics from REAL footers: one row per
    * (file, row group, column) with the chunk's min/max (rendered via
    * UTF-8 for binary, decimal string for ints) and row count — the
    * min/max boxes a scan's row-group pruning consults, surfaced through
    * the same executor-side footer reads as the bloom/page reports so
    * the with-vs-without-bloom accounting in `q_bloom_skip_stats` draws
    * BOTH sides from the same footer bytes.
    */
  def rowGroupStatsReport(spark: SparkSession, dir: String,
      colNames: Seq[String]): DataFrame = {
    import spark.implicits._
    val paths = parquetPaths(spark, dir)
    spark.createDataset(paths)
      .repartition(math.min(paths.length, 32))
      .flatMap { p =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(p), conf))
        try {
          val blocks = reader.getFooter.getBlocks
          (0 until blocks.size()).flatMap { g =>
            val block = blocks.get(g)
            colNames.map { cn =>
              val cmd = (0 until block.getColumns.size())
                .map(block.getColumns.get)
                .find(_.getPath.toDotString == cn)
                .getOrElse(sys.error(s"column $cn not in $p"))
              val st = cmd.getStatistics
              require(st != null && !st.isEmpty, s"no chunk stats for $cn in $p")
              def render(v: Any): String = v match {
                case b: Binary => b.toStringUsingUTF8
                case other => String.valueOf(other)
              }
              (p, g.toLong, block.getRowCount, cn,
                render(st.genericGetMin()), render(st.genericGetMax()))
            }
          }
        } finally reader.close()
      }
      .toDF("path", "row_group", "n_rows", "col", "col_min", "col_max")
  }
}
