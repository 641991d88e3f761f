package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration, and the
  * engine's only session builder: every main (Bench, Verify, Tool, Sweep,
  * the data/fixture generators) and the benchmark build their session
  * here, so the benchmarked session is the verified one.
  *
  * `cluster` is the 100-TB profile: AQE with skew-join splitting and
  * partition coalescing, larger scan partitions, broadcast threshold wide
  * enough for real dimension tables. `local` pins shuffle partitions to the
  * core count (the 200-partition default is pure overhead in one JVM).
  */
object GraftSession {

  /** Conf map for the local profile (kept as data, like [[clusterConf]], so
    * AQE parity between the two profiles is testable). Skew-join splitting
    * is ON here too: the same celebrity-hub joins (e.g.
    * connectedComponents' edges⋈labels) that AQE splits on a cluster should
    * split locally, so local runs exercise the same physical plan family.
    * The byte threshold stays at Spark's default — local shuffles are
    * small, so splitting only triggers on real skew.
    */
  def localConf(cores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "5",
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC")

  /** Local core count: `SPARK_GRAFT_CPUS` when set, else every available
    * processor. The only reader of that variable.
    */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[cores]` session with [[localConf]], the engine's SQL functions
    * registered and process-wide media IO configured.
    */
  def local(cores: Int = defaultCores,
      appName: String = "graft"): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
    localConf(cores).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(s)
    // process-wide media-IO config (in-memory ImageIO streams) lives with
    // session startup, not codec class-loading — see MediaIo's scaladoc
    graft.multimodal.MediaIo.init()
    s
  }

  /** Conf map for cluster deployment (applied by spark-submit --conf or a
    * builder loop); kept as data so it is inspectable and testable.
    */
  val clusterConf: Map[String, String] = Map(
    // AQE: runtime re-plan is the single highest-leverage setting at scale
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "5",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256m",
    // scans: 256 MB splits keep task count sane on 100 TB inputs
    "spark.sql.files.maxPartitionBytes" -> "268435456",
    // shuffle: start high, AQE coalesces down; 2000+ avoids single-digit-GB
    // reducer partitions on wide shuffles
    "spark.sql.shuffle.partitions" -> "2000",
    // joins: 64 MB broadcast covers real dimension tables
    "spark.sql.autoBroadcastJoinThreshold" -> "67108864",
    // storage: spill-friendly serialization
    "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.parquet.compression.codec" -> "zstd")
}
