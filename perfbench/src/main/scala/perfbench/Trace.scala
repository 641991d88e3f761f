package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work charged to one job group: the benchmark names each span's
  * group with `setJobGroup`, and this listener sums the jobs, stages and
  * task metrics that ran under it.
  */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var executorRunMs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** [start, end) epoch-ms of every finished job, for driver-idle time. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    executorRunMs += o.executorRunMs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
    jobIntervals ++= o.jobIntervals
  }

  /** Milliseconds of [from, to] covered by at least one job. */
  def jobCoveredMs(from: Long, to: Long): Long = {
    var covered = 0L; var reach = from
    jobIntervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        val s1 = math.max(s, reach)
        if (e > s1) { covered += e - s1; reach = e }
      }
    covered
  }
}

final class GroupListener extends SparkListener {
  private val groups = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()

  private def acc(g: String): Counters = groups.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("ungrouped")
    e.stageIds.foreach(stageGroup.put(_, g))
    jobStart.put(e.jobId, (g, e.time))
    val c = acc(g); c.synchronized { c.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
      val c = acc(g); c.synchronized { c.jobIntervals += ((t0, e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = acc(stageGroup.getOrDefault(e.stageInfo.stageId, "ungrouped"))
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = acc(stageGroup.getOrDefault(e.stageId, "ungrouped"))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.executorRunMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Counters of one group; call after [[Tracer.drain]]. */
  def group(g: String): Counters = {
    val out = new Counters
    Option(groups.get(g)).foreach(c => c.synchronized(out.add(c)))
    out
  }
}

/** One recorded span: a layer call made by the benchmark. `parent` is the
  * enclosing span's id (0 = none); all spans of one traced pass share
  * `pass`.
  */
final case class Span(
    id: Int, parent: Int, pass: Int, name: String,
    startMs: Long, endMs: Long, wallS: Double, counters: Counters) {
  def json(cores: Int, selfS: Double): String =
    s"""{"id": $id, "parent": $parent, "pass": $pass, "name": "$name", "start_ms": $startMs, """ +
      s""""end_ms": $endMs, "wall_s": $wallS, "self_s": $selfS, "jobs": ${counters.jobs}, """ +
      s""""stages": ${counters.stages}, "tasks": ${counters.tasks}, """ +
      s""""executor_run_s": ${counters.executorRunMs / 1e3}, "gc_s": ${counters.gcMs / 1e3}, """ +
      s""""shuffle_read_bytes": ${counters.shuffleReadBytes}, """ +
      s""""shuffle_write_bytes": ${counters.shuffleWriteBytes}, "spill_bytes": ${counters.spillBytes}, """ +
      s""""busy_frac": ${Tracer.busyFrac(counters, wallS, cores)}}"""
}

/** Records spans around the benchmark's calls into each layer. Each span
  * runs its body under its own Spark job group, so the listener charges
  * every job to the innermost span that submitted it. Spans stay in memory
  * until the run writes them out.
  */
final class Tracer(spark: SparkSession, listener: GroupListener) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var stack: List[(Int, String)] = Nil
  var pass = 0

  def drain(): Unit = BenchBus.drain(spark.sparkContext)

  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val group = s"span-$id"
    val sc = spark.sparkContext
    val parent = stack.headOption
    sc.setJobGroup(group, name, interruptOnCancel = false)
    stack = (id, group) :: stack
    val t0 = System.nanoTime(); val startMs = System.currentTimeMillis()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      stack = stack.tail
      parent match {
        case Some((_, g)) => sc.setJobGroup(g, g, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      drain()
      spans += Span(id, parent.map(_._1).getOrElse(0), pass, name, startMs, endMs, wall,
        listener.group(group))
    }
  }

  /** Wall time of a span minus the part covered by its direct children. */
  def selfS(s: Span): Double =
    s.wallS - spans.filter(_.parent == s.id).map(_.wallS).sum

  def json(cores: Int): String = spans.map(s => s.json(cores, selfS(s))).mkString("[", ",\n", "]")
}

object Tracer {
  def busyFrac(c: Counters, wallS: Double, cores: Int): Double =
    if (wallS <= 0) 0.0 else c.executorRunMs / 1e3 / (wallS * cores)
}
