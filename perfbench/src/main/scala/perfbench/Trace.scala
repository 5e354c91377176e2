package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval, kept in memory and written out when the run ends. */
final case class Span(id: Int, parent: Int, name: String, runId: String,
                      startNs: Long, endNs: Long)

/** Work Spark did for one job group, summed over its jobs and tasks. */
final class GroupCounters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var bytesIn = 0L
  var bytesOut = 0L
  var recordsOut = 0L
  /** Wall time of jobs that ran `RasterBinarySink`'s per-layer export. */
  var exportMs = 0L
}

/** SparkListener that attributes jobs, tasks and task metrics to the job
  * group active when each job started. The benchmark gives every operation
  * a fresh group id, so a reused name never merges two operations' counts.
  */
final class GroupListener extends SparkListener {
  private val byGroup = mutable.Map[String, GroupCounters]()
  private val stageGroup = mutable.Map[Int, String]()
  private val exportJobs = mutable.Map[Int, (String, Long)]() // job id -> (group, start ms)

  def counters(group: String): GroupCounters = synchronized {
    byGroup.getOrElse(group, new GroupCounters)
  }

  private def at(group: String): GroupCounters = byGroup.getOrElseUpdate(group, new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    at(group).jobs += 1
    e.stageIds.foreach(stageGroup(_) = group)
    // The sink's export is the only `mapGroups` in an ingestion cycle. Its
    // job is collected from Cycle.run, so the call site names Cycle, not
    // the sink; the operator scope is what identifies it.
    if (e.stageInfos.exists(_.rddInfos.exists(_.scope.exists(_.name == "MapGroups"))))
      exportJobs(e.jobId) = (group, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    exportJobs.remove(e.jobId).foreach { case (group, t0) => at(group).exportMs += e.time - t0 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val group = stageGroup.getOrElse(e.stageId, "")
    val c = at(group)
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.bytesIn += m.inputMetrics.bytesRead
      c.bytesOut += m.outputMetrics.bytesWritten
      c.recordsOut += m.outputMetrics.recordsWritten
    }
  }
}

/** Spans and listener counters for one run. With tracing off nothing is
  * recorded and no listener is registered; job groups are set either way,
  * so the two runs execute the same program calls.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean, val runId: String) {
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var seq = 0
  private var nextSpan = 0
  val listener: Option[GroupListener] =
    if (enabled) { val l = new GroupListener; spark.sparkContext.addSparkListener(l); Some(l) }
    else None

  /** Time `f`, recording a span under the innermost open span. */
  def span[A](name: String)(f: => A): (A, Double) = {
    val start = System.nanoTime()
    val id = nextSpan
    nextSpan += 1
    if (enabled) stack.push(id)
    val r = try f finally if (enabled) stack.pop()
    val end = System.nanoTime()
    if (enabled) spans += Span(id, stack.headOption.getOrElse(-1), name, runId, start - t0, end - t0)
    (r, (end - start) / 1e9)
  }

  /** Run `f` under a job group no other operation of any run shares;
    * the enclosing group, if any, is restored afterwards.
    */
  def group[A](label: String)(f: String => A): A = {
    seq += 1
    val id = s"$runId-$seq-$label"
    val sc = spark.sparkContext
    val outer = Option(sc.getLocalProperty("spark.jobGroup.id"))
    sc.setJobGroup(id, label, interruptOnCancel = false)
    try f(id)
    finally outer match {
      case Some(o) => sc.setJobGroup(o, o, interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
  }

  /** Counters of a finished group; waits until the listener has seen
    * every event posted so far.
    */
  def counters(group: String): GroupCounters = listener match {
    case Some(l) =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      l.counters(group)
    case None => new GroupCounters
  }

  def spansJson: String = spans.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"run":${Json.str(s.runId)},""" +
      s""""start_s":${Json.num(s.startNs / 1e9)},"end_s":${Json.num(s.endNs / 1e9)}}"""
  }.mkString("[", ",", "]")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
