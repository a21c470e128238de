package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into the engine's public API. */
final case class Call(op: String, module: String, seconds: Double)

/** A span around one call (or a group of calls) in the benchmark's own
  * code. Times are wall-clock milliseconds so they line up with the
  * listener's job events; `durNs` is the precise duration.
  */
final case class Span(id: Long, name: String, module: String, parent: Long,
    startMs: Long, endMs: Long, durNs: Long)

/** Records calls, and when tracing, spans plus the Spark jobs each span
  * caused (every span sets the job group to its own id).
  */
final class Recorder(spark: SparkSession, val tracing: Boolean) {
  val calls = ArrayBuffer.empty[Call]
  val spans = ArrayBuffer.empty[Span]
  val listener: Option[JobListener] =
    if (tracing) Some(new JobListener) else None
  listener.foreach(spark.sparkContext.addSparkListener)

  private var nextId = 1L
  private var stack: List[Long] = Nil

  def span[T](name: String, module: String)(f: => T): T =
    if (!tracing) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      val sc = spark.sparkContext
      stack = id :: stack
      sc.setJobGroup(id.toString, name, interruptOnCancel = false)
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try f
      finally {
        val dur = System.nanoTime() - t0
        spans += Span(id, name, module, parent, ms0, System.currentTimeMillis(), dur)
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.toString, "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Time one public call. */
  def call[T](op: String, module: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = span(op, module)(f)
    calls += Call(op, module, (System.nanoTime() - t0) / 1e9)
    r
  }

  /** Median seconds of the calls of one op. */
  def median(op: String): Double = Stats.median(calls.filter(_.op == op).map(_.seconds).toSeq)

  /** Detach the listener after waiting for its queue to drain. */
  def finish(): Unit = listener.foreach { l =>
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(l)
  }
}

final class StageAgg {
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputRecords = 0L
}

final case class JobInfo(id: Int, group: String, startMs: Long, stageIds: Seq[Int],
    callSite: String) {
  @volatile var endMs: Long = -1L
}

/** Sums task metrics per stage and remembers each job's group, stages and
  * call site, so work can be charged to spans and to engine modules.
  */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobInfo]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()
  /** Call site of each SQL execution: jobs that Spark SQL submits from its
    * own threads carry no user frames, but their execution does.
    */
  private val sqlSites = new ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      sqlSites.put(s.executionId, s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val group = prop("spark.jobGroup.id").getOrElse("")
    val stageSite = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val sqlSite = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id"))
      .flatMap(id => Option(sqlSites.get(id.toLong)))
    val site = if (stageSite.contains("graft.")) stageSite else sqlSite.getOrElse(stageSite)
    jobs.put(e.jobId, JobInfo(e.jobId, group, e.time, e.stageIds, site))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.synchronized {
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }
}

/** Aggregates over a set of Spark jobs. */
final case class JobSums(jobs: Int, stages: Int, cpuS: Double, gcS: Double,
    shuffleWriteBytes: Long, spillBytes: Long, inputRecords: Long)

/** Per-span and per-module figures from one traced phase. */
final class TraceReport(rec: Recorder) {
  private val l = rec.listener.get
  val spans: Seq[Span] = rec.spans.toSeq
  private val jobs: Seq[JobInfo] = l.jobs.values.asScala.toSeq.sortBy(_.id)
  private val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)

  private def subtree(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  /** Jobs started inside a span or any of its descendants. */
  def jobsOf(s: Span): Seq[JobInfo] = {
    val ids = subtree(s).map(_.id.toString).toSet
    jobs.filter(j => ids(j.group))
  }

  def sums(js: Seq[JobInfo]): JobSums = {
    val aggs = js.flatMap(_.stageIds).distinct.flatMap(id => Option(l.stages.get(id)))
    JobSums(js.size, aggs.size, aggs.map(_.cpuNs).sum / 1e9, aggs.map(_.gcMs).sum / 1e3,
      aggs.map(_.shuffleWriteBytes).sum, aggs.map(_.spillBytes).sum,
      aggs.map(_.inputRecords).sum)
  }

  /** Milliseconds of [lo, hi] covered by the union of `iv`. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }

  def durS(s: Span): Double = s.durNs / 1e9

  /** Span time minus the part its child spans cover. */
  def selfS(s: Span): Double = {
    val kids = children.getOrElse(s.id, Nil)
    val cov = covered(kids.map(k => (k.startMs, k.endMs)), s.startMs, s.endMs)
    math.max(0.0, durS(s) - cov / 1e3)
  }

  /** Span time during which no Spark job of the span was running. */
  def driverS(s: Span): Double = {
    val iv = jobsOf(s).map(j => (j.startMs, if (j.endMs < 0) s.endMs else j.endMs))
    math.max(0.0, durS(s) - covered(iv, s.startMs, s.endMs) / 1e3)
  }

  def jobSeconds(j: JobInfo): Double = math.max(0L, j.endMs - j.startMs) / 1e3

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  private val spanModule: Map[String, String] = spans.map(s => s.id.toString -> s.module).toMap

  /** Engine module of a job: the package of the first `graft.` frame in
    * its call site (graft.table.GraftTable$.encode(GraftTable.scala:290)
    * → table). A job the benchmark's own action starts on a frame the
    * engine returned (a count over a decode) has no engine frame; it is
    * charged to the module of the span it ran in.
    */
  def moduleOf(j: JobInfo): String =
    j.callSite.split("\n").map(_.trim).find(_.startsWith("graft.")) match {
      case Some(f) =>
        val parts = f.takeWhile(_ != '(').split('.')
        if (parts.length >= 3) parts(1) else "graft"
      case None => spanModule.getOrElse(j.group, "unattributed")
    }

  /** Median jobs and driver-only seconds per commit span. */
  def commitFigures(commitSpans: Seq[String]): Map[String, (Double, String)] = {
    val ss = commitSpans.flatMap(named)
    if (ss.isEmpty) Map.empty
    else Map(
      "table.commit.jobs" -> (Stats.median(ss.map(s => jobsOf(s).size.toDouble)), "count"),
      "table.commit.driver_s" -> (Stats.median(ss.map(driverS)), "s"))
  }

  def allJobs: Seq[JobInfo] = jobs
  def totals: JobSums = sums(jobs)
}
