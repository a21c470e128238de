package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val seed: Long, val root: String, workload: String) {
  val work = s"$root/.bench_out/run-$workload-$seed-${ProcessHandle.current().pid()}"
  val cacheDir = s"$root/.bench_cache"
  val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
  private val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  /** Record one output check; a failure is counted and printed. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += name -> ok
    if (!ok) System.err.println(s"perfbench: CHECK FAILED $name $detail")
  }

  def delete(path: String): Unit = { fs.delete(new Path(path), true); () }

  def bytesUnder(path: String): Long = fs.getContentSummary(new Path(path)).getLength

  /** Cached generated input, keyed by workload, seed and `key` (the
    * generator's size and shape parameters): written once by `write`
    * (into a temporary directory, then renamed), reused while present.
    */
  def cached(key: String)(write: String => Unit): String = {
    val dir = s"$cacheDir/$workload-seed$seed-${graft.codec.Hashing.sha256Hex(key).take(12)}"
    if (!fs.exists(new Path(s"$dir/_SUCCESS"))) {
      val tmp = s"$dir.tmp-${ProcessHandle.current().pid()}"
      delete(tmp)
      write(tmp)
      delete(dir)
      fs.mkdirs(new Path(dir).getParent)
      fs.rename(new Path(tmp), new Path(dir))
    }
    dir
  }
}

/** A named workload: set-up, one round of its timed call mix, end checks. */
trait Workload {
  /** Build the ready state from the seed (run several times; the last wins). */
  def setup(ctx: Ctx): Unit
  /** One round of the timed mix: a fixed call sequence for (seed, roundNo),
    * each call waiting for the previous one (closed loop, one client).
    */
  def round(ctx: Ctx, rec: Recorder, roundNo: Int): Unit
  /** One cheap read call, repeated to measure tracing overhead. */
  def probe(ctx: Ctx, rec: Recorder, i: Int): Unit
  /** Output checks on the state the rounds left. */
  def verify(ctx: Ctx): Unit
  /** Blocks drawn from this workload's inputs for the codec kernel calls. */
  def samples(ctx: Ctx): Kernels.Samples
  /** Workload-specific figures by name, from the calls and (when traced)
    * the trace report.
    */
  def detail(ctx: Ctx, rec: Recorder, report: Option[TraceReport]): Map[String, (Double, String)]
}

/** Workloads run back to back as one: set-up, rounds, checks and figures
  * of each part in turn.
  */
final class Composite(parts: Workload*) extends Workload {
  def setup(ctx: Ctx): Unit = parts.foreach(_.setup(ctx))
  def round(ctx: Ctx, rec: Recorder, roundNo: Int): Unit = parts.foreach(_.round(ctx, rec, roundNo))
  def probe(ctx: Ctx, rec: Recorder, i: Int): Unit = parts.head.probe(ctx, rec, i)
  def verify(ctx: Ctx): Unit = parts.foreach(_.verify(ctx))
  def samples(ctx: Ctx): Kernels.Samples = parts.map(_.samples(ctx)).reduce((a, b) =>
    Kernels.Samples(a.ints ++ b.ints, a.strs ++ b.strs, a.longs ++ b.longs))
  def detail(ctx: Ctx, rec: Recorder, report: Option[TraceReport]): Map[String, (Double, String)] =
    parts.map(_.detail(ctx, rec, report)).reduce(_ ++ _)
}

object Main {
  val SetupReps = 3

  def workloadOf(name: String): Workload = name match {
    case "tokens" => new TokensIngestScan
    // the generic lane under commits, then graft.ops over a corpus: one
    // run pays one JVM and Spark start for both
    case "generic_ops" => new Composite(new GenericMutate, new CorpusOps)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf(s"--$key")
    require(i >= 0 && i + 1 < args.length, s"missing --$key")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val name = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val cores = arg(args, "cores").toInt
    val root = arg(args, "root")
    val workload = workloadOf(name)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      // the session graft.Bench runs the engine in: one shuffle partition
      // per core, AQE on
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$root/.bench_out/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/.bench_out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, seed, root, name)
    try run(ctx, workload, name, seconds, trace)
    finally {
      ctx.delete(ctx.work)
      spark.stop()
    }
  }

  /** Whole rounds until `seconds` have passed, at least one. */
  private def phase(ctx: Ctx, w: Workload, rec: Recorder, seconds: Double): Int = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var r = 0
    while (r == 0 || System.nanoTime() < deadline) {
      val t0 = System.nanoTime()
      w.round(ctx, rec, r)
      System.err.println(f"perfbench: round $r ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r += 1
    }
    r
  }

  private def run(ctx: Ctx, w: Workload, name: String, seconds: Double, trace: Boolean): Unit = {
    val setupTimes = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      w.setup(ctx)
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"perfbench: setup $dt%.2fs")
      dt
    }

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def gcSeconds = gcBeans.map(_.getCollectionTime).sum / 1e3

    // one round (or more, until --seconds), traced or not
    val rec = new Recorder(ctx.spark, tracing = trace)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcSeconds
    val rounds = phase(ctx, w, rec, seconds)
    rec.finish()
    val gcS = gcSeconds - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
    rec.calls.groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, cs) =>
      detail(s"call.$op.p50_ms") = (Stats.median(cs.map(_.seconds).toSeq) * 1e3, "ms")
      detail(s"call.$op.count") = (cs.size.toDouble, "count")
    }
    detail("rounds") = (rounds.toDouble, "count")

    if (!trace) {
      metrics("setup_s") = (Stats.median(setupTimes), "s")
      // every op type weighs the same, and the noise of single calls
      // averages out across op types
      val p50s = rec.calls.groupBy(_.op).values.map(cs => Stats.median(cs.map(_.seconds).toSeq) * 1e3)
      metrics("op_p50_gm_ms") = (math.exp(p50s.map(math.log).sum / p50s.size), "ms")
      detail("jvm.heap_peak_mb") = (heapPeakMb, "MB")
      detail("jvm.gc_s") = (gcS, "s")
      detail ++= w.detail(ctx, rec, None)
    } else {
      val report = new TraceReport(rec)
      val kernels = Kernels.run(w.samples(ctx))
      val tot = report.totals
      Seq("codec.int.encode_MBps", "codec.int.decode_MBps", "codec.str.encode_MBps",
        "codec.str.decode_MBps", "codec.any.encode_MBps", "codec.any.decode_MBps")
        .foreach(k => metrics(k) = kernels(k))
      metrics("spark.jobs") = (tot.jobs.toDouble, "count")
      metrics("spark.stages") = (tot.stages.toDouble, "count")
      metrics("spark.task_cpu_s") = (tot.cpuS, "s")
      metrics("spark.driver_s") = (report.spans.filter(_.parent == 0L).map(report.driverS).sum, "s")
      metrics("jvm.heap_peak_mb") = (heapPeakMb, "MB")
      metrics("jvm.gc_s") = (gcS, "s")
      metrics("trace.overhead_frac") = (overhead(ctx, w), "fraction")
      detail("trace.spans") = (report.spans.size.toDouble, "count")
      detail ++= kernels
      detail ++= w.detail(ctx, rec, Some(report))
      detail ++= moduleFigures(report)
      writeTrace(ctx, name, report)
    }

    w.verify(ctx)
    val attempted = rec.calls.size + ctx.checks.size
    val failed = ctx.checks.count(!_._2)
    detail("failed_frac") = (failed.toDouble / attempted, "fraction")

    // every figure by name with its unit, then the result line
    (metrics ++ detail).foreach { case (k, (v, u)) => println(f"$k%-44s $v%16.6f $u") }
    println(Json.obj(Map("workload" -> Json.str(name),
      "detail" -> Json.metrics(detail.toSeq), "setup_runs_s" -> Json.arr(setupTimes.map(Json.num)),
      "calls" -> Json.num(rec.calls.size.toDouble))))
    println("PERFBENCH_RESULT " + Json.obj(Map(
      "correct" -> (if (failed == 0) "true" else "false"),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.metrics(metrics.toSeq))))
  }

  /** Tracing overhead: the workload's probe call repeated untraced and
    * traced in ABBA order (so drift cancels), as the ratio of the traced
    * median to the untraced median, minus one.
    */
  private def overhead(ctx: Ctx, w: Workload): Double = {
    val plain = new Recorder(ctx.spark, tracing = false)
    val traced = new Recorder(ctx.spark, tracing = true)
    Seq(plain, traced, traced, plain, plain, traced, traced, plain).zipWithIndex
      .foreach { case (r, i) => w.probe(ctx, r, i) }
    traced.finish()
    def med(r: Recorder) = Stats.median(r.calls.map(_.seconds).toSeq)
    med(traced) / med(plain) - 1.0
  }

  /** Self, driver-only and task figures per engine module, from the spans
    * (the benchmark knows which module each call enters) and from the
    * call sites of the stages they ran.
    */
  private def moduleFigures(report: TraceReport): Map[String, (Double, String)] = {
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    report.spans.groupBy(_.module).toSeq.sortBy(_._1).foreach { case (m, ss) =>
      out(s"$m.self_s") = (ss.map(report.selfS).sum, "s")
      out(s"$m.driver_s") = (ss.filter(_.parent == 0L).map(report.driverS).sum, "s")
    }
    report.allJobs.groupBy(report.moduleOf).toSeq.sortBy(_._1).foreach { case (m, js) =>
      val s = report.sums(js)
      out(s"stages.$m.jobs") = (s.jobs.toDouble, "count")
      out(s"stages.$m.job_s") = (js.map(report.jobSeconds).sum, "s")
      out(s"stages.$m.task_cpu_s") = (s.cpuS, "s")
      out(s"stages.$m.shuffle_write_bytes") = (s.shuffleWriteBytes.toDouble, "bytes")
      out(s"stages.$m.spill_bytes") = (s.spillBytes.toDouble, "bytes")
    }
    out.toMap
  }

  /** Spans with their self, driver-only and job figures, for offline study. */
  private def writeTrace(ctx: Ctx, name: String, report: TraceReport): Unit = {
    val rows = report.spans.map { s =>
      val j = report.sums(report.jobsOf(s))
      Json.obj(Map("id" -> s.id.toString, "name" -> Json.str(s.name),
        "module" -> Json.str(s.module), "parent" -> s.parent.toString,
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "dur_s" -> Json.num(report.durS(s)), "self_s" -> Json.num(report.selfS(s)),
        "driver_s" -> Json.num(report.driverS(s)), "jobs" -> j.jobs.toString,
        "task_cpu_s" -> Json.num(j.cpuS), "gc_s" -> Json.num(j.gcS),
        "shuffle_write_bytes" -> j.shuffleWriteBytes.toString,
        "spill_bytes" -> j.spillBytes.toString, "input_records" -> j.inputRecords.toString))
    }
    val jobs = report.allJobs.map { j =>
      Json.obj(Map("id" -> j.id.toString, "span" -> Json.str(j.group),
        "module" -> Json.str(report.moduleOf(j)), "job_s" -> Json.num(report.jobSeconds(j)),
        "call_site" -> Json.str(j.callSite)))
    }
    val dir = new java.io.File(s"${ctx.root}/.bench_out/traces")
    dir.mkdirs()
    val f = new java.io.File(dir, s"$name-seed${ctx.seed}.json")
    java.nio.file.Files.writeString(f.toPath,
      Json.obj(Map("spans" -> Json.arr(rows), "jobs" -> Json.arr(jobs))) + "\n")
  }
}

/** Just enough JSON writing for the result lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def obj(kv: Map[String, String]): String = obj(kv.toSeq.sortBy(_._1): Iterable[(String, String)])
  def arr(xs: Iterable[String]): String = xs.mkString("[", ", ", "]")
  def metrics(ms: Seq[(String, (Double, String))]): String =
    obj(ms.map { case (k, (v, u)) => k -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
}
