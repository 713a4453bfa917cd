package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** Command-line options; run.py passes all of them. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    out: String,
    work: String,
    data: String,
    smoke: Boolean,
    injectFailure: Boolean)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("out"), need("work"), m.getOrElse("data", ""), m.getOrElse("smoke", "0") == "1",
      m.getOrElse("inject-failure", "0") == "1")
  }
}

/** What one benchmark process measured. run.py turns the raw samples into
  * the reported medians and percentiles. */
final class Result {
  val setupBuildS = ArrayBuffer.empty[Double]
  var sessionS = 0.0
  val passS = ArrayBuffer.empty[Double]
  val coldS = ArrayBuffer.empty[Double]
  val opMs = ArrayBuffer.empty[Double]
  val workPerS = ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  val errors = ArrayBuffer.empty[String]
  val checks = ArrayBuffer.empty[Map[String, Any]]
  val report = LinkedHashMap.empty[String, Any]
  val layers = LinkedHashMap.empty[String, Double]
  val env = LinkedHashMap.empty[String, Any]
  /** JVM uptime (s) at each phase boundary of the process. */
  val phases = LinkedHashMap.empty[String, Double]
  def phase(name: String): Unit = phases(name) = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
  /** Further named per-pass samples, reported as medians beside the metrics. */
  val samples = LinkedHashMap.empty[String, ArrayBuffer[Double]]
  def sample(name: String, v: Double): Unit = samples.getOrElseUpdate(name, ArrayBuffer.empty) += v
}

/** State shared by the workloads of one process. */
final class Run(val spark: SparkSession, val opts: Opts, val tracer: Tracer, val res: Result) {
  val steps = ArrayBuffer.empty[StepRec]
  var tracedPasses = 0
  val tracedPassS = ArrayBuffer.empty[Double]
  val untracedPassS = ArrayBuffer.empty[Double]

  def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One attempted operation. A failure is counted and its time is kept out
    * of every sample: the caller only records a time for a Some. */
  def op[T](name: String)(f: => T): Option[T] = {
    res.attempted += 1
    try Some(f) catch { case e: Throwable =>
      res.failed += 1
      res.errors += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      None
    }
  }

  /** An untimed correctness check after the measured window. */
  def check(name: String)(f: => (Boolean, String)): Unit = {
    val (ok, detail) = op(name)(f).getOrElse((false, "exception"))
    if (!ok && !res.errors.exists(_.startsWith(name + ":"))) {
      res.failed += 1
      res.errors += s"$name: mismatch: $detail"
    }
    res.checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
  }

  /** Runs `pass` back to back until the window is spent (at least
    * `minPasses` times). In a traced run the cold first pass and the
    * warm-up second one run untraced, and later passes alternate traced
    * and untraced, which gives the tracing overhead. Returns the pass count. */
  def window(minPasses: Int)(pass: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    // a traced run needs a warm traced pass and a warm untraced one; the
    // class-archive run of every workload needs each code path once
    val least =
      if (opts.workload == "all") 1
      else if (tracer.collector.isDefined) math.max(minPasses, 4) else minPasses
    while (i < least || elapsed < opts.seconds) {
      val traced = tracer.collector.isDefined && i >= 2 && i % 2 == 0
      tracer.enabled = traced
      val (_, s) = secs(pass(i))
      if (tracer.collector.isDefined && i >= 2) (if (traced) tracedPassS else untracedPassS) += s
      if (traced) tracedPasses += 1
      i += 1
    }
    tracer.enabled = false
    res.phase("window_end")
    i
  }

  /** The superstep records of a context, kept when the pass is traced. */
  def keep(ctx: TimedContext): TimedContext = { if (tracer.enabled) steps ++= ctx.steps; ctx }
}

object Main {

  /** Every workload runs at local[Cores]. */
  val Cores = 4

  def session(cores: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // four partitions at every core count: the local[1] leg of the
      // scaling check runs the same partitioned plan on a quarter of the cores
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Fixed single-thread memory-stream probe: median ms to sum a 64 MiB
    * array, five times. A slow host phase shows here, not in a layer. */
  def hostProbeMs(): Double = {
    val a = Array.tabulate(8 << 20)(_.toLong)
    val ts = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      var s = 0L; var i = 0
      while (i < a.length) { s += a(i); i += 1 }
      if (s == 42L) println(s)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    ts(2)
  }

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val res = new Result
    val probeBefore = hostProbeMs()
    val localDir = Paths.get(opts.work, "spark-local").toString
    Files.createDirectories(Paths.get(localDir))
    val spark = session(Cores, localDir)
    res.sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val tracer = new Tracer(spark.sparkContext, s"${opts.workload}-${opts.seed}", opts.trace)
    val run = new Run(spark, opts, tracer, res)
    res.env ++= Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "local_dir" -> localDir,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20))

    res.phase("session")
    opts.workload match {
      case "crawl" => Workloads.crawl(run)
      case "supersteps" => Workloads.supersteps(run)
      case "queries" => Workloads.queries(run)
      // every workload in one JVM: build.py records the class-data archive from it
      case "all" => Workloads.crawl(run); Workloads.supersteps(run); Workloads.queries(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    res.phase("workload_end")
    if (opts.trace) {
      org.apache.spark.PerfbenchBus.drain(SparkSession.active.sparkContext)
      res.layers ++= Layers.compute(run)
      res.layers("host.probe_before_ms") = probeBefore
      Files.writeString(Paths.get(opts.work, "spans.json"), Json.render(Map(
        "run" -> tracer.runId,
        "spans" -> tracer.allSpans.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "run" -> s.run)),
        "layers" -> res.layers)))
    }
    res.report("rss_peak_mb") = vmHwmMb()
    val probeAfter = hostProbeMs()
    res.report("host_probe_before_ms") = probeBefore
    res.report("host_probe_after_ms") = probeAfter
    if (opts.trace) res.layers("host.probe_after_ms") = probeAfter

    Files.writeString(Paths.get(opts.out), Json.render(Map(
      "workload" -> opts.workload, "seed" -> opts.seed, "seconds" -> opts.seconds,
      "trace" -> opts.trace, "smoke" -> opts.smoke,
      "session_s" -> res.sessionS, "setup_build_s" -> res.setupBuildS,
      "pass_s" -> res.passS, "cold_s" -> res.coldS, "op_ms" -> res.opMs,
      "work_per_s" -> res.workPerS, "attempted" -> res.attempted, "failed" -> res.failed,
      "samples" -> res.samples, "errors" -> res.errors, "checks" -> res.checks, "report" -> res.report,
      "layers" -> res.layers, "env" -> res.env, "phases" -> res.phases)))
    SparkSession.active.stop()
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def render(v: Any): String = mapper.writeValueAsString(v)
}
