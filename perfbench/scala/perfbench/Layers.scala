package perfbench

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** Per-layer metrics of a traced run, derived from the listener's jobs and
  * stages, the superstep records and the spans. A layer that does not run
  * in the workload reports 0. */
object Layers {

  /** Samples the workloads add during traced passes. */
  val cachedBytes = ArrayBuffer.empty[Double]
  val snapshotBytes = ArrayBuffer.empty[Double]
  val restoreMs = ArrayBuffer.empty[Double]
  /** (query, start ns, end ns) of each traced query call. */
  val queryCalls = ArrayBuffer.empty[(String, Long, Long)]

  def sampleCached(r: Run): Unit =
    cachedBytes += r.spark.sparkContext.getRDDStorageInfo.map(i => (i.memSize + i.diskSize).toDouble).sum

  val Names: Seq[String] = Seq(
    "io.parse_s", "io.seq_sort_s", "io.vid_mint_s", "io.vid_join_s", "io.shuffle_bytes", "io.gc_s",
    "graph.dedup_s", "graph.csr_pack_s", "graph.cached_bytes",
    "bsp.csr.job_ms", "bsp.csr.driver_ms",
    "bsp.df.jobs", "bsp.df.stages", "bsp.df.exchange_records", "bsp.df.stepstat_messages",
    "bsp.df.exchange_bytes", "bsp.df.task_cpu_ms", "bsp.df.gc_ms", "bsp.df.spill_bytes",
    "bsp.df.task_skew", "bsp.df.core_idle_frac", "bsp.df.scaling_eff_1_4",
    "algo.pagerank_s", "algo.wcc_s", "algo.lpa_s", "algo.triangles_s",
    "algo.pagerank.steps", "algo.wcc.steps", "algo.lpa.steps",
    "algo.wcc.useful_ratio", "algo.triangles.wedge_records",
    "ckpt.wait_ms", "ckpt.snapshot_bytes", "ckpt.finish_ms", "ckpt.restore_ms",
    "query.jobs", "query.tasks", "query.pre_job_ms", "query.cold_extra_ms",
    "spark.jobs", "spark.tasks", "spark.task_cpu_s", "spark.gc_s", "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "selftime.pass_s", "selftime.io_s", "selftime.graph_s", "selftime.algo_s", "selftime.bsp_s",
    "selftime.ckpt_s", "selftime.query_s",
    "trace.overhead_pct")

  def med(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0 else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def compute(r: Run): Map[String, Double] = {
    val c = r.tracer.collector.get
    val jobs = c.allJobs
    val out = LinkedHashMap(Names.map(_ -> 0.0): _*)
    val passes = math.max(1, r.tracedPasses).toDouble
    val spans = r.tracer.allSpans
    def tagged(p: String => Boolean) = jobs.filter(j => p(j.tag))
    def wallS(ss: Seq[StageRec]) = ss.map(_.wallMs).sum / 1e3
    def spanS(name: String) = spans.filter(_.name == name).map(_.durNs).sum / 1e9 / passes
    val ckptJob: JobRec => Boolean = j => c.stagesOf(Seq(j)).exists(_.frame.startsWith("graft.ckpt."))

    // io: fromPages runs its phases in order -- the href parse fused into
    // the pages scan, the seq sort closed by fromEdgeEvents' event count,
    // then the vid mint; the url -> vid joins run when the benchmark counts
    // the graph. Adaptive execution submits most stages from a pool
    // thread whose call site names no program frame, so each job takes the
    // phase of its place in that order, and the parse is the scan stages.
    val fromPages = tagged(_ == "io.from_pages").sortBy(_.startMs)
    val eventsCounted = fromPages.indexWhere(j =>
      c.stagesOf(Seq(j)).exists(_.frame.startsWith("graft.graph.LinkGraph$.fromEdgeEvents")))
    val (seqJobs, mintJobs) = fromPages.splitAt(if (eventsCounted < 0) fromPages.size else eventsCounted + 1)
    val scans = (js: Seq[JobRec]) => c.stagesOf(js).partition(_.rdds.contains("FileScanRDD"))
    val (parse0, seq) = scans(seqJobs)
    val (parse1, mint) = scans(mintJobs)
    val join = c.stagesOf(tagged(_ == "io.vid_join"))
    val io = c.stagesOf(fromPages) ++ join
    out("io.parse_s") = wallS(parse0 ++ parse1) / passes
    out("io.seq_sort_s") = wallS(seq) / passes
    out("io.vid_mint_s") = wallS(mint) / passes
    out("io.vid_join_s") = wallS(join) / passes
    out("io.shuffle_bytes") = io.map(_.swBytes).sum / passes
    out("io.gc_s") = io.map(_.gcMs).sum / 1e3 / passes

    out("graph.dedup_s") = spanS("graph.dedup")
    out("graph.csr_pack_s") =
      wallS(c.stagesOf(tagged(_.nonEmpty)).filter(_.frame.startsWith("graft.graph.CsrGraph$"))) / passes
    out("graph.cached_bytes") = med(cachedBytes)

    // supersteps: the jobs that started inside each one, less the
    // durable writer's snapshot jobs (those belong to ckpt)
    val stepJobs = r.steps.map(s => s -> jobs.filter(j => s.holds(j) && !ckptJob(j))).toMap
    val csr = r.steps.filter(_.csr)
    val csrJobMs = csr.map(s => stepJobs(s).filterNot(j =>
      c.stagesOf(Seq(j)).exists(_.frame.startsWith("graft.graph."))).map(_.wallMs.toDouble).sum)
    out("bsp.csr.job_ms") = med(csrJobMs)
    out("bsp.csr.driver_ms") = med(csr.zip(csrJobMs).map { case (s, j) => s.wallNs / 1e6 - j })

    val df = r.steps.filterNot(_.csr)
    val dfStages = df.map(s => s -> c.stagesOf(stepJobs(s))).toMap
    def perStep(f: (StepRec, Seq[StageRec]) => Double) = med(df.map(s => f(s, dfStages(s))))
    out("bsp.df.jobs") = perStep((s, _) => stepJobs(s).size)
    out("bsp.df.stages") = perStep((_, ss) => ss.size)
    out("bsp.df.exchange_records") = perStep((_, ss) => ss.map(_.swRecords).sum)
    out("bsp.df.stepstat_messages") = perStep((s, _) => s.stat.messages)
    out("bsp.df.exchange_bytes") = perStep((_, ss) => ss.map(_.swBytes).sum)
    out("bsp.df.task_cpu_ms") = perStep((_, ss) => ss.map(_.cpuNs).sum / 1e6)
    out("bsp.df.gc_ms") = perStep((_, ss) => ss.map(_.gcMs).sum)
    out("bsp.df.spill_bytes") = perStep((_, ss) => ss.map(_.spill).sum)
    out("bsp.df.task_skew") = perStep { (_, ss) =>
      val reading = ss.filter(_.srRecords > 0)
      if (reading.isEmpty) 0.0 else {
        val t = reading.maxBy(_.srRecords).taskMs.map(_.toDouble)
        t.max / math.max(1.0, med(t))
      }
    }
    r.res.report.get("scaling_eff_1_4").foreach { case e: Double => out("bsp.df.scaling_eff_1_4") = e }
    out("bsp.df.core_idle_frac") = perStep((s, ss) =>
      1.0 - ss.map(_.runMs).sum / math.max(1e-9, s.wallNs / 1e6 * Main.Cores))

    for (a <- Seq("pagerank", "wcc", "lpa", "triangles")) out(s"algo.${a}_s") = spanS(s"algo.$a")
    for (a <- Seq("pagerank", "wcc", "lpa")) out(s"algo.$a.steps") = r.steps.count(_.label == a) / passes
    val wccDf = df.filter(_.stat.algo == "wcc")
    val wccRecords = wccDf.map(s => dfStages(s).map(_.swRecords).sum).sum.toDouble
    out("algo.wcc.useful_ratio") = if (wccRecords > 0) wccDf.map(_.stat.delta).sum / wccRecords else 0.0
    out("algo.triangles.wedge_records") =
      c.stagesOf(tagged(_ == "algo.triangles")).map(_.swRecords.toDouble).maxOption.getOrElse(0.0)

    val durable = r.steps.filter(_.durable)
    out("ckpt.wait_ms") = med(durable.map(_.recordNs / 1e6))
    out("ckpt.snapshot_bytes") = med(snapshotBytes)
    out("ckpt.finish_ms") = med(spans.filter(_.name == "ckpt.finish").map(_.durNs / 1e6))
    out("ckpt.restore_ms") = med(restoreMs)

    if (queryCalls.nonEmpty) {
      val perCall = queryCalls.map { case (q, t0, t1) =>
        val js = tagged(_ == s"query.$q").filter(j => j.startMs >= Clock.epochMs(t0) - 1 &&
          j.startMs <= Clock.epochMs(t1) + 1)
        val first = js.map(_.startMs.toDouble).minOption.getOrElse(Clock.epochMs(t1))
        (js.size.toDouble, c.stagesOf(js).map(_.taskMs.size).sum.toDouble, first - Clock.epochMs(t0))
      }
      out("query.jobs") = med(perCall.map(_._1))
      out("query.tasks") = med(perCall.map(_._2))
      out("query.pre_job_ms") = med(perCall.map(_._3))
    }
    r.res.report.get("query_latency_ms").foreach { case lat: collection.Map[String, Seq[Double]] @unchecked =>
      out("query.cold_extra_ms") = med(lat.values.filter(_.size > 2).map(xs => xs.head - med(xs.drop(2))))
    }

    val all = c.stagesOf(jobs)
    out("spark.jobs") = jobs.size
    out("spark.tasks") = all.map(_.taskMs.size).sum
    out("spark.task_cpu_s") = all.map(_.cpuNs).sum / 1e9
    out("spark.gc_s") = all.map(_.gcMs).sum / 1e3
    out("spark.shuffle_write_bytes") = all.map(_.swBytes).sum
    out("spark.spill_bytes") = all.map(_.spill).sum

    r.tracer.selfTimeS.foreach { case (layer, s) =>
      if (out.contains(s"selftime.${layer}_s")) out(s"selftime.${layer}_s") = s / passes
    }
    if (r.tracedPassS.nonEmpty && r.untracedPassS.nonEmpty) {
      val u = med(r.untracedPassS)
      out("trace.overhead_pct") = (med(r.tracedPassS) - u) / u * 100.0
    }
    out.toMap
  }
}
