package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.algo.{Lpa, PageRank, Triangles, Wcc}
import graft.bsp.LocalRunContext
import graft.ckpt.{Catalog, CatalogRunContext}
import graft.graph.LinkGraph

/** The three workloads. Each one sets up its inputs from the seed, runs its
  * passes for the measured window, and checks the last pass's results
  * untimed. */
object Workloads {

  // ---- sizes -------------------------------------------------------------

  final case class Sizes(pages: Long, links: Int, crawlSweeps: Int, edges: Long, prSteps: Int,
      lpaSweeps: Int, durableSteps: Int, resumeAt: Int, scalingSteps: Int)
  val Full = Sizes(pages = 2000, links = 4, crawlSweeps = 2, edges = 100000, prSteps = 10,
    lpaSweeps = 1, durableSteps = 4, resumeAt = 2, scalingSteps = 3)
  val Smoke = Sizes(pages = 300, links = 4, crawlSweeps = 2, edges = 4000, prSteps = 3,
    lpaSweeps = 1, durableSteps = 4, resumeAt = 2, scalingSteps = 2)
  def sizes(r: Run): Sizes = if (r.opts.smoke) Smoke else Full

  /** Builds the input `SetupBuilds` times and keeps the last build: setup_s
    * reports the median build, so one slow build does not move it. */
  val SetupBuilds = 3

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    val all = try { import scala.jdk.CollectionConverters._; walk.iterator().asScala.toSeq } finally walk.close()
    all.sortBy(-_.getNameCount).foreach(Files.deleteIfExists)
  }

  private def dirBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val walk = Files.walk(p)
    try { import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    } finally walk.close()
  }

  /** A deliberately failing operation for the self-tests: it throws at once,
    * so a benchmark that timed failures would show it as a fast sample. */
  private def injected(r: Run): Unit =
    if (r.opts.injectFailure) r.op("injected-failure") { throw new IllegalStateException("injected") }

  // ---- crawl -------------------------------------------------------------

  def crawl(r: Run): Unit = {
    val spark = r.spark
    val sz = sizes(r)
    val work = Paths.get(r.opts.work)
    var pagesDir = ""
    for (b <- 0 until SetupBuilds) {
      val dir = work.resolve(s"pages-$b").toString
      val (_, s) = r.secs {
        Gen.pages(spark, sz.pages, sz.links, r.opts.seed).write.parquet(dir)
      }
      r.res.setupBuildS += s
      pagesDir = dir
    }
    var last: (DataFrame, DataFrame, DataFrame, Long) = null
    injected(r)
    // pass 0 is cold; pass 1 still runs while the JIT settles (its CSR
    // supersteps are a third slower than later ones), so it is not sampled
    r.window(minPasses = 3) { i =>
      val pass = r.op("crawl-pass") {
        r.tracer.span("pass.crawl") {
          val t0 = System.nanoTime()
          val pages = spark.read.parquet(pagesDir)
          val (g, ingestS) = r.secs(r.tracer.span("io.ingest") {
            val g = r.tracer.span("io.from_pages") { LinkGraph.fromPages(pages).cache() }
            r.tracer.span("io.vid_join") { g.edges.count(); g.nodes.count() }
            g
          })
          r.tracer.span("graph.dedup") { g.dedupEdges.count() }
          if (r.tracer.enabled) Layers.sampleCached(r)
          val prCtx = new TimedContext(new LocalRunContext, "pagerank", r.tracer)
          val pr = r.tracer.span("algo.pagerank") {
            val d = PageRank.run(g, PageRank.Config(iterCount = 20, tol = 0.0), prCtx); d.count(); d
          }
          val wccCtx = new TimedContext(new LocalRunContext, "wcc", r.tracer)
          val wcc = r.tracer.span("algo.wcc") { val d = Wcc.run(g, ctx = wccCtx); d.count(); d }
          val lpaCtx = new TimedContext(new LocalRunContext, "lpa", r.tracer)
          val lpa = r.tracer.span("algo.lpa") {
            val d = Lpa.runSync(g, maxSweeps = sz.crawlSweeps, ctx = lpaCtx); d.count(); d
          }
          val tri = r.tracer.span("algo.triangles") { Triangles.count(g) }
          val wall = (System.nanoTime() - t0) / 1e9
          Seq(prCtx, wccCtx, lpaCtx).foreach(r.keep)
          (wall, ingestS, Seq(prCtx, wccCtx, lpaCtx).flatMap(_.steps), (pr, wcc, lpa, tri),
            g.edgeCount)
        }
      }
      pass.foreach { case (wall, ingestS, steps, results, m) =>
        if (i == 0) r.res.coldS += wall
        else if (i >= 2) {
          r.res.passS += wall
          r.res.opMs ++= steps.map(_.wallNs / 1e6)
          r.res.workPerS += sz.pages / ingestS
          val prSteps = steps.filter(_.label == "pagerank")
          r.res.sample("pagerank_edges_per_s", m * prSteps.size / (prSteps.map(_.wallNs).sum / 1e9))
          r.res.sample("ingest_s", ingestS)
        }
        last = results
      }
      // every pass ingests afresh: drop the tables the last ingest cached
      // (the kept results are local rows and checkpointed state)
      spark.catalog.clearCache()
    }
    if (last == null) return
    val (pr, wcc, lpa, tri) = last
    val oracle = CrawlOracle(sz.pages, sz.links, r.opts.seed, iters = 20)
    val scores = pr.select("vid", "score").collect().map(x => x.getLong(0).toInt -> x.getDouble(1)).toMap
    r.check("crawl.pagerank_sum") {
      val s = scores.values.sum
      (math.abs(s - 1.0) <= 1e-6, f"sum=$s%.12f")
    }
    r.check("crawl.pagerank_oracle") {
      val bad = (0 until oracle.n).count(v => !scores.get(v).exists(x => math.abs(x - oracle.pr(v)) <= 1e-9))
      (bad == 0 && scores.size == oracle.n, s"n=${scores.size}/${oracle.n} mismatched=$bad")
    }
    val top10 = scores.toSeq.sortBy { case (v, s) => (-s, v) }.take(10).map(_._1)
    r.check("crawl.pagerank_top10") {
      (top10 == oracle.top10.toSeq, s"got=${top10.mkString(",")} want=${oracle.top10.mkString(",")}")
    }
    val comps = wcc.select("component_vid").distinct().count()
    r.check("crawl.components") { (comps == oracle.components, s"got=$comps want=${oracle.components}") }
    r.check("crawl.triangles") { (tri == oracle.triangles, s"got=$tri want=${oracle.triangles}") }
    r.check("crawl.lpa_labels") {
      val n = lpa.filter(col("label").isNotNull).count()
      (n == oracle.n, s"labelled=$n nodes=${oracle.n}")
    }
    if (!r.opts.smoke && r.opts.seed == CrawlOracle.DefaultSeed) r.check("crawl.pinned_default_seed") {
      val got = (tri, comps, top10)
      (got == CrawlOracle.Pinned, s"got=$got pinned=${CrawlOracle.Pinned}")
    }
    r.res.report("triangles") = tri
    r.res.report("components") = comps
    r.res.report("nodes") = oracle.n
    r.res.report("pages") = sz.pages
  }

  // ---- supersteps / durable: the hub-heavy numeric graph ------------------

  private def buildGraph(r: Run): LinkGraph = {
    val sz = sizes(r)
    var g: LinkGraph = null
    for (_ <- 0 until SetupBuilds) {
      if (g != null) g.unpersist()
      val (built, s) = r.secs {
        val h = LinkGraph.fromRawEdges(Gen.hubEdges(r.spark, sz.edges, r.opts.seed))
        h.nodes.count(); h.dedupEdges.count(); h.undirectedPairs.count()
        h
      }
      r.res.setupBuildS += s
      g = built
    }
    g
  }

  /** DF supersteps on the hub-heavy graph, in memory and then durable: each
    * pass runs PageRank, WCC and sync LPA with in-memory contexts, then
    * PageRank and WCC with every superstep committed to a catalog, drops
    * the PageRank manifests past step k as a kill would, and resumes. */
  def supersteps(r: Run): Unit = {
    val sz = sizes(r)
    val g = buildGraph(r)
    val m = g.edgeCount
    r.res.report("graph_nodes") = g.nodeCount
    r.res.report("graph_edges") = m
    val prCfg = PageRank.Config(iterCount = sz.prSteps, tol = 0.0, mode = "df")
    val durCfg = prCfg.copy(iterCount = sz.durableSteps)
    val catRoot = Paths.get(r.opts.work, "catalog")
    var last: (DataFrame, DataFrame, DataFrame, CatalogRunContext, DataFrame, DataFrame) = null
    var lastRoot: Path = null
    injected(r)
    r.window(minPasses = 2) { i =>
      if (lastRoot != null) deleteTree(lastRoot)
      val root = catRoot.resolve(s"pass-$i")
      lastRoot = root
      val pass = r.op("supersteps-pass") {
        r.tracer.span("pass.supersteps") {
          val t0 = System.nanoTime()
          def local(l: String) = new TimedContext(new LocalRunContext, l, r.tracer)
          val mem = Seq(local("pagerank"), local("wcc"), local("lpa"))
          val pr = r.tracer.span("algo.pagerank") { val d = PageRank.run(g, prCfg, mem(0)); d.count(); d }
          val wcc = r.tracer.span("algo.wcc") { val d = Wcc.run(g, ctx = mem(1), mode = "df"); d.count(); d }
          val lpa = r.tracer.span("algo.lpa") {
            val d = Lpa.runSync(g, maxSweeps = sz.lpaSweeps, mode = "df", ctx = mem(2)); d.count(); d
          }

          val t1 = System.nanoTime()
          val cat = new Catalog(root.toString)
          def durable(id: String, l: String) =
            new TimedContext(new CatalogRunContext(cat, id, r.spark, every = 1), l, r.tracer)
          val dur = Seq(durable("pr", "pagerank"), durable("wcc", "wcc"))
          val prDurable = r.tracer.span("algo.pagerank") { val d = PageRank.run(g, durCfg, dur(0)); d.count(); d }
          r.tracer.span("algo.wcc") { Wcc.run(g, ctx = dur(1), mode = "df").count() }
          val durableS = (System.nanoTime() - t1) / 1e9
          // crash after step k: drop every later manifest, as a kill would
          for (s <- sz.resumeAt + 1 to sz.durableSteps)
            Files.delete(root.resolve(s"state/pr/meta/manifest-$s.json"))
          val t2 = System.nanoTime()
          val inner = new CatalogRunContext(cat, "pr", r.spark)
          val resCtx = new TimedContext(inner, "pagerank", r.tracer)
          val resumed = r.tracer.span("algo.pagerank_resume") {
            val d = PageRank.run(g, durCfg, resCtx); d.count(); d
          }
          val resumeS = (System.nanoTime() - t2) / 1e9
          val ctxs = mem ++ dur :+ resCtx
          ctxs.foreach(r.keep)
          if (r.tracer.enabled) {
            Layers.restoreMs += resCtx.restoreNs / 1e6
            Layers.snapshotBytes ++=
              (1 to sz.durableSteps).map(s => dirBytes(root.resolve(s"state/pr/snap-$s")).toDouble)
          }
          ((System.nanoTime() - t0) / 1e9, durableS, resumeS, ctxs.flatMap(_.steps),
            (pr, wcc, lpa, inner, prDurable, resumed))
        }
      }
      pass.foreach { case (wall, durableS, resumeS, steps, results) =>
        if (i == 0) r.res.coldS += wall
        else {
          r.res.passS += wall
          r.res.opMs ++= steps.map(_.wallNs / 1e6)
          r.res.workPerS += m * steps.size / (steps.map(_.wallNs).sum / 1e9)
          r.res.sample("durable_s", durableS)
          r.res.sample("resume_s", resumeS)
          val mem = steps.filter(!_.durable)
          r.res.sample("step_edges_per_s_in_memory", m * mem.size / (mem.map(_.wallNs).sum / 1e9))
        }
        last = results
      }
    }
    if (last != null) {
      val (pr, wcc, lpa, inner, prDurable, resumed) = last
      def scores(d: DataFrame) = d.select("vid", "score").collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
      def close(a: Map[Long, Double], b: Map[Long, Double], tol: Double) =
        (a.size == b.size && b.forall { case (v, s) => a.get(v).exists(x => math.abs(x - s) <= tol) },
          s"n=${a.size}/${b.size} mismatched=${b.count { case (v, s) => !a.get(v).exists(x => math.abs(x - s) <= tol) }}")
      r.check("supersteps.pagerank_df_vs_csr") {
        close(scores(pr), scores(PageRank.run(g, prCfg.copy(mode = "csr"))), 1e-6)
      }
      def labels(d: DataFrame, c: String) = d.select(col("vid"), col(c).cast("string")).collect()
        .map(x => x.getLong(0) -> x.getString(1)).toMap
      r.check("supersteps.wcc_df_vs_csr") {
        val a = labels(wcc, "component_vid"); val b = labels(Wcc.run(g, mode = "csr"), "component_vid")
        (a == b, s"n=${a.size}/${b.size} differing=${b.count { case (v, l) => !a.get(v).contains(l) }}")
      }
      r.check("supersteps.lpa_df_vs_csr") {
        val a = labels(lpa, "label"); val b = labels(Lpa.runSync(g, maxSweeps = sz.lpaSweeps, mode = "csr"), "label")
        (a == b, s"n=${a.size}/${b.size} differing=${b.count { case (v, l) => !a.get(v).contains(l) }}")
      }
      r.check("supersteps.resume_step") {
        (inner.resumedFromStep == sz.resumeAt && inner.stats.forall(_.step > sz.resumeAt),
          s"resumed_from=${inner.resumedFromStep} want=${sz.resumeAt}")
      }
      r.check("supersteps.resume_scores") { close(scores(resumed), scores(prDurable), 1e-9) }
    }
    if (lastRoot != null) deleteTree(lastRoot)
    // scaling leg (traced runs): the same DF PageRank supersteps on one
    // core, after the window and outside every end-to-end timing
    if (r.opts.trace) scaling(r, g, m, prCfg)
  }

  /** Per-superstep DF PageRank throughput at local[cores] and local[1];
    * scaling_eff_1_4 = thr(4) / (4 · thr(1)). */
  private def scaling(r: Run, g0: LinkGraph, m: Long, cfg: PageRank.Config): Unit = {
    val sz = sizes(r)
    def stepThroughput(g: LinkGraph): Option[Double] = r.op("scaling-leg") {
      // one untimed warm-up run, then the measured one
      PageRank.run(g, cfg.copy(iterCount = 1)).count()
      val ctx = new TimedContext(new LocalRunContext, "pagerank", r.tracer)
      PageRank.run(g, cfg.copy(iterCount = sz.scalingSteps), ctx).count()
      val walls = ctx.steps.map(_.wallNs / 1e9).sorted
      m / walls(walls.size / 2)
    }
    val t4 = stepThroughput(g0)
    g0.unpersist()
    val dir = r.spark.conf.get("spark.local.dir")
    r.spark.stop()
    val one = Main.session(1, dir)
    val g1 = LinkGraph.fromRawEdges(Gen.hubEdges(one, sizes(r).edges, r.opts.seed))
    g1.dedupEdges.count()
    val t1 = stepThroughput(g1)
    for (a <- t4; b <- t1) {
      r.res.report("step_edges_per_s_local4") = a
      r.res.report("step_edges_per_s_local1") = b
      r.res.report("scaling_eff_1_4") = a / (4.0 * b)
    }
  }

  // ---- queries -----------------------------------------------------------

  /** The driver queries the benchmark runs: every `SparkEntry.queries`
    * entry whose run and oracle stay inside the data directory and whose
    * warm latency at sf0.001 is a fraction of a second. Left out: the
    * queries whose oracle reads a side dump written only by `graft.Verify`
    * (crawl_*, louvain/LPA partitions, vector and media dumps), the
    * streaming and resume queries that write scratch state to a fixed
    * directory outside the data directory, and the multi-second graph
    * traversals, which would leave no room for a second pass. */
  val QuerySet: Seq[String] = Seq(
    "cy_degree", "cy_edges", "cy_two_hop", "d_minhash_jaccard", "g_degrees", "g_pagerank",
    "g_pagerank_top10", "g_wcc", "s_rolling_counts", "t_quality")
  val SmokeQuerySet: Seq[String] = Seq("cy_edges", "g_degrees", "g_wcc", "t_quality")
  /** The tables those queries read; set-up materialises them. */
  val QueryTables: Seq[String] = Seq("orders", "documents", "events")

  def queries(r: Run): Unit = {
    val spark = r.spark
    val dir = r.opts.data
    val names = Gen.queryOrder(if (r.opts.smoke) SmokeQuerySet else QuerySet, r.opts.seed)
    val all = graft.SparkEntry.queries
    val oracles = graft.SparkEntry.oracleSql
    names.foreach { q =>
      require(all.contains(q) && oracles.contains(q), s"unknown query $q")
      require(!oracles(q).contains(graft.Verify.AuxDir), s"$q needs the Verify side dump")
    }
    for (_ <- 0 until SetupBuilds) {
      val (_, s) = r.secs {
        QueryTables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())
      }
      r.res.setupBuildS += s
    }
    r.res.report("query_order") = names
    val lat = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    injected(r)
    // pass 0 is cold, pass 1 warms up, passes 2.. are sampled
    r.window(minPasses = 5) { pass =>
      var passSum = 0.0
      var ok = 0
      names.foreach { q =>
        r.tracer.span(s"query.$q") {
          val t0 = System.nanoTime()
          val done = r.op(q) { all(q)(spark, dir).count() }
          val ms = (System.nanoTime() - t0) / 1e6
          if (done.isDefined) {
            passSum += ms / 1e3
            ok += 1
            lat.getOrElseUpdate(q, scala.collection.mutable.ArrayBuffer.empty) += ms
            if (pass >= 2) r.res.opMs += ms
            if (r.tracer.enabled) Layers.queryCalls += ((q, t0, System.nanoTime()))
          }
        }
      }
      if (pass == 0) r.res.coldS += passSum
      else if (pass >= 2) { r.res.passS += passSum; r.res.workPerS += ok / passSum }
    }
    r.res.report("query_latency_ms") = lat.map { case (q, xs) => q -> xs.toSeq }
    // correctness: each query's result as parquet for run.py's DuckDB oracle
    val out = Paths.get(r.opts.work, "results")
    names.foreach { q =>
      r.op(s"write-$q") {
        all(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString)
      }
    }
    Files.writeString(Paths.get(r.opts.work, "oracle_sql.json"),
      Json.render(names.map(q => q -> oracles(q)).toMap))
  }
}
