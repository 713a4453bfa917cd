package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.{CsrGraph, LinkGraph}
import graft.bsp.{RunContext, Superstep}

/** Unweighted PageRank with the exact semantics of the reference
  * (raphtory/src/algorithms/centrality/pagerank.rs:55-183):
  *
  *  - directed, multi-edge-collapsed graph; self-loops are ordinary edges;
  *  - out_degree = distinct out-neighbour count, fixed for the run;
  *  - synchronous supersteps: score(v) = damp * Σ_{u∈in(v)} prev(u)/outdeg(u)
  *    + (1-damp)/n, plus a global dangling-mass term damp/n * Σ_{sinks w}
  *    prev(w) added to every node in the same superstep (pagerank.rs:107-126);
  *  - convergence when L1 ≤ tol·n or sqrt(L2) ≤ tol·n (pagerank.rs:128-156);
  *  - no final normalisation.
  *
  * Spark shape (SURVEY §4.3): state and edges are co-hash-partitioned on the
  * vertex id, so each superstep costs exactly ONE shuffle (the
  * groupBy(dst) message aggregation); the scatter join and the state-update
  * join reuse the existing partitioning. Lineage is cut every superstep via
  * localCheckpoint (or the run context's reliable checkpoint).
  */
object PageRank {

  case class Config(
      iterCount: Int = 20,
      tol: Double = 1e-6,
      damping: Double = 0.85,
      useL2Norm: Boolean = true,
      /** "auto" picks the CSR fast path when the id space fits in memory
        * (CsrGraph.byMode), else the shuffle-based DataFrame supersteps;
        * "df" / "csr" force a mode. Both modes share exact semantics. */
      mode: String = "auto")

  /** Returns (vid, name, score). */
  def run(g: LinkGraph, cfg: Config = Config(), ctx: RunContext = RunContext.none): DataFrame =
    CsrGraph.byMode(g, cfg.mode, Seq(lit(0.0).as("score")))(runCsr(g, cfg, ctx), runDf(g, cfg, ctx))

  /** One Spark job per superstep: broadcast state, gather over dst-range
    * CSR blocks (graft.graph.CsrGraph), stitch segments. */
  private def runCsr(g: LinkGraph, cfg: Config, ctx: RunContext): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val csr = CsrGraph.fromLinkGraph(g, p)
    val outDeg = CsrGraph.outDegrees(csr)
    val score = graft.bsp.CsrSuperstep.pageRank(
      csr, outDeg, cfg.iterCount, cfg.tol, cfg.damping, cfg.useL2Norm, ctx)
    csr.unpersist()
    val rows = g.nodes.select($"vid", $"name").as[(Long, String)].collect()
      .map { case (v, nm) => (v, nm, score(v.toInt)) }
    spark.createDataset(rows.toSeq).toDF("vid", "name", "score")
  }

  /** Shuffle-based supersteps — the arbitrary-scale path. */
  private def runDf(g: LinkGraph, cfg: Config, ctx: RunContext): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    Superstep.run(spark, ctx) { p =>
      val n = g.nodeCount
      val teleport = (1.0 - cfg.damping) / n
      val factor = cfg.damping / n

      // static per-run structures: deduped edges and distinct out-degrees,
      // hash-partitioned once and reused every superstep
      val edges = g.dedupEdges.repartition(p, $"src").sortWithinPartitions($"src").persist(StorageLevel.MEMORY_AND_DISK)
      val outDeg = edges.groupBy($"src").agg(count("*").as("out_degree"))
      val init = g.nodes.select($"vid")
        .join(outDeg, $"vid" === $"src", "left")
        .select($"vid", coalesce($"out_degree", lit(0L)).as("out_degree"),
          lit(1.0 / n).as("score"))

      // sink mass of the current state (Σ prev.score over out_degree == 0);
      // superstep 1 reads it off the initial or restored state
      var sinkMass: Option[Double] = None
      Superstep.Program("pagerank", edges, init, cfg.iterCount) { (state, _) =>
        val sinkContrib = factor * sinkMass.getOrElse(
          state.filter($"out_degree" === 0).agg(coalesce(sum($"score"), lit(0.0))).head().getDouble(0))
        val contrib = state.hint("shuffle_hash").join(edges, state("vid") === edges("src"))
          .groupBy($"dst").agg(sum($"score" / $"out_degree").as("gather"))
        val next = state.join(contrib.hint("shuffle_hash"), state("vid") === contrib("dst"), "left")
          .select(state("vid"), state("out_degree"),
            (lit(cfg.damping) * coalesce($"gather", lit(0.0)) + teleport + sinkContrib).as("score"),
            state("score").as("prev_score"))
        val deltaExpr =
          if (cfg.useL2Norm) sum(pow($"prev_score" - $"score", 2.0))
          else sum(abs($"prev_score" - $"score"))
        Superstep.Step(next,
          Seq(deltaExpr, sum(when($"out_degree" === 0, $"score").otherwise(lit(0.0)))), { row =>
            sinkMass = Some(row.getDouble(1))
            val delta = if (cfg.useL2Norm) math.sqrt(row.getDouble(0)) else row.getDouble(0)
            (delta, delta <= cfg.tol * n)
          })
      }
    }.join(g.nodes, Seq("vid")).select($"vid", $"name", $"score")
  }
}
