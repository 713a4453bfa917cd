package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.{CsrGraph, LinkGraph}
import graft.bsp.{RunContext, Superstep}

/** Weakly connected components — min-label (HashMin) propagation with the
  * exact semantics of the reference
  * (raphtory/src/algorithms/components/connected_components.rs:34-93):
  *
  *  - init: label(v) = min(vid, min over undirected distinct neighbours);
  *  - superstep: adopt min of neighbours' previous labels if smaller;
  *  - stop when nothing changed (or after iterCount supersteps);
  *  - result label = the GID of the node whose VID equals the final label,
  *    i.e. the component representative is the earliest-ingested member —
  *    which is why VID minting order matters (SURVEY §7.4).
  *
  * One shuffle per superstep (the min-message aggregation); the state and
  * neighbour-pair tables are co-hash-partitioned on the vertex id.
  */
object Wcc {

  /** Returns (vid, name, component_vid, component) where `component` is the
    * representative's GID (name). Auto-dispatches between the CSR fast path
    * (id space fits memory) and the shuffle-based DataFrame supersteps. */
  def run(g: LinkGraph, iterCount: Long = Long.MaxValue, ctx: RunContext = RunContext.none,
          mode: String = "auto"): DataFrame =
    CsrGraph.byMode(g, mode, Seq(col("vid").as("component_vid"), col("name").as("component")))(
      runCsr(g, iterCount, ctx), runDf(g, iterCount, ctx))

  private def runCsr(g: LinkGraph, iterCount: Long, ctx: RunContext): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val csr = CsrGraph.undirectedFromLinkGraph(g, p)
    val labels = graft.bsp.CsrSuperstep.wcc(csr, iterCount, ctx)
    csr.unpersist()
    val nodes = g.nodes.select($"vid", $"name").as[(Long, String)].collect()
    val names = nodes.toMap
    val rows = nodes.map { case (v, nm) =>
      val c = labels(v.toInt).toLong
      (v, nm, c, names(c))
    }
    spark.createDataset(rows.toSeq).toDF("vid", "name", "component_vid", "component")
  }

  private def runDf(g: LinkGraph, iterCount: Long, ctx: RunContext): DataFrame =
    hashMin(g.nodes.select(col("vid").as("id")), g.undirectedPairs, "wcc", iterCount, ctx)
      .join(g.nodes, col("id") === col("vid"))
      .join(g.nodes.select(col("vid").as("label"), col("name").as("component")), Seq("label"))
      .select(col("vid"), col("name"), col("label").as("component_vid"), col("component"))

  /** HashMin supersteps over an id table `(id)` and a symmetric neighbour
    * pair table `(a, b)` — the DataFrame engine of WCC and of
    * graft.dedup.Dedup.clustersFromPairs. Pairs may repeat; ids absent
    * from `ids` receive no state. Returns (id, label): the minimum id
    * reachable from `id` once converged (or after `maxSteps`). */
  private[graft] def hashMin(ids: DataFrame, pairs: DataFrame, algo: String, maxSteps: Long,
                             ctx: RunContext): DataFrame =
    Superstep.run(ids.sparkSession, ctx) { p =>
      val sym = pairs.repartition(p, col("a")).sortWithinPartitions(col("a"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // init: least(id, min neighbour id)
      val nbrMin = sym.groupBy(col("a")).agg(min(col("b")).as("nbr_min"))
      val init = ids.join(nbrMin, col("id") === col("a"), "left")
        .select(col("id"), least(col("id"), coalesce(col("nbr_min"), col("id"))).as("label"))
      Superstep.Program(algo, sym, init, maxSteps) { (state, _) =>
        val msgs = state.hint("shuffle_hash").join(sym, state("id") === sym("a"))
          .groupBy(col("b")).agg(min(col("label")).as("cand"))
        val next = state.join(msgs.hint("shuffle_hash"), state("id") === msgs("b"), "left")
          .select(state("id"),
            least(col("label"), coalesce(col("cand"), col("label"))).as("label"),
            (coalesce(col("cand"), col("label")) < col("label")).as("changed"))
        Superstep.Step(next, Seq(count_if(col("changed"))), { row =>
          val changed = row.getLong(0)
          (changed.toDouble, changed == 0)
        })
      }
    }

  /** Largest connected component: the induced subgraph of the biggest WCC
    * (algorithms/components/lcc.rs:25-68). */
  def largestComponent(g: LinkGraph): LinkGraph = {
    val wcc = run(g).persist(StorageLevel.MEMORY_AND_DISK)
    val top = wcc.groupBy(col("component_vid")).agg(count("*").as("n"))
      .orderBy(desc("n"), asc("component_vid")).limit(1)
    val members = wcc.join(top.select("component_vid"), Seq("component_vid"), "left_semi")
      .select(col("vid"))
    g.subgraph(members)
  }
}
