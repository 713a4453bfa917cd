package graft.bsp

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The one DataFrame superstep loop: every shuffle-engine vertex program
  * runs through it (the reference's BSP TaskRunner,
  * raphtory/src/db/task/task_runner.rs; Pregelix: one join/group-by plan
  * serves all vertex programs). It is the single home of the superstep
  * invariants:
  *
  *  - AQE is off (IterativeConf) from the static table's build to the last
  *    superstep, so state and static table stay co-hash-partitioned on the
  *    vertex id and a superstep costs only the program's message exchange;
  *  - ONE Spark job per superstep: the run context's checkpoint is lazy and
  *    the program's convergence aggregate materialises it, halving the
  *    fixed scheduling + driver cost that dominates small supersteps;
  *  - the RunContext call order: `restoreOrInit` once, then `checkpoint` →
  *    aggregate → `record` per superstep, then `finish`.
  *
  * A program supplies its update joins — hinted `shuffle_hash`, since
  * post-checkpoint state has unknown stats and Spark would otherwise
  * sort-merge and re-sort the cached static table every superstep — the
  * columns its aggregate reads and its halt test. */
object Superstep {

  /** One superstep: `next` is the new state plus the helper columns that
    * `aggs` read; `halt` maps the aggregate row to the step's convergence
    * delta and whether the loop stops. */
  final case class Step(next: DataFrame, aggs: Seq[Column], halt: Row => (Double, Boolean))

  /** A vertex program: `edges` is its persisted static table (materialised
    * here, counted as the edges scattered per superstep, released after
    * the loop); `init` the step-0 state, vertex id first; `step(state, s)`
    * builds superstep s from the previous state. */
  final case class Program(algo: String, edges: DataFrame, init: DataFrame, maxSteps: Long)(
      val step: (DataFrame, Int) => Step)

  /** Builds the program inside the AQE-off scope (its static table keeps the
    * hash partitioning the supersteps rely on) and runs it to its halt or
    * `maxSteps`; returns the final state (the init's columns). */
  def run(spark: SparkSession, ctx: RunContext)(build: Int => Program): DataFrame =
    IterativeConf.withStablePartitioning(spark) {
      val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val prog = build(p)
      val scattered = prog.edges.count() // also materialises the cache
      val stateCols = prog.init.columns.toSeq.map(col)
      var state = ctx.restoreOrInit(prog.init.repartition(p, stateCols.head))
      var step = ctx.startStep
      var halt = false
      while (!halt && step < prog.maxSteps) {
        step += 1
        val t0 = System.nanoTime()
        val s = prog.step(state, step)
        val ck = ctx.checkpoint(s.next, step)
        val (delta, stop) = s.halt(ck.agg(s.aggs.head, s.aggs.tail: _*).head())
        state.unpersist()
        state = ck.select(stateCols: _*)
        halt = stop
        ctx.record(StepStat(prog.algo, step, scattered, scattered, delta,
          (System.nanoTime() - t0) / 1e6))
      }
      ctx.finish() // barrier: async snapshot commits durable before returning
      prog.edges.unpersist()
      state
    }
}
