package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import graft.bsp.{RunContext, StepStat}
import scala.collection.mutable.{ArrayBuffer, HashMap}

/** Totals of one Spark stage, summed from its task-end events. `site` is
  * the stage's call-site stack, which names the program function that built
  * the stage's RDD. */
final class StageRec(val id: Int) {
  var site = ""
  var rdds = ""
  var submitMs = 0L
  var doneMs = 0L
  val taskMs = ArrayBuffer.empty[Long]
  var cpuNs, gcMs, swBytes, swRecords, srRecords, spill, inBytes = 0L
  def wallMs: Long = if (submitMs > 0 && doneMs >= submitMs) doneMs - submitMs else 0L
  def runMs: Long = taskMs.sum
  /** Innermost program frame of the call site, e.g. `graft.io.Ingest$.withSeq`. */
  def frame: String = site.linesIterator.map(_.trim).find(_.startsWith("graft."))
    .map(l => l.takeWhile(_ != '(')).getOrElse("")
}

final class JobRec(val id: Int, val tag: String, val startMs: Long, val stageIds: Seq[Int]) {
  var endMs = 0L
  def wallMs: Long = math.max(0L, endMs - startMs)
}

/** A SparkListener that keeps every job (with the benchmark's tag local
  * property at submission) and every stage's task totals in memory. */
final class Collector extends SparkListener {
  private val jobs = ArrayBuffer.empty[JobRec]
  private val jobById = HashMap.empty[Int, JobRec]
  private val stages = HashMap.empty[Int, StageRec]

  private def stage(id: Int): StageRec = stages.getOrElseUpdate(id, new StageRec(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.TagKey))).getOrElse("")
    val j = new JobRec(e.jobId, tag, e.time, e.stageIds)
    jobs += j
    jobById(e.jobId) = j
    e.stageInfos.foreach { si =>
      val s = stage(si.stageId)
      if (s.site.isEmpty) { s.site = si.details; s.rdds = si.rddInfos.map(_.name).mkString(",") }
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val s = stage(si.stageId)
    s.submitMs = si.submissionTime.getOrElse(0L)
    s.doneMs = si.completionTime.getOrElse(0L)
    if (s.site.isEmpty) s.site = si.details
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.swBytes += m.shuffleWriteMetrics.bytesWritten
      s.swRecords += m.shuffleWriteMetrics.recordsWritten
      s.srRecords += m.shuffleReadMetrics.recordsRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inBytes += m.inputMetrics.bytesRead
    }
  }

  def allJobs: Seq[JobRec] = synchronized(jobs.toSeq)
  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    js.flatMap(_.stageIds).distinct.sorted.flatMap(stages.get).filter(_.taskMs.nonEmpty)
  }
}

/** One benchmark span: name, start, end, parent (-1 = root) and run id. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long, run: String) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** Superstep record kept by [[TimedContext]]: `wallNs` runs from the end
  * of the previous record() (or restoreOrInit) to the end of this one, so it
  * holds the whole loop body; `recordNs` is the time spent inside the
  * wrapped record(), where a durable context waits on its writer. */
final case class StepRec(label: String, stat: StepStat, startNs: Long, endNs: Long, recordNs: Long,
    durable: Boolean) {
  def wallNs: Long = endNs - startNs
  def csr: Boolean = stat.algo.endsWith("-csr")
  /** Whether a Spark job started inside this superstep. */
  def holds(j: JobRec): Boolean = {
    val t = Clock.epochMs(startNs) - 1.0
    j.startMs >= t && j.startMs <= Clock.epochMs(endNs) + 1.0
  }
}

/** Maps System.nanoTime() onto the epoch milliseconds Spark stamps its events with. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
}

/** Spans and job tags of one benchmark process. With `enabled` false every
  * method only runs its body: the untraced runs pay nothing but the
  * superstep timestamps. The tag is a Spark local property, so each job is
  * attributed to the innermost span (or superstep) that submitted it. */
final class Tracer(sc: SparkContext, val runId: String, traced: Boolean) {
  val collector: Option[Collector] =
    if (traced) { val c = new Collector; sc.addSparkListener(c); Some(c) } else None
  /** Switched per pass in a traced run, so traced and untraced passes interleave. */
  var enabled: Boolean = traced
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def tag(t: String): Unit = if (enabled) sc.setLocalProperty(Tracer.TagKey, t)
  private def currentTag: String = Option(sc.getLocalProperty(Tracer.TagKey)).getOrElse("")

  def span[T](name: String)(f: => T): T = if (!enabled) f else {
    val id = nextId; nextId += 1
    val prevTag = currentTag
    val t0 = System.nanoTime()
    stack = id :: stack
    tag(name)
    try f finally {
      stack = stack.tail
      add(id, name, t0, System.nanoTime())
      tag(prevTag)
    }
  }

  /** A span measured by the caller (a superstep), child of the open span. */
  def addChild(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) { val id = nextId; nextId += 1; add(id, name, startNs, endNs) }

  private def add(id: Int, name: String, t0: Long, t1: Long): Unit =
    spans += Span(id, stack.headOption.getOrElse(-1), name, t0, t1, runId)

  def allSpans: Seq[Span] = spans.toSeq

  /** Self time per layer: each span's duration minus its children's. */
  def selfTimeS: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).view.mapValues(_.map(_.durNs).sum).toMap
    spans.groupBy(_.layer).view
      .mapValues(ss => ss.map(s => s.durNs - childNs.getOrElse(s.id, 0L)).sum / 1e9).toMap
  }
}

object Tracer { val TagKey = "perfbench.tag" }

/** RunContext wrapper the benchmark hands to an algorithm. It delegates
  * every call, timestamps each superstep at record(), and times
  * restoreOrInit() and finish(). Jobs belong to the superstep in whose
  * interval they start. The ckpt spans are kept only for a durable
  * context: for an in-memory one those calls do no checkpoint work. */
final class TimedContext(inner: RunContext, label: String, tr: Tracer) extends RunContext {
  val steps = ArrayBuffer.empty[StepRec]
  var restoreNs = 0L
  var finishNs = 0L
  private val durable = inner.isInstanceOf[graft.ckpt.CatalogRunContext]
  private var mark = 0L

  private def ckptSpan(name: String, t0: Long, t1: Long): Unit = if (durable) tr.addChild(name, t0, t1)

  override def startStep: Int = inner.startStep
  override def restoreOrInit(init: DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    val r = inner.restoreOrInit(init)
    mark = System.nanoTime()
    restoreNs = mark - t0
    ckptSpan("ckpt.restore", t0, mark)
    r
  }
  override def checkpoint(state: DataFrame, step: Int): DataFrame = inner.checkpoint(state, step)
  override def record(stat: StepStat): Unit = {
    val t0 = System.nanoTime()
    inner.record(stat)
    val t1 = System.nanoTime()
    // the CSR loops call no restoreOrInit: their first superstep starts
    // where the algorithm's own wall clock says it did
    val start = if (mark == 0L) t0 - (stat.wallMs * 1e6).toLong else mark
    steps += StepRec(label, stat, start, t1, t1 - t0, durable)
    tr.addChild(if (stat.algo.endsWith("-csr")) "bsp.csr.step" else "bsp.df.step", start, t0)
    ckptSpan("ckpt.record", t0, t1)
    mark = t1
  }
  override def stats: Seq[StepStat] = inner.stats
  override def finish(): Unit = {
    val t0 = System.nanoTime()
    inner.finish()
    val t1 = System.nanoTime()
    finishNs = t1 - t0
    ckptSpan("ckpt.finish", t0, t1)
  }
}
