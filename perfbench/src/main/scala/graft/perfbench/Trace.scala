package graft.perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SortExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock interval in epoch milliseconds (fractional). */
final case class Span(start: Double, end: Double) {
  def len: Double = math.max(0.0, end - start)
  def clip(o: Span): Span = Span(math.max(start, o.start), math.min(end, o.end))
}

object Span {
  /** Total length covered by `xs` (overlaps counted once). */
  def union(xs: Seq[Span]): Double = {
    var total = 0.0
    var hi = Double.NegativeInfinity
    for (s <- xs.filter(_.len > 0).sortBy(_.start)) {
      if (s.start >= hi) { total += s.len; hi = s.end }
      else if (s.end > hi) { total += s.end - hi; hi = s.end }
    }
    total
  }
}

/** One Spark job with the task metrics of all its stages; `site` is its
  * short call site (`parquet at Tables.scala:16`).
  */
final class Job(val id: Int, val start: Double, val site: String) {
  @volatile var end: Double = Double.NaN
  var tasks = 0L
  var cpuNs = 0L
  var inputRows = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  def span: Span = Span(start, if (end.isNaN) start else end)
}

/** A finished QueryExecution: its tracker phases and plan-shape counts. */
final case class PlanEvent(phases: Map[String, Span],
                           exchanges: Int, sorts: Int, wscg: Int, pinned: Int)

/** One streaming query: start/stop and the per-trigger durations. */
final class Replay(val start: Double) {
  @volatile var end: Double = Double.NaN
  val triggers = new ConcurrentLinkedQueue[(Span, Map[String, Double], Long)]()
  def span: Span = Span(start, if (end.isNaN) start else end)
}

/** Listeners the benchmark registers in a traced run. They only append
  * time-stamped events to in-memory buffers; every span is attributed to
  * the query whose client-side window contains it after the run, when
  * the listener bus has drained.
  */
final class Trace(spark: SparkSession) {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val plans = new ConcurrentLinkedQueue[PlanEvent]()
  private val replays = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Replay]()

  private def nowMs: Double = System.currentTimeMillis().toDouble

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // the result stage is named after the job's call site
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val j = new Job(e.jobId, e.time.toDouble, site)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics))
        j.synchronized {
          j.tasks += 1
          j.cpuNs += m.executorCpuTime
          j.inputRows += m.inputMetrics.recordsRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
  }

  private object Plans extends AdaptiveSparkPlanHelper
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) =>
        k -> Span(p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
      val plan = qe.executedPlan
      def count(pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, Int]): Int =
        Plans.collect(plan)(pf).sum
      plans.add(PlanEvent(phases,
        count { case _: ShuffleExchangeLike => 1 },
        count { case _: SortExec => 1 },
        count { case _: WholeStageCodegenExec => 1 },
        count { case _: RDDScanExec => 1 }))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    // Posted synchronously from DataStreamWriter.start(), so the receipt
    // time is the start of the replay.
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      replays.put(e.runId, new Replay(nowMs))
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      Option(replays.get(p.runId)).foreach { r =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
        val t0 = Instant.parse(p.timestamp).toEpochMilli.toDouble
        val state = p.stateOperators.map(_.numRowsTotal).sum
        r.triggers.add((Span(t0, t0 + d.getOrElse("triggerExecution", 0.0)), d, state))
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      Option(replays.get(e.runId)).foreach(_.end = nowMs)
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for every posted event, then detach the listeners. */
  def stop(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Jobs that started inside `w`, in start order. */
  def jobsIn(w: Span): Seq[Job] =
    jobs.values.asScala.toSeq.filter(j => j.start >= w.start && j.start < w.end).sortBy(_.start)

  /** Plan events whose first phase started inside `w`. */
  def plansIn(w: Span): Seq[PlanEvent] = plans.asScala.toSeq.filter { p =>
    val starts = p.phases.values.map(_.start)
    starts.nonEmpty && starts.min >= w.start && starts.min < w.end
  }

  def replaysIn(w: Span): Seq[Replay] =
    replays.values.asScala.toSeq.filter(r => r.start >= w.start && r.start < w.end)

  /** Self time and counts of every layer for one query: the client-side
    * `build` (builder call) and `write` (the noop write) windows, split by
    * the jobs, plan phases and stream replays that fall inside them.
    */
  def layers(build: Span, write: Span): mutable.LinkedHashMap[String, Double] = {
    val wall = Span(build.start, write.end)
    val bJobs = jobsIn(build)
    val xJobs = jobsIn(write)
    val rs = replaysIn(build)
    val ps = plansIn(write)
    val bJobSpans = bJobs.map(_.span.clip(build))
    val rSpans = rs.map(_.span.clip(build))
    val xJobSpans = xJobs.map(_.span.clip(write))
    def phase(k: String) = ps.flatMap(_.phases.get(k)).map(_.clip(write).len).sum / 1e3
    val planSpans = ps.flatMap(_.phases.values).map(_.clip(write))
    val trig = rs.flatMap(_.triggers.asScala)
    def dur(ks: String*) = trig.map { case (_, d, _) => ks.map(d.getOrElse(_, 0.0)).sum }.sum / 1e3
    val out = mutable.LinkedHashMap[String, Double]()
    out("wall_s") = wall.len / 1e3
    out("build.s") = build.len / 1e3
    out("build.self_s") = (build.len - Span.union(bJobSpans ++ rSpans)) / 1e3
    out("build.jobs") = bJobs.size
    out("build.job_s") = Span.union(bJobSpans) / 1e3
    // footer and schema-inference jobs of graft.sources.Tables.load
    val srcJobs = bJobs.filter(_.site.contains("Tables.scala"))
    out("sources.jobs") = srcJobs.size
    out("sources.job_s") = Span.union(srcJobs.map(_.span.clip(build))) / 1e3
    out("plans.analysis_s") = phase("analysis")
    out("plans.optimize_s") = phase("optimization")
    out("plans.physical_s") = phase("planning")
    out("plans.exchanges") = ps.map(_.exchanges).sum
    out("plans.sorts") = ps.map(_.sorts).sum
    out("plans.wscg_stages") = ps.map(_.wscg).sum
    out("plans.pinned_scans") = ps.map(_.pinned).sum
    out("exec.s") = write.len / 1e3
    out("exec.jobs") = xJobs.size
    out("exec.job_s") = Span.union(xJobSpans) / 1e3
    out("exec.tasks") = xJobs.map(_.tasks).sum
    out("exec.task_cpu_s") = xJobs.map(_.cpuNs).sum / 1e9
    out("exec.input_rows") = xJobs.map(_.inputRows).sum
    out("exec.shuffle_write_bytes") = xJobs.map(_.shuffleWrite).sum
    out("exec.shuffle_read_bytes") = xJobs.map(_.shuffleRead).sum
    out("exec.spill_bytes") = (bJobs ++ xJobs).map(_.spill).sum
    out("exec.driver_gap_s") = (write.len - Span.union(xJobSpans ++ planSpans)) / 1e3
    val replayWall = Span.union(rSpans) / 1e3
    out("streaming.replay_s") = replayWall
    out("streaming.startup_s") = math.max(0.0, replayWall - dur("triggerExecution"))
    out("streaming.addbatch_s") = dur("addBatch")
    out("streaming.commit_s") = dur("walCommit", "commitOffsets")
    out("streaming.batches") = trig.size
    out("streaming.state_rows") = rs.map(r =>
      r.triggers.asScala.lastOption.map(_._3).getOrElse(0L)).sum
    // Layers that together tile the wall: driver time while building, jobs
    // and replays while building, plan phases, jobs in the write, and the
    // write's driver gap. Each is measured on its own, so overlap between
    // them (double counting) shows up as a sum above the wall.
    val buildCovered = Span.union(bJobSpans ++ rSpans) / 1e3
    val tiled = out("build.self_s") + buildCovered + planSpans.map(_.len).sum / 1e3 +
      out("exec.job_s") + math.max(0.0, out("exec.driver_gap_s"))
    out("reconcile_err") = if (wall.len > 0) math.abs(tiled - out("wall_s")) / out("wall_s") else 0.0
    out("driver_s") = out("build.self_s") + out("sources.job_s") + planSpans.map(_.len).sum / 1e3 +
      math.max(0.0, out("exec.driver_gap_s"))
    out
  }

  /** Spans of one query for the record: (name, parent, start, end). */
  def spans(build: Span, write: Span): Seq[(String, String, Span)] = {
    val q = Seq(("query", "", Span(build.start, write.end)),
      ("build", "query", build), ("write", "query", write))
    val b = jobsIn(build).map(j => (s"job ${j.id} ${j.site}", "build", j.span)) ++
      replaysIn(build).flatMap(r => ("replay", "build", r.span) +:
        r.triggers.asScala.toSeq.map { case (s, _, _) => ("trigger", "replay", s) })
    val w = jobsIn(write).map(j => (s"job ${j.id} ${j.site}", "write", j.span)) ++
      plansIn(write).flatMap(_.phases.map { case (k, s) => (s"plan.$k", "write", s) })
    q ++ b ++ w
  }
}
