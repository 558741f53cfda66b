package perfbench

import java.io.PrintWriter

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's collector: a `SparkListener`, a
  * `QueryExecutionListener` and a `StreamingQueryListener`, attached for
  * the traced passes only. Counters and spans stay in memory; spans
  * (query -> build/plan/force -> job -> stage) share the query id that
  * the driver thread puts in the jobs' local properties. */
final class Trace(spark: SparkSession) {
  import Trace._
  private val sc = spark.sparkContext
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val peaks = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[Int, Stage]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val cached = mutable.Map.empty[String, Long]
  private val streamStart = mutable.Map.empty[java.util.UUID, Long]
  private val streamTrigger = mutable.Map.empty[java.util.UUID, Double]
    .withDefaultValue(0.0)
  private val queries = mutable.ArrayBuffer.empty[Main.QueryRun]
  private var tracedPasses = 0
  private var codegen0 = (0L, 0L)

  private def add(k: String, v: Double): Unit = c(k) += v
  private def peak(k: String, v: Double): Unit = peaks(k) = math.max(peaks(k), v)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val props = Option(e.properties)
      val qid = props.flatMap(p => Option(p.getProperty(QidKey)))
      if (qid.isDefined) {
        val site = if (e.stageInfos.isEmpty) ""
                   else e.stageInfos.maxBy(_.stageId).details
        jobs(e.jobId) = Job(qid.get,
          props.map(_.getProperty(PhaseKey)).orNull, module(site), e.time)
        e.stageIds.foreach(stageJob(_) = e.jobId)
        add("scheduler.jobs", 1)
        jobs(e.jobId).module.foreach(m => add(s"$m.eager_jobs", 1))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Trace.this.synchronized {
        val i = e.stageInfo
        if (stageJob.contains(i.stageId))
          stages(i.stageId) = Stage(stageJob(i.stageId),
            i.submissionTime.getOrElse(System.currentTimeMillis()))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val i = e.stageInfo
        stages.get(i.stageId).foreach { s =>
          s.end = i.completionTime.getOrElse(System.currentTimeMillis())
          add("scheduler.stages", 1)
          stageTasks.remove(i.stageId).filter(_.size >= 2).foreach { ts =>
            val sorted = ts.sorted
            val median = sorted(sorted.size / 2).toDouble
            if (median > 0) peak("exec.stage_skew", sorted.last / median)
          }
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      stages.get(e.stageId).foreach { s =>
        val info = e.taskInfo
        add("scheduler.tasks", 1)
        if (e.reason != Success) add("scheduler.failed_tasks", 1)
        add("scheduler.launch_wait_ms", math.max(0L, info.launchTime - s.start))
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          info.duration
        Option(e.taskMetrics).foreach { m =>
          val in = m.inputMetrics
          val sr = m.shuffleReadMetrics
          val sw = m.shuffleWriteMetrics
          val out = m.outputMetrics
          if (in.recordsRead + sr.recordsRead == 0) add("scheduler.empty_tasks", 1)
          add("scheduler.task_deser_ms", m.executorDeserializeTime)
          add("exec.task_run_ms", m.executorRunTime)
          add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
          add("exec.gc_ms", m.jvmGCTime)
          add("exec.input_mb", in.bytesRead / MiB)
          add("exec.input_records", in.recordsRead)
          add("shuffle.write_mb", sw.bytesWritten / MiB)
          add("shuffle.read_mb", sr.totalBytesRead / MiB)
          add("shuffle.records", sw.recordsWritten)
          add("shuffle.fetch_wait_ms", sr.fetchWaitTime)
          add("shuffle.write_ms", sw.writeTime / 1e6)
          add("memory.spill_mb", m.diskBytesSpilled / MiB)
          peak("memory.peak_exec_mb", m.peakExecutionMemory / MiB)
          add("sources.output_mb", out.bytesWritten / MiB)
          add("sources.output_records", out.recordsWritten)
          jobs(s.job).module.foreach(md =>
            add(s"$md.eager_task_ms", m.executorRunTime))
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      Trace.this.synchronized {
        val u = e.blockUpdatedInfo
        if (u.blockId.isRDD) {
          val id = u.blockId.name
          if (u.storageLevel.isValid) {
            if (!cached.contains(id)) add("storage.blocks_put", 1)
            cached(id) = u.memSize + u.diskSize
          } else cached.remove(id)
          peak("storage.peak_cached_mb", cached.values.sum / MiB)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      addPhases(qe)
      walk(qe.executedPlan) {
        case r: AQEShuffleReadExec =>
          if (r.hasCoalescedPartition) add("aqe.coalesced_reads", 1)
          if (r.hasSkewedPartition) add("aqe.skew_splits", 1)
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec =>
          add("aqe.broadcast_joins", 1)
        case _: SortMergeJoinExec => add("aqe.sort_merge_joins", 1)
        case _: WholeStageCodegenExec => add("codegen.wscg_stages", 1)
        case _ =>
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    def onQueryStarted(e: QueryStartedEvent): Unit = Trace.this.synchronized {
      streamStart(e.runId) = System.nanoTime()
    }
    def onQueryProgress(e: QueryProgressEvent): Unit = Trace.this.synchronized {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      add("streaming.batches", 1)
      add("streaming.add_batch_ms", ms("addBatch"))
      add("streaming.wal_commit_ms", ms("walCommit"))
      add("streaming.query_planning_ms", ms("queryPlanning"))
      streamTrigger(p.runId) += ms("triggerExecution")
      p.stateOperators.foreach { s =>
        add("streaming.state_rows", s.numRowsUpdated)
        add("streaming.state_commit_ms", s.commitTimeMs)
      }
      peak("streaming.state_mem_mb", p.stateOperators.map(_.memoryUsedBytes).sum / MiB)
    }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = Trace.this.synchronized {
      streamStart.remove(e.runId).foreach { s =>
        val life = (System.nanoTime() - s) / 1e6
        add("streaming.start_stop_ms",
          math.max(0.0, life - streamTrigger.remove(e.runId).getOrElse(0.0)))
      }
    }
  }

  def attach(): Unit = {
    codegen0 = codegenNow()
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Ends a traced pass: drains the bus so every event of the pass is
    * counted, then detaches. */
  def detach(runs: Seq[Main.QueryRun]): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val (n1, t1) = codegenNow()
    synchronized {
      add("codegen.compiles", n1 - codegen0._1)
      add("codegen.compile_ms", (t1 - codegen0._2) / 1e6)
      queries ++= runs
      tracedPasses += 1
    }
  }

  /** Per-pass layer metrics over the traced passes. */
  def layers(passes: Seq[Map[String, Any]]): Map[String, Double] = synchronized {
    val n = math.max(tracedPasses, 1).toDouble
    def wall(traced: Boolean) = median(passes.collect {
      case p if p("traced") == traced => p("wall_s").asInstanceOf[Double] })
    var buildSelf, planSelf, driverSelf, jobSelf, stageMs = 0.0
    queries.foreach { q =>
      val mine = jobs.values.filter(_.qid == s"${q.pass}/${q.name}").toSeq
      def covered(phase: String, lo: Double, hi: Double) =
        unionLength(mine.filter(_.phase == phase).map(j => (j.start.toDouble, j.end.toDouble)), lo, hi)
      val (s, b, p, e) = (q.startUs / 1e3, q.buildUs / 1e3, q.planUs / 1e3, q.endUs / 1e3)
      buildSelf += (b - s) - covered("build", s, b)
      planSelf += (p - b) - covered("plan", b, p)
      driverSelf += (e - p) - covered("force", p, e)
    }
    jobs.foreach { case (id, j) =>
      val ss = stages.values.filter(_.job == id).map(s => (s.start.toDouble, s.end.toDouble)).toSeq
      jobSelf += (j.end - j.start) - unionLength(ss, j.start, j.end)
      stageMs += ss.map { case (a, b) => b - a }.sum
    }
    val queryMs = queries.map(_.latencyMs).sum
    val tasks = c("scheduler.tasks")
    val derived = Map(
      "queries.build_ms" -> queries.map(q => (q.buildUs - q.startUs) / 1e3).sum / n,
      "exec.force_ms" -> queries.map(q => (q.endUs - q.planUs) / 1e3).sum / n,
      "scheduler.driver_self_ms" -> driverSelf / n,
      "scheduler.useful_task_ratio" ->
        (if (tasks > 0) 1.0 - c("scheduler.empty_tasks") / tasks else 1.0),
      "self.build_ms" -> buildSelf / n,
      "self.plan_ms" -> planSelf / n,
      "self.job_ms" -> jobSelf / n,
      "self.stage_ms" -> stageMs / n,
      "trace.pass_s" -> wall(true),
      "trace.untraced_pass_s" -> wall(false),
      "trace.overhead" -> wall(true) / wall(false),
      "trace.coverage" -> queryMs / 1e3 / passes.collect {
        case p if p("traced") == true => p("wall_s").asInstanceOf[Double] }.sum)
    val perPass = Counters.map(k => k -> c(k) / n).toMap
    perPass ++ Peaks.map(k => k -> peaks(k)) ++ derived
  }

  def writeSpans(path: String): Unit = synchronized {
    val w = new PrintWriter(path, "UTF-8")
    try {
      queries.foreach { q => w.println(Json.encode(Map("kind" -> "query",
        "qid" -> s"${q.pass}/${q.name}", "start_ms" -> q.startUs / 1e3,
        "build_end_ms" -> q.buildUs / 1e3, "plan_end_ms" -> q.planUs / 1e3,
        "end_ms" -> q.endUs / 1e3, "error" -> q.error.getOrElse("")))) }
      jobs.toSeq.sortBy(_._1).foreach { case (id, j) =>
        w.println(Json.encode(Map("kind" -> "job", "qid" -> j.qid,
          "phase" -> j.phase, "job" -> id, "module" -> j.module.getOrElse(""),
          "start_ms" -> j.start, "end_ms" -> j.end))) }
      stages.toSeq.sortBy(_._1).foreach { case (id, s) =>
        w.println(Json.encode(Map("kind" -> "stage", "qid" -> jobs(s.job).qid,
          "job" -> s.job, "stage" -> id, "start_ms" -> s.start,
          "end_ms" -> s.end))) }
    } finally w.close()
  }

  /** The plan step's own Catalyst phases: the benched `executedPlan`
    * call is not an action, so no listener reports it. */
  def planPhases(df: DataFrame): Unit = synchronized(addPhases(df.queryExecution))

  private def addPhases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (k, v) =>
      if (CatalystPhases.contains(k)) add(s"catalyst.${k}_ms", v.durationMs)
    }

  private def codegenNow(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      WholeStageCodegenExec.codeGenTime)
}

object Trace {
  val QidKey = "perfbench.qid"
  val PhaseKey = "perfbench.phase"
  val MiB = 1048576.0
  val Modules = Seq("dedup", "graph", "vector", "text", "ts", "agg",
    "multimodal", "sources")
  val CatalystPhases = Set("analysis", "optimization", "planning")
  val Counters: Seq[String] = Seq(
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "codegen.compiles", "codegen.compile_ms", "codegen.wscg_stages",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "scheduler.empty_tasks", "scheduler.failed_tasks",
    "scheduler.task_deser_ms", "scheduler.launch_wait_ms",
    "exec.task_run_ms", "exec.task_cpu_ms", "exec.gc_ms", "exec.input_mb",
    "exec.input_records",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.records",
    "shuffle.fetch_wait_ms", "shuffle.write_ms",
    "memory.spill_mb",
    "aqe.coalesced_reads", "aqe.broadcast_joins", "aqe.sort_merge_joins",
    "aqe.skew_splits",
    "storage.blocks_put",
    "streaming.batches", "streaming.add_batch_ms", "streaming.wal_commit_ms",
    "streaming.query_planning_ms", "streaming.state_rows",
    "streaming.state_commit_ms", "streaming.start_stop_ms",
    "sources.output_mb", "sources.output_records") ++
    Modules.flatMap(m => Seq(s"$m.eager_jobs", s"$m.eager_task_ms"))
  val Peaks = Seq("exec.stage_skew", "memory.peak_exec_mb",
    "storage.peak_cached_mb", "streaming.state_mem_mb")

  final case class Job(qid: String, phase: String, module: Option[String],
      start: Long) { var end: Long = start }
  final case class Stage(job: Int, start: Long) { var end: Long = start }

  /** The module of a job: the first `graft.<m>.` frame of its call site. */
  def module(callSite: String): Option[String] =
    callSite.linesIterator.map(_.trim).collectFirst {
      case l if l.startsWith("graft.") => l.split('.')(1)
    }.filter(Modules.contains)

  def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case s: QueryStageExec => walk(s.plan)(f)
      case _ =>
    }
    p.children.foreach(walk(_)(f))
    p.subqueries.foreach(walk(_)(f))
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionLength(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var cur = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val s = math.max(a, cur)
        if (b > s) { total += b - s; cur = b }
      }
    total
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }
}
