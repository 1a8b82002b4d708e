package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation as the workload saw it. Wall-clock millis
  * (`t0`, `tb`, `t1`: start, DataFrame built, result delivered) line the
  * op up with listener events; `latMs` is the nanoTime latency. `traced`
  * marks ops that ran with tracing on; `shape` groups the repeats of one
  * request; `pass` counts the traced render_mix run's passes over its
  * request list. */
final case class Op(id: String, kind: String, key: String, shape: String, first: Boolean,
    t0: Long, tb: Long, t1: Long, latMs: Double, buildMs: Double,
    ok: Boolean, err: String, rows: Int, hash: String, traced: Boolean,
    pass: Int = 0)

/** Records spans from Spark's public listener APIs while tracing is on:
  * jobs (tagged with the op's job group), stages, task metrics, Catalyst
  * phases per SQL execution and streaming progress. Everything is kept in
  * memory and folded into per-layer metrics once the run ends. */
final class Tracer(spark: SparkSession) {
  final case class Job(id: Int, group: String, execId: Long, start: Long,
      stages: Seq[Int]) { var end: Long = -1L }
  final case class Stage(id: Int, submit: Long, done: Long, tasks: Int)
  final case class Task(stage: Int, launch: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, shW: Long, shR: Long, spill: Long, inBytes: Long, inRows: Long)
  final case class Phases(execId: Long, analysisMs: Long, optMs: Long,
      planMs: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val phases = mutable.ArrayBuffer.empty[Phases]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Long]]
  @volatile private var callbackNs = 0L
  @volatile private var on = false

  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime()
    synchronized { body; callbackNs += System.nanoTime() - t }
  }

  // A QueryExecution does not carry its SQL execution id, so its Catalyst
  // phases are paired with the SparkListenerSQLExecutionEnd that triggered
  // the QueryExecutionListener callback. The session's ExecutionListenerBus
  // is created (first access of `listenerManager`) before our SparkListener
  // joins the same shared queue, so for every reported execution the bus
  // delivers `onSuccess` immediately before our `onOtherEvent` sees the End.
  spark.listenerManager
  private var pendingPhases: Option[(Long, Long, Long)] = None

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        timed {
          pendingPhases.foreach { case (a, o, p) =>
            phases += Phases(end.executionId, a, o, p)
          }
          pendingPhases = None
        }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val p = Option(e.properties)
      val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = Job(e.jobId, group, exec, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val s = e.stageInfo
      stages += Stage(s.stageId, s.submissionTime.getOrElse(-1L),
        s.completionTime.getOrElse(-1L), s.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (m != null) tasks += Task(e.stageId, e.taskInfo.launchTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      timed {
        val ph = qe.tracker.phases
        def ms(n: String) = ph.get(n).map(_.durationMs).getOrElse(0L)
        pendingPhases = Some((ms("analysis"), ms("optimization"), ms("planning")))
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      timed { pendingPhases = Some((0L, 0L, 0L)) }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timed {
        val p = e.progress
        if (p.numInputRows > 0) {
          val m = mutable.Map.empty[String, Long]
          p.durationMs.forEach((k, v) => m(k) = v.longValue)
          progress += m.toMap
        }
      }
  }

  def enabled: Boolean = on

  def start(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  def stop(): Unit = if (on) {
    on = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Total length of the union of [s, e) intervals clipped to [lo, hi). */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val xs = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    xs.foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  /** Per-layer metrics over the traced ops; `wallMs` is the traced
    * wall time and `cores` the executor slots, for the busy ratio. */
  def layerMetrics(ops: Seq[Op], wallMs: Double, cores: Int): Map[String, Double] =
    synchronized {
      val n = math.max(ops.size, 1).toDouble
      val byGroup = jobs.values.filter(_.end >= 0).groupBy(_.group)
      val stageById = stages.groupBy(_.id)
      val tasksByStage = tasks.groupBy(_.stage)
      val execToGroup = jobs.values.filter(_.execId >= 0)
        .map(j => j.execId -> j.group).toMap
      val opIds = ops.map(_.id).toSet
      var buildMs, buildJobs, nJobs, nStages, nTasks, noJob, wait = 0.0
      var buildSelf, execSelf, jobSelf = 0.0
      var run, cpu, gc, shW, shR, spill, inB, inR = 0.0
      ops.foreach { op =>
        val js = byGroup.getOrElse(op.id, Nil).toSeq
        val iv = js.map(j => (j.start, j.end))
        buildMs += op.buildMs
        buildJobs += js.count(_.start < op.tb)
        nJobs += js.size
        buildSelf += (op.tb - op.t0) - covered(iv, op.t0, op.tb)
        execSelf += (op.t1 - op.tb) - covered(iv, op.tb, op.t1)
        noJob += (op.t1 - op.t0) - covered(iv, op.t0, op.t1)
        js.foreach { j =>
          val ss = j.stages.flatMap(s => stageById.getOrElse(s, Nil))
          nStages += ss.size
          jobSelf += (j.end - j.start) -
            covered(ss.map(s => (s.submit, s.done)), j.start, j.end)
          ss.foreach { s =>
            val ts = tasksByStage.getOrElse(s.id, Nil)
            nTasks += ts.size
            ts.foreach { t =>
              wait += math.max(0L, t.launch - s.submit)
              run += t.runMs; cpu += t.cpuNs / 1e6; gc += t.gcMs
              shW += t.shW; shR += t.shR
              spill += t.spill; inB += t.inBytes; inR += t.inRows
            }
          }
        }
      }
      val ph = phases.filter(p => execToGroup.get(p.execId).exists(opIds))
      Map(
        "build.ms" -> buildMs / n, "build.jobs" -> buildJobs / n,
        "catalyst.analysis_ms" -> ph.map(_.analysisMs).sum / n,
        "catalyst.optimization_ms" -> ph.map(_.optMs).sum / n,
        "catalyst.planning_ms" -> ph.map(_.planMs).sum / n,
        "sched.jobs_per_op" -> nJobs / n, "sched.stages_per_op" -> nStages / n,
        "sched.tasks_per_op" -> nTasks / n, "sched.no_job_ms" -> noJob / n,
        "sched.task_wait_ms" -> wait / n,
        "exec.run_ms" -> run / n, "exec.cpu_ms" -> cpu / n, "exec.gc_ms" -> gc / n,
        "exec.core_busy_ratio" -> run / math.max(wallMs * cores, 1.0),
        "shuffle.write_bytes" -> shW / n, "shuffle.read_bytes" -> shR / n,
        "spill.bytes" -> spill / n,
        "scan.input_bytes" -> inB / n, "scan.input_rows" -> inR / n,
        "span.build_self_ms" -> buildSelf / n,
        "span.execute_self_ms" -> execSelf / n,
        "span.job_self_ms" -> jobSelf / n,
        "trace.listener_ms" -> callbackNs / 1e6 / n)
    }

  /** Mean `durationMs` of the data-carrying streaming batches. */
  def streamMetrics: Map[String, Double] = synchronized {
    val n = math.max(progress.size, 1).toDouble
    def mean(k: String) = progress.map(_.getOrElse(k, 0L)).sum / n
    Map("stream.add_batch_ms" -> mean("addBatch"),
      "stream.query_planning_ms" -> mean("queryPlanning"),
      "stream.wal_commit_ms" -> mean("walCommit"),
      "stream.trigger_ms" -> mean("triggerExecution"))
  }

  /** The spans, one JSON object per line, each naming the span that caused
    * it: op → build | execute → job (by start time) → stage. Catalyst
    * phases hang off their SQL execution, streaming batches stand alone. */
  def spansJson(ops: Seq[Op]): Seq[String] = synchronized {
    val byId = ops.map(o => o.id -> o).toMap
    val stageJob = jobs.values.flatMap(j => j.stages.map(_ -> j.id)).toMap
    def q(x: String) = Canon.str(x)
    val opLines = ops.flatMap { o =>
      Seq(
        s"""{"kind":"op","id":${q(o.id)},"op":${q(o.kind)},"start":${o.t0},"end":${o.t1}}""",
        s"""{"kind":"build","id":${q(o.id + "/build")},"parent":${q(o.id)},"start":${o.t0},"end":${o.tb}}""",
        s"""{"kind":"execute","id":${q(o.id + "/execute")},"parent":${q(o.id)},"start":${o.tb},"end":${o.t1}}""")
    }
    val jobLines = jobs.values.toSeq.map { j =>
      val parent = byId.get(j.group).map(o =>
        o.id + (if (j.start < o.tb) "/build" else "/execute")).getOrElse(j.group)
      s"""{"kind":"job","id":"job-${j.id}","parent":${q(parent)},"exec":${j.execId},"start":${j.start},"end":${j.end}}"""
    }
    val stageLines = stages.toSeq.map(s =>
      s"""{"kind":"stage","id":"stage-${s.id}","parent":"job-${stageJob.getOrElse(s.id, -1)}","start":${s.submit},"end":${s.done},"tasks":${s.tasks}}""")
    val phaseLines = phases.toSeq.map(p =>
      s"""{"kind":"catalyst","exec":${p.execId},"analysis_ms":${p.analysisMs},"optimization_ms":${p.optMs},"planning_ms":${p.planMs}}""")
    val progLines = progress.toSeq.map(m =>
      m.map { case (k, v) => s"${q(k)}:$v" }
        .mkString("""{"kind":"stream_batch",""", ",", "}"))
    opLines ++ jobLines ++ stageLines ++ phaseLines ++ progLines
  }
}
