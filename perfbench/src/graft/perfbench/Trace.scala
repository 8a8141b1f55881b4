package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import graft.core.{LifecycleHook, PipelineContext, Stage}

/** The traced run's recorder. It watches the program from outside only:
  * a SparkListener for jobs and tasks, a QueryExecutionListener for
  * planning phases, a LifecycleHook for pipeline-stage boundaries, and the
  * spans the benchmark records around each operation it runs. Everything
  * stays in memory until the run ends. Events are attributed to an
  * operation by time: one client runs one operation at a time, so a job
  * submitted inside an operation's interval belongs to it.
  */
final class Trace(spark: SparkSession, ctx: Option[PipelineContext])
    extends SparkListener with QueryExecutionListener with LifecycleHook {
  import Trace._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val plans = new ConcurrentLinkedQueue[PlanRec]()
  private val hooks = new ConcurrentLinkedQueue[HookRec]()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)
  ctx.foreach(_.hooks += this)

  /** SQL execution id → the call site of the Dataset action that started it. */
  private val execSite = new ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execSite.put(s.executionId, s.description)
    case _                                 => ()
  }

  /** A job's call site is its SQL execution's: adaptive execution submits
    * query-stage jobs from other threads, whose own call site is not the
    * action's. */
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val site = exec.flatMap(id => Option(execSite.get(id.toLong)))
      .getOrElse(e.stageInfos.maxBy(_.stageId).name)
    jobs.put(e.jobId, JobRec(e.jobId, e.time, site))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.add(TaskRec(e.stageId, e.taskInfo.duration, m.executorCpuTime / 1e6, m.jvmGCTime,
        m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten))
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = plan(qe)

  private def plan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.filter { case (k, _) => k != "parsing" }.values
    if (ph.nonEmpty) plans.add(PlanRec(ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
  }

  override def after(stage: Stage, index: Int, total: Int, result: Option[DataFrame]): Unit =
    hooks.add(HookRec(stage.stageType, System.currentTimeMillis(), System.nanoTime()))

  /** Detach, after every event posted so far has been delivered. */
  def stop(): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    ctx.foreach(_.hooks -= this)
  }

  private def within(ms: Long, op: OpRec): Boolean = ms >= op.startMs && ms <= op.endMs

  /** Per-operation view of the recorded events. */
  private final class OpView(val op: OpRec) {
    val jobList: Seq[JobRec] = jobs.values.asScala.filter(j => within(j.submitMs, op)).toSeq
      .sortBy(_.submitMs)
    private val ids = jobList.map(_.id).toSet
    val taskList: Seq[TaskRec] = tasks.asScala.filter(t => ids.contains(stageJob.getOrDefault(t.stageId, -1))).toSeq
    val planMs: Double = plans.asScala.filter(p => within(p.startMs, op)).map(_.ms.toDouble).sum
    val hookList: Seq[HookRec] = hooks.asScala.filter(h => within(h.ms, op)).toSeq.sortBy(_.ns)
    def ms: Double = op.ns / 1e6
    /** Wall time of the operation not covered by any of its jobs. */
    def gapMs: Double = {
      var covered = 0L
      var end = op.startMs
      jobList.foreach { j =>
        val s = math.max(j.submitMs, end)
        val e = math.min(if (j.endMs > 0) j.endMs else op.endMs, op.endMs)
        if (e > s) { covered += e - s; end = e }
      }
      math.max(0.0, ms - covered)
    }
    def lastJobEnd: Long = jobList.map(_.endMs).maxOption.getOrElse(0L)
    /** Slowest task ÷ median task in the most skewed stage with ≥ 2 tasks. */
    def skew: Double = taskList.groupBy(_.stageId).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(_.durationMs.toDouble).toIndexedSeq
      val med = Stats.median(d)
      if (med > 0) d.max / med else 1.0
    }.maxOption.getOrElse(1.0)
  }

  /** Every per-layer metric named in BENCHMARK.json. A layer the workload
    * does not exercise reports 0. */
  def perLayer(workload: String, recs: IndexedSeq[OpRec], wallNs: Long, cores: Int,
      extra: Map[String, Double]): Seq[(String, Double, String)] = {
    val views = recs.map(new OpView(_))
    def med(xs: Iterable[Double]) = Stats.median(xs.toIndexedSeq)
    def ofKind(p: OpView => Boolean) = views.filter(p)
    def perOp(x: Double) = if (views.isEmpty) 0.0 else x / views.size
    val out = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
    def put(k: String, v: Double, unit: String): Unit = out(k) = (v, unit)
    val cells = workload == "notebook"

    // repl
    def cellMs(kind: String) = if (cells) med(ofKind(_.op.kind == kind).map(_.ms)) else 0.0
    put("repl.sql_cell_ms", cellMs("sql"), "ms")
    put("repl.arc_cell_ms", cellMs("arc"), "ms")
    put("repl.meta_cell_ms", cellMs("meta"), "ms")
    put("repl.complete_ms", cellMs("complete"), "ms")
    put("repl.cell_p90_ms", if (cells) Stats.quantile(views.map(_.ms), 0.9) else 0.0, "ms")
    put("repl.jobs_per_cell", if (cells) Stats.mean(views.map(_.jobList.size.toDouble)) else 0.0, "count")
    put("repl.driver_gap_ms", if (cells) med(views.map(_.gapMs)) else 0.0, "ms")
    put("repl.tail_ms", if (cells) med(views.filter(_.jobList.nonEmpty).map { v =>
      (v.op.endMs - v.lastJobEnd).toDouble }) else 0.0, "ms")

    // core: Runner.run of a %sql cell (lazy plan construction) runs from the
    // cell start to its stage's hook; parse time is measured by the workload;
    // planning comes from the QueryPlanningTracker of every query a cell ran
    put("core.parse_ms", extra.getOrElse("core.parse_ms", 0.0), "ms")
    put("core.run_ms", if (cells) med(ofKind(_.op.kind == "sql").flatMap(v =>
      v.hookList.headOption.map(h => (h.ns - v.op.startNs) / 1e6))) else 0.0, "ms")
    put("core.plan_ms", med(views.map(_.planMs)), "ms")

    // render
    val renderJobs = views.map(_.jobList.filter(_.callSite.contains("Render.scala")))
    put("render.jobs_per_cell", if (cells) Stats.mean(renderJobs.map(_.size.toDouble)) else 0.0, "count")
    put("render.job_ms", med(renderJobs.flatten.filter(_.endMs > 0).map(j => (j.endMs - j.submitMs).toDouble)), "ms")

    // stages: from the previous hook (or the cell start) to the stage's own hook
    val stageRuns: Seq[(String, Double, Int)] = views.flatMap { v =>
      val startsMs = v.op.startMs +: v.hookList.map(_.ms)
      val startsNs = v.op.startNs +: v.hookList.map(_.ns)
      v.hookList.zipWithIndex.map { case (h, i) =>
        (h.name, (h.ns - startsNs(i)) / 1e6,
          v.jobList.count(j => j.submitMs >= startsMs(i) && j.submitMs <= h.ms))
      }
    }
    StageTypes.foreach { t =>
      val mine = stageRuns.filter(_._1 == t)
      put(s"stages.$t.ms", med(mine.map(_._2)), "ms")
      put(s"stages.$t.jobs", Stats.mean(mine.map(_._3.toDouble)), "count")
    }

    // spark, per operation
    val allTasks = views.flatMap(_.taskList)
    put("spark.jobs", perOp(views.map(_.jobList.size.toDouble).sum), "count")
    put("spark.tasks", perOp(allTasks.size.toDouble), "count")
    put("spark.task_ms", perOp(allTasks.map(_.durationMs.toDouble).sum), "ms")
    put("spark.cpu_ms", perOp(allTasks.map(_.cpuMs).sum), "ms")
    put("spark.gc_ms", perOp(allTasks.map(_.gcMs.toDouble).sum), "ms")
    put("spark.scan_bytes", perOp(allTasks.map(_.scanBytes.toDouble).sum), "B")
    put("spark.shuffle_bytes", perOp(allTasks.map(_.shuffleBytes.toDouble).sum), "B")
    put("spark.spill_bytes", perOp(allTasks.map(_.spillBytes.toDouble).sum), "B")
    put("spark.task_skew", med(views.filter(_.taskList.nonEmpty).map(_.skew)), "ratio")
    put("spark.busy_frac", allTasks.map(_.durationMs.toDouble).sum / (wallNs / 1e6 * cores), "1")

    // stores
    val stores = workload == "store_lifecycle"
    def kindMs(kind: String) = if (stores) med(ofKind(_.op.kind == kind).map(_.ms)) else 0.0
    def groupOf(v: OpView) = v.op.kind.takeWhile(_ != '.')
    Seq("probe.ivf_topk", "probe.minhash_matches", "probe.sem_dedup", "ingest.minhash",
      "ingest.span", "ingest.sem", "ingest.ivf").foreach { k =>
      val Array(g, n) = k.split('.')
      put(s"stores.${n}${if (g == "ingest") "_ingest" else ""}_ms", kindMs(k), "ms")
    }
    put("stores.takedown_ms", kindMs("takedown"), "ms")
    put("stores.compact_ms", if (stores) med(ofKind(groupOf(_) == "compact").map(_.ms)) else 0.0, "ms")
    Seq("probe", "ingest", "takedown", "compact").foreach { g =>
      val vs = if (stores) ofKind(groupOf(_) == g) else IndexedSeq.empty
      put(s"stores.$g.p50_ms", med(vs.map(_.ms)), "ms")
      put(s"stores.$g.jobs_per_op", Stats.mean(vs.map(_.jobList.size.toDouble)), "count")
      put(s"stores.$g.job_gap_ms", med(vs.map(_.gapMs)), "ms")
    }
    put("stores.files", extra.getOrElse("stores.files", 0.0), "count")
    put("stores.bytes", extra.getOrElse("stores.bytes", 0.0), "B")
    put("stores.bytes_written_per_op", if (stores) perOp(allTasks.map(_.outputBytes.toDouble).sum) else 0.0, "B")
    put("stores.bytes_per_live_row", extra.getOrElse("stores.bytes_per_live_row", 0.0), "B")

    // the traced run's own end-to-end figures: minus the untraced run's, the tracing overhead
    put("trace.op_p50_ms", Stats.hdMedian(views.map(_.ms)), "ms")
    put("trace.ops_per_s", if (views.isEmpty) 0.0 else views.size / (views.map(_.ms).sum / 1000.0), "1/s")
    out.toSeq.map { case (k, (v, u)) => (k, v, u) }
  }

  /** Write the operations, stage hooks and jobs as JSON lines. */
  def writeSpans(path: String, recs: IndexedSeq[OpRec]): Unit = {
    val sb = new StringBuilder
    recs.zipWithIndex.foreach { case (r, i) =>
      sb.append(s"""{"span":"op","kind":"${r.kind}","op":$i,"start_ms":${r.startMs},"end_ms":${r.endMs},"ns":${r.ns}}""").append('\n')
    }
    hooks.asScala.foreach(h => sb.append(s"""{"span":"stage_end","stage":"${h.name}","at_ms":${h.ms}}""").append('\n'))
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      sb.append(s"""{"span":"job","id":${j.id},"start_ms":${j.submitMs},"end_ms":${j.endMs},"site":"${j.callSite.replace("\"", "'")}"}""").append('\n')
    }
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, sb.toString)
  }
}

object Trace {
  /** One timed operation: wall-clock bounds for attribution, `ns` its length. */
  final case class OpRec(kind: String, startMs: Long, endMs: Long, startNs: Long, ns: Long)
  final case class JobRec(id: Int, submitMs: Long, callSite: String) { @volatile var endMs: Long = 0L }
  final case class TaskRec(stageId: Int, durationMs: Long, cpuMs: Double, gcMs: Long,
      scanBytes: Long, shuffleBytes: Long, spillBytes: Long, outputBytes: Long)
  final case class PlanRec(startMs: Long, ms: Long)
  /** A pipeline stage's LifecycleHook call, on both clocks. */
  final case class HookRec(name: String, ms: Long, ns: Long)

  /** Stage types the notebook's cells run through Runner. */
  val StageTypes = Seq("SQLTransform", "TypingTransform")
}
