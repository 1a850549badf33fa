package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Bridge

/** What a span wraps: the whole job, a call that returns a DataFrame
  * (jobs it launches are eager), a call that writes output, or a step. */
object Kind extends Enumeration { val Job, Build, Sink, Step = Value }

final case class Span(id: Int, name: String, kind: Kind.Value, parent: Int, run: Int,
                      start: Long, var end: Long = 0L) {
  def ms: Double = (end - start) / 1e6
}

/** Spans around calls into graft, kept in memory. Disabled, a span only
  * runs its body, so the untraced run keeps the program's own shape.
  * Enabled, each span tags the Spark jobs and SQL executions it starts
  * (one `pbspan-<id>` job tag, the innermost span's) so the listeners
  * below can charge them to it. */
final class Tracer(spark: SparkSession) {
  val spans = ArrayBuffer[Span]()
  var enabled = false
  var run = 0
  private var stack = List.empty[Span]
  /** Wall-clock ms minus nanoTime ms: maps task times onto span times. */
  val wallOffsetMs: Double = System.currentTimeMillis() - System.nanoTime() / 1e6

  def span[T](name: String, kind: Kind.Value = Kind.Step)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val s = Span(spans.size, name, kind, stack.headOption.fold(-1)(_.id), run, System.nanoTime())
      spans += s
      stack.headOption.foreach(p => sc.removeJobTag(Tracer.tag(p.id)))
      sc.addJobTag(Tracer.tag(s.id))
      stack = s :: stack
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.removeJobTag(Tracer.tag(s.id))
        stack.headOption.foreach(p => sc.addJobTag(Tracer.tag(p.id)))
      }
    }

  /** Self time: duration minus the part covered by child spans. */
  def selfMs(s: Span): Double =
    s.ms - spans.iterator.filter(_.parent == s.id).map(_.ms).sum
}

object Tracer {
  val Prefix = "pbspan-"
  def tag(id: Int): String = Prefix + id
  def spanOf(tags: Iterable[String]): Int =
    tags.collect { case t if t.startsWith(Prefix) => t.stripPrefix(Prefix).toInt }
      .foldLeft(-1)(math.max)
}

final case class TaskRec(stage: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long,
                         gcMs: Long, peakMem: Long, spill: Long, shWriteBytes: Long,
                         shWriteRecs: Long, shReadBytes: Long, fetchWaitMs: Long)

final case class QeRec(executionId: Long, analysisMs: Long, optimizationMs: Long,
                       planningMs: Long, fileBytes: Long, files: Long, rows: Long,
                       cacheBytes: Long, writtenBytes: Long, writtenFiles: Long,
                       writtenRows: Long)

/** Scheduler, executor, shuffle and Catalyst events of the traced run.
  * Every record is stored raw and charged to spans after the listener
  * bus has drained. Each finished SQL execution yields its planning
  * phases (the QueryPlanningTracker a QueryExecutionListener sees) and
  * the scan and write nodes' SQL metrics in its final (post-AQE) plan;
  * scan bytes never come from task input metrics. */
final class LayerListener extends SparkListener {
  val jobSpan = mutable.Map[Int, Int]()
  val stageJob = mutable.Map[Int, Int]()
  val stageSubmit = mutable.Map[Int, Long]()
  val tasks = ArrayBuffer[TaskRec]()
  val execSpan = mutable.Map[Long, Int]()
  val qes = ArrayBuffer[QeRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    jobSpan(e.jobId) = Tracer.spanOf(tags)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.peakExecutionMemory,
      m.diskBytesSpilled, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleWriteMetrics.recordsWritten, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleReadMetrics.fetchWaitTime)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSpan(s.executionId) = Tracer.spanOf(s.jobTags)
    }
    case end: SparkListenerSQLExecutionEnd =>
      Option(Bridge.queryExecution(end)).foreach(record(end.executionId, _))
    case _ =>
  }

  /** Cached plans already charged: a persisted frame's source scan runs
    * once, inside the execution that first reads the cache. */
  private val seenCaches = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())

  private def record(executionId: Long, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def phase(p: String) = phases.get(p).fold(0L)(_.durationMs)
    def expand(nodes: Seq[SparkPlan]): Seq[SparkPlan] = nodes ++ nodes.collect {
      case c: InMemoryTableScanExec if seenCaches.add(c.relation.cachedPlan) =>
        expand(PlanNodes(c.relation.cachedPlan))
    }.flatten
    val nodes = synchronized(expand(PlanNodes(qe.executedPlan)))
    def metric(n: SparkPlan, k: String) = n.metrics.get(k).fold(0L)(_.value)
    val scans = nodes.collect { case s: FileSourceScanLike => s }
    val caches = nodes.collect { case c: InMemoryTableScanExec => c }
    val writes = nodes.collect { case w: DataWritingCommandExec => w.cmd.metrics }
    val rec = QeRec(executionId, phase("analysis"), phase("optimization"), phase("planning"),
      scans.map(metric(_, "filesSize")).sum, scans.map(metric(_, "numFiles")).sum,
      scans.map(metric(_, "numOutputRows")).sum,
      caches.map(_.relation.cacheBuilder.sizeInBytesStats.value.longValue).sum,
      writes.map(_.get("numOutputBytes").fold(0L)(_.value)).sum,
      writes.map(_.get("numFiles").fold(0L)(_.value)).sum,
      writes.map(_.get("numOutputRows").fold(0L)(_.value)).sum)
    synchronized { qes += rec }
  }
}

/** Every node of an executed plan: through AQE stages and subqueries via
  * AdaptiveSparkPlanHelper, and into the plan a command ran. */
object PlanNodes extends AdaptiveSparkPlanHelper {
  def apply(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case n => n }
    .flatMap {
      case c: CommandResultExec => c +: apply(c.commandPhysicalPlan)
      case n => Seq(n)
    }
}

/** Per-run layer metrics from the spans and the listener's records. */
object Layers {
  def codegen: (Long, Long) =
    (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  def forRun(t: Tracer, l: LayerListener, run: Int, cpus: Int,
             codegenDelta: (Long, Long), inputBytes: Long): Map[String, Double] = l.synchronized {
    val spans = t.spans.filter(_.run == run)
    val ids = spans.map(_.id).toSet
    val byId = spans.map(s => s.id -> s).toMap
    val root = spans.find(_.kind == Kind.Job).get
    val jobs = l.jobSpan.filter { case (_, s) => ids(s) }
    val stages = l.stageJob.filter { case (_, j) => jobs.contains(j) }
    val tasks = l.tasks.filter(tk => stages.contains(tk.stage))
    val qes = l.qes.filter(q => l.execSpan.get(q.executionId).exists(ids))
    def spanOfStage(st: Int) = jobs(stages(st))
    /** Does span `s` sit at or under span `anc`? */
    def under(s: Int, anc: Int): Boolean = s == anc || (s >= 0 && byId.get(s).exists(x => under(x.parent, anc)))
    val mb = 1024.0 * 1024.0
    val out = mutable.LinkedHashMap[String, Double]()

    out("job_ms") = root.ms
    out("plan.actions") = qes.size
    out("plan.analysis_ms") = qes.map(_.analysisMs).sum
    out("plan.optimization_ms") = qes.map(_.optimizationMs).sum
    out("plan.planning_ms") = qes.map(_.planningMs).sum
    out("plan.codegen_compile_ms") = codegenDelta._1 / 1e6
    out("plan.codegen_classes") = codegenDelta._2
    out("plan.eager_jobs") = jobs.count { case (_, s) => byId(s).kind == Kind.Build }
    out("plan.build_ms") = spans.filter(_.kind == Kind.Build).map(_.ms).sum

    val fileBytes = qes.map(_.fileBytes).sum
    out("sources.file_mb") = fileBytes / mb
    out("sources.files") = qes.map(_.files).sum
    out("sources.rows") = qes.map(_.rows).sum
    out("sources.cache_mb") = qes.map(_.cacheBytes).sum / mb
    out("sources.rescan_ratio") = fileBytes.toDouble / inputBytes
    // quarantined lines, as the quarantine sink wrote them
    val quarantine = spans.filter(_.name == "sinks.quarantine").map(_.id).toSet
    if (quarantine.nonEmpty)
      out("sources.corrupt_rows") = qes.filter(q => quarantine(l.execSpan(q.executionId))).map(_.writtenRows).sum

    out("sinks.written_mb") = qes.map(_.writtenBytes).sum / mb
    out("sinks.files") = qes.map(_.writtenFiles).sum
    out("sinks.commit_ms") = spans.filter(_.kind == Kind.Sink).map { s =>
      val last = tasks.filter(tk => under(spanOfStage(tk.stage), s.id)).map(_.finish)
      if (last.isEmpty) 0.0 else math.max(0.0, s.end / 1e6 - (last.max - t.wallOffsetMs))
    }.sum

    out("exec.jobs") = jobs.size
    out("exec.stages") = tasks.map(_.stage).distinct.size
    out("exec.tasks") = tasks.size
    out("exec.task_cpu_ms") = tasks.map(_.cpuNs).sum / 1e6
    out("exec.task_run_ms") = tasks.map(_.runMs).sum.toDouble
    out("exec.sched_wait_ms") = tasks.map(tk => math.max(0L, tk.launch - l.stageSubmit.getOrElse(tk.stage, tk.launch))).sum.toDouble
    out("exec.gc_ms") = tasks.map(_.gcMs).sum.toDouble
    out("exec.cpu_busy_frac") = tasks.map(_.runMs).sum / (root.ms * cpus)
    out("exec.task_skew") = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(tk => (tk.finish - tk.launch).toDouble).sorted
      d.last / math.max(1.0, d(d.size / 2))
    }.foldLeft(1.0)(math.max)
    out("exec.peak_task_mem_mb") = tasks.map(_.peakMem).foldLeft(0L)(math.max) / mb
    out("exec.spill_mb") = tasks.map(_.spill).sum / mb

    out("shuffle.write_mb") = tasks.map(_.shWriteBytes).sum / mb
    out("shuffle.read_mb") = tasks.map(_.shReadBytes).sum / mb
    out("shuffle.records") = tasks.map(_.shWriteRecs).sum.toDouble
    out("shuffle.fetch_wait_ms") = tasks.map(_.fetchWaitMs).sum.toDouble

    // named spans: motogp.<table>, op.<name> — time, jobs, stages
    spans.filter(s => s.name.startsWith("motogp.") || s.name.startsWith("op.")).foreach { s =>
      out(s"${s.name}.ms") = s.ms
      out(s"${s.name}.self_ms") = t.selfMs(s)
      out(s"${s.name}.jobs") = jobs.count { case (_, js) => under(js, s.id) }
      out(s"${s.name}.stages") = tasks.filter(tk => under(spanOfStage(tk.stage), s.id)).map(_.stage).distinct.size
    }
    out.toMap
  }
}
