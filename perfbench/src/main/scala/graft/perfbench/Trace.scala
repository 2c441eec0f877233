package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed interval and the span that caused it. Times are epoch ms. */
final case class Span(id: String, parent: String, kind: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Double] = Map.empty) {
  def durMs: Double = endMs - startMs
}

/** The benchmark's own spans: opened and closed by the one client thread
  * around each call into the engine. Every open span is published as a
  * Spark local property, so the jobs a call submits carry its id.
  */
final class Spans {
  val Property = "perfbench.span"
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private var nextId = 0
  private val stack = mutable.Stack[String]("root")
  val closed = mutable.ArrayBuffer.empty[Span]
  var sc: Option[org.apache.spark.SparkContext] = None

  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  def elapsedS: Double = (System.nanoTime() - nano0) / 1e9

  /** Runs `body` inside a new span and returns its result with the span. */
  def within[T](kind: String, name: String)(body: => T): (T, Span) = {
    nextId += 1
    val id = s"b$nextId"
    val parent = stack.top
    stack.push(id)
    sc.foreach(_.setLocalProperty(Property, id))
    val t0 = nowMs
    try {
      val r = body
      val s = Span(id, parent, kind, name, t0, nowMs)
      closed += s
      (r, s)
    } catch { case t: Throwable =>
      closed += Span(id, parent, kind, name, t0, nowMs, Map("failed" -> 1.0))
      throw t
    } finally {
      stack.pop()
      sc.foreach(_.setLocalProperty(Property, if (stack.top == "root") null else stack.top))
    }
  }
}

/** Raw records of what Spark ran, gathered from the listener bus. */
final case class JobRec(id: Int, startMs: Double, var endMs: Double, span: String, stages: Seq[Int])
final case class StageRec(id: Int, attempt: Int, var startMs: Double, var endMs: Double, span: String)
final case class TaskRec(id: Long, stage: Int, attempt: Int, startMs: Double, endMs: Double,
    cpuS: Double, gcS: Double, shuffleWrite: Long, shuffleRead: Long,
    spill: Long, input: Long, output: Long)
final case class PlanRec(startMs: Double, endMs: Double, analysisS: Double, optimizationS: Double, planningS: Double)

/** A SparkListener plus a QueryExecutionListener, registered by the
  * benchmark only on a traced run. Records are kept in memory and turned
  * into spans and per-layer metrics when the run ends.
  */
final class SparkTrace(prop: String) extends SparkListener with QueryExecutionListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]

  private def spanOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(prop))).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, e.time.toDouble, e.time.toDouble, spanOf(e.properties), e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time.toDouble)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val t = i.submissionTime.getOrElse(System.currentTimeMillis()).toDouble
    stages((i.stageId, i.attemptNumber())) = StageRec(i.stageId, i.attemptNumber(), t, t, spanOf(e.properties))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach { s =>
      i.submissionTime.foreach(t => s.startMs = t.toDouble)
      s.endMs = i.completionTime.getOrElse(System.currentTimeMillis()).toDouble
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    def opt(f: => Long): Long = if (m == null) 0L else f
    tasks += TaskRec(i.taskId, e.stageId, e.stageAttemptId, i.launchTime.toDouble, i.finishTime.toDouble,
      opt(m.executorCpuTime) / 1e9, opt(m.jvmGCTime) / 1e3,
      opt(m.shuffleWriteMetrics.bytesWritten), opt(m.shuffleReadMetrics.totalBytesRead),
      opt(m.diskBytesSpilled), opt(m.inputMetrics.bytesRead), opt(m.outputMetrics.bytesWritten))
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def d(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    val now = System.currentTimeMillis().toDouble
    val start = if (ph.isEmpty) now else ph.values.map(_.startTimeMs).min.toDouble
    val end = if (ph.isEmpty) now else ph.values.map(_.endTimeMs).max.toDouble
    plans += PlanRec(start, end, d("analysis"), d("optimization"), d("planning"))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Per-layer numbers for one benchmark span, over everything Spark ran
  * on its behalf (the span and its descendants).
  */
final case class Layer(wallS: Double, planS: Double, analysisS: Double, optimizationS: Double,
    planningS: Double, jobs: Int, stages: Int, tasks: Int, taskBusyS: Double, taskCpuS: Double,
    gcS: Double, noTaskS: Double, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    input: Long, output: Long, maxTaskSkew: Double) {
  def metrics: Seq[(String, Double, String)] = Seq(
    ("wall_s", wallS, "s"), ("plan_s", planS, "s"), ("jobs", jobs.toDouble, "count"),
    ("stages", stages.toDouble, "count"), ("tasks", tasks.toDouble, "count"),
    ("task_busy_s", taskBusyS, "s"), ("task_cpu_s", taskCpuS, "s"), ("gc_s", gcS, "s"),
    ("no_task_s", noTaskS, "s"), ("shuffle_write_bytes", shuffleWrite.toDouble, "bytes"),
    ("shuffle_read_bytes", shuffleRead.toDouble, "bytes"), ("spill_bytes", spill.toDouble, "bytes"),
    ("input_bytes", input.toDouble, "bytes"), ("output_bytes", output.toDouble, "bytes"),
    ("max_task_skew", maxTaskSkew, "ratio"))
  def planPhases: Seq[(String, Double, String)] = Seq(
    ("plan.analysis_s", analysisS, "s"), ("plan.optimization_s", optimizationS, "s"),
    ("plan.planning_s", planningS, "s"))
}

/** Joins the benchmark's spans with Spark's records: every job, stage and
  * task becomes a span whose parent chain reaches the benchmark call that
  * caused it. A job without the span property (none is expected, since
  * Spark copies local properties to the jobs a thread submits, AQE's stage
  * jobs included) falls back to the innermost span open at its start.
  */
final class Trace(bench: Seq[Span], t: SparkTrace) {
  private val byId = bench.map(s => s.id -> s).toMap
  private val children = bench.groupBy(_.parent)

  private def innermost(ms: Double): String = bench
    .filter(s => s.startMs <= ms && ms <= s.endMs)
    .sortBy(s => s.durMs).headOption.map(_.id).getOrElse("root")

  private def owner(span: String, ms: Double): String =
    if (span != null && byId.contains(span)) span else innermost(ms)

  private val jobOwner: Map[Int, String] = t.jobs.map(j => j.id -> owner(j.span, j.startMs)).toMap
  /** The job that ran a stage: the latest job that lists it and started before it. */
  private def jobOf(s: StageRec): Option[JobRec] =
    t.jobs.filter(j => j.stages.contains(s.id) && j.startMs <= s.startMs).sortBy(_.id).lastOption
  private val stageOwner: Map[(Int, Int), String] = t.stages.map { case (k, s) =>
    k -> (if (s.span != null && byId.contains(s.span)) s.span
      else jobOf(s).map(j => jobOwner(j.id)).getOrElse(innermost(s.startMs)))
  }.toMap

  def descendants(id: String): Set[String] =
    children.getOrElse(id, Nil).foldLeft(Set(id))((acc, c) => acc ++ descendants(c.id))

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  def layer(span: Span): Layer = {
    val ids = descendants(span.id)
    val jobs = t.jobs.filter(j => ids(jobOwner(j.id)))
    val stageKeys = stageOwner.collect { case (k, o) if ids(o) => k }.toSet
    val tasks = t.tasks.filter(x => stageKeys((x.stage, x.attempt))).toSeq
    val plans = t.plans.filter(p => span.startMs <= p.endMs && p.endMs <= span.endMs)
    val ran = tasks.groupBy(x => (x.stage, x.attempt))
    val skew = ran.keys.toSeq.sortBy(k => -(t.stages(k).endMs - t.stages(k).startMs)).headOption
      .map { k =>
        val d = ran(k).map(x => x.endMs - x.startMs)
        d.max / math.max(1.0, Stats.median(d))
      }.getOrElse(0.0)
    val busy = covered(tasks.map(x => (x.startMs, x.endMs)), span.startMs, span.endMs)
    Layer(
      wallS = span.durMs / 1e3,
      planS = plans.map(p => p.analysisS + p.optimizationS + p.planningS).sum,
      analysisS = plans.map(_.analysisS).sum,
      optimizationS = plans.map(_.optimizationS).sum,
      planningS = plans.map(_.planningS).sum,
      jobs = jobs.size, stages = ran.size, tasks = tasks.size,
      taskBusyS = tasks.map(x => x.endMs - x.startMs).sum / 1e3,
      taskCpuS = tasks.map(_.cpuS).sum, gcS = tasks.map(_.gcS).sum,
      noTaskS = (span.durMs - busy) / 1e3,
      shuffleWrite = tasks.map(_.shuffleWrite).sum, shuffleRead = tasks.map(_.shuffleRead).sum,
      spill = tasks.map(_.spill).sum, input = tasks.map(_.input).sum,
      output = tasks.map(_.output).sum, maxTaskSkew = skew)
  }

  /** The part of a step before its first query is planned or its first job
    * starts. For an extract pass that is the eager `Pipeline.corpus`
    * listing; None when the step planned and ran nothing.
    */
  def scanS(span: Span): Option[Double] = {
    val ids = descendants(span.id)
    val firsts = t.jobs.filter(j => ids(jobOwner(j.id))).map(_.startMs) ++
      t.plans.filter(p => span.startMs <= p.startMs && p.startMs <= span.endMs).map(_.startMs)
    if (firsts.isEmpty) None else Some((firsts.min - span.startMs) / 1e3)
  }

  /** Every span, benchmark and Spark alike, with its self time: its
    * duration minus the part of it that its children cover.
    */
  def allSpans: Seq[Span] = {
    val jobSpans = t.jobs.map(j => Span(s"j${j.id}", jobOwner(j.id), "job", s"job ${j.id}", j.startMs, j.endMs))
    val stageSpans = t.stages.values.toSeq.map { s =>
      val parent = jobOf(s).map(j => s"j${j.id}").getOrElse(stageOwner((s.id, s.attempt)))
      Span(s"s${s.id}.${s.attempt}", parent, "stage", s"stage ${s.id}.${s.attempt}", s.startMs, s.endMs)
    }
    val taskSpans = t.tasks.map(x => Span(s"t${x.id}", s"s${x.stage}.${x.attempt}", "task",
      s"task ${x.id}", x.startMs, x.endMs, Map("cpu_s" -> x.cpuS, "gc_s" -> x.gcS)))
    val rowAttrs = bench.filter(_.kind == "row").map { s =>
      val l = layer(s)
      s.id -> Map("jobs" -> l.jobs.toDouble, "no_task_s" -> l.noTaskS, "tasks" -> l.tasks.toDouble)
    }.toMap
    val all = bench.map(s => s.copy(attrs = s.attrs ++ rowAttrs.getOrElse(s.id, Map.empty))) ++
      jobSpans ++ stageSpans ++ taskSpans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val self = s.durMs - covered(kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)), s.startMs, s.endMs)
      s.copy(attrs = s.attrs + ("self_ms" -> self))
    }
  }
}

object Trace {
  private def q(s: String): String =
    if (s == null) "null" else "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def jsonl(spans: Seq[Span]): String = spans.map { s =>
    val attrs = s.attrs.map { case (k, v) => s"${q(k)}:${Json.num(v)}" }.mkString(",")
    s"""{"id":${q(s.id)},"parent":${q(s.parent)},"kind":${q(s.kind)},"name":${q(s.name)},""" +
      s""""start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)},"attrs":{$attrs}}"""
  }.mkString("", "\n", "\n")
}

object Json {
  /** The `"name": {"value": v` pairs of a metrics object. */
  def numbers(json: String): Map[String, Double] =
    """"([^"]+)":\s*\{"value":\s*(-?[0-9.eE+-]+)""".r.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString
}
