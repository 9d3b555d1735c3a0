package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same
  * time base as the epoch-ms stamps Spark puts on listener events. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def ms: Double = baseMs + (System.nanoTime() - baseNano) / 1e6
}

/** One recorded interval. `parent` is the id of the span that caused
  * it (0 for the run itself); all spans of one invocation share the
  * run id written in the trace file header. */
final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double,
                      attrs: Map[String, Any] = Map.empty) {
  def dur: Double = end - start
}

/** In-memory span store; written out once, when the run ends. */
final class Spans {
  private val next = new AtomicLong(1)
  private val buf = new ConcurrentLinkedQueue[Span]()
  def newId(): Long = next.getAndIncrement()
  def add(s: Span): Span = { buf.add(s); s }
  def all: Seq[Span] = buf.asScala.toSeq
}

final case class Job(id: Int, op: String, callSite: String, start: Long, var end: Long = -1L)

/** Spark scheduler events for jobs tagged with the local property
  * [[Trace.OpKey]], collected through the public listener API. */
final class JobListener extends SparkListener {
  final class StageAcc(val op: String, val submitted: Long) {
    var tasks = 0L; var queueMs = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shWriteBytes = 0L; var shReadBytes = 0L; var shRecords = 0L; var fetchWaitMs = 0L
    var spillBytes = 0L; var inBytes = 0L; var inRows = 0L; var outBytes = 0L; var outRows = 0L
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[(Int, Int), StageAcc]()
  private val execSites = new ConcurrentHashMap[Long, String]()
  private val events = new AtomicLong()
  def eventCount: Long = events.get

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val p = Option(e.properties)
    val op = p.flatMap(x => Option(x.getProperty(Trace.OpKey))).getOrElse("")
    // AQE submits a query's stages from a pool thread, so attribute a
    // SQL job to its execution's call site; other jobs carry their own
    // in the result stage's name ("collect at Vectors.scala:450")
    val site = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execSites.get(id.toLong)))
      .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
    jobs.put(e.jobId, Job(e.jobId, op, site, e.time))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    events.incrementAndGet()
    val op = Option(e.properties).flatMap(x => Option(x.getProperty(Trace.OpKey))).getOrElse("")
    val si = e.stageInfo
    stages.put((si.stageId, si.attemptNumber()),
      new StageAcc(op, si.submissionTime.getOrElse(System.currentTimeMillis())))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val acc = stages.get((e.stageId, e.stageAttemptId))
    if (acc != null) acc.synchronized {
      acc.tasks += 1
      acc.queueMs += math.max(0L, e.taskInfo.launchTime - acc.submitted)
      val m = e.taskMetrics
      if (m != null) {
        acc.runMs += m.executorRunTime; acc.cpuNs += m.executorCpuTime; acc.gcMs += m.jvmGCTime
        acc.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        acc.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        acc.shRecords += m.shuffleWriteMetrics.recordsWritten
        acc.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        acc.spillBytes += m.diskBytesSpilled
        acc.inBytes += m.inputMetrics.bytesRead; acc.inRows += m.inputMetrics.recordsRead
        acc.outBytes += m.outputMetrics.bytesWritten; acc.outRows += m.outputMetrics.recordsWritten
      }
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = events.incrementAndGet()
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execSites.put(s.executionId, s.description)
    case _ =>
  }
}

final case class Qe(func: String, phases: Map[String, (Long, Long)], exchanges: Int, files: Long) {
  def first: Long = if (phases.isEmpty) Long.MaxValue else phases.values.map(_._1).min
  def last: Long = if (phases.isEmpty) Long.MinValue else phases.values.map(_._2).max
}

/** Planning phases, Exchange count and files written of every
  * executed QueryExecution, through the public QueryExecutionListener. */
final class PlanListener extends QueryExecutionListener {
  val qes = new ConcurrentLinkedQueue[Qe]()

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    val plan = qe.executedPlan
    qes.add(Qe(func, ph, Trace.exchanges(plan), Trace.filesWritten(plan)))
  }
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Trace {
  val OpKey = "perfbench.op"

  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case s: QueryStageExec => walk(s.plan)(f)
      case _ =>
    }
    p.children.foreach(walk(_)(f))
    p.subqueries.foreach(walk(_)(f))
  }

  def exchanges(p: SparkPlan): Int = {
    var n = 0
    walk(p) { case _: Exchange => n += 1; case _ => }
    n
  }

  def filesWritten(p: SparkPlan): Long = {
    var n = 0L
    walk(p) {
      case w: DataWritingCommandExec => n += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case _ =>
    }
    n
  }

  /** Length of the union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) { if (!curS.isNaN) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Per-pass layer metrics of a traced pass, plus its reconciliation
  * check and the child spans derived from Spark's own timestamps. */
object Layers {
  private val Site = """at (\w+)\.(?:scala|java)""".r.unanchored
  private val Tolerance = 0.05

  def pass(pass: Int, ops: Seq[(Span, Map[String, Span], Option[(Long, Long)])],
           jl: JobListener, pl: PlanListener, spans: Spans): Seq[(String, Any)] = {
    val jobsByOp = jl.jobs.values.asScala.toSeq.groupBy(_.op)
    val stagesByOp = jl.stages.values.asScala.toSeq.groupBy(_.op)
    val qes = pl.qes.asScala.toSeq
    val m = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val sites = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    var recon1Max = 0.0; var recon2Max = 0.0; var reconBad = 0
    ops.foreach { case (op, ch, dfAnalysis) =>
      val tag = op.attrs("tag").toString
      val w = op.dur
      val build = ch.get("build"); val sink = ch.get("sink")
      val jobs = jobsByOp.getOrElse(tag, Nil).filter(_.end >= 0)
      val opQes = qes.filter(q => q.first >= op.start - 1 && q.first <= op.end + 1)
      val sinkQes = sink.map(s => opQes.filter(_.first >= s.start - 1)).getOrElse(Nil)
      def phase(q: Seq[Qe], p: String): Double =
        q.flatMap(_.phases.get(p)).map { case (s, e) => (e - s).toDouble }.sum
      val analysis = phase(opQes, "analysis") + dfAnalysis.map { case (s, e) => (e - s).toDouble }.getOrElse(0.0)
      val planSink = Seq("analysis", "optimization", "planning").map(phase(sinkQes, _)).sum
      // registry: planning of the noop write precedes its execution,
      // so `execute` runs from the end of the last planning phase to
      // the end of the sink call; etl: Daily.run interleaves planning
      // and execution, so `execute` is what its planning leaves over
      val (execute, recon1) = (build, sink) match {
        case (Some(b), Some(s)) if dfAnalysis.isDefined =>
          val ex = if (sinkQes.isEmpty) s.dur else s.end - sinkQes.map(_.last).max
          (ex, b.dur + planSink + ex)
        case (Some(b), Some(s)) => (s.dur - planSink, b.dur + s.dur)
        case _ => (w, w)
      }
      val iv = jobs.map(j => (j.start.toDouble, j.end.toDouble))
      val jobUnion = Trace.union(iv)
      val inside = Trace.union(iv.map { case (s, e) => (math.max(s, op.start - 1), math.min(e, op.end + 1)) })
      val r1 = math.abs(recon1 - w) / w
      val r2 = math.max(jobUnion - inside, jobUnion - w) / w
      recon1Max = math.max(recon1Max, r1); recon2Max = math.max(recon2Max, r2)
      if (r1 > Tolerance || r2 > Tolerance) reconBad += 1

      m("op.build_s") += build.map(_.dur).getOrElse(0.0) / 1e3
      m("op.sink_s") += sink.map(_.dur).getOrElse(0.0) / 1e3
      m("op.build_jobs") += build.map(b => jobs.count(j => j.start >= b.start - 1 && j.start <= b.end + 1)).getOrElse(0)
      m("plan.analysis_s") += analysis / 1e3
      m("plan.optimization_s") += phase(opQes, "optimization") / 1e3
      m("plan.planning_s") += phase(opQes, "planning") / 1e3
      m("plan.exchanges") += opQes.map(_.exchanges).sum
      m("exec.s") += execute / 1e3
      m("exec.jobs") += jobs.size
      m("exec.job_s") += jobUnion / 1e3
      m("exec.driver_s") += (w - jobUnion) / 1e3
      m("sources.files_written") += opQes.map(_.files).sum
      stagesByOp.getOrElse(tag, Nil).foreach { s =>
        m("exec.stages") += 1
        m("exec.tasks") += s.tasks
        m("exec.task_queue_s") += s.queueMs / 1e3
        m("exec.task_run_s") += s.runMs / 1e3
        m("exec.task_cpu_s") += s.cpuNs / 1e9
        m("exec.gc_s") += s.gcMs / 1e3
        m("shuffle.write_bytes") += s.shWriteBytes
        m("shuffle.read_bytes") += s.shReadBytes
        m("shuffle.records") += s.shRecords
        m("shuffle.fetch_wait_s") += s.fetchWaitMs / 1e3
        m("spill.bytes") += s.spillBytes
        m("sources.input_bytes") += s.inBytes
        m("sources.input_rows") += s.inRows
        m("sources.output_bytes") += s.outBytes
        m("sources.output_rows") += s.outRows
      }
      jobs.foreach { j =>
        val file = j.callSite match { case Site(f) => f; case _ => "other" }
        sites(s"callsite.$file.jobs") += 1
        sites(s"callsite.$file.job_s") += (j.end - j.start) / 1e3
        val parent = ch.values.find(c => j.start >= c.start - 1 && j.start <= c.end + 1).map(_.id).getOrElse(op.id)
        spans.add(Span(spans.newId(), parent, "job", j.start.toDouble, j.end.toDouble,
          Map("job_id" -> j.id, "call_site" -> j.callSite)))
      }
      val parentOf = sink.map(_.id).getOrElse(op.id)
      sinkQes.foreach(q => q.phases.foreach { case (p, (s, e)) =>
        spans.add(Span(spans.newId(), parentOf, s"plan.$p", s.toDouble, e.toDouble, Map("func" -> q.func)))
      })
      spans.add(op)
      ch.values.foreach(spans.add)
    }
    Seq("pass" -> pass, "ops" -> ops.size) ++ m.toSeq ++ sites.toSeq ++ Seq(
      "recon.build_plan_execute_max" -> recon1Max, "recon.jobs_in_op_max" -> recon2Max,
      "recon.ops_outside_tolerance" -> reconBad)
  }
}
