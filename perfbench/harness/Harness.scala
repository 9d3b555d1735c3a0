package perfbench

import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.etl.{Daily, Dims, Pipeline}
import graft.sources.Tables

/** Benchmark JVM: one SparkSession, one client, one operation at a
  * time (closed loop). Reports every operation and pass as a JSON line
  * prefixed `PB ` on stdout; `perfbench/run.py` turns them into
  * metrics and checks the outputs.
  *
  * Arguments are `key=value`:
  *   workload=registry|etl_daily
  *   data=<dir>      sf tables (registry) or generated CSVs (etl)
  *   work=<dir>      scratch: check outputs, etl warehouse, trace file
  *   ops=<a,b,...>   query names (registry) or ISO days (etl), in run order
  *   seconds=<n>     minimum length of the timed phase
  *   passes=<n>      minimum number of timed passes (rounds, when traced)
  *   settle=<n>      untimed passes after the warm-up, part of set-up
  *   trace=0|1       1: alternate untraced and traced passes
  *   run_id=<id>     shared by every span of this invocation
  */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def emit(kind: String, fields: (String, Any)*): Unit =
    println("PB " + mapper.writeValueAsString(Map("kind" -> kind) ++ fields))

  trait Workload {
    def ops: Seq[String]
    /** Untimed first-touch pass; emits one `warmup` line per operation. */
    def warmup(): Unit
    /** Runs one operation; `span` records a named child span of the op. */
    def run(op: String, span: (String, () => Any) => Any): Map[String, Any]
    /** Traced-only extra work, outside the pass wall (etl: cleanse). */
    def tracedExtra(span: (String, () => Any) => Any): Unit = ()
  }

  final class Registry(spark: SparkSession, dir: String, work: String, val ops: Seq[String])
      extends Workload {
    private val fns = ops.map(n => n -> SparkEntry.queries(n)).toMap
    /** Analysis phase of the DataFrame the query function returned;
      * it runs inside `build`, before any executed QueryExecution. */
    var lastAnalysis: Option[(Long, Long)] = None

    def warmup(): Unit = {
      emit("oracle", "sql" -> ops.map(n => n -> SparkEntry.oracleSql(n)).toMap)
      ops.foreach(check)
    }

    /** The query's result as parquet, for the DuckDB oracle compare.
      * Written without repartitioning, so the plan it compiles and
      * warms is the plan the timed noop sink runs. */
    private def check(n: String): Unit = {
      val t0 = Clock.ms
      val err = try {
        fns(n)(spark, dir).write.mode("overwrite").parquet(s"$work/check/$n")
        ""
      } catch { case NonFatal(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      spark.catalog.clearCache()
      emit("warmup", "name" -> n, "ok" -> err.isEmpty, "err" -> err, "wall_s" -> (Clock.ms - t0) / 1e3)
    }

    def run(op: String, span: (String, () => Any) => Any): Map[String, Any] = {
      val df = span("build", () => fns(op)(spark, dir)).asInstanceOf[DataFrame]
      lastAnalysis = df.queryExecution.tracker.phases.get("analysis").map(p => (p.startTimeMs, p.endTimeMs))
      span("sink", () => df.write.format("noop").mode("overwrite").save())
      spark.catalog.clearCache()
      Map.empty
    }
  }

  final class Etl(spark: SparkSession, csv: String, work: String, val ops: Seq[String]) extends Workload {
    private val conf = Pipeline.Config(csv, s"$work/dwh")
    private def day(s: String) = LocalDate.parse(s)
    private def report(r: Pipeline.Report): Map[String, Any] = Map(
      "dims" -> r.dims, "bus_rows" -> r.daily.busRows, "halte_rows" -> r.daily.halteRows,
      "agg_by_card" -> r.daily.aggByCard, "agg_by_route" -> r.daily.aggByRoute,
      "agg_by_tariff" -> r.daily.aggByTariff)

    def warmup(): Unit = {
      val t0 = Clock.ms
      val (reports, err) =
        try (Pipeline.backfill(spark, conf, day(ops.head), day(ops.last)), "")
        catch { case NonFatal(e) => (Nil, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val wall = (Clock.ms - t0) / 1e3
      if (err.nonEmpty) ops.foreach(d => emit("warmup", "name" -> d, "ok" -> false, "err" -> err, "wall_s" -> wall))
      else reports.foreach(r => emit("warmup", "name" -> r.daily.ds, "ok" -> true, "err" -> "",
        "wall_s" -> wall / reports.size, "info" -> report(r)))
    }

    /** One day's `Pipeline.run`, made as the two calls it consists
      * of, `Dims.run` then `Daily.run`, so each gets its own span. */
    def run(op: String, span: (String, () => Any) => Any): Map[String, Any] = {
      val dims = span("build", () => Dims.run(spark, conf.csvDir, conf.dwhDir)).asInstanceOf[Map[String, Long]]
      val daily = span("sink", () => Daily.run(spark, conf.csvDir, conf.dwhDir, day(op))).asInstanceOf[Daily.RunReport]
      report(Pipeline.Report(dims, daily))
    }

    override def tracedExtra(span: (String, () => Any) => Any): Unit = span("cleanse", () => {
      Daily.cleanseBus(Tables.csvAllString(spark, s"$csv/dummy_transaksi_bus.csv", graft.etl.Schemas.busColumns))
        .write.format("noop").mode("overwrite").save()
      Daily.cleanseHalte(Tables.csvAllString(spark, s"$csv/dummy_transaksi_halte.csv", graft.etl.Schemas.halteColumns))
        .write.format("noop").mode("overwrite").save()
    })
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val (workloadName, data, work) = (a("workload"), a("data"), a("work"))
    val seconds = a("seconds").toDouble
    val traceOn = a("trace") == "1"
    val minPasses = a("passes").toInt
    val settlePasses = a("settle").toInt
    val opNames = a("ops").split(",").toSeq.filter(_.nonEmpty)

    val s0 = Clock.ms
    val spark = GraftSession.get()
    val sc = spark.sparkContext
    val sessionS = (Clock.ms - s0) / 1e3
    emit("config",
      "spark.master" -> sc.master, "defaultParallelism" -> sc.defaultParallelism,
      "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark.io.compression.codec" -> sc.getConf.get("spark.io.compression.codec", "lz4"),
      "timed_action" -> (if (workloadName == "etl_daily") "Pipeline.run" else "noop sink"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm_version" -> System.getProperty("java.vm.version"),
      "jvm_processors" -> Runtime.getRuntime.availableProcessors,
      "spark_version" -> spark.version)

    val workload: Workload = workloadName match {
      case "etl_daily" => new Etl(spark, data, work, opNames)
      case "registry" => new Registry(spark, data, work, opNames)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val spans = new Spans
    val runSpan = spans.newId()
    val runStart = Clock.ms
    val layers = mutable.ArrayBuffer.empty[Seq[(String, Any)]]
    var pass = 0

    def runPass(traced: Boolean, settle: Boolean = false): Unit = {
      pass += 1
      val jl = new JobListener
      val pl = new PlanListener
      if (traced) { sc.addSparkListener(jl); spark.listenerManager.register(pl) }
      val passId = spans.newId()
      val opSpans = mutable.ArrayBuffer.empty[(Span, Map[String, Span], Option[(Long, Long)])]
      val gc0 = gcMs
      val p0 = Clock.ms
      workload.ops.zipWithIndex.foreach { case (op, i) =>
        val opTag = s"p$pass-$i"
        val opId = spans.newId()
        val children = mutable.Map.empty[String, Span]
        val span: (String, () => Any) => Any = (name, f) => {
          val s = Clock.ms
          val r = f()
          children(name) = Span(spans.newId(), opId, name, s, Clock.ms)
          r
        }
        sc.setLocalProperty(Trace.OpKey, opTag)
        val t0 = Clock.ms
        val (info, err) = try (workload.run(op, span), "")
          catch { case NonFatal(e) => (Map.empty[String, Any], s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        val t1 = Clock.ms
        sc.setLocalProperty(Trace.OpKey, null)
        val opSpan = Span(opId, passId, "op", t0, t1, Map("name" -> op, "tag" -> opTag))
        emit("op", "pass" -> pass, "traced" -> traced, "settle" -> settle, "name" -> op,
          "ok" -> err.isEmpty, "err" -> err,
          "wall_s" -> opSpan.dur / 1e3, "info" -> info)
        val analysis = workload match { case r: Registry => r.lastAnalysis; case _ => None }
        if (traced) opSpans += ((opSpan, children.toMap, analysis))
      }
      val p1 = Clock.ms
      val gc1 = gcMs
      emit("pass", "pass" -> pass, "traced" -> traced, "settle" -> settle, "wall_s" -> (p1 - p0) / 1e3)
      if (traced) {
        var cleanse = 0.0
        workload.tracedExtra { (name, f) =>
          sc.setLocalProperty(Trace.OpKey, s"p$pass-$name")
          val s = Clock.ms
          try f() finally sc.setLocalProperty(Trace.OpKey, null)
          cleanse = (Clock.ms - s) / 1e3
          spans.add(Span(spans.newId(), passId, name, s, Clock.ms))
        }
        drain(jl, pl)
        sc.removeSparkListener(jl); spark.listenerManager.unregister(pl)
        spans.add(Span(passId, runSpan, "pass", p0, p1, Map("pass" -> pass, "traced" -> true)))
        layers += Layers.pass(pass, opSpans.toSeq, jl, pl, spans) ++
          Seq("etl.cleanse_s" -> cleanse, "pass.wall_s" -> (p1 - p0) / 1e3, "jvm.gc_s" -> (gc1 - gc0) / 1e3)
      } else spans.add(Span(passId, runSpan, "pass", p0, p1, Map("pass" -> pass, "traced" -> false)))
    }

    // set-up ends after the check pass and `settle` untimed passes: the
    // first pass after a warm-up still ran 10-35% slow while the JIT caught up
    workload.warmup()
    (1 to settlePasses).foreach(_ => runPass(traced = false, settle = true))
    emit("setup_done", "epoch_ms" -> System.currentTimeMillis(), "session_start_s" -> sessionS)

    // at least `passes` rounds, then more until `seconds` have passed;
    // traced runs alternate the order within a round (UT, TU, ...) so
    // drift across the run lands on both sides of the overhead estimate
    val t0 = System.nanoTime()
    var round = 0
    do {
      if (!traceOn) runPass(traced = false)
      else if (round % 2 == 0) { runPass(traced = false); runPass(traced = true) }
      else { runPass(traced = true); runPass(traced = false) }
      round += 1
    } while (round < minPasses || (System.nanoTime() - t0) / 1e9 < seconds)

    layers.foreach(l => emit("layers", l: _*))
    if (traceOn) {
      spans.add(Span(runSpan, 0L, "run", runStart, Clock.ms, Map("workload" -> workloadName)))
      val f = new java.io.File(s"$work/trace.json")
      mapper.writeValue(f, Map("run_id" -> a.getOrElse("run_id", ""), "workload" -> workloadName,
        "spans" -> spans.all.sortBy(_.start).map(s => Map("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end, "attrs" -> s.attrs))))
      emit("trace_file", "path" -> f.getPath)
    }
    emit("memory", "peak_rss_mb" -> vmHwmMb, "peak_heap_mb" -> peakHeapMb)
    spark.stop()
    emit("end")
  }

  /** Waits until the listener bus has delivered every event of the
    * pass: all started jobs ended and no new event for 200 ms. */
  private def drain(jl: JobListener, pl: PlanListener): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var last = -1L
    var stableSince = System.nanoTime()
    while (System.nanoTime() < deadline) {
      val n = jl.eventCount + pl.qes.size
      val open = jl.jobs.values.asScala.exists(_.end < 0)
      if (n != last || open) { last = n; stableSince = System.nanoTime() }
      else if (System.nanoTime() - stableSince > 200L * 1000 * 1000) return
      Thread.sleep(20)
    }
  }

  /** Collection time of every garbage collector of this JVM (driver
    * and local executor alike), in milliseconds. */
  private def gcMs: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum

  private def vmHwmMb: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      finally src.close()
    } catch { case NonFatal(_) => 0.0 }

  private def peakHeapMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024 * 1024)
}
