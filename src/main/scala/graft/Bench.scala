package graft
import scala.util.control.NonFatal

/** Benchmark main: one JSON line with per-query MEDIAN seconds.
  *
  * Protocol (per query, in sorted name order): one untimed warmup run
  * (parquet footers, codegen, JIT, fixture builds — q60/q62/q75 build
  * their bases once per JVM via SparkEntry's fixture memo, so setup
  * I/O never lands in a timed region), then `reps` timed runs with the
  * Spark cache cleared after each; the reported value is the median,
  * which a single host-load spike cannot move (single-shot totals have
  * historically swung 10-30x on identical code under load).
  * /proc/loadavg is recorded before and after so a load-noisy run is
  * self-identifying in the artifact itself.
  *
  * Load hygiene, in layers (each motivated by a contaminated artifact
  * from an earlier round):
  *   1. a bounded wait-for-quiesce gate before the run starts
  *      (round 9: the whole artifact ran at loadavg 11);
  *   2. per-query load attribution — the MAX of the 1-min loadavg at
  *      query start and end, so a co-tenant arriving mid-warmup tags
  *      the row it actually inflated, not the next one (round 10:
  *      start-only sampling mis-attributed by one row);
  *   3. auto-requeue — any query whose recorded load exceeds the gate
  *      is re-run (bounded retries, re-gated wait before each) and the
  *      LEAST-loaded attempt is kept, so a transient co-tenant never
  *      lands a contaminated row in the artifact at all (round 10: 230
  *      of 260 driver rows ran at loadavg > 4 and the artifact was
  *      unusable as a signal).
  *
  * Environment (all optional; the gates' other bars are constants):
  *   - `SPARK_GRAFT_SF_DIR` — the input tables (default: the sf0.1
  *     test data);
  *   - `SPARK_GRAFT_BENCH_REPS` — timed runs per query (default 5);
  *   - `SPARK_GRAFT_BENCH_REQUEUE_LOAD` — the per-row requeue load
  *     threshold (default 6.0);
  *   - `SPARK_GRAFT_BENCH_ONLY` — comma-separated query names to run
  *     (default: all);
  *   - `SPARK_GRAFT_BENCH_ACTION` — timed action, `count` (default) or
  *     `noop`;
  *   - `SPARK_GRAFT_BENCH_OUT` — where the JSON line is also written
  *     (default: `graft_bench_last.json` in java.io.tmpdir);
  *   - `SPARK_GRAFT_CPUS` and `SPARK_GRAFT_SHUFFLE_PARTITIONS`, read by
  *     [[GraftSession]].
  */
object Bench {
  private def loadavg: String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split(" ").take(3).mkString(" ") finally src.close()
    } catch { case NonFatal(_) => "" }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  private def load1min: Double =
    try loadavg.split(" ")(0).toDouble catch { case NonFatal(_) => 0.0 }

  private val LockPath =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"), "graft_bench.lock")

  /** Fail fast (named error, exit 3) if another live graft.Bench JVM
    * holds the lock; otherwise take it and release on exit. Creation
    * is atomic (CREATE_NEW): two benches racing the check-then-write
    * window can no longer both conclude the lock is free. */
  private def acquireLock(): Unit = {
    try {
      val self = ProcessHandle.current.pid.toString
      var attempts = 0
      var held = false
      while (!held && attempts < 3) {
        attempts += 1
        try {
          java.nio.file.Files.write(LockPath, (self + "\n").getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          held = true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            val pid = new String(
              java.nio.file.Files.readAllBytes(LockPath), "UTF-8").trim
            val alive = try {
              val h = ProcessHandle.of(pid.toLong)
              h.isPresent && h.get.isAlive
            } catch { case NonFatal(_) => false }
            if (alive) {
              System.err.println(
                s"[bench] ERROR: SIBLING_BENCH_RUNNING — another graft.Bench JVM (pid $pid) " +
                  s"holds $LockPath; refusing to measure against its load. " +
                  "Finish or kill it first (tools/bench_chain.sh still running?).")
              sys.exit(3)
            }
            System.err.println(s"[bench] reclaiming stale lock of dead pid $pid")
            try java.nio.file.Files.delete(LockPath)
            catch { case NonFatal(_) => () } // a racer may have deleted it first
        }
      }
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try {
          // delete only OUR lock — never a successor's
          val cur = new String(java.nio.file.Files.readAllBytes(LockPath), "UTF-8").trim
          if (cur == self) java.nio.file.Files.delete(LockPath)
        } catch { case NonFatal(_) => () }))
    } catch { case NonFatal(e) =>
      // lock plumbing must never block a measurement on an exotic fs
      System.err.println(s"[bench] lock check skipped: ${e.getMessage}")
    }
  }

  /** True iff a JVM OUTSIDE this process's own ancestor/descendant
    * tree is alive — the only case in which the observed host load can
    * be a co-tenant's rather than the bench's own. The r14 driver run
    * died waiting for loadavg < 2.0 that its own just-finished
    * local[32] query had produced (1-min loadavg decays over minutes);
    * when no external JVM exists there is nothing to wait FOR, and the
    * honest move is to record the (self-)load on the row and keep
    * measuring. Conservative on error: assume a sibling, keep the old
    * wait behaviour. */
  private[graft] def siblingJvmAlive: Boolean =
    try {
      val self = ProcessHandle.current
      val mine = scala.collection.mutable.Set[Long](self.pid)
      var p = self.parent()
      while (p.isPresent) { mine += p.get.pid; p = p.get.parent() }
      self.descendants().forEach(d => mine += d.pid)
      var found = false
      ProcessHandle.allProcesses().forEach { h =>
        if (!found && !mine.contains(h.pid)) {
          val cmd = h.info().command()
          if (cmd.isPresent) {
            val c = cmd.get
            if (c.endsWith("/java") || c == "java" || c.endsWith("/javaw"))
              found = true
          }
        }
      }
      found
    } catch { case NonFatal(_) => true }

  /** Bounded wait for the 1-min loadavg to drop under `max`; returns
    * seconds waited. Aborts immediately when no sibling JVM is alive
    * (the load is then this bench's own and can only decay by idling —
    * the r11–r14 rc=124 root cause), and never waits past the shared
    * suite-total budget. */
  private def waitForQuiesce(max: Double, waitSec: Int, tag: String): Int = {
    var waited = 0
    val budgeted = math.min(waitSec, budgetLeft)
    while (load1min > max && waited < budgeted) {
      if (!siblingJvmAlive) {
        System.err.println(
          f"[bench] $tag: loadavg ${load1min}%.2f > $max%.1f but no sibling JVM alive — " +
            "self-load, not waiting")
        budgetLeft = math.max(0, budgetLeft - waited)
        return waited
      }
      System.err.println(
        f"[bench] $tag: host loaded (1-min loadavg ${load1min}%.2f > $max%.1f) — waiting (${waited}s/${budgeted}s)")
      Thread.sleep(15000L)
      waited += 15
    }
    budgetLeft = math.max(0, budgetLeft - waited)
    waited
  }

  /** Suite-total wait budget (seconds) shared by the start gate and
    * every requeue gate: 272 queries × a 600 s-per-gate wait cannot fit
    * any driver time box (BENCH_r11–r14 all ended rc=124 inside these
    * loops). 120 s for the WHOLE suite. */
  private var budgetLeft: Int = 120

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    // Load gate: timings taken on a busy host are noise (historically
    // 3-10x per-query swings vs a clean run of identical code). Wait —
    // bounded — for the 1-min loadavg to drop below the threshold
    // before timing anything; if the host never quiesces, run anyway
    // but tag the artifact "loaded" so no one mistakes it for a clean
    // measurement. Enforced here, in the artifact producer, so every
    // emitted JSON is self-labelling.
    val gateMax = 2.0
    val gateWaitSec = 600
    // Per-query requeue: a row whose observed load (max of start/end
    // 1-min loadavg) exceeds this is re-run up to `requeueTries` times,
    // keeping the least-loaded attempt. The threshold must sit ABOVE
    // the bench's own steady-state contribution, which the start gate
    // does not: a multi-second query keeps local[32] busy long enough
    // to push the 1-min loadavg past any gate-level bound by itself
    // (the full-registry ×10 run measured self-load up to 5.0 on an
    // otherwise-idle host — a gate-level threshold would requeue ~95%
    // of its rows twice, tripling the run for zero signal). 6.0 =
    // worst observed self-load plus margin; historical co-tenants
    // pushed 5-18, so real contamination still trips it, and every
    // row's observed load is recorded regardless — a sub-threshold
    // co-tenant is still visible in the artifact.
    val requeueMax = sys.env.getOrElse("SPARK_GRAFT_BENCH_REQUEUE_LOAD",
      "6.0").toDouble
    val requeueTries = 2
    // Sibling guard: two graft.Bench JVMs on one host contaminate
    // each other's timings AND the start gate below can loop its full
    // 600 s against the sibling's own load (rounds 12-13: the
    // driver's bench hit rc=124 twice while tools/bench_chain.sh was
    // still running). A second bench must fail FAST with a named
    // error, not time out silently. PID lock file; a dead holder's
    // stale lock is reclaimed.
    acquireLock()
    var waited = waitForQuiesce(gateMax, gateWaitSec, "start gate")
    val loadGate = if (load1min > gateMax) "loaded" else "clean"
    if (loadGate == "loaded")
      System.err.println(
        f"[bench] WARNING: starting under load (1-min loadavg ${load1min}%.2f) — artifact tagged 'loaded'")
    val spark = GraftSession.get()
    val load0 = loadavg
    // A failing query must fail the bench loudly: its time is recorded
    // as -1 (not summed) and its name lands in "failed" with the error
    // on stderr — a regression can't masquerade as a fast run.
    // NonFatal only: an OutOfMemoryError/LinkageError must abort the
    // whole bench — timings from a corrupted JVM are worse than none.
    // local iteration: SPARK_GRAFT_BENCH_ONLY=q132_bfs_hops,q41_...
    // restricts the run (the driver's env sets no value → full run)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Timed action (guide §1.4): `count` (the historical default — the
    // driver's round-over-round per-query comparison is count-based
    // and stays so) or `noop` (df.write.format("noop") — computes
    // every column of every row, immune to count()'s column pruning).
    // Env-gated so a noop-sink artifact can be produced and committed
    // NEXT TO the count-based one without shifting the driver's
    // continuity numbers; the artifact records which action ran.
    val action = sys.env.getOrElse("SPARK_GRAFT_BENCH_ACTION", "count")
    def runAction(df: org.apache.spark.sql.DataFrame): Unit =
      if (action == "noop") df.write.format("noop").mode("overwrite").save()
      else df.count(): Unit

    // One full measurement of one query: warmup + reps timed runs.
    // Returns (median sec or -1, failed, max(start,end) 1-min loadavg)
    // — the END sample catches a co-tenant that arrives mid-warmup or
    // mid-rep, which a start-only sample attributes to the NEXT row.
    def runOne(name: String,
               fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Boolean, Double) = {
      val loadStart = load1min
      try runAction(fn(spark, sfDir)) catch { case NonFatal(_) => () } // warmup
      spark.catalog.clearCache()
      val runs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val err = try { runAction(fn(spark, sfDir)); None } catch {
          case NonFatal(e) =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            Some(e)
        }
        val sec = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        (sec, err.isDefined)
      }
      val failed = runs.exists(_._2)
      (if (failed) -1.0 else median(runs.map(_._1)), failed,
        math.max(loadStart, load1min))
    }

    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        var (value, failed, qLoad) = runOne(name, fn)
        // requeue: keep the least-loaded attempt (by observed load),
        // re-gating before each retry so the retry isn't equally
        // contaminated; a never-quiescing host leaves the row tagged
        // with its (high) load — self-labelling, never silently clean.
        // Sibling-gated (r14 lesson): the requeue exists to dodge a
        // CO-TENANT; when no JVM outside this process tree is alive
        // the observed load is the bench's own (a multi-second
        // local[32] query alone pushes the 1-min loadavg past any
        // fixed bar — q195 measured 7.84 self-load), and a retry
        // would re-measure the same thing while burning the driver's
        // time box. The row keeps its recorded load either way.
        var tries = 0
        while (!failed && qLoad > requeueMax && tries < requeueTries &&
               siblingJvmAlive) {
          tries += 1
          System.err.println(
            f"[bench] $name ran at loadavg $qLoad%.2f > $requeueMax%.1f — requeue attempt $tries/$requeueTries")
          // re-gate at the CLEAN start bar, not the requeue threshold:
          // the retry exists to produce an uncontaminated attempt, and
          // with the bench idle during the wait only a live co-tenant
          // keeps the loadavg up
          waited += waitForQuiesce(gateMax, gateWaitSec, s"requeue $name")
          val (v2, f2, l2) = runOne(name, fn)
          // keep the least-loaded SUCCESSFUL attempt only: a failed
          // retry must never overwrite a valid first measurement (the
          // row already ran — a transient retry crash turning it into
          // failed/-1 would contradict the keep-least-loaded contract
          // and red the SlopeSpec failed-query gate for nothing)
          if (!f2 && l2 < qLoad) { value = v2; qLoad = l2 }
        }
        (name, value, failed, qLoad)
      }
    val load1 = loadavg
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val loads = results.map { case (k, _, _, l) => f""""$k":$l%.2f""" }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, true, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, false, _) => v }.sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"reps":$reps,"action":"$action","loadavg_before":"$load0","loadavg_after":"$load1","load_gate":"$loadGate","load_waited_sec":$waited,"query_loadavg":$loads,"sf":"$sfDir"}"""
    println(json)
    // also persist to a repo artifact: the driver's stdout tail has
    // historically truncated the per-query map, leaving the round
    // bench unparseable — the file keeps all entries diffable
    // Default OFF the repo: the committed bench_out.json is a curated
    // clean-run artifact written only by tools/bench_chain.sh (which
    // sets SPARK_GRAFT_BENCH_OUT explicitly) — with the old in-repo
    // default, any casual smoke run or an external driver invocation
    // silently clobbered it (round 10: the committed clean 190.2 s
    // artifact was overwritten by a load-contaminated run).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"${sys.props("java.io.tmpdir")}/graft_bench_last.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    spark.stop()
    if (results.exists(_._3)) sys.exit(1)
  }
}
