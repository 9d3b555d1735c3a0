package graft.etl

import java.time.LocalDate
import java.util.concurrent.{CompletionException, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.{Failure, Try}

import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** End-to-end orchestration — the Spark driver-program replacement for
  * the reference's two Airflow DAGs (`a >> b >> c` linear task chains,
  * stage_csv_dims_to_pg.py:165, dag_datapelangan.py:250): per-stage
  * reports instead of XCom, a config object instead of the Airflow
  * connection registry, and no advisory locks (a single driver owns a
  * run; writes are idempotent dynamic-partition overwrites).
  *
  * The stages stay sequential — Daily reads the dimensions Dims writes
  * — but the independent writes WITHIN a stage run at the same time
  * through [[concurrently]]: at daily-batch sizes each write is a few
  * one-to-four-task jobs whose cost is driver-side (planning, AQE
  * re-optimisation, output commit, renames), so
  * overlapping them fills otherwise idle cores.
  */
object Pipeline {

  /** Logical-name → storage-path registry (replaces `pg_src`/`pg_dwh`
    * BaseHook connections, README.md:19-22). */
  case class Config(csvDir: String, dwhDir: String)

  case class Report(dims: Map[String, Long], daily: Daily.RunReport)

  /** Full run for one logical date `ds` (the `{{ ds }}` Airflow
    * parameter, dag_datapelangan.py:35-36): Dims, then Daily. */
  def run(spark: SparkSession, conf: Config, ds: LocalDate): Report = {
    val dims = Dims.run(spark, conf.csvDir, conf.dwhDir)
    val daily = Daily.run(spark, conf.csvDir, conf.dwhDir, ds)
    Report(dims, daily)
  }

  /** Backfill a date range (the reference cannot: catchup=False and
    * append-only partitions; our partition overwrite makes replays
    * safe). */
  def backfill(spark: SparkSession, conf: Config, from: LocalDate, to: LocalDate): Seq[Report] =
    Iterator.iterate(from)(_.plusDays(1)).takeWhile(!_.isAfter(to))
      .map(ds => run(spark, conf, ds)).toSeq

  /** Runs independent `tasks` at the same time, one driver thread
    * each, and returns their results in order. Each task runs through
    * `SQLExecution.withThreadLocalCaptured` (the mechanism
    * `BroadcastExchangeExec` uses), so the caller's local properties —
    * job group, scheduler tags — and active session reach every job it
    * starts: `cancelJobGroup` and per-caller job attribution keep
    * working.
    *
    * The pool is private to the call and gone when it returns. Every
    * task is waited for, even after one fails, so nothing of the call
    * still runs when the caller cleans up; the first failure is then
    * rethrown as the task's own exception, the others attached as
    * suppressed. */
  def concurrently[A](spark: SparkSession, tasks: Seq[() => A]): Seq[A] = {
    val threadNo = new AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(math.max(1, tasks.size),
      (r: Runnable) => new Thread(r, s"graft-concurrently-${threadNo.incrementAndGet()}"))
    try {
      val session = spark.asInstanceOf[classic.SparkSession]
      val futures = tasks.map(task => SQLExecution.withThreadLocalCaptured(session, pool)(task()))
      val results = futures.map(f => Try(f.join()).recoverWith {
        case e: CompletionException if e.getCause != null => Failure(e.getCause)
      })
      results.collect { case Failure(e) => e } match {
        case first +: rest =>
          rest.foreach(first.addSuppressed)
          throw first
        case _ => results.map(_.get)
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }
}
