package graft.operators

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.LongAccumulator

/** Driver-side job status/history for ParallelMap runs — the engine can
  * answer "what jobs ran, which inputs errored" about itself.
  *
  * Rebuilds the reference's job table + status machine
  * (main_service/src/main_service/history.py:22-71 keeps per-job rows;
  * cluster_state.py:269-304 drives RUNNING -> COMPLETED/FAILED) as an
  * in-driver registry that each ParallelMap call keeps itself, as the
  * reference's nodes report their own jobs' progress: the call moves its
  * record through the lifecycle hooks (started/completed/failed, per-input
  * outcomes from the attributed modes), adds the Spark job id of each
  * submission, and its tasks count themselves in the record's
  * [[TaskCounts]].
  *
  * Scale: one record per job (metadata only — like the reference's job
  * documents, never result payloads); per-input error detail is capped at
  * [[JobTracker.MaxErrorsPerJob]] entries per job so a pathological run
  * cannot grow driver memory unboundedly.
  */
object JobTracker {

  val MaxErrorsPerJob = 1000

  /** Retained job records; oldest TERMINAL records are evicted past
    * this, so a long-lived driver's registry stays bounded — like the
    * reference's history table, which pages old jobs out to storage
    * rather than keeping them in RAM. */
  val MaxJobs = 10000

  sealed abstract class Status(val name: String)
  case object Running extends Status("RUNNING")
  case object Completed extends Status("COMPLETED")
  case object Failed extends Status("FAILED")
  case object Cancelled extends Status("CANCELLED")

  final case class InputError(inputIndex: Long, error: String)

  /** A call's own task counts, kept by its tasks: each task calls
    * [[countTask]] inside the closure that processes its slice, and on
    * completion adds its busy nanoseconds to `busyNs` (whose `count` is
    * then the finished tasks) and its retried attempts to `retried`. Spark
    * merges a finished task's update before it hands that task's result to
    * the job waiter (DAGScheduler.handleTaskCompletion) and drops a failed
    * attempt's, so the counts are exact when a call returns. */
  private[operators] final case class TaskCounts(busyNs: LongAccumulator, retried: LongAccumulator) {
    def countTask(): Unit = {
      val ctx = TaskContext.get()
      val t0 = System.nanoTime()
      ctx.addTaskCompletionListener[Unit] { _ =>
        busyNs.add(System.nanoTime() - t0)
        retried.add(ctx.attemptNumber().toLong)
      }
    }
  }

  /** Mutable job record; synchronized on itself for field updates. */
  final class Record(val jobId: String, val mode: String, val nInputs: Long) {
    @volatile var status: Status = Running
    val startedAtMs: Long = System.currentTimeMillis()
    @volatile var endedAtMs: Option[Long] = None
    @volatile var nErrors: Long = 0
    @volatile var failure: Option[String] = None
    @volatile var sparkJobIds: List[Int] = Nil
    /** Tasks the call planned: its slices, plus a nested call's inner slices. */
    @volatile private[operators] var plannedTasks: Long = 0
    private[operators] val counts = TaskCounts(new LongAccumulator, new LongAccumulator)
    /** Finished tasks: a RUNNING call's count so far. */
    def nTasks: Long = counts.busyNs.count
    /** Retried attempts of finished tasks, plus, for a FAILED or CANCELLED
      * call, its tasks that never finished. */
    def nFailedTasks: Long = {
      val unfinished = if (status == Failed || status == Cancelled) plannedTasks - nTasks else 0L
      counts.retried.sum + math.max(0L, unfinished)
    }
    /** Sum of finished tasks' busy ms — the engine's own "node-hours" meter. */
    def taskTimeMs: Long = counts.busyNs.sum / 1000000L
    /** Status transition history, oldest first: (status, at_ms). */
    @volatile var transitions: List[(String, Long)] =
      List((Running.name, startedAtMs))
    val inputErrors = new java.util.concurrent.ConcurrentLinkedQueue[InputError]()

    private[operators] def submitted(jobIds: Seq[Int]): Unit = synchronized {
      sparkJobIds = jobIds.toList ::: sparkJobIds
    }

    /** Transition to a terminal state; returns whether THIS call won.
      * Terminal states are final (cancel/complete race) — and the caller
      * must set its companion fields (nErrors, failure) only when it won,
      * inside the same r.synchronized block, or a losing completed()/
      * failed() would stamp contradictory fields onto the winner's record
      * (e.g. status=COMPLETED with a CancellationException failure). */
    private[JobTracker] def moveTo(s: Status): Boolean = synchronized {
      if (status == Running) {
        status = s
        val now = System.currentTimeMillis()
        endedAtMs = Some(now)
        transitions = transitions :+ ((s.name, now))
        true
      } else false
    }
  }

  private val records = new ConcurrentHashMap[String, Record]()

  private def evictIfFull(): Unit =
    if (records.size > MaxJobs) {
      // Prefer terminal records, oldest first — but fall back to evicting
      // the OLDEST Running records if terminals alone can't get under the
      // bound: a stream whose consumer abandoned the iterator never
      // reaches completed(), and a registry that refuses to evict such
      // records grows without bound on a long-lived driver (the scaladoc's
      // memory guarantee would be a lie). An evicted Running record only
      // loses its history row; the job itself is untouched.
      val overBy = records.size - MaxJobs
      val (running, terminal) =
        records.values().asScala.toSeq.partition(_.status == Running)
      val victims =
        (terminal.sortBy(_.startedAtMs) ++ running.sortBy(_.startedAtMs))
          .take(overBy)
      victims.foreach(r => records.remove(r.jobId))
    }

  // ---- lifecycle hooks (called by ParallelMap) ----

  /** A RUNNING record whose task counts are registered with `spark`. */
  private[operators] def started(
      spark: SparkSession, jobId: String, mode: String, nInputs: Long): Record = {
    val r = new Record(jobId, mode, nInputs)
    spark.sparkContext.register(r.counts.busyNs)
    spark.sparkContext.register(r.counts.retried)
    records.put(jobId, r)
    evictIfFull()
    r
  }

  private[operators] def completed(jobId: String, nErrors: Long = 0): Unit =
    Option(records.get(jobId)).foreach { r =>
      r.synchronized { if (r.moveTo(Completed)) r.nErrors = nErrors }
    }

  private[operators] def failed(jobId: String, e: Throwable): Unit =
    Option(records.get(jobId)).foreach { r =>
      val terminal =
        if (e.isInstanceOf[java.util.concurrent.CancellationException]) Cancelled else Failed
      r.synchronized {
        if (r.moveTo(terminal)) r.failure = Some(s"${e.getClass.getName}: ${e.getMessage}")
      }
    }

  private[operators] def inputError(jobId: String, idx: Long, msg: String): Unit =
    Option(records.get(jobId)).foreach { r =>
      if (r.inputErrors.size < MaxErrorsPerJob) r.inputErrors.add(InputError(idx, msg))
    }

  // ---- query surface ----

  def record(jobId: String): Option[Record] = Option(records.get(jobId))

  /** One row per job — the reference dashboard's jobs table. */
  def jobs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    records.values().asScala.toSeq
      .map(r =>
        (r.jobId, r.mode, r.status.name, r.nInputs, r.nErrors,
          r.startedAtMs, r.endedAtMs, r.failure, r.sparkJobIds.sorted,
          r.nTasks, r.nFailedTasks, r.taskTimeMs)
      )
      .toDF("job_id", "mode", "status", "n_inputs", "n_errors",
        "started_at_ms", "ended_at_ms", "failure", "spark_job_ids",
        "n_tasks", "n_failed_tasks", "task_time_ms")
  }

  /** Self-usage rollup — task-seconds and job counts per UTC day per mode
    * over the engine's OWN run history, the analog of the reference's
    * usage endpoints (main_service/src/main_service/endpoints/usage.py:109,
    * 249,366 aggregate node-hours per day/month/machine-type over its job
    * history). Declarative R5 shape (time-bucket + groupBy) over the jobs
    * table, so the same plan scales if history ever lives in parquet
    * instead of driver memory. */
  def usageDaily(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    jobs(spark)
      .groupBy(
        to_date(timestamp_millis(col("started_at_ms"))).as("day"),
        col("mode")
      )
      .agg(
        count(lit(1)).as("n_jobs"),
        sum("n_inputs").as("n_inputs"),
        sum("n_tasks").as("n_tasks"),
        (sum("task_time_ms") / 1000.0).as("task_seconds"),
        sum(when(col("status") === "FAILED", 1L).otherwise(0L)).as("n_failed_jobs")
      )
      .orderBy("day", "mode")
  }

  /** One row per errored input (capped) — "which inputs errored". */
  def jobErrors(spark: SparkSession): DataFrame = {
    import spark.implicits._
    records.values().asScala.toSeq
      .flatMap(r => r.inputErrors.asScala.map(ie => (r.jobId, ie.inputIndex, ie.error)))
      .toDF("job_id", "input_index", "error")
  }

  /** Status transition log, oldest first — pins RUNNING -> terminal. */
  def jobTransitions(spark: SparkSession): DataFrame = {
    import spark.implicits._
    records.values().asScala.toSeq
      .flatMap(r => r.transitions.zipWithIndex.map { case ((s, at), i) => (r.jobId, i, s, at) })
      .toDF("job_id", "seq", "status", "at_ms")
  }

  private[graft] def clearForTest(): Unit = records.clear()
}
