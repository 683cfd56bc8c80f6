package graft

import scala.reflect.ClassTag
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{JobTracker, ParallelMap}
import graft.queries.LlmOps
import graft.sources.Io

/** The reference's user surface: `remote_parallel_map` in each of its
  * modes, its job tables, and the parquet reads and writes around it.
  * Every other operator is called on its own object (`AnnLsh.topK`,
  * `EventStream.ivfIngest`, `LlmOps.gopherRulesOf`, ...). The four
  * dedup-index entries stay only because perfbench's StreamWorkload calls them.
  *
  * Burla call → here:
  * {{{
  * // results = remote_parallel_map(my_function, my_inputs)
  * val spark   = Graft.session()
  * val results = Graft.remoteParallelMap(spark, myInputs)(myFunction)
  *
  * // generator=True
  * Graft.remoteParallelMapStream(spark, inputs)(f).foreach(consume)
  *
  * // the reference's "2.4 TB of parquet in 76 s" pattern — the bucket
  * // scan is engine-level here instead of inside the UDF:
  * val df = Graft.readParquet(spark, "s3a://bucket/prefix")
  * df.filter(...).groupBy(...).agg(...)
  * }}}
  *
  * Errors: a failing UDF raises `UdfFailure(inputIndex, cause)` — the
  * analog of `exc.burla_input_index`. Oversized payloads raise
  * `FunctionTooBig` / `InputTooBig` with the reference's limits.
  */
object Graft {

  /** A tuned session (AQE, UTC, extensions, ns-timestamp handling). */
  def session(appName: String = "graft"): SparkSession = GraftSession.get(appName)

  // ---- the reference's operator, all its modes ----

  /** Per-call resource requirements, mirroring the reference's
    * `func_cpu=`/`func_ram=`/`func_gpu=` keyword surface
    * (_remote_parallel_map.py:457-537). See ParallelMap.Resources for the
    * Spark mapping (TaskResourceProfile on clusters; concurrency cap +
    * job-local properties in local mode). */
  type Resources = ParallelMap.Resources
  def resources(funcCpus: Int = 1, funcGpus: Double = 0.0, funcRamGb: Double = 0.0): Resources =
    ParallelMap.Resources(funcCpus, funcGpus, funcRamGb)

  def remoteParallelMap[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None,
      resources: ParallelMap.Resources = ParallelMap.Resources()
  )(f: I => O): Seq[O] = ParallelMap.run(spark, inputs, maxParallelism, resources)(f)

  def remoteParallelMapStream[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None,
      resources: ParallelMap.Resources = ParallelMap.Resources(),
      window: Int = 0
  )(f: I => O): Iterator[O] =
    ParallelMap.stream(spark, inputs, maxParallelism, resources, window)(f)

  def remoteParallelMapAttributed[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None,
      resources: ParallelMap.Resources = ParallelMap.Resources()
  )(f: I => O): Seq[(Long, Try[O])] =
    ParallelMap.runAttributed(spark, inputs, maxParallelism, resources)(f)

  def remoteParallelMapDetached[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None,
      resources: ParallelMap.Resources = ParallelMap.Resources()
  )(f: I => O): ParallelMap.PMapJob[O] =
    ParallelMap.runDetached(spark, inputs, maxParallelism, resources)(f)

  def remoteParallelMapWithLogs[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I]
  )(f: I => O): Seq[(Long, Try[O], String)] = ParallelMap.runWithLogs(spark, inputs)(f)

  /** Live mid-job variant: per-input logs/outcomes arrive as partitions
    * complete, not after the whole job (the reference relays worker log
    * docs while running — _node.py:315-321). */
  def remoteParallelMapStreamWithLogs[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None,
      window: Int = 0
  )(f: I => O): Iterator[(Long, Try[O], String)] =
    ParallelMap.streamWithLogs(spark, inputs, maxParallelism, window = window)(f)

  /** Input-granular LIVE relay: `onLog(inputIndex, logs)` fires on the
    * driver WHILE the job runs — a fast input's log is observable while a
    * straggler in the SAME partition is still executing (heartbeat-fed;
    * latency = spark.executor.heartbeatInterval). Exactly once per input;
    * returns the full attributed results like remoteParallelMapWithLogs. */
  def remoteParallelMapLiveLogs[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None
  )(f: I => O)(onLog: (Long, String) => Unit): Seq[(Long, Try[O], String)] =
    ParallelMap.runWithLiveLogs(spark, inputs, maxParallelism)(f)(onLog)

  /** Nested map — the reference's UDF-calls-rpm-recursively shape
    * (client/tests/test_nested_rpm.py), as driver-side composition running
    * as ONE two-stage distributed plan: fan each input out with `f`, map
    * every inner input with `g`, inner inputs rebalanced across the
    * cluster between the stages. Errors attribute both levels
    * (NestedUdfFailure). */
  def remoteParallelMapNested[I: ClassTag, J: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None,
      resources: ParallelMap.Resources = ParallelMap.Resources()
  )(f: I => Seq[J])(g: J => O): Seq[O] =
    ParallelMap.runNested(spark, inputs, maxParallelism, resources)(f)(g)

  // ---- job status/history (the reference's dashboard tables) ----

  /** One row per ParallelMap job: id, mode, status, counts, timings. */
  def jobs(spark: SparkSession): DataFrame = JobTracker.jobs(spark)

  /** One row per errored input (capped per job): which inputs errored. */
  def jobErrors(spark: SparkSession): DataFrame = JobTracker.jobErrors(spark)

  /** Status transition log per job (RUNNING -> COMPLETED/FAILED/CANCELLED). */
  def jobTransitions(spark: SparkSession): DataFrame = JobTracker.jobTransitions(spark)

  /** Self-usage rollup: task-seconds and job counts per UTC day per mode
    * over the engine's own run history (the reference's usage endpoints). */
  def usageDaily(spark: SparkSession): DataFrame = JobTracker.usageDaily(spark)

  // ---- storage and the query library ----

  def readParquet(spark: SparkSession, path: String): DataFrame = Io.readParquet(spark, path)
  def writeParquet(df: DataFrame, path: String): Unit = Io.writeParquet(df, path)

  /** The named query library (oracle-checked operators). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries

  // ---- the persisted dedup index ----

  /** Corpus dedup index (content-hash table + SimHash band table) —
    * build once per corpus version, persist, admit every batch against it. */
  def dedupIndex(corpus: DataFrame): (DataFrame, DataFrame) = LlmOps.dedupIndexOf(corpus)
  def dedupIndexSave(hash: DataFrame, bands: DataFrame, path: String): Unit =
    LlmOps.saveDedupIndex(hash, bands, path)
  def dedupIndexLoad(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    LlmOps.loadDedupIndex(spark, path)

  /** Batch admission verdict (dup_exact / dup_near / keep) against a
    * prebuilt corpus index — linear in batch size (d08/d16 semantics). */
  def incrementalDedup(batch: DataFrame, hash: DataFrame, bands: DataFrame): DataFrame =
    LlmOps.incrementalDedupAgainst(batch, hash, bands)
}
