package graft

import org.apache.spark.sql.SparkSession

/** Session bootstrap for the engine.
  *
  * Settings chosen for oracle parity and local[32] testing, but every knob
  * is the one you'd also set on a real 1000-executor cluster:
  *   - AQE on: runtime coalescing + skew-join splitting replace the
  *     reference's work-stealing ring (SURVEY.md §2.2 P7 — Spark's
  *     scheduler + AQE absorb it). Coalescing keeps Spark's 1 MB
  *     minPartitionSize floor; the compute-dense pair kernels pin their
  *     own parallelism in the plan instead (LlmOps.triangleSelfJoin).
  *   - shuffle.partitions tracks cores locally; on a cluster this would be
  *     2-3x total cores and AQE coalesces down.
  *   - UTC session TZ so timestamp semantics match the DuckDB oracle.
  *   - parquet nanos-as-long: a TIMESTAMP(NANOS) column, which Spark has
  *     no native type for, reads as a long; EventStream's file-source
  *     streams convert it to microseconds.
  *   - codegen cache sized to the engine's working set
  *     ([[CodegenCacheEntries]]). Spark's JVM-wide cache of compiled
  *     generated classes holds 100 entries by default; the five `perfbench`
  *     `queries` compile about 130 classes per pass, so an LRU cycle over
  *     them missed on nearly every access and every warm pass recompiled
  *     about 123 classes (2.5 s of Janino time). It is a static conf that
  *     `CodeGenerator` reads once per JVM, at first use, so it is set
  *     here at build time and `tune` cannot set it.
  */
object GraftSession {
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** The reference's autoscale surface (SURVEY §2.2 P5: the head service
    * "grows" nodes up to a per-job CPU cap, reference
    * `cluster_lifecycle.py:23` caps at 2,560 CPUs) mapped onto Spark
    * dynamic allocation. Call on the builder BEFORE getOrCreate; local
    * mode ignores it (no executors to scale), a cluster session scales
    * executors between the bounds with the reference's idle-shutdown
    * semantic (`executorIdleTimeout` ~ the 60 s grow-node idle shutdown,
    * `cluster_lifecycle.py:29`).
    */
  def withAutoscale(
      b: SparkSession.Builder,
      minExecutors: Int = 0,
      maxExecutors: Int = 80, // 2560 reference CPUs / 32-core executors
      idleTimeoutSec: Int = 60
  ): SparkSession.Builder =
    b.config("spark.dynamicAllocation.enabled", "true")
      .config("spark.dynamicAllocation.shuffleTracking.enabled", "true")
      .config("spark.dynamicAllocation.minExecutors", minExecutors.toString)
      .config("spark.dynamicAllocation.maxExecutors", maxExecutors.toString)
      .config("spark.dynamicAllocation.executorIdleTimeout", s"${idleTimeoutSec}s")

  /** Entries in Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`). One cold pass of all
    * registered queries at sf0.01 compiles 2,786 distinct classes; 4,096
    * gives about 1.5x headroom. Holding them costs 90-110 MB of heap
    * after GC and 25 MB of metaspace over the default size, measured on a
    * two-pass suite run at sf0.01 (docs/SCALE.md, "Codegen cache"). */
  private[graft] val CodegenCacheEntries = 4096

  private def common(appName: String): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  def builder(appName: String = "graft"): SparkSession.Builder =
    common(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")

  /** Builder for a main launched by `spark-submit`: identical engine
    * configs, but master / deploy mode / UI / driver binding are the
    * submitter's to decide (cluster deploy mode in particular must NOT be
    * overridden back to local — that would silently re-attach the job to
    * the submitting process, defeating docs/DETACH.md's whole point). */
  def submittedBuilder(appName: String = "graft"): SparkSession.Builder =
    common(appName)

  def get(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Apply the configs that matter even when someone else built the
    * session (Verify/Bench create their own). Static confs like
    * nanosAsLong must be set at build time; runtime ones land here. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark
  }
}
