package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import scala.concurrent.{Await, ExecutionContext}
import scala.concurrent.duration.Duration
import scala.reflect.ClassTag
import scala.util.{Failure, Success, Try}

import org.apache.spark.{FutureAction, SparkEnv}
import org.apache.spark.rdd.RDD
import org.apache.spark.serializer.{KryoSerializer, SerializerInstance}
import org.apache.spark.sql.SparkSession

/** A UDF raised on a specific input. Mirrors the reference's error
  * attribution contract — the original exception is re-raised client-side
  * with `exc.burla_input_index` set (reference: client/src/burla/_node.py:
  * 638-663, worker emit node_service/src/node_service/worker_server.py:
  * 170-180). Here the cause is the user exception and `inputIndex` is the
  * 0-based position in the submitted inputs.
  */
final case class UdfFailure(inputIndex: Long, cause: Throwable)
    extends RuntimeException(
      s"UDF raised on input $inputIndex: ${cause.getClass.getSimpleName}: ${cause.getMessage}",
      cause
    )

/** A UDF raised inside a NESTED parallel map (runNested): `outerIndex` is
  * the failing outer input, `innerIndex` the position within that input's
  * fan-out (-1 when the fan-out function itself raised, before any inner
  * input existed). The reference lets a UDF call remote_parallel_map
  * recursively on-cluster (client/tests/test_nested_rpm.py, creds bind
  * node_service job_endpoints.py:266-281); Spark executors cannot submit
  * jobs, so the nested shape is rebuilt as driver-side composition with
  * the same two-level attribution. */
final case class NestedUdfFailure(outerIndex: Long, innerIndex: Long, cause: Throwable)
    extends RuntimeException(
      s"UDF raised on input $outerIndex" +
        (if (innerIndex >= 0) s", nested input $innerIndex" else " (fan-out stage)") +
        s": ${cause.getClass.getSimpleName}: ${cause.getMessage}",
      cause
    )

/** Envelope guards, mirroring the reference's hard limits: a pickled
  * function is capped at 0.1 GB (client/src/burla/_remote_parallel_map.py:
  * 220-224, `FunctionTooBig`) and a single pickled input at 200 MB
  * (client/src/burla/_node.py:25, `InputTooBig`). Sizes here are
  * SizeEstimator estimates of the in-memory object graph — the same
  * order of magnitude as serialized size for blob-like payloads.
  */
final case class FunctionTooBig(estimatedBytes: Long, limitBytes: Long)
    extends RuntimeException(
      f"function closure ~ ${estimatedBytes / 1e9}%.2f GB exceeds the ${limitBytes / 1e9}%.1f GB cap"
    )
final case class InputTooBig(inputIndex: Long, estimatedBytes: Long, limitBytes: Long)
    extends RuntimeException(
      f"input $inputIndex ~ ${estimatedBytes / 1e6}%.0f MB exceeds the ${limitBytes / 1e6}%.0f MB cap"
    )

/** Spark-native rebuild of the reference's one dataflow operator,
  * `remote_parallel_map(f, inputs)` (reference: client/src/burla/
  * _remote_parallel_map.py:457-537).
  *
  * Semantics carried over (SURVEY.md §2.1, §2.4):
  *   - results are unordered (docstring :518-521) — we return them as
  *     completed partitions arrive, not input order;
  *   - `[] => []` without touching the cluster (:542-543);
  *   - tuple-unpack calling convention (:553-556) is native in Scala —
  *     pass `{ case (a, b) => ... }`;
  *   - first UDF exception re-raised with input attribution (UdfFailure);
  *   - `generator=True` => `stream(...)`: a lazy as-completed iterator
  *     whose `window` bounds the slices in flight, the analog of the
  *     reference's 50%-RAM result-queue backpressure (node_service
  *     worker_client.py:28,792-793);
  *   - `max_parallelism` => explicit partition count.
  *
  * What Spark absorbs rather than re-implements (SURVEY.md §2.2-2.3): work
  * stealing (P7) is the task scheduler; chunking (P2) is partition
  * planning; retries/heartbeats/ACKs are the Spark RPC + task-retry layer;
  * adaptive RAM (E6) is JVM-managed unified memory. Nested rpm-from-UDF
  * (L4) cannot run on executors; `runNested` plans it as one two-stage job.
  *
  * Every list mode but runNested runs one RDD plan (see `Call.plan`): the
  * driver deals the indexed inputs to random slices (the reference's
  * hot-spot decorrelation, _remote_parallel_map.py:312-313), each slice in
  * input order, and one `map` applies `f` — one Spark job with one stage,
  * no Catalyst planning and no shuffle. Each call keeps its own books in
  * JobTracker: its tasks count themselves and it records its Spark jobs.
  *
  * Inputs/outputs are opaque to the engine (the reference moves pickled
  * blobs; SURVEY.md §1.2), so they travel as Kryo bytes through an explicit
  * KryoSerializer, never the session's default Java serializer: neither
  * needs to be java.io.Serializable. For schema-ful pipelines use the
  * DataFrame surface instead.
  */
object ParallelMap {

  /** Per-call resource requirements — the reference's `func_cpu` /
    * `func_ram` / `func_gpu` knobs (_remote_parallel_map.py:457-537).
    *
    * Mapping onto Spark:
    *   - on a cluster manager that supports stage-level scheduling
    *     (standalone/YARN/K8s), the request becomes a real
    *     `TaskResourceProfile` attached to the map stage — `funcCpus` ->
    *     task cpus, `funcGpus` -> `gpu` task resource amount;
    *   - in local mode (no task profiles), `funcCpus` caps concurrency to
    *     cores/funcCpus partitions — the same "each call owns k cores"
    *     guarantee by construction;
    *   - `funcRamGb` has no per-task enforcement in the JVM's unified
    *     memory model; it caps local concurrency to heap/funcRamGb and is
    *     recorded for cluster-side executor sizing.
    * Every mode also records the request as job-local properties
    * (`graft.func.cpus`/`gpus`/`ram_gb`), so the scheduler context of each
    * job carries the declared footprint (assertable from a SparkListener).
    */
  final case class Resources(
      funcCpus: Int = 1,
      funcGpus: Double = 0.0,
      funcRamGb: Double = 0.0
  ) {
    require(funcCpus >= 1, "funcCpus must be >= 1")
    require(funcGpus >= 0 && funcRamGb >= 0, "resource amounts must be >= 0")
    def isDefault: Boolean = funcCpus == 1 && funcGpus == 0 && funcRamGb == 0
  }

  /** Concurrency cap implied by the resource request — LOCAL MODE ONLY:
    * on a cluster the request becomes a TaskResourceProfile (see
    * applyResources) and the driver's heap says nothing about executor
    * capacity, so capping there would wrongly serialize the job. */
  private def resourceSlicesCap(spark: SparkSession, r: Resources): Int =
    if (!spark.sparkContext.isLocal) Int.MaxValue
    else {
      val cores = spark.sparkContext.defaultParallelism
      val byCpu = math.max(1, cores / r.funcCpus)
      val byRam =
        if (r.funcRamGb <= 0) Int.MaxValue
        else math.max(1, (Runtime.getRuntime.maxMemory() / 1e9 / r.funcRamGb).toInt)
      math.min(byCpu, byRam)
    }

  /** Attach a stage-level TaskResourceProfile where the cluster manager
    * supports it; identity in local mode (which cannot run task profiles —
    * there the request is enforced via the slices cap instead). */
  private def applyResources[T](spark: SparkSession, rdd: RDD[T], r: Resources): RDD[T] =
    if (r.isDefault || spark.sparkContext.isLocal) rdd
    else {
      import org.apache.spark.resource.{ResourceProfileBuilder, TaskResourceRequests}
      val trr = new TaskResourceRequests().cpus(r.funcCpus)
      if (r.funcGpus > 0) trr.resource("gpu", r.funcGpus)
      rdd.withResources(new ResourceProfileBuilder().require(trr).build())
    }

  /** Reference envelope: 0.1 GB function, 200 MB per input (SURVEY §1.2). */
  val MaxFunctionBytes: Long = 100L * 1000 * 1000
  val MaxInputBytes: Long = 200L * 1000 * 1000
  private val SizeCheckSample = 10000

  private def guardSizes[I, O](inputs: Seq[I], f: I => O): Unit = {
    import org.apache.spark.util.SizeEstimator
    val fSize = SizeEstimator.estimate(f)
    if (fSize > MaxFunctionBytes) throw FunctionTooBig(fSize, MaxFunctionBytes)
    // full scan for modest lists (the reference checks every chunk it
    // packs); sample evenly beyond that to keep submission O(1)-ish
    val idxs =
      if (inputs.size <= SizeCheckSample) inputs.indices
      else inputs.indices by (inputs.size / SizeCheckSample)
    idxs.foreach { i =>
      val s = SizeEstimator.estimate(inputs(i).asInstanceOf[AnyRef])
      if (s > MaxInputBytes) throw InputTooBig(i.toLong, s, MaxInputBytes)
    }
  }

  /** Partition count shared by EVERY mode: the caller's maxParallelism,
    * else min(defaultParallelism, #inputs) — always bounded by the
    * local-mode resource cap (cores/funcCpus, heap/funcRamGb; a no-op on
    * cluster managers, where applyResources attaches a real task
    * profile). One formula, one place: the modes used to each carry a
    * copy and had already drifted on whether the resource cap applied. */
  private def sliceCount(
      spark: SparkSession,
      nInputs: Int,
      maxParallelism: Option[Int],
      resources: Resources
  ): Int = {
    val defaultPar = spark.sparkContext.defaultParallelism
    math.min(
      maxParallelism.getOrElse(math.min(defaultPar, math.max(1, nInputs))),
      resourceSlicesCap(spark, resources)
    )
  }

  /** Kryo codec for payloads. One KryoSerializer per JVM, built from the
    * conf of its SparkEnv (its Kryo pool is thread-safe); a
    * SerializerInstance is not, so every task and every driver-side call
    * takes its own from `codec()`. Items are written as a Kryo stream: a
    * stream flushes as it goes, so unlike `serialize` a blob is not capped
    * at spark.kryoserializer.buffer.max (a whole slice can exceed it). */
  private object Payload {
    private lazy val kryo = new KryoSerializer(SparkEnv.get.conf)

    def codec(): SerializerInstance = kryo.newInstance()

    def encode[T: ClassTag](c: SerializerInstance, items: Iterator[T]): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      c.serializeStream(out).writeAll(items).close()
      out.toByteArray
    }

    def decode[T](c: SerializerInstance, bytes: Array[Byte]): Iterator[T] =
      c.deserializeStream(new ByteArrayInputStream(bytes)).asIterator.asInstanceOf[Iterator[T]]
  }

  /** The (index, input) pairs as one RDD element per slice: each input
    * goes to a random slice (the reference client's hot-spot
    * decorrelation, _remote_parallel_map.py:312-313 — inputs that cost
    * alike because they sit side by side land on different tasks), the
    * slice sizes differ by at most one, each slice keeps its inputs in
    * input order, and each slice is Kryo-encoded. O(n): one shuffle of
    * slice labels and one pass that buckets the inputs by label. */
  private def sliced[I](spark: SparkSession, inputs: Seq[I], slices: Int): RDD[Array[Byte]] = {
    val in = inputs.toIndexedSeq
    val n = in.size
    val start = Array.tabulate(slices + 1)(s => (s.toLong * n / slices).toInt)
    // input i goes to slice label(i): each slice's label once per input
    // it holds, shuffled
    val label = new Array[Int](n)
    for (s <- 0 until slices; k <- start(s) until start(s + 1)) label(k) = s
    val rnd = java.util.concurrent.ThreadLocalRandom.current()
    for (i <- n - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = label(i); label(i) = label(j); label(j) = t
    }
    val order = new Array[Int](n)
    val next = start.clone()
    for (i <- 0 until n) { order(next(label(i))) = i; next(label(i)) += 1 }
    val codec = Payload.codec()
    val encoded = (0 until slices).map { s =>
      val slice = (start(s) until start(s + 1)).iterator.map(order(_))
      Payload.encode(codec, slice.map(i => (i.toLong, in(i))))
    }
    spark.sparkContext.parallelize(encoded, slices)
  }

  /** `f` on `x`, an exception re-raised with the input's attribution. */
  private def attributed[I, O](f: I => O, idx: Long, x: I): O =
    try f(x)
    catch { case e: Throwable => throw UdfFailure(idx, e) }

  /** `f` on `x`, an exception turned into its message (never throws). */
  private def outcome[I, O](f: I => O, x: I): Either[String, O] =
    try Right(f(x))
    catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }

  /** `outcome` plus what `f` printed through Console, capped at
    * MaxLogBytesPerInput. The cap is BYTES: the raw buffer is truncated
    * before decoding, so multi-byte output cannot exceed the documented
    * limit (a chopped trailing codepoint decodes as U+FFFD, which is fine). */
  private def outcomeWithLogs[I, O](f: I => O, x: I): (Either[String, O], String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val r = outcome((y: I) => Console.withOut(buf)(f(y)), x)
    val bytes = buf.toByteArray
    (r, new String(bytes, 0, math.min(bytes.length, MaxLogBytesPerInput), "UTF-8"))
  }

  private def toTry[O](r: Either[String, O]): Try[O] =
    r.fold(msg => Failure(new RuntimeException(msg)), Success(_))

  private def newGroup(): String = s"pmap-${java.util.UUID.randomUUID()}"

  /** Walk a Spark-wrapped failure back to the attributed UDF error. */
  private def unwrap(e: Throwable): Throwable = {
    var cur: Throwable = e
    while (cur != null) {
      cur match {
        case u: UdfFailure       => return u
        case u: NestedUdfFailure => return u
        case _                   => cur = cur.getCause
      }
    }
    e
  }

  /** The scope of one call, shared by every mode: a fresh `pmap-` job
    * group with its JobTracker record (RUNNING from construction), the
    * group and the resource request set around each Spark submission,
    * whose job id the record keeps, the plan's tasks counting themselves
    * in the record, and failures unwrapped to the attributed error and
    * recorded. */
  private final class Call(
      spark: SparkSession,
      mode: String,
      nInputs: Int,
      maxParallelism: Option[Int],
      resources: Resources
  ) {
    val group: String = newGroup()
    private val record = JobTracker.started(spark, group, mode, nInputs)
    val slices: Int = sliceCount(spark, nInputs, maxParallelism, resources)

    // what SparkContext.setJobGroup sets, plus the resource request
    private val props = Seq(
      "spark.jobGroup.id" -> group,
      "spark.job.description" -> s"ParallelMap $mode ($group)",
      "spark.job.interruptOnCancel" -> "true",
      "graft.func.cpus" -> resources.funcCpus.toString,
      "graft.func.gpus" -> resources.funcGpus.toString,
      "graft.func.ram_gb" -> resources.funcRamGb.toString
    )

    /** Submit `job` with this call's job-local properties on the calling
      * thread (Spark copies them into a job when it is submitted), then
      * put back the caller's own values: a job group or resource property
      * the caller set survives the call. The record keeps the job's id. */
    def submit[T](job: => FutureAction[T]): FutureAction[T] = {
      val sc = spark.sparkContext
      val saved = props.map { case (k, _) => (k, sc.getLocalProperty(k)) }
      props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      val action =
        try job
        finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      record.submitted(action.jobIds)
      action
    }

    /** The counts that `tasks` more planned tasks of this call add to;
      * each task calls `countTask()` on them. */
    def counting(tasks: Int): JobTracker.TaskCounts = {
      record.plannedTasks += tasks
      record.counts
    }

    /** The plan behind every list mode but runNested: one `map` over the
      * call's slices applies `g` to each (index, input) pair and yields
      * the slice's results as Kryo bytes — one element per partition, one
      * stage, no shuffle. */
    def plan[I, R: ClassTag](inputs: Seq[I])(g: (Long, I) => R): RDD[Array[Byte]] = {
      val counts = counting(slices)
      val rdd = sliced(spark, inputs, slices).map { bytes =>
        counts.countTask()
        val codec = Payload.codec()
        Payload.encode(codec, Payload.decode[(Long, I)](codec, bytes).map { case (i, x) => g(i, x) })
      }
      applyResources(spark, rdd, resources)
    }

    /** Run `rdd` as one Spark job; every partition's element. A failed
      * job throws its own exception, as `RDD.collect` does. */
    def collect(rdd: RDD[Array[Byte]]): Seq[Array[Byte]] =
      Await.result(submit(rdd.collectAsync()), Duration.Inf)

    /** Run `plan` as one Spark job and decode every slice's results. */
    def collectPlan[I, R: ClassTag](inputs: Seq[I])(g: (Long, I) => R): Seq[R] = {
      val codec = Payload.codec()
      collect(plan(inputs)(g)).iterator.flatMap(Payload.decode[R](codec, _)).toVector
    }

    def completed(errors: Seq[(Long, String)] = Nil): Unit = {
      errors.foreach { case (i, msg) => JobTracker.inputError(group, i, msg) }
      JobTracker.completed(group, nErrors = errors.size)
    }

    /** Record a failed map (with the input it is attributed to, if any);
      * returns the error to re-raise. */
    def failed(e: Throwable): Throwable = {
      val u = unwrap(e)
      u match {
        case uf: UdfFailure       => JobTracker.inputError(group, uf.inputIndex, uf.getMessage)
        case nf: NestedUdfFailure => JobTracker.inputError(group, nf.outerIndex, nf.getMessage)
        case _                    => ()
      }
      JobTracker.failed(group, u)
      u
    }

    /** A blocking call: COMPLETED with the per-input errors `body` caught
      * and returned, or FAILED with the attributed error re-raised. */
    def blocking[T](body: => (T, Seq[(Long, String)])): T =
      try {
        val (out, errors) = body
        completed(errors)
        out
      } catch { case e: Throwable => throw failed(e) }
  }

  /** Per-input errors of an attributed result set. */
  private def errorsOf(raw: Seq[(Long, Either[String, _])]): Seq[(Long, String)] =
    raw.collect { case (i, Left(msg)) => (i, msg) }

  /** List mode: apply f to every input in parallel, return all results
    * (unordered). Throws UdfFailure(inputIndex, cause) on first UDF error.
    */
  def run[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None,
      resources: Resources = Resources()
  )(f: I => O): Seq[O] = {
    if (inputs.isEmpty) return Nil // empty short-circuit, no cluster contact
    guardSizes(inputs, f)
    val call = new Call(spark, "run", inputs.size, maxParallelism, resources)
    call.blocking((call.collectPlan(inputs)(attributed(f, _, _)), Nil))
  }

  /** Like run but keeps the input index with each result and never throws:
    * per-input success/failure, the reference's (idx, is_error, payload)
    * result triple (node_service job_endpoints.py:638).
    */
  def runAttributed[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None,
      resources: Resources = Resources()
  )(f: I => O): Seq[(Long, Try[O])] = {
    if (inputs.isEmpty) return Nil
    guardSizes(inputs, f)
    val call = new Call(spark, "runAttributed", inputs.size, maxParallelism, resources)
    call.blocking {
      val raw = call.collectPlan(inputs)((i, x) => (i, outcome(f, x)))
      (raw.map { case (i, r) => (i, toTry(r)) }, errorsOf(raw))
    }
  }

  /** Nested parallel map — the reference's "UDF calls remote_parallel_map
    * recursively on-cluster" shape (test_nested_rpm.py), rebuilt as ONE
    * distributed two-stage plan since Spark executors cannot submit jobs:
    * `f` fans each outer input out into inner inputs, `g` maps every inner
    * input, results return unordered. The repartition between the stages
    * is the point: it redistributes the expanded inner inputs across the
    * whole cluster exactly like the reference's inner job does — without
    * it a skewed fan-out (one outer input producing 1M inner ones) would
    * pin the entire inner stage to the partition that produced it.
    * Errors carry two-level attribution (NestedUdfFailure: outer index,
    * inner index, -1 while fanning out). Empty input and empty fan-outs
    * short-circuit naturally.
    */
  def runNested[I: ClassTag, J: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None,
      resources: Resources = Resources()
  )(f: I => Seq[J])(g: J => O): Seq[O] = {
    if (inputs.isEmpty) return Nil // no cluster contact, as in run()
    guardSizes(inputs, f)
    guardSizes(Seq.empty[J], g)
    val call = new Call(spark, "runNested", inputs.size, maxParallelism, resources)
    // spread the EXPANDED inner inputs; fan-out sizes are skewed by nature
    // and the inner stage's parallelism must not inherit that — nor the
    // OUTER input count (3 outer inputs fanning to 1M inner ones want the
    // whole cluster). But the caller's explicit concurrency contract still
    // binds: maxParallelism and the Resources core cap apply to the g()
    // stage exactly as they do to the outer stage (a rate-limited or
    // cores-per-call nested map must not run g() uncapped).
    val innerSlices = math.min(
      maxParallelism.getOrElse(spark.sparkContext.defaultParallelism),
      resourceSlicesCap(spark, resources))
    call.blocking {
      val counts = call.counting(call.slices + innerSlices) // fan-out tasks, then inner tasks
      // inner inputs cross the shuffle as Kryo bytes, one record each
      val fanned = sliced(spark, inputs, call.slices).flatMap { bytes =>
        counts.countTask()
        val codec = Payload.codec()
        Payload.decode[(Long, I)](codec, bytes).flatMap { case (oi, x) =>
          val js =
            try f(x)
            catch { case e: Throwable => throw NestedUdfFailure(oi, -1L, e) }
          js.iterator.zipWithIndex.map { case (j, ii) =>
            Payload.encode(codec, Iterator.single((oi, ii.toLong, j)))
          }
        }
      }
      val mapped = applyResources(spark, fanned, resources).repartition(innerSlices)
        .mapPartitions { records =>
          counts.countTask()
          val codec = Payload.codec()
          val out = records.flatMap(Payload.decode[(Long, Long, J)](codec, _)).map {
            case (oi, ii, j) =>
              try g(j)
              catch { case e: Throwable => throw NestedUdfFailure(oi, ii, e) }
          }
          Iterator.single(Payload.encode(codec, out))
        }
      val codec = Payload.codec()
      val out = call.collect(applyResources(spark, mapped, resources))
        .iterator.flatMap(Payload.decode[O](codec, _)).toVector
      (out, Nil)
    }
  }

  /** Per-input log capture cap, mirroring the reference's 100 KB/doc limit
    * (node_service worker_client.py:32; SURVEY §1.1 "Log document"). */
  val MaxLogBytesPerInput: Int = 100 * 1000

  /** Like runAttributed, but also captures what the UDF printed while
    * processing each input — the reference's per-input log attribution
    * (worker_client.py:154-338 parses `__burla_input_start__:idx` markers
    * out of container logs; here the capture is direct). Scala
    * `println`/`Console.out` writes are captured per task thread
    * (Console.withOut is thread-local); raw `System.out` writes from
    * native/Java code bypass the capture and land in executor logs.
    * Output is truncated at MaxLogBytesPerInput per input.
    */
  def runWithLogs[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None
  )(f: I => O): Seq[(Long, Try[O], String)] = {
    if (inputs.isEmpty) return Nil
    guardSizes(inputs, f)
    val call = new Call(spark, "runWithLogs", inputs.size, maxParallelism, Resources())
    call.blocking {
      val raw = call.collectPlan(inputs)((i, x) => (i, outcomeWithLogs(f, x)))
      (raw.map { case (i, (r, lg)) => (i, toTry(r), lg) },
        errorsOf(raw.map { case (i, (r, _)) => (i, r) }))
    }
  }

  /** Newest entries a task's relay accumulator retains (and therefore the
    * most a single heartbeat ships). The relay channel only serves
    * LIVENESS — authoritative logs always arrive with the collected
    * results — so older entries (already relayed with high probability
    * after a heartbeat interval) are droppable without any end-state
    * loss; the completeness sweep re-fires anything a heartbeat never
    * carried. Bounds heartbeat payload at ~cap x MaxLogBytesPerInput per
    * running task instead of O(all logs in the partition). */
  private[graft] val LiveRelayRetained = 64

  /** Newest-first (inputIndex, capturedLogs) accumulator backing the live
    * log relay: each completed input adds one entry from inside the still-
    * running task. Executor heartbeats ship partial values of RUNNING
    * tasks' accumulators to the driver, which is what makes entries
    * visible mid-task (same channel the Spark UI uses for live
    * accumulator columns). Entries are immutable snapshots, so a partial
    * read never observes a half-written log; retention is capped at
    * LiveRelayRetained per task copy (see its scaladoc). */
  private[graft] final class LogRelayAcc
      extends org.apache.spark.util.AccumulatorV2[(Long, String), List[(Long, String)]] {
    @volatile private var entries: List[(Long, String)] = Nil
    override def isZero: Boolean = entries.isEmpty
    override def copy(): LogRelayAcc = {
      val a = new LogRelayAcc; a.entries = entries; a
    }
    override def reset(): Unit = entries = Nil
    override def add(v: (Long, String)): Unit = synchronized {
      entries = (v :: entries).take(LiveRelayRetained)
    }
    override def merge(
        other: org.apache.spark.util.AccumulatorV2[(Long, String), List[(Long, String)]]
    ): Unit = synchronized { entries = other.value ::: entries }
    override def value: List[(Long, String)] = entries
  }

  /** Like runWithLogs, but each input's captured stdout is relayed to
    * `onLog` WHILE the job is still running — per-INPUT granularity, not
    * per-partition: a fast input's log is observable on the driver while a
    * straggler in the SAME partition is still executing. This matches the
    * reference's mid-job log relay (node_service worker_client.py:154-338
    * tags each input's stdout, client/src/burla/_node.py:315-321 prints it
    * while the job runs); streamWithLogs only reaches partition
    * granularity.
    *
    * Mechanism (cluster-true, not a local-mode shortcut): completed inputs
    * append to a LogRelayAcc inside the running task; executor heartbeats
    * carry partial accumulator values of running tasks to the driver
    * (SparkListenerExecutorMetricsUpdate), where a listener diffs them and
    * fires `onLog(inputIndex, logs)` exactly once per input. Relay latency
    * is therefore the heartbeat interval (spark.executor.heartbeatInterval,
    * 10 s default — lower it for latency-sensitive relays; the payload is
    * capped logs, not data). Completeness never depends on heartbeat
    * timing: a final sweep over the collected results fires any entry a
    * heartbeat did not beat to the finish line.
    *
    * Runs on `Call.plan`, whose slices hold their inputs in input order:
    * within-partition execution order is input order — deterministic log
    * interleaving per partition. */
  def runWithLiveLogs[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None
  )(f: I => O)(onLog: (Long, String) => Unit): Seq[(Long, Try[O], String)] = {
    if (inputs.isEmpty) return Nil
    guardSizes(inputs, f)
    val sc = spark.sparkContext
    val acc = new LogRelayAcc
    sc.register(acc, "graft.pmap.liveLogs")
    val fired = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    def fire(entries: Seq[(Long, String)]): Unit =
      entries.foreach { case (idx, lg) => if (fired.add(idx)) onLog(idx, lg) }
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onExecutorMetricsUpdate(
          u: org.apache.spark.scheduler.SparkListenerExecutorMetricsUpdate
      ): Unit =
        u.accumUpdates.foreach { case (_, _, _, infos) =>
          infos.foreach { info =>
            if (info.id == acc.id) info.update.foreach {
              case v: List[_] => fire(v.asInstanceOf[List[(Long, String)]])
              case _          => ()
            }
          }
        }
    }
    val call = new Call(spark, "runWithLiveLogs", inputs.size, maxParallelism, Resources())
    sc.addSparkListener(listener)
    try call.blocking {
      val raw = call.collectPlan(inputs) { (idx, x) =>
        val (r, logs) = outcomeWithLogs(f, x)
        acc.add((idx, logs)) // visible to the next heartbeat mid-task
        (idx, r, logs)
      }
      // completeness sweep: anything no heartbeat delivered fires here
      // (post-job, but exactly-once is preserved via `fired`)
      fire(raw.map { case (i, _, lg) => (i, lg) })
      (raw.map { case (i, r, lg) => (i, toTry(r), lg) },
        errorsOf(raw.map { case (i, r, _) => (i, r) }))
    } finally sc.removeSparkListener(listener)
  }

  /** Generator mode (`generator=True`): lazy unordered stream yielding
    * results AS THEY COMPLETE, from whichever partition finishes first —
    * the reference generator's any-node ordering (_remote_parallel_map.py:
    * 703-707). A straggler partition does not block results from fast
    * partitions (ParallelMapSpec pins this).
    *
    * Each slice of `Call.plan` is submitted as its own single-task Spark job
    * that reads its slice straight from the driver (there is no shuffle to
    * compute or share). The consumer's own thread drives submission:
    * `stream` submits the first `window` slices, and each slice the
    * iterator takes submits the next one, so at most `window` slices
    * are in flight or buffered ahead of the consumer — the analog of the
    * reference's result-queue backpressure (worker_client.py:28,792-793).
    * Default 0 = number of partitions (full parallelism; driver may buffer
    * the whole result set if the consumer never drains — size
    * maxParallelism/window to taste). An abandoned iterator holds no
    * thread: its in-flight slices finish and nothing more is submitted.
    */
  def stream[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None,
      resources: Resources = Resources(),
      window: Int = 0
  )(f: I => O): Iterator[O] =
    streamIndexed(spark, inputs, maxParallelism, resources, window, "stream")(f)
      .map(_._2)

  /** The as-completed machinery, index-preserving (backs both stream
    * flavors). */
  private def streamIndexed[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int],
      resources: Resources,
      window: Int,
      mode: String
  )(f: I => O): Iterator[(Long, O)] = {
    if (inputs.isEmpty) return Iterator.empty
    guardSizes(inputs, f)
    val call = new Call(spark, mode, inputs.size, maxParallelism, resources)
    val parts = call.slices
    val rdd = call.plan(inputs)((i, x) => (i, attributed(f, i, x)))
    val sc = spark.sparkContext
    // one entry per slice job: its results, or why it failed
    val queue = new java.util.concurrent.LinkedBlockingQueue[Try[Array[Byte]]]()
    var submitted = 0
    def submitNext(): Unit =
      if (submitted < parts) {
        val p = submitted
        submitted += 1
        try call.submit {
          sc.submitJob[Array[Byte], Array[Byte], Unit](
            rdd, _.next(), Seq(p), (_, bytes) => queue.put(Success(bytes)), ())
        }.onComplete(_.failed.foreach(e => queue.put(Failure(e))))(ExecutionContext.parasitic)
        catch { case e: Throwable => queue.put(Failure(e)) }
      }
    (0 until (if (window > 0) math.min(window, parts) else parts)).foreach(_ => submitNext())

    new Iterator[(Long, O)] {
      private var current: Iterator[(Long, O)] = Iterator.empty
      private var taken = 0
      private lazy val codec = Payload.codec()
      private def advance(): Unit =
        while (!current.hasNext && taken < parts) {
          queue.take() match {
            case Success(bytes) =>
              taken += 1
              submitNext() // this slice left the window; the next one enters
              current = Payload.decode[(Long, O)](codec, bytes)
              if (taken == parts) call.completed()
            case Failure(e) =>
              taken = parts // terminal: no further results will be yielded
              sc.cancelJobGroup(call.group)
              throw call.failed(e)
          }
        }
      def hasNext: Boolean = { advance(); current.hasNext }
      def next(): (Long, O) = {
        advance()
        if (!current.hasNext) throw new NoSuchElementException("stream exhausted")
        current.next()
      }
    }
  }

  /** Live log/result streaming: the as-completed stream carrying each
    * input's captured stdout and per-input outcome — the analog of the
    * reference printing workers' logs WHILE the job runs
    * (client/src/burla/_node.py:315-321 relays log docs mid-job). Here
    * granularity is a finished partition: as soon as any partition
    * completes, its inputs' (index, result-or-error, logs) triples are
    * yielded, long before slow partitions finish. Never throws per-input
    * UDF errors — they arrive attributed in the triple.
    */
  def streamWithLogs[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None,
      resources: Resources = Resources(),
      window: Int = 0
  )(f: I => O): Iterator[(Long, Try[O], String)] =
    // the input index rides on the streamIndexed envelope
    streamIndexed[I, (Either[String, O], String)](
      spark, inputs, maxParallelism, resources, window, "streamWithLogs"
    )(outcomeWithLogs(f, _)).map { case (idx, (r, lg)) => (idx, toTry(r), lg) }

  /** Handle on a detached job: the reference's `detach=True` (job keeps
    * running independently of the submitting code path,
    * _remote_parallel_map.py:217-218) plus its three cancellation paths
    * (Ctrl-C / dashboard stop / cluster restart — SURVEY.md §2.4 D6-D7),
    * which all collapse to one mechanism here: cancelling the job group.
    */
  final class PMapJob[O] private[operators] (
      spark: SparkSession,
      val jobGroup: String,
      fut: java.util.concurrent.CompletableFuture[Seq[O]],
      cancelled: java.util.concurrent.atomic.AtomicBoolean
  ) {
    def isCompleted: Boolean = fut.isDone

    /** Block for the results (re-raising an attributed UdfFailure; infra
      * failures — e.g. cancellation — surface as their Spark cause). */
    def result(): Seq[O] =
      try fut.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          throw unwrap(if (e.getCause != null) e.getCause else e)
      }

    /** Cancel this map. Sticky: a cancel that lands before the Spark job
      * is submitted still cancels (the reference fails a job canceled
      * before upload completes — endpoints semantics of D7). Idempotent.
      *
      * cancelJobGroupAndFutureJobs, not cancelJobGroup: the plain form
      * only cancels ACTIVE jobs, so a cancel landing in the window after
      * the worker thread's cancelled-flag check but before its job
      * submission would seal the future yet let the whole map run to
      * completion on the cluster — the AndFutureJobs form also kills jobs
      * the group submits later (each map's group is a UUID, so the
      * tombstone can never hit an unrelated job). The future is sealed
      * before the group is cancelled, so the job failure the cancel
      * causes cannot decide the terminal state in its place. */
    def cancel(): Unit = {
      cancelled.set(true)
      val ce = new java.util.concurrent.CancellationException(s"$jobGroup canceled")
      if (fut.completeExceptionally(ce)) JobTracker.failed(jobGroup, ce)
      spark.sparkContext.cancelJobGroupAndFutureJobs(jobGroup)
    }
  }

  /** Detached mode: submit and return immediately; the job runs on its own
    * thread regardless of what the CALLING CODE does next.
    *
    * Honest scope vs the reference: Burla's detached jobs live on the
    * cluster and survive the client PROCESS exiting
    * (_remote_parallel_map.py:217-218, job_watcher.py:259). Here the job
    * runs on a daemon thread inside the driver JVM — it survives the
    * calling code path abandoning it, but dies with the driver process.
    * Cluster-mode survival requires an external submission service
    * (spark-submit cluster mode / a job server), out of library scope;
    * see docs/COVERAGE.md D6 and docs/DETACH.md for the spark-submit
    * --deploy-mode cluster recipe that delivers the reference's
    * client-independent semantics outside the sandbox.
    */
  def runDetached[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None,
      resources: Resources = Resources()
  )(f: I => O): PMapJob[O] = {
    val fut = new java.util.concurrent.CompletableFuture[Seq[O]]()
    val cancelled = new java.util.concurrent.atomic.AtomicBoolean(false)
    if (inputs.isEmpty) { fut.complete(Nil); return new PMapJob(spark, newGroup(), fut, cancelled) }
    guardSizes(inputs, f) // fail fast on the submitting thread, as the reference does
    val call = new Call(spark, "detached", inputs.size, maxParallelism, resources)
    // the future decides the terminal state: a cancel that raced the
    // submission wins and the results are discarded (cancel() seals the
    // future first)
    val t = new Thread(() => {
      try {
        if (!cancelled.get()) {
          val r = call.collectPlan(inputs)(attributed(f, _, _))
          if (fut.complete(r)) call.completed()
        }
      } catch { case e: Throwable => if (fut.completeExceptionally(unwrap(e))) call.failed(e) }
    }, call.group)
    t.setDaemon(true)
    t.start()
    new PMapJob(spark, call.group, fut, cancelled)
  }
}
