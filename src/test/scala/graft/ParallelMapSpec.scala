package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.util.{Failure, Success}
import graft.operators.{InputTooBig, NestedUdfFailure, ParallelMap, UdfFailure}

/** Behavioral spec for the parallel-map layer, ported from the reference's
  * client contract tests (client/tests/test_rpm_core.py,
  * test_rpm_exceptions.py — see FIXTURES.md §B).
  */
class ParallelMapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("roundtrip: all inputs map back, order-free (test_rpm_core.py:23-30)") {
    val out = ParallelMap.run(spark, 0 until 100)(x => x * 2)
    assert(out.toSet == (0 until 100).map(_ * 2).toSet)
    assert(out.size == 100)
  }

  test("empty inputs short-circuit without touching the cluster (:33-44)") {
    // null session proves no cluster contact — any touch would NPE.
    assert(ParallelMap.run(null, Seq.empty[Int])(identity) == Nil)
    assert(!ParallelMap.stream(null, Seq.empty[Int])(identity).hasNext)
  }

  test("tuple-unpack calling convention (:54-66)") {
    val out = ParallelMap.run(spark, Seq((1, 2), (3, 4), (5, 6))) {
      case (a, b) => a + b
    }
    assert(out.toSet == Set(3, 7, 11))
    // lists are NOT unpacked — a one-element input list maps whole
    val lists = ParallelMap.run(spark, Seq(List(1, 2, 3)))(_.sum)
    assert(lists == Seq(6))
  }

  test("first UDF exception re-raised with input attribution (exceptions spec)") {
    val e = intercept[UdfFailure] {
      ParallelMap.run(spark, 0 until 20) { x =>
        if (x == 7) throw new IllegalArgumentException("boom on 7")
        x
      }
    }
    assert(e.inputIndex == 7L)
    assert(e.cause.isInstanceOf[IllegalArgumentException])
    assert(e.cause.getMessage == "boom on 7")
  }

  test("generator mode streams results and surfaces the attributed error (:80-91)") {
    val it = ParallelMap.stream(spark, 0 until 20, maxParallelism = Some(4)) { x =>
      if (x == 7) throw new IllegalArgumentException("boom")
      x
    }
    val seen = scala.collection.mutable.ArrayBuffer[Int]()
    val e = intercept[UdfFailure] { it.foreach(seen += _) }
    assert(e.inputIndex == 7L)
  }

  test("generator mode, clean run, yields everything lazily") {
    val it = ParallelMap.stream(spark, 0 until 50)(x => x + 1)
    assert(it.toSeq.toSet == (1 to 50).toSet)
  }

  test("serial execution under maxParallelism=1 (:148-159)") {
    val out = ParallelMap.run(spark, 0 until 6, maxParallelism = Some(1)) { x =>
      (x, System.nanoTime())
    }
    // one partition => sequential: timestamps strictly increase in the
    // order the elements were processed
    val byTime = out.sortBy(_._2).map(_._1)
    assert(out.map(_._2).distinct.size == 6)
    assert(byTime.toSet == (0 until 6).toSet)
  }

  test("runAttributed returns per-input success/failure, never throws") {
    val out = ParallelMap.runAttributed(spark, 0 until 10) { x =>
      if (x % 3 == 0) throw new RuntimeException(s"bad $x") else x * 10
    }
    assert(out.size == 10)
    val byIdx = out.toMap
    assert(byIdx(1L) == Success(10))
    byIdx(3L) match {
      case Failure(m) => assert(m.getMessage.contains("bad 3"))
      case other      => fail(s"expected failure, got $other")
    }
  }

  test("per-input stdout capture with attribution (log-streaming analog)") {
    // reference: stdout parsed into per-input log docs (test_rpm_core.py:
    // 96-109 asserts 100 prints surface; worker_client.py caps at 100 KB)
    val out = ParallelMap.runWithLogs(spark, 0 until 10) { x =>
      println(s"processing input $x")
      if (x == 3) throw new RuntimeException("bad")
      x * 2
    }
    assert(out.size == 10)
    out.foreach { case (idx, _, logs) =>
      assert(logs.contains(s"processing input $idx")) // attributed correctly
    }
    val (_, r3, _) = out.find(_._1 == 3L).get
    assert(r3.isFailure)
    // truncation at the 100 KB cap
    val big = ParallelMap.runWithLogs(spark, Seq(1)) { _ =>
      (0 until 5000).foreach(i => println("x" * 100)); 42
    }
    assert(big.head._3.length == ParallelMap.MaxLogBytesPerInput)
  }

  test("oversized inputs rejected with a typed error (InputTooBig analog)") {
    // reference: single input capped at 200 MB pickled (_node.py:25)
    val big = new Array[Byte](210 * 1000 * 1000)
    val e = intercept[InputTooBig] {
      ParallelMap.run(spark, Seq(Array[Byte](1), big))(_.length)
    }
    assert(e.inputIndex == 1L)
    assert(e.limitBytes == ParallelMap.MaxInputBytes)
  }

  test("detached job runs to completion independently (detach=True analog)") {
    val job = ParallelMap.runDetached(spark, 0 until 30, Some(4)) { x =>
      Thread.sleep(20); x * 3
    }
    assert(!job.isCompleted) // returned immediately, work still running
    assert(job.result().toSet == (0 until 30).map(_ * 3).toSet)
    assert(job.isCompleted)
  }

  test("detached job with empty inputs completes immediately") {
    val job = ParallelMap.runDetached(spark, Seq.empty[Int])(identity)
    assert(job.isCompleted && job.result() == Nil)
  }

  test("cancellation kills a detached job (Ctrl-C / dashboard-stop analog)") {
    val job = ParallelMap.runDetached(spark, 0 until 64, Some(2)) { x =>
      Thread.sleep(5000); x
    }
    Thread.sleep(300) // let tasks start
    job.cancel()
    val e = intercept[Throwable](job.result())
    assert(!e.isInstanceOf[UdfFailure]) // infra cancellation, not a UDF error
  }

  test("stream yields fast partitions' results before a straggler finishes") {
    // reference generator yields as-completed from any node
    // (_remote_parallel_map.py:703-707); partition-ordered iteration would
    // block on the straggler if it landed in partition 0
    val t0 = System.nanoTime()
    val it = ParallelMap.stream(spark, 0 until 8, maxParallelism = Some(8)) { x =>
      if (x == 0) Thread.sleep(4000)
      x
    }
    val first = it.next() // must arrive long before the 4 s straggler
    val firstMs = (System.nanoTime() - t0) / 1e6
    assert(firstMs < 3000, s"first result took ${firstMs}ms — stream is not as-completed")
    assert((Iterator(first) ++ it).toSeq.toSet == (0 until 8).toSet)
  }

  test("streamWithLogs yields attributed logs before a straggler finishes") {
    val t0 = System.nanoTime()
    val it = ParallelMap.streamWithLogs(spark, 0 until 8, maxParallelism = Some(8)) { x =>
      println(s"working on $x")
      if (x == 0) Thread.sleep(4000)
      if (x == 5) throw new RuntimeException("bad 5")
      x * 2
    }
    val (idx, r, logs) = it.next()
    val firstMs = (System.nanoTime() - t0) / 1e6
    assert(firstMs < 3000, s"first log arrived after ${firstMs}ms — not live")
    assert(logs.contains(s"working on $idx")) // attributed to ITS input
    val rest = it.toSeq
    val all = (idx, r, logs) +: rest
    assert(all.size == 8)
    assert(all.find(_._1 == 5L).get._2.isFailure) // attributed, not thrown
    assert(all.count(_._2.isSuccess) == 7)
  }

  test("live log relay: input's log observable before a straggler in the SAME partition") {
    // One partition holding [fast printer, 4s straggler] — the layout
    // where partition-granular streamWithLogs delivers NOTHING until the
    // straggler finishes. The heartbeat-fed relay must surface input 0's
    // log mid-task, input-granular like the reference's live log docs
    // (_node.py:315-321).
    // Liveness is asserted by ORDERING, not wall-clock margins (a loaded
    // host can lag heartbeat delivery arbitrarily): the straggler sets a
    // JVM-static flag just before finishing; the callback records whether
    // input 0's log arrived while that flag was still unset. local-mode
    // executors share the JVM, so the static is visible cross-thread.
    LiveRelayProbe.stragglerDone = false
    LiveRelayProbe.liveBeforeStraggler = false
    val arrivals = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val counts = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()
    val out = ParallelMap.runWithLiveLogs(spark, Seq(0, 1), maxParallelism = Some(1)) { x =>
      if (x == 0) println("hello from the fast input")
      else {
        Thread.sleep(4000)
        LiveRelayProbe.stragglerDone = true
      }
      x * 2
    } { (idx, _) =>
      if (idx == 0L && !LiveRelayProbe.stragglerDone)
        LiveRelayProbe.liveBeforeStraggler = true
      arrivals.putIfAbsent(idx, System.nanoTime())
      counts.merge(idx, 1, (a, b) => a + b)
    }
    assert(arrivals.containsKey(0L), "fast input's log never relayed")
    assert(
      LiveRelayProbe.liveBeforeStraggler,
      "input 0's log did not arrive while the same-partition straggler was still running"
    )
    assert(counts.get(0L) == 1 && counts.get(1L) == 1) // exactly-once per input
    assert(out.map(_._1).toSet == Set(0L, 1L))
    assert(out.find(_._1 == 0L).get._3.contains("hello from the fast input"))
    assert(out.forall(_._2.isSuccess))
  }

  test("live log relay: UDF errors attributed, logs still relayed, nothing thrown") {
    val got = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val out = ParallelMap.runWithLiveLogs(spark, 0 until 6, maxParallelism = Some(3)) { x =>
      println(s"processing $x")
      if (x == 4) throw new RuntimeException("bad 4")
      x * 10
    } { (idx, lg) => got.put(idx, lg) }
    assert(out.size == 6)
    assert(got.size == 6) // every input's log fired exactly once (sweep covers stragglers)
    (0 until 6).foreach(i => assert(got.get(i.toLong).contains(s"processing $i")))
    assert(out.find(_._1 == 4L).get._2.isFailure)
    assert(out.count(_._2.isSuccess) == 5)
  }

  test("live log relay: retention cap bounds heartbeat payload, sweep keeps completeness") {
    // the per-task accumulator retains only the newest LiveRelayRetained
    // entries (heartbeat payload bound) ...
    val acc = new graft.operators.ParallelMap.LogRelayAcc
    (0 until 200).foreach(i => acc.add((i.toLong, s"log $i")))
    assert(acc.value.size == graft.operators.ParallelMap.LiveRelayRetained)
    assert(acc.value.head._1 == 199L) // newest-first
    // ... and a job with far more logged inputs than the cap still fires
    // the callback exactly once per input (completeness sweep)
    val got = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()
    val out = ParallelMap.runWithLiveLogs(spark, 0 until 200, maxParallelism = Some(2)) {
      x => println(s"n=$x"); x
    } { (i, _) => got.merge(i, 1, (a, b) => a + b) }
    assert(out.size == 200)
    assert(got.size == 200)
    assert(scala.jdk.CollectionConverters.CollectionHasAsScala(got.values).asScala.forall(_ == 1))
  }

  test("stream with a bounded window still yields every result") {
    val out = ParallelMap
      .stream(spark, 0 until 30, maxParallelism = Some(6), window = 2)(x => x * 2)
      .toSeq
    assert(out.toSet == (0 until 30).map(_ * 2).toSet)
  }

  test("resource request lands on the submitted job and caps local concurrency") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[Int])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g != null && g.startsWith("pmap-")) {
          val cpus = e.properties.getProperty("graft.func.cpus")
          seen.add((cpus, e.stageInfos.map(_.numTasks).toSeq))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = ParallelMap.run(
        spark, 0 until 16,
        resources = ParallelMap.Resources(funcCpus = 2)
      )(x => x + 1)
      assert(out.toSet == (1 to 16).toSet)
      // listener events are async — poll briefly
      val deadline = System.currentTimeMillis() + 5000
      while (seen.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      val snaps = scala.jdk.CollectionConverters.CollectionHasAsScala(seen).asScala.toSeq
      assert(snaps.nonEmpty, "no pmap job observed by the listener")
      // the declared footprint is visible on the job's properties
      assert(snaps.exists(_._1 == "2"))
      // local[4] with funcCpus=2 -> the map stage runs 4/2 = 2 tasks
      assert(snaps.exists(_._2.contains(2)),
        s"no stage with 2 tasks in ${snaps.map(_._2)}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("job tracker records RUNNING -> COMPLETED and per-input error counts") {
    import graft.operators.JobTracker
    JobTracker.clearForTest()
    val out = ParallelMap.runAttributed(spark, 0 until 10) { x =>
      if (x % 3 == 0) throw new RuntimeException(s"bad $x") else x
    }
    assert(out.size == 10)
    val jobs = JobTracker.jobs(spark).collect()
    assert(jobs.length == 1)
    val row = jobs.head
    assert(row.getAs[String]("mode") == "runAttributed")
    assert(row.getAs[String]("status") == "COMPLETED")
    assert(row.getAs[Long]("n_inputs") == 10L)
    assert(row.getAs[Long]("n_errors") == 4L) // 0, 3, 6, 9
    val errIdx = JobTracker.jobErrors(spark).collect()
      .map(_.getAs[Long]("input_index")).toSet
    assert(errIdx == Set(0L, 3L, 6L, 9L))
    val trans = JobTracker.jobTransitions(spark).collect()
      .sortBy(_.getAs[Int]("seq")).map(_.getAs[String]("status")).toSeq
    assert(trans == Seq("RUNNING", "COMPLETED"))
    // a hard failure moves to FAILED with the attributed input recorded
    intercept[UdfFailure] {
      ParallelMap.run(spark, 0 until 5) { x =>
        if (x == 2) throw new IllegalStateException("dead"); x
      }
    }
    val failedRow = JobTracker.jobs(spark).collect()
      .find(_.getAs[String]("mode") == "run").get
    assert(failedRow.getAs[String]("status") == "FAILED")
    assert(failedRow.getAs[String]("failure").contains("UdfFailure"))
  }

  test("self-usage rollup aggregates task-seconds per day per mode over recorded runs") {
    // Reference: usage endpoints roll node-hours per day/machine-type over
    // the job history (main_service/src/main_service/endpoints/usage.py:
    // 109,249,366). Here: two runs in different modes, then the R5-shaped
    // rollup over the engine's OWN history.
    import graft.operators.JobTracker
    JobTracker.clearForTest()
    ParallelMap.run(spark, 0 until 8)(x => { Thread.sleep(20); x })
    ParallelMap.run(spark, 0 until 4)(x => x + 1)
    ParallelMap.runAttributed(spark, 0 until 6)(x => x * 2)
    val usage = JobTracker.usageDaily(spark).collect()
    // both modes ran today -> one row each (single UTC day in a test run)
    assert(usage.length == 2)
    val byMode = usage.map(r => r.getAs[String]("mode") -> r).toMap
    val runRow = byMode("run")
    assert(runRow.getAs[Long]("n_jobs") == 2L)
    assert(runRow.getAs[Long]("n_inputs") == 12L)
    assert(runRow.getAs[Long]("n_tasks") > 0L)
    assert(runRow.getAs[Double]("task_seconds") > 0.0) // the sleep is metered
    assert(runRow.getAs[Long]("n_failed_jobs") == 0L)
    val attrRow = byMode("runAttributed")
    assert(attrRow.getAs[Long]("n_jobs") == 1L)
    assert(attrRow.getAs[Long]("n_inputs") == 6L)
    // day column is a real date bucket (UTC), same for both rows
    assert(usage.map(_.getAs[java.sql.Date]("day")).distinct.length == 1)
  }

  test("no input lost or duplicated under skewed work (steal-semantics analog)") {
    // Reference: tests/scenarios/test_input_steal_semantics.py — slow
    // inputs get redistributed with exactly-once semantics. In Spark the
    // scheduler owns redistribution; we assert the semantic holds.
    val out = ParallelMap.run(spark, 0 until 40, maxParallelism = Some(8)) { x =>
      if (x % 13 == 0) Thread.sleep(200) // skewed cost
      x
    }
    assert(out.sorted == (0 until 40))
  }

  test("payloads need not be java.io.Serializable in any list mode") {
    // the reference moves opaque pickled blobs: inputs and results travel
    // as Kryo bytes, never through the session's Java serializer
    val in = (0 until 12).map(new PlainIn(_))
    val want = (0 until 12).map(_ * 2).toSet
    def values(out: Iterable[PlainOut]) = out.map(_.v).toSet
    val f = (p: PlainIn) => new PlainOut(p.n * 2)
    assert(values(ParallelMap.run(spark, in, Some(3))(f)) == want)
    assert(values(ParallelMap.stream(spark, in, Some(3))(f).toSeq) == want)
    assert(values(ParallelMap.runAttributed(spark, in, Some(3))(f).map(_._2.get)) == want)
    assert(values(ParallelMap.runWithLogs(spark, in, Some(3))(f).map(_._2.get)) == want)
    assert(values(ParallelMap.runDetached(spark, in, Some(3))(f).result()) == want)
    val nested = ParallelMap.runNested(spark, in, Some(3))(p => Seq(p, new PlainIn(p.n + 100)))(f)
    assert(values(nested) == want ++ (0 until 12).map(n => (n + 100) * 2))
  }

  test("a slice larger than Kryo's buffer cap still travels") {
    // 4 x 20 MB inputs in one slice: 80 MB of payload in one blob, above
    // spark.kryoserializer.buffer.max (64 MB) — each input alone is below it
    val mb20 = 20 * 1000 * 1000
    val out = ParallelMap.run(spark, Seq.fill(4)(new Array[Byte](mb20)), Some(1))(_.length)
    assert(out == Seq.fill(4)(mb20))
  }

  test("a one-input run is one Spark job of one stage with no shuffle") {
    import org.apache.spark.scheduler._
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Int]() // job id -> stages
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g != null && g.startsWith("pmap-")) jobs.put(e.jobId, e.stageInfos.size)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(ParallelMap.run(spark, Seq(7L))(x => 3 * x + 1) == Seq(22L))
      // listener events are async — poll until every started job ended
      val deadline = System.currentTimeMillis() + 5000
      def allEnded = !jobs.isEmpty && jobs.keySet.stream.allMatch(j => ended.contains(j))
      while (!allEnded && System.currentTimeMillis() < deadline) Thread.sleep(20)
      val stages = scala.jdk.CollectionConverters.MapHasAsScala(jobs).asScala.toMap
      assert(stages.size == 1, s"expected one Spark job, saw $stages")
      assert(stages.values.head == 1, s"expected one stage, saw $stages")
      assert(shuffleWrite.get == 0L)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("inputs are shuffled across slices: adjacent costly inputs spread out") {
    // the reference client shuffles inputs before chunking
    // (_remote_parallel_map.py:312-313); contiguous slices of the input
    // order would pin the 10 costly inputs at the end to one task
    val out = ParallelMap.run(spark, 0 until 40, maxParallelism = Some(4)) { x =>
      if (x >= 30) Thread.sleep(20)
      (x, org.apache.spark.TaskContext.getPartitionId())
    }
    assert(out.map(_._1).sorted == (0 until 40))
    val costlyParts = out.collect { case (x, p) if x >= 30 => p }.toSet
    assert(costlyParts.size >= 2, s"costly inputs all ran in partition(s) $costlyParts")
  }

  test("nested map: fan-out then inner map in one plan (test_nested_rpm.py analog)") {
    // input i fans out to i copies of i; inner stage multiplies by 10
    val out = ParallelMap.runNested(spark, Seq(1, 2, 3))(i => Seq.fill(i)(i))(_ * 10)
    assert(out.sorted == Seq(10, 20, 20, 30, 30, 30))
  }

  test("nested map: maxParallelism caps the INNER stage too") {
    // the inner repartition used to go straight to defaultParallelism,
    // ignoring the caller's concurrency contract — with the cap honored,
    // g() runs serially, so its execution intervals never overlap
    val spans = ParallelMap.runNested(
      spark, Seq(1, 2, 3, 4), maxParallelism = Some(1)
    )(i => Seq(i)) { _ =>
      val s = System.nanoTime()
      Thread.sleep(30)
      (s, System.nanoTime())
    }
    assert(spans.size == 4)
    val sorted = spans.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq((_, e1), (s2, _)) =>
        assert(s2 >= e1, "inner g() calls overlapped under maxParallelism=1")
      case _ => ()
    }
  }

  test("nested map: empty inputs and empty fan-outs short-circuit") {
    assert(ParallelMap.runNested(null, Seq.empty[Int])(Seq(_))(identity[Int]) == Nil)
    assert(ParallelMap.runNested(spark, Seq(1, 2))(_ => Seq.empty[Int])(identity) == Nil)
  }

  test("nested map: inner error carries two-level attribution") {
    val e = intercept[NestedUdfFailure] {
      ParallelMap.runNested(spark, Seq(10, 20))(i => Seq(i, i + 1)) { j =>
        if (j == 21) throw new IllegalArgumentException("bad inner"); j
      }
    }
    assert(e.outerIndex == 1L) // input 20 produced the failing inner input
    assert(e.innerIndex == 1L) // its second fan-out element (21)
    assert(e.getCause.isInstanceOf[IllegalArgumentException])
  }

  test("nested map: fan-out error attributes the outer input with innerIndex -1") {
    val e = intercept[NestedUdfFailure] {
      ParallelMap.runNested(spark, Seq(1, 2, 3)) { i =>
        if (i == 3) throw new IllegalStateException("bad fanout"); Seq(i)
      }(identity[Int])
    }
    assert(e.outerIndex == 2L && e.innerIndex == -1L)
    assert(e.getMessage.contains("fan-out stage"))
  }

  test("a call restores the caller's job group and resource properties") {
    val sc = spark.sparkContext
    sc.setJobGroup("outer", "caller's own jobs")
    sc.setLocalProperty("graft.func.cpus", "7")
    try {
      assert(ParallelMap.run(spark, 0 until 8)(_ + 1).toSet == (1 to 8).toSet)
      assert(ParallelMap.stream(spark, 0 until 8, window = 2)(_ + 1).toSet == (1 to 8).toSet)
      assert(sc.getLocalProperty("spark.jobGroup.id") == "outer")
      assert(sc.getLocalProperty("graft.func.cpus") == "7")
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty("graft.func.cpus", null)
    }
  }

  test("stream(window = 1) keeps one slice job in flight or buffered") {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    // jobs of this stream carry the caller's own local property
    val tag = s"window-${java.util.UUID.randomUUID()}"
    val mine = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val running = new java.util.concurrent.atomic.AtomicInteger()
    val maxRunning = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("test.stream.tag") == tag)) {
          mine.add(e.jobId)
          maxRunning.accumulateAndGet(running.incrementAndGet(), (a, b) => math.max(a, b))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (mine.contains(e.jobId)) running.decrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("test.stream.tag", tag)
    try {
      // local[4] caps a call at 4 slices: one input per slice
      val it = ParallelMap.stream(spark, 0 until 4, maxParallelism = Some(4), window = 1)(identity)
      val seen = scala.collection.mutable.ArrayBuffer[Int]()
      while (it.hasNext) {
        seen += it.next()
        Thread.sleep(200) // a slow consumer; listener events catch up
        assert(mine.size <= seen.size + 1,
          s"${mine.size} slice jobs started after the consumer took ${seen.size}")
      }
      assert(seen.sorted == (0 until 4))
      assert(mine.size == 4)
      assert(maxRunning.get == 1, s"${maxRunning.get} slice jobs ran at once")
    } finally {
      sc.setLocalProperty("test.stream.tag", null)
      sc.removeSparkListener(listener)
    }
  }

  /** The JobTracker group of the only call recorded since clearForTest. */
  private def onlyGroup(): String = {
    val rows = graft.operators.JobTracker.jobs(spark).collect()
    assert(rows.length == 1, s"expected one recorded call, saw ${rows.length}")
    rows.head.getAs[String]("job_id")
  }

  test("a UDF error in stream leaves a FAILED row and no job of its group running") {
    import graft.operators.JobTracker
    JobTracker.clearForTest()
    val it = ParallelMap.stream(spark, 0 until 4, maxParallelism = Some(4)) { x =>
      if (x == 3) throw new IllegalArgumentException("bad 3")
      Thread.sleep(5000); x
    }
    val e = intercept[UdfFailure](it.toList)
    assert(e.inputIndex == 3L)
    val group = onlyGroup()
    assert(JobTracker.record(group).get.status == JobTracker.Failed)
    // the other slices were still sleeping: the failure cancels them
    val status = spark.sparkContext.statusTracker
    def runningJobs = status.getJobIdsForGroup(group).toSeq.flatMap(status.getJobInfo)
      .filter(_.status == org.apache.spark.JobExecutionStatus.RUNNING)
    val deadline = System.currentTimeMillis() + 3000
    while (runningJobs.nonEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(runningJobs.isEmpty, s"jobs ${runningJobs.map(_.jobId)} of $group still running")
  }

  test("cancelling a detached job leaves a CANCELLED row") {
    import graft.operators.JobTracker
    JobTracker.clearForTest()
    val job = ParallelMap.runDetached(spark, 0 until 8, Some(2)) { x => Thread.sleep(5000); x }
    Thread.sleep(300)
    job.cancel()
    intercept[java.util.concurrent.CancellationException](job.result())
    // the detached thread (named after the group) exits without
    // overwriting the terminal state cancel() decided
    def alive = scala.jdk.CollectionConverters.SetHasAsScala(Thread.getAllStackTraces.keySet)
      .asScala.exists(_.getName == job.jobGroup)
    val deadline = System.currentTimeMillis() + 5000
    while (alive && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(!alive, "detached thread still running after cancel")
    assert(JobTracker.record(job.jobGroup).get.status == JobTracker.Cancelled)
  }

  test("an abandoned stream(window = 1) leaves no thread behind") {
    import graft.operators.JobTracker
    JobTracker.clearForTest()
    val it = ParallelMap.stream(spark, 0 until 4, maxParallelism = Some(4), window = 1)(identity)
    assert(it.hasNext)
    it.next() // then abandon the iterator with slices left
    val group = onlyGroup()
    Thread.sleep(500)
    val named = scala.jdk.CollectionConverters.SetHasAsScala(Thread.getAllStackTraces.keySet)
      .asScala.filter(t => t.isAlive && t.getName.contains(group))
    assert(named.isEmpty, s"live threads ${named.map(_.getName)} of abandoned $group")
  }

  test("every mode's task counts and Spark job ids are exact when the call returns") {
    import graft.operators.JobTracker
    // read right after each call, no wait: a finished task's counts land
    // before its result reaches the caller
    def check(mode: String, tasks: Long, jobs: Int)(call: => Any): Unit = {
      JobTracker.clearForTest()
      call
      val r = JobTracker.record(onlyGroup()).get
      assert(r.nTasks == tasks, s"$mode: n_tasks ${r.nTasks}, expected $tasks")
      assert(r.sparkJobIds.size == jobs, s"$mode: spark_job_ids ${r.sparkJobIds}")
      assert(r.nFailedTasks == 0L, s"$mode: n_failed_tasks ${r.nFailedTasks}")
      assert(r.taskTimeMs > 0L, s"$mode: task_time_ms ${r.taskTimeMs} for a sleeping UDF")
    }
    val sleepy = (x: Int) => { Thread.sleep(5); x }
    val in = 0 until 12
    val three = Some(3) // three slices on local[4]
    check("run", 3, 1)(ParallelMap.run(spark, in, three)(sleepy))
    check("runAttributed", 3, 1)(ParallelMap.runAttributed(spark, in, three)(sleepy))
    check("runWithLogs", 3, 1)(ParallelMap.runWithLogs(spark, in, three)(sleepy))
    check("runWithLiveLogs", 3, 1)(
      ParallelMap.runWithLiveLogs(spark, in, three)(sleepy)((_, _) => ()))
    check("stream", 3, 3)(ParallelMap.stream(spark, in, three)(sleepy).toList)
    // three fan-out tasks, then three inner tasks, in one job
    check("runNested", 6, 1)(ParallelMap.runNested(spark, in, three)(x => Seq(x, x))(sleepy))
    check("detached", 3, 1)(ParallelMap.runDetached(spark, in, three)(sleepy).result())
    // a failed call counts the tasks that never finished as failed
    JobTracker.clearForTest()
    intercept[UdfFailure] {
      ParallelMap.run(spark, in, three)(x => if (x == 4) throw new IllegalStateException("4") else x)
    }
    val r = JobTracker.record(onlyGroup()).get
    assert(r.status == JobTracker.Failed)
    assert(r.nFailedTasks >= 1L && r.nTasks + r.nFailedTasks == 3L,
      s"n_tasks ${r.nTasks}, n_failed_tasks ${r.nFailedTasks} of 3")
  }
}

/** Cross-thread ordering probe for the live-relay spec: local-mode
  * executor threads and the driver share this JVM, so these statics are
  * the one channel a serialized UDF closure and the driver callback can
  * both reach without copies. */
object LiveRelayProbe {
  @volatile var stragglerDone = false
  @volatile var liveBeforeStraggler = false
}

/** Payload types that are neither case classes nor java.io.Serializable:
  * a parallel map must move them anyway. */
final class PlainIn(val n: Int)
final class PlainOut(val v: Int)
