package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed interval of the span tree workload → phase → call → Spark job
  * → stage. Times are `System.nanoTime` based; `attrs` carries the
  * layer's counters (task metrics for a stage, etc.). */
final class Span(val id: Long, @volatile var parent: Long, val layer: String, val name: String,
    val startNs: Long) {
  @volatile var endNs: Long = -1L
  val attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def durNs: Long = if (endNs < 0) 0L else endNs - startNs
  def add(k: String, v: Double): Unit = synchronized { attrs(k) = attrs.getOrElse(k, 0.0) + v }
  def add(k: String, v: Long): Unit = add(k, v.toDouble)
  def get(k: String): Double = synchronized(attrs.getOrElse(k, 0.0))
}

/** How the workloads mark their calls. The untraced run uses [[NoTrace]],
  * which only runs the body; [[SparkTrace]] records spans and correlates
  * Spark's own events to them. */
trait Tracing {
  def enabled: Boolean
  /** Run `body` as a child span of the calling thread's current span. */
  def within[T](layer: String, name: String)(body: => T): T
}

object NoTrace extends Tracing {
  def enabled = false
  def within[T](layer: String, name: String)(body: => T): T = body
}

/** Spans in memory plus a `SparkListener` / `StreamingQueryListener` that
  * hang every Spark job, stage and micro-batch progress off the call that
  * caused it. Jobs are matched to calls through the local property
  * [[SparkTrace.Prop]], which the caller's thread sets and which threads it
  * starts (the stream submitter, a streaming query's run loop) inherit. */
final class SparkTrace(spark: SparkSession) extends Tracing {
  import SparkTrace._

  def enabled = true
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val stageJob = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  /** Task durations (ms) per stage span, for straggler ratios. */
  val taskMs = new ConcurrentHashMap[Long, mutable.ArrayBuffer[Double]]()
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  /** Time spent inside this tracer's own callbacks. */
  val callbackNs = new AtomicLong(0)
  val t0: Long = System.nanoTime()
  // epoch-ms event times → nanoTime scale
  private val offsetNs: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def nsOf(epochMs: Long): Long = epochMs * 1000000L + offsetNs

  val root: Span = open("workload", "root", 0L)

  private def open(layer: String, name: String, parent: Long): Span = {
    val s = new Span(ids.incrementAndGet(), parent, layer, name, System.nanoTime())
    spans.put(s.id, s)
    s
  }

  def current: Long = Option(sc.getLocalProperty(Prop)).map(_.toLong).getOrElse(root.id)

  def within[T](layer: String, name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Prop)
    val s = open(layer, name, current)
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      sc.setLocalProperty(Prop, prev)
    }
  }

  private def timed(f: => Unit): Unit = {
    val a = System.nanoTime()
    try f finally callbackNs.addAndGet(System.nanoTime() - a)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(Prop)))
      p.foreach { id =>
        val s = new Span(ids.incrementAndGet(), id.toLong, "spark.job", s"job ${e.jobId}", nsOf(e.time))
        spans.put(s.id, s)
        jobSpan.put(e.jobId, s)
        e.stageIds.foreach(st => stageJob.putIfAbsent(st, s))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobSpan.get(e.jobId)).foreach(_.endNs = nsOf(e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
      val si = e.stageInfo
      Option(stageJob.get(si.stageId)).foreach { job =>
        val start = si.submissionTime.map(nsOf).getOrElse(System.nanoTime())
        val s = new Span(ids.incrementAndGet(), job.id, "spark.stage", s"stage ${si.stageId}", start)
        spans.put(s.id, s)
        stageSpan.put(si.stageId, s)
        taskMs.put(s.id, mutable.ArrayBuffer.empty)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val ti = e.taskInfo
        val ts = taskMs.get(s.id)
        ts.synchronized(ts += ti.duration.toDouble)
        val job = spans.get(s.parent)
        job.synchronized {
          val l = nsOf(ti.launchTime).toDouble
          if (!job.attrs.contains("first_launch_ns") || job.attrs("first_launch_ns") > l)
            job.attrs("first_launch_ns") = l
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val si = e.stageInfo
      Option(stageSpan.get(si.stageId)).foreach { s =>
        s.endNs = si.completionTime.map(nsOf).getOrElse(System.nanoTime())
        val m = si.taskMetrics
        if (m != null) {
          s.add("tasks", si.numTasks)
          s.add("run_ms", m.executorRunTime)
          s.add("cpu_ms", m.executorCpuTime / 1e6)
          s.add("gc_ms", m.jvmGCTime)
          s.add("deser_ms", m.executorDeserializeTime)
          s.add("result_bytes", m.resultSize)
          s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          s.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
          s.add("input_bytes", m.inputMetrics.bytesRead)
          s.add("output_bytes", m.outputMetrics.bytesWritten)
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      progress.synchronized(progress += e.progress)
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.streams.addListener(streamListener)

  /** Stop listening, close the root span and hang each streamed job off the
    * loop iteration (call span) that was running when it started: the
    * streaming run loop inherits its property once, at query start. */
  def finish(): Unit = {
    drain(spark)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    root.endNs = System.nanoTime()
    val calls = all.filter(_.layer != "spark.job").groupBy(_.parent)
    all.filter(_.layer == "spark.job").foreach { j =>
      calls.getOrElse(j.parent, Nil)
        .find(c => c.startNs <= j.startNs && j.startNs <= c.endNs)
        .foreach(c => j.parent = c.id)
    }
  }

  def all: Seq[Span] = spans.values.asScala.toSeq.sortBy(_.id)
  def children(s: Span): Seq[Span] = all.filter(_.parent == s.id)
  def jobsOf(s: Span): Seq[Span] = descendants(s).filter(_.layer == "spark.job")
  def stagesOf(s: Span): Seq[Span] = descendants(s).filter(_.layer == "spark.stage")
  def descendants(s: Span): Seq[Span] = {
    val byParent = all.groupBy(_.parent)
    def go(x: Span): Seq[Span] = byParent.getOrElse(x.id, Nil).flatMap(c => c +: go(c))
    go(s)
  }

  /** Wall time of `s` not covered by any child. */
  def selfNs(s: Span, kids: Seq[Span]): Long =
    math.max(0L, s.durNs - unionNs(kids.filter(_.endNs >= 0).map(k =>
      (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))))

  /** Self time summed per layer, over the whole tree. */
  def selfByLayer: Map[String, Double] = {
    val byParent = all.groupBy(_.parent)
    all.filter(_.endNs >= 0).groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => selfNs(s, byParent.getOrElse(s.id, Nil))).sum / 1e6
    }
  }

  def write(path: String): Unit = {
    val lines = all.map { s =>
      val attrs = s.attrs.toSeq.filterNot(_._1.endsWith("_ns"))
        .map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }
      val end = if (s.endNs < 0) "null" else Json.num((s.endNs - t0) / 1e6)
      s"""{"id": ${s.id}, "parent": ${s.parent}, "layer": ${Json.str(s.layer)}, "name": ${Json.str(s.name)}, """ +
        s""""start_ms": ${Json.num((s.startNs - t0) / 1e6)}, "end_ms": $end${attrs.map(", " + _).mkString}}"""
    }
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object SparkTrace {
  val Prop = "perfbench.span"

  /** Length of the union of `[start, end]` intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Block until every event posted so far has reached the listeners.
    * `LiveListenerBus.waitUntilEmpty` is Spark-internal in Scala but public
    * bytecode; a reflective call is the only way to know. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
