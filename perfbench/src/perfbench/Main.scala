package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{Graft, GraftSession}

/** Everything a workload needs: the session, its options, where to write,
  * and where to report. */
final case class Ctx(
    spark: SparkSession,
    seed: Long,
    seconds: Double,
    tiny: Boolean,
    dataDir: String,
    refDir: String,
    runDir: String,
    cores: Int,
    report: Report,
    var trace: Tracing = NoTrace
)

/** A workload prepares its inputs and runs its cold first pass (both
  * counted in `setup_s`), then measures. Every workload reports the same
  * end-to-end metrics, each in its own terms: `warm_s` (a warm pass of its
  * work) and `latency_ms` (its unit operation, warm). */
trait Workload {
  def prepare(): Unit = ()
  def measure(): Unit
  /** The traced calls whose wall time makes `latency_ms`. */
  def ops(t: SparkTrace): Seq[Span]
  /** The traced calls of each warm pass that makes `warm_s`. */
  def warmPasses(t: SparkTrace): Seq[Seq[Span]]
  /** The workload's own per-layer figures, read from the finished trace. */
  def layers(t: SparkTrace): Unit
}

/** One benchmark run inside one JVM: build and warm a session, prepare the
  * workload's inputs, measure, and write the report as JSON.
  *
  * {{{
  * Main --workload pmap|queries|stream --seed N --seconds S --trace 0|1
  *      --data DIR --ref DIR --run-dir DIR --out FILE [--spans FILE] [--tiny]
  * Main --dump-oracles FILE
  * }}}
  */
object Main {
  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q37_price_quartiles", "e02_embed_neardup", "t25_bigram_nll",
    "p01_pmap_token_counts")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val tiny = args.contains("--tiny")
    opts.get("dump-oracles") match {
      case Some(out) => dumpOracles(out)
      case None => run(opts.updated("tiny", tiny.toString))
    }
  }

  /** The listed queries' DuckDB oracle SQL, for the reference generator. */
  private def dumpOracles(out: String): Unit = {
    val sql = graft.queries.Registry.oracleSql
    val missing = Queries.filterNot(sql.contains)
    require(missing.isEmpty, s"queries without an oracle: ${missing.mkString(", ")}")
    val body = Queries.map(q => s"${Json.str(q)}: ${Json.str(sql(q))}").mkString("{", ",\n", "}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(out), body.getBytes("UTF-8"))
  }

  private def run(o: Map[String, String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val report = new Report
    val traced = o("trace") == "1"
    val runDir = o("run-dir")
    val t0 = System.nanoTime()
    val spark = GraftSession.builder("perfbench")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val t1 = System.nanoTime()
    warmup(spark, report)
    val warmupMs = (System.nanoTime() - t1) / 1e6

    val ctx = Ctx(spark, o("seed").toLong, o("seconds").toDouble, o("tiny").toBoolean,
      o("data"), o("ref"), runDir, spark.sparkContext.defaultParallelism, report)
    val w: Workload = o("workload") match {
      case "pmap"    => new Pmap(ctx)
      case "queries" => new QueryWorkload(ctx)
      case "stream"  => new StreamWorkload(ctx)
      case other     => sys.error(s"unknown workload '$other' (pmap, queries, stream)")
    }
    try {
      w.prepare()
      report.metric("setup_s", (System.currentTimeMillis() - jvmStartMs) / 1e3, "s")
      val tracer = if (traced) Some(new SparkTrace(spark)) else None
      tracer.foreach(t => ctx.trace = t)
      val t2 = System.nanoTime()
      val gc0 = gcMs
      w.measure()
      report.note("measure_s", f"${(System.nanoTime() - t2) / 1e9}%.1f")
      tracer.foreach { t =>
        t.finish()
        report.metric("jvm.gc_ms", gcMs - gc0, "ms")
        report.metric("GraftSession.session_ms", sessionMs, "ms")
        report.metric("GraftSession.warmup_ms", warmupMs, "ms")
        commonLayers(t, w, report, ctx.cores)
        w.layers(t)
        t.selfByLayer.foreach { case (layer, ms) =>
          report.metric(s"trace.self_ms.${layer.replace('.', '_')}", ms, "ms")
        }
        report.metric("trace.callback_ms", t.callbackNs.get / 1e6, "ms")
        report.metric("trace.spans", t.all.size.toDouble, "count")
        o.get("spans").foreach(t.write)
      }
    } catch {
      case e: Throwable => report.fail(s"${o("workload")} workload", e); e.printStackTrace()
    } finally {
      report.metric("GraftSession.heap_peak_mb", heapPeakMb, "MB")
      write(o("out"), report.toJson)
      spark.stop()
    }
  }

  /** A session counts as warm once it has run one SQL job and one parallel
    * map: both paths have loaded their classes and started their pools. */
  private def warmup(spark: SparkSession, report: Report): Unit = {
    val n = spark.range(0, 10000, 1, 4).selectExpr("sum(id)").head().getLong(0)
    report.check("warmup sql", n == 49995000L, s"sum=$n")
    val got = Graft.remoteParallelMap(spark, (1 to 8).map(_.toLong))(_ * 2).sorted
    report.check("warmup pmap", got == (1 to 8).map(_ * 2L), got.mkString(","))
  }

  /** The per-layer metrics every workload reports: what one unit
    * operation spends outside and inside Spark (`op.*`, medians over
    * operations), and what a warm pass spends in tasks (`warm.*`, medians
    * over passes). */
  private def commonLayers(t: SparkTrace, w: Workload, report: Report, cores: Int): Unit = {
    val ms = 1e6
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val ops = w.ops(t).map(o => (o, t.jobsOf(o), t.stagesOf(o)))
    report.metric("op.driver_ms", med(ops.map { case (o, js, _) => t.selfNs(o, js) / ms }), "ms")
    report.metric("op.first_task_delay_ms", med(ops.flatMap { case (o, js, _) =>
      js.flatMap(_.attrs.get("first_launch_ns")).minOption.map(l => (l - o.startNs) / ms) }), "ms")
    report.metric("op.jobs", med(ops.map(_._2.size.toDouble)), "count")
    report.metric("op.stages", med(ops.map(_._3.size.toDouble)), "count")
    report.metric("op.tasks", med(ops.map(_._3.map(_.get("tasks")).sum)), "count")

    val passes = w.warmPasses(t).map(cs => (cs, cs.flatMap(t.stagesOf)))
    def perPass(f: (Seq[Span], Seq[Span]) => Double) = med(passes.map(f.tupled))
    def stageSum(k: String) = perPass((_, ss) => ss.map(_.get(k)).sum)
    report.metric("warm.driver_only_ms", perPass((cs, _) =>
      cs.map(c => t.selfNs(c, t.jobsOf(c))).sum / ms), "ms")
    report.metric("warm.utilisation", perPass((cs, ss) =>
      ss.map(_.get("run_ms")).sum / (cs.map(_.durNs).sum / ms * cores)), "ratio")
    Seq("run_ms", "cpu_ms", "deser_ms").foreach(k => report.metric(s"warm.task_$k", stageSum(k), "ms"))
    report.metric("warm.tasks", stageSum("tasks"), "count")
    Seq("shuffle_read_bytes", "shuffle_write_bytes", "result_bytes", "spill_bytes", "input_bytes",
      "output_bytes").foreach(k => report.metric(s"warm.$k", stageSum(k), "B"))
  }

  /** Collection time of every garbage collector of this JVM so far. */
  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  private def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  private def write(path: String, s: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), s.getBytes("UTF-8"))
}
