package perfbench

import scala.util.Random

import graft.Graft

/** Burla's operator alone: no parquet, almost no Catalyst.
  *
  *  - `dispatch`: blocks of sequential one-input `remoteParallelMap`
  *    calls — the fixed cost of a call (planning, scheduling, result
  *    return).
  *  - `bulk`: one call over 100,000 `Long`s with a trivial function — the
  *    per-input cost of encoding, chunking and collecting.
  *  - `skew`: `remoteParallelMap` and `remoteParallelMapStream` over 1,000
  *    inputs that each burn a seeded, heavy-tailed amount of CPU — makespan,
  *    time to first streamed result, utilisation.
  *  - `attributed`: `remoteParallelMapAttributed` with 1 % of inputs raising
  *    — the exact set of failing indices must come back.
  *
  * A round is one call of each of `bulk`, `skew` and a block of
  * `dispatch`: a cold round in set-up (see [[prepare]]), then warm rounds
  * (see [[measure]]). */
final class Pmap(ctx: Ctx) extends Workload {
  import ctx._
  import Pmap._

  private val rng = new Random(seed)
  private val dispatchBlock = if (tiny) 5 else 40
  private val bulkN = if (tiny) 2000 else 100000
  private val skewN = if (tiny) 100 else 1000
  private val roundsMin = if (tiny) 1 else 2

  // per-call samples of the warm rounds, kept for the per-layer read-out
  private var dispatchBlocks = Vector.empty[Vector[Double]] // ms per call, one block per round
  private var bulkRates = Vector.empty[Double]
  private var makespans = Vector.empty[Double]
  private var firstResults = Vector.empty[Double]
  private var skewCalls = Vector.empty[(Double, Double)] // (wall ns, udf busy ns) per skew run
  private var roundWalls = Vector.empty[Double] // s per warm round

  /** One round of bulk, skew and dispatch as one phase; its wall in s. */
  private def round(label: String): Double = {
    val t = System.nanoTime()
    trace.within("phase", label) {
      bulk(label)
      skew(label)
      dispatch(label)
    }
    (System.nanoTime() - t) / 1e9
  }

  /** The cold round is part of set-up: it pays for the JIT compiling the
    * call path (its calls run up to twice as slow), which a long-lived
    * driver pays once. Its outputs are checked, its time is reported as
    * `cold_s`, and its samples are dropped. */
  override def prepare(): Unit = {
    report.metric("cold_s", round("cold"), "s")
    dispatchBlocks = Vector.empty
    bulkRates = Vector.empty
    makespans = Vector.empty
    firstResults = Vector.empty
    skewCalls = Vector.empty
  }

  /** Warm rounds until `--seconds` is used and at least `roundsMin` ran. */
  def measure(): Unit = {
    val t0 = System.nanoTime()
    while (roundWalls.size < roundsMin || System.nanoTime() - t0 < seconds * 1e9)
      roundWalls :+= round(s"warm ${roundWalls.size + 1}")
    trace.within("phase", "attributed")(attributed())

    report.metric("warm_s", Stats.median(roundWalls), "s")
    // pooled over the warm rounds: a burst of contention in one block moves
    // the median of all calls less than it moves that block's median
    report.metric("latency_ms", Stats.median(dispatchBlocks.flatten), "ms")
    report.metric("dispatch_ms_p90", Stats.pct(dispatchBlocks.flatten, 90), "ms")
    report.note("warm_round_s", roundWalls.map(w => f"$w%.3f").mkString(" "))
    report.note("dispatch_samples", s"${dispatchBlocks.map(_.size).sum} in ${dispatchBlocks.size} blocks")
    report.note("dispatch_block_p50_ms", dispatchBlocks.map(b => f"${Stats.median(b)}%.1f").mkString(" "))
    report.note("dispatch_block_p90_ms", dispatchBlocks.map(b => f"${Stats.pct(b, 90)}%.1f").mkString(" "))
    report.metric("bulk_inputs_per_s", Stats.median(bulkRates), "1/s")
    report.note("bulk_rates", bulkRates.map(r => f"$r%.0f").mkString(" "))
    report.metric("compute_s", Stats.median(makespans), "s")
    report.metric("first_result_ms_p50", Stats.median(firstResults), "ms")
  }

  private def dispatch(round: String): Unit = {
    val block = Vector.newBuilder[Double]
    (0 until dispatchBlock).foreach { j =>
      val x = rng.nextLong() >>> 22
      try {
        val t = System.nanoTime()
        val out = trace.within("call", "ParallelMap.run dispatch") {
          Graft.remoteParallelMap(spark, Seq(x))(triple)
        }
        block += (System.nanoTime() - t) / 1e6
        report.check(s"dispatch $round $j", out == Seq(triple(x)), s"got $out for $x")
      } catch { case e: Exception => report.fail(s"dispatch $round $j", e) }
    }
    dispatchBlocks :+= block.result()
  }

  private def bulk(i: String): Unit = {
    val xs = Vector.fill(bulkN)(rng.nextLong() >>> 22)
    try {
      val t = System.nanoTime()
      val out = trace.within("call", "ParallelMap.run bulk") {
        Graft.remoteParallelMap(spark, xs)(triple)
      }
      bulkRates :+= bulkN / ((System.nanoTime() - t) / 1e9)
      // the multiset of results, and the closed form Σ(3x+1) = 3Σx + n
      val sorted = out.toArray.sorted
      val want = xs.map(triple).toArray.sorted
      report.check(s"bulk $i", java.util.Arrays.equals(sorted, want) &&
        out.sum == 3 * xs.sum + bulkN, s"${out.size} results, sum ${out.sum}")
    } catch { case e: Exception => report.fail(s"bulk $i", e) }
  }

  /** Per-input CPU cost in burn iterations: 99 % uniform in 0.5–1.5x the
    * base, 1 % at 20x the base (mean 1.19x the base). */
  private def costs(n: Int): Vector[Int] = {
    val heavy = rng.shuffle((0 until n).toVector).take(math.max(1, n / 100)).toSet
    Vector.tabulate(n) { i =>
      val base = BaseIters * (0.5 + rng.nextDouble())
      (if (heavy(i)) 20 * BaseIters else base).toInt
    }
  }

  private def skew(i: String): Unit = {
    val inputs = costs(skewN).zipWithIndex.map { case (c, j) => (j.toLong, c) }
    val want = inputs.map(x => 7 * x._1 + 3).sorted
    val busy = spark.sparkContext.longAccumulator("udf busy ns")
    val f: ((Long, Int)) => Long = x => {
      val t = System.nanoTime()
      val r = skewed(x)
      busy.add(System.nanoTime() - t)
      r
    }
    try {
      val t = System.nanoTime()
      val out = trace.within("call", "ParallelMap.run skew") {
        Graft.remoteParallelMap(spark, inputs)(f)
      }
      val wall = System.nanoTime() - t
      makespans :+= wall / 1e9
      skewCalls :+= ((wall.toDouble, busy.value.toDouble))
      report.check(s"skew run $i", out.sorted == want, s"${out.size} results")
    } catch { case e: Exception => report.fail(s"skew run $i", e) }
    try {
      val t = System.nanoTime()
      val got = trace.within("call", "ParallelMap.stream skew") {
        val it = Graft.remoteParallelMapStream(spark, inputs)(skewed)
        if (it.hasNext) firstResults :+= (System.nanoTime() - t) / 1e6
        it.toVector
      }
      report.check(s"skew stream $i", got.sorted == want, s"${got.size} results")
    } catch { case e: Exception => report.fail(s"skew stream $i", e) }
  }

  private def attributed(): Unit = {
    val n = skewN
    val bad = rng.shuffle((0 until n).toVector).take(n / 100).map(_.toLong).toSet
    val xs = (0 until n).map(i => (i.toLong, bad(i.toLong)))
    try {
      val out = trace.within("call", "ParallelMap.runAttributed") {
        Graft.remoteParallelMapAttributed(spark, xs) { case (i, raise) =>
          if (raise) throw new IllegalArgumentException(s"input $i raises")
          triple(i)
        }
      }
      val failedIdx = out.collect { case (i, scala.util.Failure(_)) => i }.toSet
      val okRight = out.forall {
        case (i, scala.util.Success(v)) => v == triple(i)
        case (_, scala.util.Failure(e)) => e.getMessage.contains("raises")
      }
      report.check("attributed", out.size == n && failedIdx == bad && okRight,
        s"failed ${failedIdx.toSeq.sorted.take(20)} want ${bad.toSeq.sorted.take(20)}")
    } catch { case e: Exception => report.fail("attributed", e) }
  }

  /** Calls of the warm rounds, by name. */
  private def warmCalls(t: SparkTrace, name: String): Seq[Span] =
    warmPasses(t).flatten.filter(_.name == name)

  def ops(t: SparkTrace): Seq[Span] = warmCalls(t, "ParallelMap.run dispatch")

  def warmPasses(t: SparkTrace): Seq[Seq[Span]] =
    t.all.filter(s => s.layer == "phase" && s.name.startsWith("warm"))
      .map(p => t.children(p).filter(_.layer == "call"))

  def layers(t: SparkTrace): Unit = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def perCall(cs: Seq[Span], k: String) = med(cs.map(c => t.stagesOf(c).map(_.get(k)).sum))
    val bulkCalls = warmCalls(t, "ParallelMap.run bulk")
    report.metric("ParallelMap.shuffle_write_bytes", perCall(bulkCalls, "shuffle_write_bytes"), "B")
    report.metric("ParallelMap.task_deser_ms", perCall(bulkCalls, "deser_ms"), "ms")
    report.metric("ParallelMap.result_bytes", perCall(bulkCalls, "result_bytes"), "B")

    val skewRuns = warmCalls(t, "ParallelMap.run skew")
    report.metric("ParallelMap.tasks_per_call", perCall(skewRuns, "tasks"), "count")
    report.metric("ParallelMap.udf_busy_ms", med(skewCalls.map(_._2 / 1e6)), "ms")
    report.metric("ParallelMap.utilisation", med(skewCalls.map { case (wall, busy) =>
      busy / (wall * cores) }), "ratio")
    report.metric("ParallelMap.straggler_ratio", med(skewRuns.flatMap { c =>
      val ms = t.stagesOf(c).filter(_.get("tasks") > 1).flatMap(s =>
        Option(t.taskMs.get(s.id)).toSeq.flatten)
      if (ms.isEmpty) None else Some(ms.max / math.max(1.0, Stats.median(ms)))
    }), "ratio")
  }
}

object Pmap {
  /** Burn iterations per input at the base cost: about 3.4 ms on a core
    * that runs one iteration in 1.45 ns, which puts the mean at 4 ms. */
  val BaseIters: Int = 2300000

  def triple(x: Long): Long = 3 * x + 1

  /** Deterministic CPU burn whose result the JIT cannot drop: the value
    * returned depends on every iteration. It is the closed form `7i + 3`
    * unless the final LCG state is exactly -1 (odds 2^-64 per input). */
  def skewed(x: (Long, Int)): Long = {
    var h = x._1 ^ 0x9E3779B97F4A7C15L
    var k = 0
    while (k < x._2) { h = h * 6364136223846793005L + 1442695040888963407L; k += 1 }
    7 * x._1 + 3 + (if (h == -1L) 1 else 0)
  }
}
