package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Suite benchmark: runs every registered query (or those whose names
  * contain one of the arguments) against SPARK_GRAFT_SF_DIR (default
  * sf0.1) and prints one JSON line.
  *
  * Each query executes twice. The first execution pays Catalyst planning
  * and Janino compilation, which a long-lived cluster amortizes to zero,
  * so the faster run is the reported `warm`; the first run is reported
  * as `cold`. Execution is forced through the query's own physical plan
  * (`toRdd.count()`), so no result is materialized on the driver.
  *
  * STATE DISCIPLINE: the cold run builds a query's caches and the warm
  * run reuses them. Then every block the query pinned, SQL caches and
  * localCheckpoint RDDs alike, is released synchronously
  * ([[Hygiene.release]]) before the next query starts, outside the timed
  * regions. A non-blocking release lets block removal drift behind the
  * suite, and the storage pressure lands on the queries that cache most.
  *
  * DRIFT FLAGS: warm > 2x or cold > 2x the query's row in `bench_ref.tsv`
  * ([[readRefs]]) flags it. A query without a row is never flagged. Each
  * flagged query is measured once more at the end of the suite, and
  * [[adjudicate]] keeps a flag only when that recheck confirms it: the
  * wall regression reproduces, the query's own process CPU grew with it,
  * and no load1 sample of the capture exceeded [[Load1Ceiling]] (see
  * [[confirmDrift]]). Per-query CPU seconds, load1, storage bytes and
  * the recheck leg's telemetry ship in the detail file so a capture can
  * be re-adjudicated after the fact.
  *
  * OUTPUT: a full-suite run writes `bench_full.json`; a subset run writes
  * the same detail to `bench_subset.json`, so it never overwrites the
  * full record. The stdout line carries only the driver contract
  * (metric, value, unit, queries, failed, sf), because the driver reads
  * only the last 2000 chars of stdout. Its `queries` map is keyed by id
  * prefix ("q01") with [[jshort]] values: worst case 167 x 11 chars plus
  * the fixed fields is 1916 chars.
  */
object Bench {
  /** Locale-fixed decimal rendering for the JSON outputs: the f""
    * interpolator uses the JVM default locale, so a de_DE/fr_FR driver
    * would emit comma decimal separators — invalid JSON the driver
    * (and any consumer) fails to parse. */
  private[graft] def jnum(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Compact per-query seconds for the size-capped stdout line: 2 decimals
    * under 1 s, 1 decimal under 10 s, integral above (≤ ±5% rounding —
    * well inside run-to-run noise), trailing zeros and dot stripped.
    * Bounded at 4 chars for any non-negative value < 100 s, which is what
    * keeps the whole 167-entry line under the driver's 2000-char stdout
    * window (see OUTPUT above). Full 3-decimal values stay in the
    * detail file. */
  private[graft] def jshort(v: Double): String = {
    val s =
      if (v < 0) "-1"
      else if (v < 0.995) String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
      else if (v < 9.95) String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
      else String.format(java.util.Locale.ROOT, "%.0f", Double.box(v))
    if (s.contains('.')) {
      val t = s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
      if (t.isEmpty) "0" else t
    } else s
  }

  /** Numeric scale factor parsed from the data dir name ("/x/sf0.1" →
    * "0.1") for the stdout line; falls back to the quoted path when the
    * dir is not sf-named. 8 chars instead of 29 — every byte of the
    * 2000-char window counts. */
  private[graft] def jsf(sfDir: String): String =
    "sf([0-9]+(?:\\.[0-9]+)?)$".r.findFirstMatchIn(sfDir) match {
      case Some(m) => m.group(1)
      case None    => "\"" + sfDir + "\""
    }

  /** One query's reference: warm/cold wall seconds and, where recorded,
    * each leg's process-CPU seconds. A leg without a CPU reference is
    * adjudicated on wall time alone ([[confirmDrift]]). */
  private[graft] case class Ref(
      warm: Double,
      cold: Double,
      cpuWarm: Option[Double],
      cpuCold: Option[Double]
  )

  private val RefHeader = Seq("query", "warm_s", "cold_s", "cpu_warm_s", "cpu_cold_s")

  /** Per-query references from a tab-separated table: the [[RefHeader]]
    * line, then one row per query. The CPU cells may be empty; every
    * other cell must be filled. A missing file means no references, so
    * nothing is flagged. A wrong field count, a malformed query id or
    * number, or a repeated query fails naming the file and line. */
  private[graft] def readRefs(path: String = "bench_ref.tsv"): Map[String, Ref] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val lines = java.nio.file.Files.readAllLines(p, java.nio.charset.StandardCharsets.UTF_8)
      def fail(line: Int, why: String): Nothing =
        throw new IllegalArgumentException(s"$path:$line: $why")
      if (lines.isEmpty || lines.get(0).split("\t", -1).toSeq != RefHeader)
        fail(1, s"expected the header ${RefHeader.mkString(" ")}, tab-separated")
      val id = "[a-z][0-9]{2}_[a-z0-9_]+".r
      val num = "[0-9]+(?:\\.[0-9]+)?".r
      (1 until lines.size).foldLeft(Map.empty[String, Ref]) { (refs, i) =>
        val f = lines.get(i).split("\t", -1)
        if (f.length != RefHeader.size)
          fail(i + 1, s"expected ${RefHeader.size} tab-separated fields, found ${f.length}")
        def number(c: Int): Double = f(c) match {
          case num() => f(c).toDouble
          case v     => fail(i + 1, s"${RefHeader(c)} is not a number: '$v'")
        }
        def cpu(c: Int): Option[Double] = if (f(c).isEmpty) None else Some(number(c))
        f(0) match {
          case id() if refs.contains(f(0)) => fail(i + 1, s"duplicate query ${f(0)}")
          case id() => refs + (f(0) -> Ref(number(1), number(2), cpu(3), cpu(4)))
          case v    => fail(i + 1, s"not a query id: '$v'")
        }
      }
    }
  }

  /** A cpu DIFFERENCE is only meaningful when the MXBean is present and
    * ticking: on a JVM without com.sun.management (or a bean returning
    * -1), cpuS() is a constant -1.0 and a naive `after - before` reads
    * 0.0 — "telemetry present, zero own work" — which would silently
    * refute every genuine regression through the own-CPU gate.
    * Unavailable telemetry must surface as -1 so [[confirmDrift]] takes
    * its documented wall-only fallback. */
  private[graft] def cpuDiff(before: Double, after: Double): Double =
    if (before < 0 || after < 0) -1.0 else after - before

  /** Adjudication of a first-pass drift flag by its recheck leg. */
  private[graft] sealed trait DriftVerdict
  private[graft] object DriftVerdict {
    /** The regression reproduced under a clean-enough window — ship it. */
    case object Confirmed extends DriftVerdict
    /** The recheck did not reproduce the regression (or refuted it
      * through the own-CPU gate) — an environmental burst, not a flag. */
    case object Refuted extends DriftVerdict
    /** The regression reproduced but the CAPTURE overlapped foreign
      * load — neither confirmable nor refutable from this run; a quiet
      * re-capture must adjudicate. */
    case object NeedsRerun extends DriftVerdict
  }

  /** Foreign-load ceiling for drift confirmation: this suite's own work
    * peaks around load1 ≈ 5.5 on the 32-core bench host, and every
    * observed foreign-load window read ≥ 8.5 (up to 18.67). 8.0 splits
    * the two populations with margin on both sides. */
  private[graft] val Load1Ceiling = 8.0

  /** Capture-level trust marker: a REFUTED first-pass wobble means a
    * query's first measurement was >2× its reference and the recheck
    * collapsed it — the signature of a foreign-load burst during that
    * query's window. A few per capture are normal scheduler noise; when
    * more than 10% of the measured queries wobbled, the first-pass
    * numbers are near-worthless and every row's honest value came from
    * its recheck leg, so consumers must read the capture as CONTENDED.
    * Only refuted wobbles drive the marker: confirmed flags are real
    * regressions and needs_rerun carries its own foreign-load signal. */
  private[graft] def isContended(refutedWobbles: Int, nQueries: Int): Boolean =
    nQueries > 0 && refutedWobbles > nQueries / 10.0

  /** Is a first-pass drift flag CONFIRMED by its recheck leg?
    *
    * The recheck runs at the end of the same suite, so a contended host
    * can starve it as it starved the first pass, and wall time alone
    * cannot tell a starved query from a slow one. The query's own
    * process-CPU seconds can: a genuine plan regression (an extra
    * shuffle, a lost pushdown) does more work, so CPU rises with wall,
    * while a starved run's wall blows up and its CPU stays flat.
    *
    * Rule: a flag confirms only if the recheck reproduces the WALL
    * regression (>2× the reference) AND an own-work regression (recheck
    * CPU > 2× the reference CPU). Without a CPU reference, or with CPU
    * telemetry unavailable on this JVM (cpu < 0), wall alone decides. A
    * recheck that itself ERRORS keeps the flag: an error must never read
    * as "refuted".
    *
    * LOAD CEILING: under heavy foreign load own CPU inflates too, since
    * GC threads and memory-bus stalls bill to the process (one contended
    * recheck burned 53.5 CPU-s against a 17.8 s reference). So a
    * reproduced regression in a capture that overlapped foreign load,
    * by the recheck's own load1 sample or the capture-wide load1
    * maximum above [[Load1Ceiling]], is neither confirmable nor
    * refutable: it returns [[DriftVerdict.NeedsRerun]] and only a quiet
    * re-capture may confirm it. The capture-wide maximum matters because
    * load1 is a one-minute EWMA sampled once per query, so bursty load
    * can hide from the recheck's own sample. Missing load telemetry
    * (load < 0) cannot gate, and the CPU rule decides alone. */
  private[graft] def confirmDrift(
      refWall: Option[Double],
      refCpu: Option[Double],
      recheckOk: Boolean,
      recheckWall: Double,
      recheckCpu: Double,
      recheckLoad1: Double,
      captureLoad1Max: Double
  ): DriftVerdict = {
    if (!recheckOk) DriftVerdict.Confirmed
    else {
      val wallRegressed = refWall.exists(recheckWall > 2 * _)
      val ownWorkRegressed = refCpu match {
        case Some(rc) if rc > 0 && recheckCpu >= 0 => recheckCpu > 2 * rc
        case _                                     => true
      }
      if (!(wallRegressed && ownWorkRegressed)) DriftVerdict.Refuted
      else if (math.max(recheckLoad1, captureLoad1Max) > Load1Ceiling)
        DriftVerdict.NeedsRerun
      else DriftVerdict.Confirmed
    }
  }

  /** One measured query: both legs' walls, cpu, storage and load
    * telemetry plus the first-pass flag state. Object-scoped (not local
    * to main) so the adjudication wiring below is spec-drivable. */
  private[graft] case class R(
      name: String,
      warm: Double,
      cold: Double,
      ok: Boolean,
      stCold: Long,
      stWarm: Long,
      drift: Boolean,
      coldDrift: Boolean,
      cpuWarm: Double,
      cpuCold: Double,
      // cpu of the LEG whose wall became `warm` (= min of the two
      // executions): confirmDrift must compare a wall and a cpu from
      // the SAME execution, or a flag is judged on mismatched signals
      cpuBest: Double,
      load: Double,
      // generated classes compiled, and Janino's compile time, in each exec
      coldCompiles: Long = 0L,
      coldCodegenMs: Double = 0.0,
      warmCompiles: Long = 0L,
      warmCodegenMs: Double = 0.0
  )

  private[graft] case class Adjudicated(
      r: R, warmNeedsRerun: Boolean, coldNeedsRerun: Boolean)

  /** Apply [[confirmDrift]] to every first-pass flag: a flag survives as
    * `drift`/`coldDrift` only when its recheck CONFIRMS it; a reproduced
    * flag in a foreign-load capture surfaces as needs_rerun instead.
    * Un-flagged and un-rechecked rows pass through untouched. Factored
    * out of main so BenchDriftSpec can drive the WIRING (flag ∧ verdict
    * composition, leg pairing, steady-state min) with synthetic
    * telemetry, not just the rule. */
  private[graft] def adjudicate(
      firstPass: Seq[R],
      recheck: Map[String, R],
      refs: Map[String, Ref],
      captureLoad1Max: Double
  ): Seq[Adjudicated] = {
    import DriftVerdict._
    firstPass.map { r =>
      recheck.get(r.name) match {
        case Some(r2) =>
          val ref = refs.get(r.name)
          // warm leg: r2.warm is min(cold, warm) of the recheck — pair it
          // with the cpu of that same minimal leg (r2.cpuBest)
          val wv = confirmDrift(
            ref.map(_.warm), ref.flatMap(_.cpuWarm), r2.ok, r2.warm, r2.cpuBest,
            r2.load, captureLoad1Max)
          val cv = confirmDrift(
            ref.map(_.cold), ref.flatMap(_.cpuCold), r2.ok, r2.cold, r2.cpuCold,
            r2.load, captureLoad1Max)
          Adjudicated(
            r.copy(
              drift = r.drift && wv == Confirmed,
              coldDrift = r.coldDrift && cv == Confirmed,
              // the steady-state number is the best honest measurement we have
              warm = if (r2.ok) math.min(r.warm, r2.warm) else r.warm,
              cold = if (r2.ok) math.min(r.cold, r2.cold) else r.cold),
            warmNeedsRerun = r.drift && wv == NeedsRerun,
            coldNeedsRerun = r.coldDrift && cv == NeedsRerun)
        case None => Adjudicated(r, warmNeedsRerun = false, coldNeedsRerun = false)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder("graft-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val refs = readRefs()
    // Warm the session once on the smallest tier (classloading, first-job
    // scheduler setup) so even "cold" numbers measure the engine.
    try SparkEntry.entry(spark).count()
    catch { case _: Throwable => () }
    // Force the query's OWN physical plan (toRdd), not count() over it:
    // an Aggregate(count) on top lets Catalyst prune every projection and
    // eliminate sorts, which would time a bare parquet scan for
    // projection-only queries. A failed query reports -1, never a timing.
    def time(fn: => Unit): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { fn; true }
        catch { case _: Throwable => false }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    // Contention telemetry: this process's cumulative CPU time (all
    // threads) and the host 1-minute loadavg. A query whose wall time
    // blows up while its own CPU seconds stay flat was starved, not slow.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => Some(b)
      case _ => None
    }
    def cpuS(): Double = osBean.map(_.getProcessCpuTime / 1e9).getOrElse(-1.0)
    def load1(): Double =
      try new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg")),
        "UTF-8").split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // Optional args: query names to bench (substring match) — iterate on one
    // hot query without paying the full suite.
    val selected =
      if (args.isEmpty) SparkEntry.queries.toSeq
      else SparkEntry.queries.toSeq.filter { case (n, _) => args.exists(n.contains) }
    // Classes compiled and compile ms across `fn`, from the JVM-wide
    // codegen counters. The warm exec runs right after the same query's
    // cold exec, so it reuses that query's classes even from a cache too
    // small for the suite: a warm compile here is code generated anew per
    // plan, not a cache miss. A second pass over the suite is what shows
    // an undersized cache (GraftSession.CodegenCacheEntries).
    def compiled[T](fn: => T): (T, Long, Double) = {
      val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ns0 = CodeGenerator.compileTime
      val out = fn
      (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0, (CodeGenerator.compileTime - ns0) / 1e6)
    }
    def measure(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): R = {
      def exec(): Unit = fn(spark, sfDir).queryExecution.toRdd.count()
      val cpuC0 = cpuS()
      val ((cold, okC), cgCold, cgColdMs) = compiled(time(exec()))
      val cpuCold = cpuDiff(cpuC0, cpuS())
      val stCold = Hygiene.storageBytes(spark)
      val cpu0 = cpuS()
      val ((warm, okW), cgWarm, cgWarmMs) = compiled(time(exec()))
      val cpuWarm = cpuDiff(cpu0, cpuS())
      val stWarm = Hygiene.storageBytes(spark)
      Hygiene.release(spark)
      if (okC && okW) {
        val best = math.min(cold, warm)
        val cpuBest = if (cold <= warm) cpuCold else cpuWarm
        R(name, best, cold, ok = true, stCold, stWarm,
          refs.get(name).exists(best > 2 * _.warm),
          refs.get(name).exists(cold > 2 * _.cold), cpuWarm, cpuCold, cpuBest, load1(),
          cgCold, cgColdMs, cgWarm, cgWarmMs)
      } else R(name, -1.0, -1.0, ok = false, stCold, stWarm,
        drift = false, coldDrift = false, cpuWarm, cpuCold, cpuBest = -1.0, load1(),
        cgCold, cgColdMs, cgWarm, cgWarmMs)
    }
    val firstPass = selected.sortBy(_._1).map { case (name, fn) => measure(name, fn) }
    // End-of-suite recheck: every first-pass drift flag, warm or cold,
    // is measured once more after the whole suite ran, and confirmDrift
    // judges it. The recheck's "cold" can reuse the JVM's codegen cache,
    // so it is a lower bound, which is the right bar: a contention burst
    // collapses on it, while a data-path regression dominates compile
    // time and still reproduces.
    val recheck: Map[String, R] = firstPass
      .filter(r => (r.drift || r.coldDrift) && r.ok)
      .map(r => r.name -> measure(r.name, SparkEntry.queries(r.name)))
      .toMap
    // Capture-wide load ceiling input: the max over EVERY load1 sample
    // this run took (first pass + rechecks), see confirmDrift.
    // maxOption: a subset invocation matching no query names must print
    // the empty result line, not crash on max of an empty capture
    val captureLoad1Max =
      (firstPass.map(_.load) ++ recheck.values.map(_.load)).maxOption.getOrElse(-1.0)
    val adjudicated = adjudicate(firstPass, recheck, refs, captureLoad1Max)
    val results = adjudicated.map(_.r)
    val qs = results
      .map(r => "\"" + r.name.takeWhile(_ != '_') + "\":" + jshort(r.warm))
      .mkString("{", ",", "}")
    val ok = results.filter(_.ok)
    val total = ok.map(_.warm).sum
    val coldTotal = ok.map(_.cold).sum
    val failed = results.count(!_.ok)
    val driftFlags = results.count(_.drift)
    val driftNeedsRerun = adjudicated.count(_.warmNeedsRerun)
    val coldDriftNeedsRerun = adjudicated.count(_.coldNeedsRerun)
    // flagged on the first pass but NOT reproduced at end of suite —
    // the signature of a competing-load burst, not a regression
    // (needs_rerun rows are neither confirmed nor refuted: reproduced,
    // but in a capture that overlapped foreign load)
    val driftUnconfirmed = firstPass.count(_.drift) - driftFlags - driftNeedsRerun
    val coldDriftFlags = results.count(_.coldDrift)
    val coldDriftUnconfirmed =
      firstPass.count(_.coldDrift) - coldDriftFlags - coldDriftNeedsRerun
    val contended =
      isContended(driftUnconfirmed + coldDriftUnconfirmed, results.length)
    // Full-name detail artifact (not size-constrained). Only a full-suite
    // run writes bench_full.json, so a subset run cannot replace the
    // tracked record with a partial one; a subset run writes the same
    // detail to the untracked bench_subset.json, which tools/ab_bench.sh
    // reads for its ratio table.
    locally {
      val detailPath = java.nio.file.Paths.get(
        if (args.isEmpty) "bench_full.json" else "bench_subset.json")
      val detail = adjudicated
        .map { a =>
          val r = a.r
          val refPart = refs.get(r.name)
            .map { rf =>
              s""", "ref_warm": ${jnum(rf.warm)}, "ref_cold": ${jnum(rf.cold)}""" +
                rf.cpuWarm.map(w => s""", "ref_cpu_warm": ${jnum(w)}""").getOrElse("") +
                rf.cpuCold.map(c => s""", "ref_cpu_cold": ${jnum(c)}""").getOrElse("")
            }
            .getOrElse("")
          // the recheck leg ships its own cpu/load telemetry, so a
          // contended recheck can be adjudicated from the artifact
          val recheckPart = recheck.get(r.name)
            .map { r2 =>
              val fp = firstPass.find(_.name == r.name).get
              s""", "first_pass_warm": ${jnum(fp.warm)}, "recheck_warm": ${jnum(r2.warm)}, "first_pass_cold": ${jnum(fp.cold)}, "recheck_cold": ${jnum(r2.cold)}, "recheck_cpu_warm_s": ${jnum(r2.cpuWarm)}, "recheck_cpu_cold_s": ${jnum(r2.cpuCold)}, "recheck_load1": ${jnum(r2.load)}"""
            }
            .getOrElse("")
          s"""  "${r.name}": {"warm": ${jnum(r.warm)}, "cold": ${jnum(r.cold)}, "ok": ${r.ok}, "storage_cold_b": ${r.stCold}, "storage_warm_b": ${r.stWarm}, "cpu_warm_s": ${jnum(r.cpuWarm)}, "cpu_cold_s": ${jnum(r.cpuCold)}, "cold_compiles": ${r.coldCompiles}, "cold_codegen_ms": ${jnum(r.coldCodegenMs)}, "warm_compiles": ${r.warmCompiles}, "warm_codegen_ms": ${jnum(r.warmCodegenMs)}, "load1": ${jnum(r.load)}, "drift": ${r.drift}, "cold_drift": ${r.coldDrift}, "drift_needs_rerun": ${a.warmNeedsRerun}, "cold_drift_needs_rerun": ${a.coldNeedsRerun}$refPart$recheckPart}"""
        }
        .mkString("{\n", ",\n", "\n}")
      java.nio.file.Files.write(
        detailPath,
        s"""{"sf": "$sfDir", "warm_total": ${jnum(total)}, "cold_total": ${jnum(coldTotal)}, "failed": $failed, "drift_flags": $driftFlags, "drift_unconfirmed": $driftUnconfirmed, "drift_needs_rerun": $driftNeedsRerun, "cold_drift_flags": $coldDriftFlags, "cold_drift_unconfirmed": $coldDriftUnconfirmed, "cold_drift_needs_rerun": $coldDriftNeedsRerun, "contended": $contended, "load1_max": ${jnum(captureLoad1Max)}, "queries": $detail}"""
          .getBytes("UTF-8")
      )
    }
    // Driver-contract line ONLY (metric/value/unit/queries/failed/sf):
    // every other field lives in the detail file. Do not add fields here
    // without redoing the worst-case size math in the header comment.
    println(
      s"""{"metric":"total","value":${jnum(total)},"unit":"sec","queries":$qs,"failed":$failed,"sf":${jsf(sfDir)}}"""
    )
    spark.stop()
  }
}
