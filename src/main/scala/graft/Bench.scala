package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Per-round benchmark: runs every registered query against
  * SPARK_GRAFT_SF_DIR (default sf0.1) and prints one JSON line.
  *
  * Each query executes twice and reports the faster run: the first
  * execution of a query pays Catalyst planning + whole-stage-codegen
  * Janino compilation (seconds for the wide dedup pipelines), which on a
  * long-lived cluster amortizes to zero — steady-state is the engine
  * number. The cold aggregate is still reported as "cold_value" for
  * honesty. Queries are forced with .count() (full plan execution, no
  * driver-side result materialization in the timing).
  *
  * STATE DISCIPLINE: the cold run builds a query's caches, the warm run
  * reuses them (steady-state — the number a long-lived pipeline stage
  * sees), and then EVERY block the query pinned — SQL caches and
  * localCheckpoint RDDs alike — is released synchronously
  * (Hygiene.release, blocking unpersist) before the next query starts.
  * The r6 full-suite capture had t20/d09/t21 at 2.4-3.9x their isolated
  * numbers because the old release was non-blocking: block removal
  * drifted behind the 103-query suite and storage pressure landed
  * exactly on the queries that cache most. Clearing sits OUTSIDE the
  * timed regions; within-query cache materialization still pays inside
  * the cold number.
  *
  * DRIFT FLAGS: per query the live storage bytes after each run are
  * recorded (the accumulation signal), and BOTH the warm and the cold
  * time are compared against the committed BASELINE.md reference table
  * (the LAST `| name | warm | cold |` row per query wins — later rounds
  * override earlier ones). warm > 2x its reference flags the query in
  * bench_full.json ("drift": true); cold > 2x its reference flags it as
  * "cold_drift" — both counted on the stdout line — so a full-suite
  * capture that degrades its own recorded numbers, in either column,
  * can no longer pass silently.
  *
  * CONTENTION DEFENSE (r7 lesson: a shared-host load burst turned a
  * faster-than-r6 suite into a 16-flag capture): the bench now (1)
  * RE-MEASURES every first-pass-flagged query once more at END of suite
  * and reports both numbers — a real regression reproduces on the second
  * measurement, a competing-load burst does not, so "drift_flags" counts
  * only CONFIRMED flags (flagged twice) while "drift_unconfirmed" carries
  * the rest; and (2) records per query the process CPU seconds consumed
  * by each run ("cpu_warm_s"/"cpu_cold_s") and the host 1-minute loadavg
  * after it ("load1") — on a contended host the query's OWN cpu/wall
  * ratio collapses and load1 exceeds the core count, so a bad capture
  * self-identifies in bench_full.json instead of needing a post-hoc
  * adjudication. r12 (the r11 failure: the recheck ran inside the same
  * contended window, so six environmental bursts "reproduced"):
  * confirmation now consults the recheck leg's OWN-WORK signal — a flag
  * confirms only if the recheck reproduces the wall regression AND its
  * process-CPU seconds exceed 2x the committed reference cpu (see
  * [[confirmDrift]]; BASELINE.md rows may carry cpu_warm/cpu_cold as
  * 4th/5th columns) — and the recheck leg's cpu/load1 telemetry ships in
  * bench_full.json ("recheck_cpu_warm_s"/"recheck_cpu_cold_s"/
  * "recheck_load1") for post-hoc adjudication.
  *
  * Output budget: the round driver captures only the LAST 2000 chars of
  * stdout, and full query names (~25 chars/entry x 80+ queries) overflow
  * that, truncating the head of the map (r3/r4 lost d01-d10). The stdout
  * map is therefore keyed by each query's unique id prefix ("q01", "d05",
  * "e10" — the token before the first underscore). r16: at 167 queries
  * even the id-keyed map at 3 decimals plus the drift-telemetry fields
  * overflowed the window (the r14 AND r15 driver tails both cut the
  * line's opening brace — PERF came back empty two rounds running), so
  * the stdout line now carries ONLY the driver contract — metric / value
  * / unit / queries / failed / sf — with per-query values at 2 significant
  * decimals ([[jshort]]; worst case 167 x 11 chars + fixed fields = 1916
  * chars, under the window even before trailing-zero stripping). All
  * telemetry (cold totals, drift adjudication, contended marker, load)
  * stays in bench_full.json, which also keeps the full-precision
  * (3-decimal) warm/cold per full query name; BASELINE.md carries the
  * committed per-query reference table.
  */
object Bench {
  /** Locale-fixed decimal rendering for the JSON outputs: the f""
    * interpolator uses the JVM default locale, so a de_DE/fr_FR driver
    * would emit comma decimal separators — invalid JSON the round driver
    * (and any consumer) fails to parse. */
  private[graft] def jnum(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Compact per-query seconds for the size-capped stdout line: 2 decimals
    * under 1 s, 1 decimal under 10 s, integral above (≤ ±5% rounding —
    * well inside run-to-run noise), trailing zeros and dot stripped.
    * Bounded at 4 chars for any non-negative value < 100 s, which is what
    * keeps the whole 167-entry line under the driver's 2000-char stdout
    * window (see the Output-budget note above). Full 3-decimal values
    * stay in bench_full.json. */
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

  /** One committed reference row: warm/cold wall seconds plus (r12)
    * optional process-CPU seconds for each leg — the own-work signal the
    * drift confirmation consults. Pre-r12 rows carry only the two wall
    * columns; their cpu fields are None and confirmation degrades to the
    * legacy wall-only rule. */
  private[graft] case class Ref(
      warm: Double,
      cold: Double,
      cpuWarm: Option[Double],
      cpuCold: Option[Double]
  )

  /** Reference rows per query from BASELINE.md's recorded tables.
    * Tolerant parse: any `| <query_id> | <num> | <num> |` row anywhere in
    * the file; the last occurrence of a query wins. Up to two further
    * numeric columns are read as (cpu_warm_s, cpu_cold_s) — but ONLY
    * under a table whose HEADER declares cpu columns (r13, closing the
    * ADVICE hole: the bare positional read meant any future table with
    * extra numeric columns that are not CPU seconds — a ratio, a row
    * count — would silently poison the own-CPU drift gate through
    * last-row-wins). Rows under a cpu-less header keep cpu = None and
    * the confirmation takes its documented wall-only fallback. Missing
    * file or unparseable rows → no reference → no flag (new queries are
    * unflagged until their first committed row). */
  private[graft] def baselineRefs(path: String = "BASELINE.md"): Map[String, Ref] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val num = """([0-9]+\.[0-9]+)"""
      val row =
        (s"""\\|\\s*([a-z]\\d{2}_[a-z0-9_]+)\\s*\\|\\s*$num\\s*\\|\\s*$num\\s*\\|""" +
          s"""(?:\\s*$num\\s*\\|(?:\\s*$num\\s*\\|)?)?""").r
      val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      val out = scala.collection.mutable.Map.empty[String, Ref]
      // header state: a `| query | ... warm ... |` line opens a table and
      // declares whether its 4th/5th columns are CPU seconds
      var cpuHeader = false
      for (line <- src.linesIterator) {
        val t = line.trim
        if (t.startsWith("|") && t.contains("query") && t.contains("warm"))
          cpuHeader = t.replace('_', ' ').contains("cpu warm")
        else
          row.findFirstMatchIn(t).foreach { m =>
            out(m.group(1)) = Ref(
              m.group(2).toDouble,
              m.group(3).toDouble,
              if (cpuHeader) Option(m.group(4)).map(_.toDouble) else None,
              if (cpuHeader) Option(m.group(5)).map(_.toDouble) else None)
          }
      }
      out.toMap
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

  /** Foreign-load ceiling for drift confirmation: this suite's OWN work
    * peaks around load1 ≈ 5.5 on the 32-core bench host (the r12
    * authoritative capture's load1_max); every observed foreign-load
    * window read ≥ 8.5 (r11 18.67, r12 driver captures 8.58 / 15.05).
    * 8.0 splits the two populations with margin on both sides. */
  private[graft] val Load1Ceiling = 8.0

  /** Capture-level trust marker: a REFUTED first-pass wobble means a
    * query's first measurement was >2× its reference and the recheck
    * collapsed it — the signature of a foreign-load burst during that
    * query's window. A few per capture are normal scheduler noise; when
    * more than ~10% of the measured queries wobbled (r13 driver capture:
    * 47 warm + 52 cold refuted over 159 queries), the first-pass numbers
    * are near-worthless and every row's honest value came from its
    * recheck leg — downstream consumers must read the capture as
    * CONTENDED rather than trusting per-row first-pass walls. Refuted
    * wobbles (not confirmed flags, not needs_rerun) drive the marker:
    * confirmed flags are real regressions and needs_rerun already
    * carries its own foreign-load signal. */
  private[graft] def isContended(refutedWobbles: Int, nQueries: Int): Boolean =
    nQueries > 0 && refutedWobbles > nQueries / 10.0

  /** Is a first-pass drift flag CONFIRMED by its recheck leg?
    *
    * r11 lesson: the end-of-suite recheck ran inside the same contended
    * window as the first pass, so six environmental bursts "reproduced"
    * and shipped as confirmed regressions (d06 read 5.6×; a quiet host
    * measured 1.11×). The wall clock alone cannot distinguish a starved
    * query from a slow one — but the query's OWN process-CPU seconds
    * can: a genuine plan regression (an extra shuffle, a lost pushdown)
    * does more WORK, so cpu rises with wall; a starved run's wall blows
    * up while its cpu stays flat (r11's e05: 14 CPU-s across 12 s of
    * wall on a 32-core session = 1.2 cores — starved, not slow).
    *
    * Rule: a flag confirms only if the recheck reproduces the WALL
    * regression (>2× the committed reference) AND shows an own-work
    * regression — recheck cpu > 2× the committed reference cpu. Rows
    * without a cpu reference (pre-r12 tables) confirm on wall alone, the
    * legacy rule, so the defense tightens as rows are re-recorded rather
    * than silently never confirming. A recheck that itself ERRORS keeps
    * the flag — an error must never read as "refuted". cpu telemetry
    * that is unavailable on this JVM (cpu < 0) also falls back to
    * wall-only.
    *
    * r13 — the load ceiling, the second contention defense the r12 rule
    * still needed: under heavy foreign load, own-CPU itself inflates
    * (GC threads and memory-bus stalls bill to the process — the r12
    * driver capture's t20 recheck burned 53.5 own-CPU-s against a
    * 17.8 s reference through pure thrash, so wall-AND-own-CPU passed
    * and 12 environmental flags shipped as confirmed; a same-day quiet
    * A/B refuted every one). A reproduced regression measured in a
    * capture that OVERLAPPED foreign load (either the recheck's own
    * load1 sample or the capture-wide load1 maximum above
    * [[Load1Ceiling]]) is therefore NEITHER confirmable nor refutable —
    * it returns [[DriftVerdict.NeedsRerun]] and only a quiet re-capture
    * may confirm. The capture-wide max matters because load1 is a
    * one-minute EWMA sampled once per query: the r12 driver capture's
    * per-recheck samples read 1.3–2.6 while its capture max read 15.05
    * — bursty foreign load hides from the point samples but not from
    * the max. Missing telemetry (load < 0) cannot gate and falls
    * through to the legacy confirm — on hosts without /proc/loadavg the
    * defense is simply absent, never falsely reassuring. */
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
      // the SAME execution — r12 paired the min wall with the warm
      // leg's cpu, so when the cold leg was the minimum a borderline
      // flag was adjudicated on mismatched signals (ADVICE r12)
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
    val refs = baselineRefs()
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
    // End-of-suite recheck: every first-pass drift flag — WARM OR COLD —
    // is measured once more after the whole suite ran. A genuine
    // regression reproduces; a competing-load burst during the original
    // window does not. Both numbers ship; only a REPRODUCED flag counts.
    // The r8 lesson for cold rows: warm flags had this defense, cold rows
    // rode the first pass only, and one contaminated cold (d10 24.6s vs
    // 3.1s clean) froze into the regression table. The recheck's "cold"
    // (first exec of the re-measure, all caches released in between) can
    // benefit from the JVM's codegen cache, so it is a LOWER-BOUND cold —
    // which is the right bar for adjudication: a contention burst
    // collapses on it, while a data-path regression (an extra shuffle,
    // a lost pushdown) dominates compile time and still reproduces.
    //
    // r12: reproducing the WALL regression is no longer sufficient — when
    // the whole suite window is contended (r11: load1_max 18.67, six
    // environmental flags "confirmed"), the recheck leg is contended too.
    // Confirmation now ALSO requires the recheck's own-work signal (its
    // process-CPU seconds vs the committed reference cpu — see
    // confirmDrift), and the recheck leg's cpu/load1 telemetry ships in
    // bench_full.json so a post-hoc reader can re-adjudicate.
    val recheck: Map[String, R] = firstPass
      .filter(r => (r.drift || r.coldDrift) && r.ok)
      .map(r => r.name -> measure(r.name, SparkEntry.queries(r.name)))
      .toMap
    // Capture-wide load ceiling input: the max over EVERY load1 sample
    // this run took (first pass + rechecks). Bursty foreign load hides
    // from per-query point samples but not from the max (r12 driver
    // capture: recheck samples 1.3-2.6, capture max 15.05).
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
    // Full-name detail artifact (not size-constrained): warm + cold +
    // end-of-run storage bytes + drift flag per query. ONLY full-suite
    // runs may write it — a subset run (`Bench d13 d14`) would otherwise
    // clobber the tracked record with a 2-query file that reads as a
    // clean full run (and the round snapshot commits the tree wholesale).
    // Subset runs write the SAME detail to bench_subset.json instead
    // (untracked, overwritten per run): the A/B adjudication protocol
    // needs per-query COLD walls, which the stdout line does not carry.
    locally {
      val detailPath = java.nio.file.Paths.get(
        if (args.isEmpty) "bench_full.json" else "bench_subset.json")
      val detail = adjudicated
        .map { a =>
          val r = a.r
          val refPart = refs.get(r.name)
            .map { rf =>
              val cpuRefs = (rf.cpuWarm, rf.cpuCold) match {
                case (Some(w), Some(c)) => s""", "ref_cpu_warm": ${jnum(w)}, "ref_cpu_cold": ${jnum(c)}"""
                case _                  => ""
              }
              s""", "ref_warm": ${jnum(rf.warm)}, "ref_cold": ${jnum(rf.cold)}$cpuRefs"""
            }
            .getOrElse("")
          // the recheck leg ships its OWN cpu/load telemetry (r11 lesson:
          // only first-pass telemetry was kept, so a contended recheck
          // could not be adjudicated from the artifact)
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
    // every other field lives in bench_full.json. The r14/r15 driver
    // tails (2000 chars) both cut this line's opening brace because the
    // telemetry fields + 3-decimal values pushed it to ~3.5 KB — two
    // rounds of empty PERF comparisons. Do not add fields here without
    // re-doing the worst-case size math in the header comment.
    println(
      s"""{"metric":"total","value":${jnum(total)},"unit":"sec","queries":$qs,"failed":$failed,"sf":${jsf(sfDir)}}"""
    )
    spark.stop()
  }
}
