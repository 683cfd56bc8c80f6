package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's drift-confirmation rule (r12 + r13). The r11 capture
  * "confirmed" six drift flags that a quiet host refuted because the
  * end-of-suite recheck ran inside the same contended window — wall
  * reproduction alone cannot tell a starved query from a slow one. The
  * r12 rule: a flag confirms only when the recheck leg reproduces the
  * WALL regression AND shows an own-work regression (its process-CPU
  * seconds > 2x the committed reference cpu). The r13 addition: under
  * heavy foreign load own-CPU itself inflates (GC/memory-bus thrash
  * bills to the process), so a reproduced regression measured while the
  * capture overlapped foreign load (any load1 sample above
  * [[Bench.Load1Ceiling]]) is NEITHER confirmable nor refutable — it
  * reads [[Bench.DriftVerdict.NeedsRerun]] and only a quiet re-capture
  * may confirm. These tests drive [[Bench.confirmDrift]] with recorded
  * telemetry directly — no Spark, no timing, fully deterministic. */
class BenchDriftSpec extends AnyFunSuite {
  import Bench.DriftVerdict._

  // quiet-host load telemetry for the r12-rule tests: both samples well
  // under the ceiling, so the verdict is decided by wall/cpu alone
  private val quiet = 1.5

  // r11's e05 signature: reference warm ~1.0 s at ~12 cores of useful
  // work; the "slow" recheck read 12 s wall but burned only 1.2 cores —
  // starved by competing load, cpu flat. Must NOT confirm.
  test("a starved recheck (wall regressed, own-CPU flat) is refuted") {
    assert(Bench.confirmDrift(
      refWall = Some(1.0), refCpu = Some(12.0),
      recheckOk = true, recheckWall = 12.0, recheckCpu = 14.0,
      recheckLoad1 = quiet, captureLoad1Max = quiet) == Refuted)
  }

  // A genuine data-path regression (an extra shuffle, a lost pushdown)
  // does more WORK: wall and own-CPU rise together. Must confirm —
  // but only on a quiet capture.
  test("a genuine regression (wall and own-CPU both >2x, quiet host) confirms") {
    assert(Bench.confirmDrift(
      refWall = Some(1.0), refCpu = Some(12.0),
      recheckOk = true, recheckWall = 3.0, recheckCpu = 36.0,
      recheckLoad1 = quiet, captureLoad1Max = quiet) == Confirmed)
  }

  test("a recheck whose wall recovered is refuted, regardless of cpu") {
    assert(Bench.confirmDrift(
      refWall = Some(1.0), refCpu = Some(12.0),
      recheckOk = true, recheckWall = 1.1, recheckCpu = 40.0,
      recheckLoad1 = quiet, captureLoad1Max = quiet) == Refuted)
  }

  // A reference leg without a cpu cell (q55's cold leg): the legacy
  // wall-only rule applies rather than the flag silently never
  // confirming.
  test("no cpu reference falls back to the legacy wall-only rule") {
    assert(Bench.confirmDrift(
      refWall = Some(1.0), refCpu = None,
      recheckOk = true, recheckWall = 3.0, recheckCpu = 0.5,
      recheckLoad1 = quiet, captureLoad1Max = quiet) == Confirmed)
    assert(Bench.confirmDrift(
      refWall = Some(1.0), refCpu = None,
      recheckOk = true, recheckWall = 1.5, recheckCpu = 99.0,
      recheckLoad1 = quiet, captureLoad1Max = quiet) == Refuted)
  }

  // A JVM without com.sun.management reports cpu = -1: telemetry
  // unavailable must mean wall-only, never "cpu flat, refute".
  test("unavailable cpu telemetry (cpu < 0) falls back to wall-only") {
    assert(Bench.confirmDrift(
      refWall = Some(1.0), refCpu = Some(12.0),
      recheckOk = true, recheckWall = 3.0, recheckCpu = -1.0,
      recheckLoad1 = quiet, captureLoad1Max = quiet) == Confirmed)
  }

  test("a recheck that errored keeps the flag (an error never reads as refuted)") {
    assert(Bench.confirmDrift(
      refWall = Some(1.0), refCpu = Some(12.0),
      recheckOk = false, recheckWall = -1.0, recheckCpu = -1.0,
      recheckLoad1 = -1.0, captureLoad1Max = quiet) == Confirmed)
  }

  // ---- r13 load ceiling: replayed r12 driver-capture telemetry ----

  /** The r12 driver capture (bench_full.json, load1_max 15.05) confirmed
    * 12 flags that a same-day quiet-host A/B refuted. Replaying its
    * recorded telemetry through the r13 rule must confirm NONE of them:
    * each row reproduced the wall regression AND cleared the own-CPU
    * gate (thrash-inflated cpu), so only the load ceiling stands between
    * these and a false "confirmed". Values below are copied verbatim
    * from the capture. */
  test("replayed r12 driver capture (load1_max 15.05): zero confirmations") {
    val captureLoad1Max = 15.05
    // (name, refWall, refCpu, recheckWall, recheckCpu, recheckLoad1) —
    // the cold legs of the 9 cold flags + warm legs of the 3 warm flags
    val confirmedByR12 = Seq(
      ("t07 cold", 0.395, 0.75, 4.803, 5.29, 2.51),
      ("t08 cold", 0.688, 1.45, 5.09, 7.74, 2.43),
      ("t09 cold", 1.155, 3.37, 8.941, 12.15, 2.33),
      ("t13 cold", 0.978, 2.71, 11.975, 23.92, 2.09),
      ("t15 cold", 0.872, 2.66, 20.642, 28.16, 1.8),
      ("t16 warm", 0.318, 0.64, 9.363, 9.79, 1.46),
      ("t16 cold", 0.657, 1.66, 17.005, 17.69, 1.46),
      ("t17 cold", 1.621, 6.25, 41.32, 122.17, 2.57),
      ("t18 warm", 0.668, 0.99, 31.839, 42.67, 1.42),
      ("t19 cold", 5.054, 17.64, 53.096, 95.76, 1.37),
      ("t20 cold", 5.306, 17.84, 35.113, 53.49, 1.46),
      ("t32 warm", 0.223, 0.32, 0.625, 0.88, 1.3)
    )
    for ((name, rw, rc, w, c, l) <- confirmedByR12) {
      val v = Bench.confirmDrift(
        refWall = Some(rw), refCpu = Some(rc),
        recheckOk = true, recheckWall = w, recheckCpu = c,
        recheckLoad1 = l, captureLoad1Max = captureLoad1Max)
      assert(v != Confirmed, s"$name must not confirm under a contended capture")
    }
    // and each one that reproduced reads needs_rerun, not refuted — the
    // capture cannot EXONERATE a regression it cannot measure either
    val t20 = Bench.confirmDrift(
      refWall = Some(5.306), refCpu = Some(17.84),
      recheckOk = true, recheckWall = 35.113, recheckCpu = 53.49,
      recheckLoad1 = 1.46, captureLoad1Max = captureLoad1Max)
    assert(t20 == NeedsRerun)
  }

  /** The authoritative r12 round-close capture (load1_max 5.5 — the
    * suite's own work) sits UNDER the ceiling: a genuine regression
    * measured in such a capture still confirms. The ceiling must not
    * neuter the gate on clean runs. */
  test("suite's own load (5.5) stays under the ceiling; genuine regressions confirm") {
    assert(5.5 < Bench.Load1Ceiling)
    assert(Bench.confirmDrift(
      refWall = Some(1.0), refCpu = Some(12.0),
      recheckOk = true, recheckWall = 3.0, recheckCpu = 36.0,
      recheckLoad1 = 3.0, captureLoad1Max = 5.5) == Confirmed)
  }

  test("a contended RECHECK sample alone (capture otherwise quiet) also defers") {
    assert(Bench.confirmDrift(
      refWall = Some(1.0), refCpu = Some(12.0),
      recheckOk = true, recheckWall = 3.0, recheckCpu = 36.0,
      recheckLoad1 = 12.0, captureLoad1Max = 12.0) == NeedsRerun)
  }

  test("missing load telemetry (-1) cannot gate; the r12 rule decides") {
    assert(Bench.confirmDrift(
      refWall = Some(1.0), refCpu = Some(12.0),
      recheckOk = true, recheckWall = 3.0, recheckCpu = 36.0,
      recheckLoad1 = -1.0, captureLoad1Max = -1.0) == Confirmed)
  }

  // ---- the WIRING, not just the rule: Bench.adjudicate composes the
  // first-pass flag with the recheck verdict and routes needs_rerun ----

  private def row(
      name: String, warm: Double, cold: Double,
      drift: Boolean = false, coldDrift: Boolean = false,
      cpuWarm: Double = 1.0, cpuCold: Double = 1.0, cpuBest: Double = 1.0,
      load: Double = 1.5, ok: Boolean = true) =
    Bench.R(name, warm, cold, ok, 0L, 0L, drift, coldDrift,
      cpuWarm, cpuCold, cpuBest, load)

  test("adjudicate: confirmed, refuted and needs_rerun flags route to the right buckets") {
    val refs = Map(
      "q1" -> Bench.Ref(1.0, 2.0, Some(10.0), Some(20.0)),
      "q2" -> Bench.Ref(1.0, 2.0, Some(10.0), Some(20.0)),
      "q3" -> Bench.Ref(1.0, 2.0, Some(10.0), Some(20.0)))
    val fp = Seq(
      row("q1", 3.0, 2.0, drift = true), // recheck reproduces, quiet -> confirmed
      row("q2", 3.0, 2.0, drift = true), // recheck recovered -> refuted
      row("q3", 3.0, 2.0, drift = true), // reproduces but contended -> needs_rerun
      row("q4", 0.5, 1.0)) // never flagged -> untouched
    val rechecks = Map(
      "q1" -> row("q1", 2.9, 2.1, cpuBest = 25.0),
      "q2" -> row("q2", 1.0, 1.9, cpuBest = 25.0),
      "q3" -> row("q3", 2.9, 2.1, cpuBest = 25.0, load = 12.0))
    val out = Bench.adjudicate(fp, rechecks, refs, captureLoad1Max = 12.0)
      .map(a => a.r.name -> a).toMap
    // q3's contended sample raises the CAPTURE max, so q1's confirmation
    // also defers: under foreign load the whole capture cannot confirm
    assert(!out("q1").r.drift && out("q1").warmNeedsRerun,
      "a reproduced flag inside a contended capture must defer, not confirm")
    assert(!out("q2").r.drift && !out("q2").warmNeedsRerun, "recovered -> refuted")
    assert(!out("q3").r.drift && out("q3").warmNeedsRerun)
    assert(!out("q4").r.drift && !out("q4").warmNeedsRerun, "unflagged passes through")
    // on a QUIET capture the same q1 telemetry confirms
    val quiet = Bench.adjudicate(
      fp.take(1), rechecks.take(1).map { case (k, v) => k -> v }, refs, captureLoad1Max = 3.0)
    assert(quiet.head.r.drift && !quiet.head.warmNeedsRerun)
  }

  test("adjudicate: the steady-state wall is the min of first pass and recheck") {
    val fp = Seq(row("q1", 3.0, 5.0, drift = true))
    val rc = Map("q1" -> row("q1", 1.2, 2.5))
    val out = Bench.adjudicate(fp, rc, refs = Map.empty, captureLoad1Max = 1.5)
    assert(out.head.r.warm == 1.2 && out.head.r.cold == 2.5)
    // no reference row -> never flagged as confirmed regardless
    assert(!out.head.r.drift && !out.head.warmNeedsRerun)
  }

  test("adjudicate: a cold-leg flag is judged on the cold leg's own cpu") {
    val refs = Map("q1" -> Bench.Ref(1.0, 2.0, Some(10.0), Some(20.0)))
    val fp = Seq(row("q1", 0.5, 9.0, coldDrift = true))
    // recheck: cold wall reproduces (>2x ref cold), cold cpu FLAT
    // (starved) while the best-leg cpu is huge — the cold confirmation
    // must consult cpuCold, not cpuBest, so this refutes
    val rc = Map("q1" -> row("q1", 0.5, 8.8, cpuCold = 5.0, cpuBest = 99.0))
    val out = Bench.adjudicate(fp, rc, refs, captureLoad1Max = 1.5)
    assert(!out.head.r.coldDrift && !out.head.coldNeedsRerun)
  }

  private val refHeader = "query\twarm_s\tcold_s\tcpu_warm_s\tcpu_cold_s\n"

  private def withRefTable(body: String)(check: String => Unit): Unit = {
    val f = java.nio.file.Files.createTempFile("bench_ref", ".tsv")
    try {
      java.nio.file.Files.write(f, body.getBytes("UTF-8"))
      check(f.toString)
    } finally java.nio.file.Files.delete(f)
  }

  test("reference table: a full row and an empty cpu_cold_s cell read back as Refs") {
    withRefTable(refHeader +
        "d01_dedup_exact\t1.200\t2.800\t14.25\t30.10\n" +
        "q55_snapshot_timetravel\t0.953\t3.459\t3.47\t\n") { path =>
      assert(Bench.readRefs(path) == Map(
        "d01_dedup_exact" -> Bench.Ref(1.2, 2.8, Some(14.25), Some(30.1)),
        "q55_snapshot_timetravel" -> Bench.Ref(0.953, 3.459, Some(3.47), None)))
    }
  }

  test("reference table: a wrong field count, a non-number and a duplicate query fail naming the line") {
    val bad = Seq(
      "d01_dedup_exact\t1.2\t2.8\t14.25" -> "expected 5 tab-separated fields, found 4",
      "d01_dedup_exact\t1.2\tslow\t14.25\t30.1" -> "cold_s is not a number: 'slow'",
      "t01_text_stats\t0.5\t1.0\t\t" -> "duplicate query t01_text_stats")
    for ((row, why) <- bad)
      withRefTable(refHeader + "t01_text_stats\t0.4\t0.9\t\t\n" + row + "\n") { path =>
        val e = intercept[IllegalArgumentException](Bench.readRefs(path))
        assert(e.getMessage == s"$path:3: $why")
      }
  }

  test("reference table: the committed bench_ref.tsv parses and names only registered queries") {
    val refs = Bench.readRefs("bench_ref.tsv")
    assert(refs.nonEmpty)
    val unknown = refs.keySet -- graft.queries.Registry.queries.keySet
    assert(unknown.isEmpty, s"bench_ref.tsv rows name no registered query: $unknown")
  }

  test("reference table: missing file yields no references (no flags)") {
    assert(Bench.readRefs("/nonexistent/bench_ref.tsv").isEmpty)
  }

  test("contended marker: >10% refuted wobbles flags the capture, boundary and empty do not") {
    // r13 driver capture: 47+52 refuted wobbles over 159 queries — the
    // marker exists so downstream readers see that capture's first-pass
    // walls are untrustworthy without re-deriving it from per-row flags
    assert(Bench.isContended(refutedWobbles = 99, nQueries = 159))
    assert(Bench.isContended(refutedWobbles = 17, nQueries = 159))
    // exactly 10% is normal scheduler noise, not contention (strict >)
    assert(!Bench.isContended(refutedWobbles = 15, nQueries = 150))
    assert(Bench.isContended(refutedWobbles = 16, nQueries = 150))
    assert(!Bench.isContended(refutedWobbles = 0, nQueries = 159))
    // a subset run matching no queries must not divide by zero or flag
    assert(!Bench.isContended(refutedWobbles = 0, nQueries = 0))
  }

  test("cpuDiff surfaces unavailable telemetry as -1, never as zero own-work") {
    // on a JVM without com.sun.management, cpuS() is a constant -1.0;
    // a naive after-before would read 0.0 = "present, zero work" and
    // the own-CPU gate would silently refute every genuine regression
    assert(Bench.cpuDiff(-1.0, -1.0) == -1.0)
    assert(Bench.cpuDiff(-1.0, 5.0) == -1.0)
    assert(Bench.cpuDiff(5.0, -1.0) == -1.0)
    assert(Bench.cpuDiff(2.0, 7.5) == 5.5)
  }
}
