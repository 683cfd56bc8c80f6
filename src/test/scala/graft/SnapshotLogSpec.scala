package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{ArtifactManifest, SnapshotLog => L}

/** Unit pins for the generic versioned-manifest layer itself — the dedup
  * index specs cover it end-to-end through one artifact family; these pin
  * the commit/visibility/GC contract any future mutable artifact family
  * inherits.
  */
class SnapshotLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"snaplog-$tag").toString

  private def writeDir(root: String, table: String, tag: String, n: Int): Unit = {
    import spark.implicits._
    (1 to n).toDF("v").write.mode("overwrite").parquet(L.dataDir(root, table, tag))
  }

  private def readRows(snap: L.Snapshot, root: String, table: String): Long =
    spark.read.parquet(snap.dirs(root, table): _*).count()

  test("commit/current round trip: tables, props, and version advance") {
    val root = tmp("roundtrip")
    writeDir(root, "a", "base-v1", 3)
    L.commit(spark, root, "k1", 1, Map("a" -> Seq("base-v1")), Map("p" -> "x"))
    val s1 = L.current(spark, root, "k1")
    assert(s1.version == 1 && s1.props("p") == "x")
    assert(readRows(s1, root, "a") == 3)
    // append a second dir under version 2; version 1 stays readable until GC
    writeDir(root, "a", "app-v2", 2)
    assert(L.nextVersion(spark, root) == 2)
    L.commit(spark, root, "k1", 2, Map("a" -> Seq("base-v1", "app-v2")), Map("p" -> "y"))
    val s2 = L.current(spark, root, "k1")
    assert(s2.version == 2 && readRows(s2, root, "a") == 5)
  }

  test("a torn manifest is invisible; the highest VALID version serves") {
    val root = tmp("torn")
    writeDir(root, "a", "base-v1", 4)
    L.commit(spark, root, "k1", 1, Map("a" -> Seq("base-v1")), Map.empty)
    // a crashed commit's leftovers: garbage bytes at a higher version
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "manifest.v7"),
      "kind=k1\nnever-finished".getBytes("UTF-8"))
    val s = L.current(spark, root, "k1")
    assert(s.version == 1, "torn v7 must not serve")
    // and the next writer must NOT reuse the torn number
    assert(L.nextVersion(spark, root) == 8)
  }

  test("no valid manifest throws Missing; wrong family throws on kind") {
    val root = tmp("missing")
    intercept[ArtifactManifest.Missing] { L.current(spark, root, "k1") }
    writeDir(root, "a", "base-v1", 1)
    L.commit(spark, root, "k1", 1, Map("a" -> Seq("base-v1")), Map.empty)
    assert(intercept[ArtifactManifest.Mismatch] {
      L.current(spark, root, "other-kind")
    }.field == "kind")
  }

  test("gc retires unreferenced dirs, superseded manifests, and torn files") {
    val root = tmp("gc")
    writeDir(root, "a", "base-v1", 3)
    L.commit(spark, root, "k1", 1, Map("a" -> Seq("base-v1")), Map.empty)
    writeDir(root, "a", "compact-v2", 3)
    // orphan from a crashed writer + torn higher manifest
    writeDir(root, "a", "batch-9", 2)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "manifest.v9"), "junk".getBytes("UTF-8"))
    L.commit(spark, root, "k1", L.nextVersion(spark, root), Map("a" -> Seq("compact-v2")), Map.empty)
    L.gc(spark, root, "k1")
    val dirs = new java.io.File(s"$root/data/a").listFiles().map(_.getName).toSet
    assert(dirs == Set("compact-v2"), s"gc left $dirs")
    val manifests = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("manifest.v")).toSet
    assert(manifests.size == 1, s"gc left $manifests")
    assert(readRows(L.current(spark, root, "k1"), root, "a") == 3)
  }

  test("gc retain=N: a reader up to N-1 compactions behind stays resolvable") {
    val root = tmp("retain")
    writeDir(root, "a", "base-v1", 3)
    L.commit(spark, root, "k1", 1, Map("a" -> Seq("base-v1")), Map.empty)
    val reader = L.current(spark, root, "k1") // a concurrent reader resolves v1...
    writeDir(root, "a", "delta-v2", 2)
    // v2 appends: base-v1 is SHARED between the retained snapshots
    L.commit(spark, root, "k1", 2, Map("a" -> Seq("base-v1", "delta-v2")), Map.empty)
    L.gc(spark, root, "k1", retain = 2)
    // ...and one compaction later its directories are still on disk
    assert(readRows(reader, root, "a") == 3, "retained reader lost its dirs")
    assert(L.current(spark, root, "k1").version == 2)
    // v3 compacts everything into one dir; retain=2 now drops v1 and,
    // with it, base-v1/delta-v2 (still referenced by retained v2 — kept),
    // then a fourth commit pushes v2 out and its dirs go too
    writeDir(root, "a", "compact-v3", 5)
    L.commit(spark, root, "k1", 3, Map("a" -> Seq("compact-v3")), Map.empty)
    L.gc(spark, root, "k1", retain = 2)
    val dirs3 = new java.io.File(s"$root/data/a").listFiles().map(_.getName).toSet
    assert(dirs3 == Set("base-v1", "delta-v2", "compact-v3"),
      s"union liveness across the window broken: $dirs3")
    writeDir(root, "a", "compact-v4", 6)
    L.commit(spark, root, "k1", 4, Map("a" -> Seq("compact-v4")), Map.empty)
    L.gc(spark, root, "k1", retain = 2)
    val dirs4 = new java.io.File(s"$root/data/a").listFiles().map(_.getName).toSet
    assert(dirs4 == Set("compact-v3", "compact-v4"), s"eviction broken: $dirs4")
    val manifests = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("manifest.v")).toSet
    assert(manifests == Set("manifest.v3", "manifest.v4"), s"gc left $manifests")
    intercept[IllegalArgumentException] { L.gc(spark, root, "k1", retain = 0) }
  }

  test("gc keeps a torn manifest above the retained window; its version stays burned") {
    val root = tmp("tornhigh")
    writeDir(root, "a", "base-v1", 2)
    L.commit(spark, root, "k1", 1, Map("a" -> Seq("base-v1")), Map.empty)
    // a crashed IN-FLIGHT commit one version above current: gc must not
    // delete it — nextVersion counts torn files precisely so a burned
    // number is never reused (a reader that cached "v2 is invalid" would
    // skip the real commit; object stores negative-cache the key)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "manifest.v2"), "junk".getBytes("UTF-8"))
    L.gc(spark, root, "k1")
    val manifests = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("manifest.v")).toSet
    assert(manifests == Set("manifest.v1", "manifest.v2"), s"gc broke monotonicity: $manifests")
    assert(L.nextVersion(spark, root) == 3, "torn version number was un-burned")
    // the torn file is still invisible to readers
    assert(L.current(spark, root, "k1").version == 1)
  }

  test("Cached reader: one-listing staleness probe, reload on commit, torn-above re-probe") {
    val root = tmp("cached")
    writeDir(root, "a", "v1", 2)
    L.commit(spark, root, "k1", 1, Map("a" -> Seq("v1")), Map.empty)
    var builds = 0
    val reader = new L.Cached[Long](root, "k1", (s, snap) => {
      builds += 1
      s.read.parquet(snap.dirs(root, "a"): _*).count()
    })
    assert(reader.get(spark) == 2 && builds == 1)
    // unchanged artifact: served from cache, no rebuild
    assert(reader.get(spark) == 2 && builds == 1)
    // a new commit re-keys the cache at the next get — no restart needed
    writeDir(root, "a", "v2", 3)
    L.commit(spark, root, "k1", 2, Map("a" -> Seq("v2")), Map.empty)
    assert(reader.get(spark) == 3 && builds == 2)
    // a torn file ABOVE the valid version: the reader re-probes (the cache
    // key is the highest PRESENT version) but still resolves the valid
    // snapshot — torn commits are invisible, never an error, and the
    // writer's retry at a higher number re-keys the cache normally
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "manifest.v5"), "junk".getBytes("UTF-8"))
    assert(reader.get(spark) == 3 && builds == 3)
    assert(reader.get(spark) == 3 && builds == 3, "torn key must cache, not re-build per call")
  }

  test("time travel: at() resolves exact versions; typed errors on missing/torn/GC'd") {
    val root = tmp("tt")
    L.commit(spark, root, "k1", 1, Map("a" -> Seq("g1")), Map("rows" -> "10"))
    L.commit(spark, root, "k1", 2, Map("a" -> Seq("g1", "g2")), Map("rows" -> "20"))
    assert(L.at(spark, root, "k1", 1).props("rows") == "10")
    assert(L.at(spark, root, "k1", 2) == L.current(spark, root, "k1"),
      "at(latest) must equal current()")
    // never committed
    intercept[graft.operators.ArtifactManifest.Missing] { L.at(spark, root, "k1", 7) }
    // torn: the commit never happened — at() must say so, not fall back
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "manifest.v3"), "junk".getBytes("UTF-8"))
    intercept[IllegalStateException] { L.at(spark, root, "k1", 3) }
    // history: valid commits only, oldest first; the torn v3 is absent
    assert(L.history(spark, root, "k1").map(_.version) == Seq(1, 2))
    // GC'd versions disappear from both surfaces
    L.commit(spark, root, "k1", 4, Map("a" -> Seq("g1", "g2")), Map.empty)
    L.gc(spark, root, "k1", retain = 1)
    intercept[graft.operators.ArtifactManifest.Missing] { L.at(spark, root, "k1", 1) }
    assert(L.history(spark, root, "k1").map(_.version) == Seq(4))
  }

  test("history() on a typo'd kind raises the at() mismatch, not an empty seq") {
    val root = tmp("hk")
    L.commit(spark, root, "k1", 1, Map("a" -> Seq("g1")), Map.empty)
    // valid manifests exist but none match: caller error, loud failure
    intercept[graft.operators.ArtifactManifest.Mismatch] {
      L.history(spark, root, "typo-kind")
    }
    // a root with NO valid manifests at all is genuinely empty history
    assert(L.history(spark, tmp("hk-empty"), "k1").isEmpty)
  }

  test("newlines in kind, table names, and tags are rejected at commit") {
    val root = tmp("badnl")
    // each would split the line-oriented body — and the checksum, computed
    // over the corrupted text, would still validate: silent wrong tables
    intercept[IllegalArgumentException] {
      L.commit(spark, root, "k\n1", 1, Map("a" -> Seq("x")), Map.empty)
    }
    intercept[IllegalArgumentException] {
      L.commit(spark, root, "k1", 1, Map("a\nb" -> Seq("x")), Map.empty)
    }
    intercept[IllegalArgumentException] {
      L.commit(spark, root, "k1", 1, Map("a" -> Seq("x\ny")), Map.empty)
    }
  }

  test("tags that would corrupt the serialization are rejected at commit") {
    val root = tmp("badtag")
    intercept[IllegalArgumentException] {
      L.commit(spark, root, "k1", 1, Map("a" -> Seq("x,y")), Map.empty)
    }
    intercept[IllegalArgumentException] {
      L.commit(spark, root, "k1", 1, Map("a=b" -> Seq("x")), Map.empty)
    }
    // props share the line format: a "checksum" key would mark the
    // committed version torn, a "table." key round-trips as a phantom
    // table, newlines split fields
    for (bad <- Seq(
        Map("checksum" -> "x"), Map("snapshot_version" -> "9"),
        Map("table.a" -> "x"), Map("k=v" -> "x"), Map("k" -> "a\nb"))) {
      intercept[IllegalArgumentException] {
        L.commit(spark, root, "k1", 1, Map("a" -> Seq("x")), bad)
      }
    }
  }

  test("replay gate: skip, run, refuse below the mark, refuse a committed tag — both markers") {
    for ((marker, other) <- Seq("last_batch" -> "last_drain", "last_drain" -> "last_batch")) {
      val noun = marker.stripPrefix("last_")
      // the other writer's marker sits far above: it must not gate this one
      val snap = L.Snapshot(4, Map("t" -> Seq(s"$noun-5", s"$noun-9")),
        Map(marker -> "5", other -> "100"))
      val fresh = L.Snapshot(0, Map.empty, Map.empty)
      val cases: Seq[(L.Snapshot, Long, Either[String, Boolean])] = Seq(
        (snap, 5L, Right(false)), // the marker id: committed, skip
        (snap, 6L, Right(true)), // next id: run
        (fresh, 0L, Right(true)), // a fresh root runs any id
        (snap, 4L, Left("high-water mark")), // below the mark: refused
        (snap, 9L, Left("already committed")) // above the mark, tag listed: refused
      )
      for ((sn, id, want) <- cases) {
        val got =
          try Right(L.replayGate(sn, "/idx", "test index", marker, id, Some(s"$noun-$id")))
          catch { case e: IllegalArgumentException => Left(e.getMessage) }
        (want, got) match {
          case (Left(part), Left(msg)) =>
            assert(msg.contains(part) && msg.contains("test index at /idx"), s"$marker id $id: $msg")
          case _ => assert(got == want, s"$marker id $id")
        }
      }
    }
  }

  test("Cached writer half: the probe prices the next commit; committed installs it") {
    val root = tmp("cached-writer")
    L.commit(spark, root, "k1", 1, Map.empty, Map("n" -> "1"))
    // a torn file burns version 2: the next commit must use 3
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "manifest.v2"), "junk".getBytes("UTF-8"))
    var builds = 0
    val cache = new L.Cached[String](root, "k1", (_, sn) => { builds += 1; sn.props("n") },
      keepOnCommit = true)
    val (s1, t1) = cache.resolve(spark)
    assert(s1.version == 1 && t1 == "1" && cache.nextVersion == 3)
    val s3 = L.commit(spark, root, "k1", cache.nextVersion, Map.empty, Map("n" -> "3"))
    cache.committed(spark, s3)
    // installed: served without a rebuild, and the kept value survives
    val (sn, t) = cache.resolve(spark)
    assert(sn == s3 && t == "1" && builds == 1 && cache.nextVersion == 4)
  }

  test("a commit's marker carry refuses a root of another kind instead of re-kinding it") {
    import spark.implicits._
    val root = tmp("rekind")
    L.commit(spark, root, "k1", 1, Map.empty, Map("last_batch" -> "3"))
    val (hash, bands) = graft.queries.LlmOps.dedupIndexOf(
      Seq((1L, "alpha beta gamma")).toDF("doc_id", "text"))
    intercept[ArtifactManifest.Mismatch] {
      graft.queries.LlmOps.saveDedupIndex(hash, bands, root)
    }
    assert(L.current(spark, root, "k1").props("last_batch") == "3")
    assert(L.latestVersion(spark, root) == 1, "the refused save still committed a manifest")
  }
}
