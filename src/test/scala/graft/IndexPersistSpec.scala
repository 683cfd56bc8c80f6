package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{AnnIvf, AnnPq, KMeans}
import graft.queries.LlmOps

/** Persisted index artifacts: every index the engine builds (k-means
  * model, IVF centroid set, PQ codebooks, d01 canonical table, d08
  * hash/band tables) must survive a parquet round-trip and reproduce the
  * SAME downstream output from the loaded artifact — byte-identical, not
  * approximately (the integer/IEEE-exact representations make this
  * checkable). This is the build-once/consume-forever split the 100 TB
  * pipeline runs; d16/d17/e13 gate the same round-trips under the DuckDB
  * oracles. */
class IndexPersistSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-spec-$tag-").toString

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private lazy val emb =
    Tables.embeddings(spark, TestSpark.sf001).select("vec_id", "embedding")

  test("KMeans model round-trips exactly and reassigns identically") {
    val model = KMeans.fit(spark, emb, k = 8, iters = 2)
    val dir = tmp("kmeans")
    KMeans.save(spark, model, dir)
    val loaded = KMeans.load(spark, dir)
    assert(loaded.k === model.k)
    assert(
      loaded.centroids.map(_.toSeq) === model.centroids.map(_.toSeq),
      "centroid longs must round-trip bit-exactly"
    )
    val orig = rowsOf(KMeans.assign(spark, emb, model).orderBy("vec_id"))
    val re = rowsOf(KMeans.assign(spark, emb, loaded).orderBy("vec_id"))
    assert(re === orig, "assignment from the loaded model must be identical")
  }

  test("IVF centroid set round-trips exactly and searches identically") {
    val queries = emb.filter(col("vec_id") < 10)
    val cs = AnnIvf.fit(spark, emb, nlist = 16)
    val dir = tmp("ivf")
    AnnIvf.saveCentroids(spark, cs, dir)
    val loaded = AnnIvf.loadCentroids(spark, dir)
    assert(
      loaded.map(_.toSeq) === cs.map(_.toSeq),
      "centroid doubles must round-trip bit-exactly (raw IEEE-754)"
    )
    val orig = rowsOf(AnnIvf.topKWith(spark, emb, queries, cs, k = 5, nprobe = 4))
    val re = rowsOf(AnnIvf.topKWith(spark, emb, queries, loaded, k = 5, nprobe = 4))
    assert(re === orig, "search against the loaded centroids must be identical")
    // and the fused topK (fit-in-plan) is the same plan as fit + topKWith
    val fused = rowsOf(AnnIvf.topK(spark, emb, queries, k = 5, nlist = 16, nprobe = 4))
    assert(fused === orig, "fit + topKWith must reproduce the fused topK")
  }

  test("PQ codebooks round-trip exactly; codes and search are identical") {
    val model = AnnPq.fit(spark, emb, subspaces = 4, subDim = 16, k = 16, iters = 1)
    val dir = tmp("pq")
    AnnPq.save(spark, model, dir)
    val loaded = AnnPq.load(spark, dir)
    assert(loaded.subspaces === model.subspaces)
    assert(loaded.subDim === model.subDim)
    (0 until model.subspaces).foreach { m =>
      assert(loaded.codebooks(m).k === model.codebooks(m).k)
      assert(
        loaded.codebooks(m).centroids.map(_.toSeq) ===
          model.codebooks(m).centroids.map(_.toSeq),
        s"subspace $m codebook must round-trip bit-exactly"
      )
    }
    val orig = rowsOf(AnnPq.codes(spark, emb, model).orderBy("vec_id"))
    val re = rowsOf(AnnPq.codes(spark, emb, loaded).orderBy("vec_id"))
    assert(re === orig, "codes from the loaded codebooks must be identical")
    val queries = emb.filter(col("vec_id") < 5)
    val s1 = rowsOf(AnnPq.topK(spark, emb, queries, model, k = 5, shortlist = 50))
    val s2 = rowsOf(AnnPq.topK(spark, emb, queries, loaded, k = 5, shortlist = 50))
    assert(s2 === s1, "PQ search from the loaded codebooks must be identical")
  }

  test("canonical table round-trips and regenerates d02's exact pair list") {
    val docs = Tables.documents(spark, TestSpark.sf001)
    val dir = tmp("canonical")
    LlmOps.canonicalTable(docs).write.mode("overwrite").parquet(dir)
    val fromArtifact = rowsOf(
      LlmOps
        .minhashPairsFromCanonical(spark.read.parquet(dir))
        .orderBy("doc_a", "doc_b")
    )
    val fused = rowsOf(LlmOps.d02.run(spark, TestSpark.sf001))
    assert(fromArtifact === fused, "pairs from the loaded canonical table must match d02")
  }

  test("dedup index round-trips and reproduces d08's exact admission verdict") {
    val tagged = Tables
      .documents(spark, TestSpark.sf001)
      .select(
        col("doc_id"),
        col("text"),
        substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1").as("is_batch")
      )
    val (hash, bands) = LlmOps.dedupIndexOf(tagged.filter(!col("is_batch")))
    val dir = tmp("dedup-index")
    LlmOps.saveDedupIndex(hash, bands, dir)
    val (lHash, lBands) = LlmOps.loadDedupIndex(spark, dir)
    val fromArtifact = rowsOf(
      LlmOps.incrementalDedupAgainst(tagged.filter(col("is_batch")), lHash, lBands)
    )
    val fused = rowsOf(LlmOps.d08.run(spark, TestSpark.sf001))
    assert(fromArtifact === fused, "verdict from the loaded index must match d08")
    // the verdict actually exercises both tables: some batch doc is flagged
    val flagged = fromArtifact.count(r => r.contains("true"))
    assert(flagged > 0, "expected at least one dup flag in the batch at sf0.01")
  }

  test("ingest loop: admit, append kept docs, recrawled copies are then rejected") {
    // The full production cycle over the artifact: build -> admit batch 1
    // -> APPEND its kept docs (incremental maintenance, no rebuild) ->
    // a later batch recrawling the same content is now flagged dup.
    val tagged = Tables
      .documents(spark, TestSpark.sf001)
      .select(
        col("doc_id"),
        col("text"),
        substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1").as("is_batch")
      )
    val dir = tmp("ingest-loop")
    val (hash, bands) = LlmOps.dedupIndexOf(tagged.filter(!col("is_batch")))
    LlmOps.saveDedupIndex(hash, bands, dir)
    val batch1 = tagged.filter(col("is_batch")).select("doc_id", "text")
    val (h1, b1) = LlmOps.loadDedupIndex(spark, dir)
    val verdict1 = LlmOps.incrementalDedupAgainst(batch1, h1, b1)
    // LANDED before the append — the production ingest shape (accepted
    // docs hit the corpus store anyway; the index append consumes the
    // landed copy). The unlanded path is exercised by the next test.
    batch1
      .join(verdict1.filter(col("keep")).select("doc_id"), "doc_id")
      .write.mode("overwrite").parquet(s"$dir-landed")
    val kept = spark.read.parquet(s"$dir-landed")
    val nKept = kept.count()
    assert(nKept > 0, "expected some admitted docs at sf0.01")
    LlmOps.appendDedupIndex(kept, dir)
    // batch 2 = the admitted content recrawled under fresh ids
    val batch2 = kept.select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    val (h2, b2) = LlmOps.loadDedupIndex(spark, dir)
    val verdict2 = LlmOps.incrementalDedupAgainst(batch2, h2, b2).collect()
    assert(verdict2.length == nKept)
    assert(
      verdict2.forall(r => r.getAs[Boolean]("dup_exact") && !r.getAs[Boolean]("keep")),
      "every recrawled copy must be rejected by the appended index"
    )
    // and the index is now saturated for batch 1 itself: every doc either
    // matched the corpus before, or matches its own appended entry now
    val verdict1Again = LlmOps.incrementalDedupAgainst(batch1, h2, b2).collect()
    assert(verdict1Again.forall(!_.getAs[Boolean]("keep")))
  }

  test("appendDedupIndex survives an UNLANDED admitted frame (read-modify-write)") {
    // The trap: an admitted set still LAZILY derived from a read of the
    // very index files the append mutates. Without the API's eager
    // localCheckpoint, the append re-lists the mutated files mid-write
    // (recacheByPath), re-runs the verdict, and silently appends an
    // EMPTY set. This pins the in-API materialization.
    val docs = Tables.documents(spark, TestSpark.sf001).select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 =!= 0)
    val dir = tmp("rmw")
    val (hash, bands) = LlmOps.dedupIndexOf(corpus)
    LlmOps.saveDedupIndex(hash, bands, dir)
    val (h1, b1) = LlmOps.loadDedupIndex(spark, dir)
    // UNLANDED: kept's plan reads dir/hash + dir/bands
    val kept = batch.join(
      LlmOps.incrementalDedupAgainst(batch, h1, b1).filter(col("keep")).select("doc_id"),
      "doc_id"
    )
    val nKept = kept.count()
    assert(nKept > 0)
    LlmOps.appendDedupIndex(kept, dir)
    // recrawled copies of the admitted docs must now be rejected — which
    // can only happen if the append actually wrote their entries
    val recrawl = kept.select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
      .localCheckpoint(true)
    val (h2, b2) = LlmOps.loadDedupIndex(spark, dir)
    val v = LlmOps.incrementalDedupAgainst(recrawl, h2, b2).collect()
    assert(v.length == nKept)
    assert(v.forall(r => r.getAs[Boolean]("dup_exact") && !r.getAs[Boolean]("keep")),
      "append from the unlanded frame lost entries — in-API materialization broken")

    // compaction: same verdicts, fewer-or-equal hash rows, deduped ths
    val before = h2.count()
    LlmOps.compactDedupIndex(spark, dir)
    val (h3, b3) = LlmOps.loadDedupIndex(spark, dir)
    val after = h3.count()
    assert(after <= before)
    assert(after == h3.distinct().count(), "compaction left duplicate hash rows")
    val vc = LlmOps.incrementalDedupAgainst(recrawl, h3, b3).collect()
    assert(vc.map(_.toString).sorted.toSeq == v.map(_.toString).sorted.toSeq,
      "compaction changed admission verdicts")
    // compaction's GC must retire the superseded snapshot: exactly one
    // manifest left at the root, exactly one compact-v* dir per table
    val manifests = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("manifest.v"))
    assert(manifests.length == 1, s"GC left stale manifests: ${manifests.mkString(", ")}")
    for (t <- Seq("hash", "bands")) {
      val dirs = new java.io.File(s"$dir/data/$t").listFiles().map(_.getName)
      assert(dirs.length == 1 && dirs.head.startsWith("compact-v"),
        s"GC left retired $t dirs: ${dirs.mkString(", ")}")
    }
  }

  // ---- manifest validation: stale / foreign / mutated artifacts are ----
  // ---- rejected with typed errors across all four artifact families ----

  import graft.operators.ArtifactManifest

  private def manifestFile(dir: String) = new java.io.File(dir, "_graft_manifest")

  private def doctorManifest(dir: String, field: String, value: String): Unit = {
    val f = manifestFile(dir)
    val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq
    val out = lines.map(l => if (l.startsWith(s"$field=")) s"$field=$value" else l)
    Files.write(f.toPath, out.mkString("", "\n", "\n").getBytes("UTF-8"))
    // the local Hadoop FS checksums its own writes; an out-of-band edit
    // must drop the stale CRC or the read fails on checksum, not content
    new java.io.File(dir, "._graft_manifest.crc").delete(): Unit
  }

  test("unversioned artifacts (no manifest — interrupted save or foreign dir) refuse to load") {
    val km = KMeans.fit(spark, emb, k = 4, iters = 1)
    val kmDir = tmp("mf-missing-km"); KMeans.save(spark, km, kmDir)
    assert(manifestFile(kmDir).delete())
    intercept[ArtifactManifest.Missing] { KMeans.load(spark, kmDir) }

    val ivfDir = tmp("mf-missing-ivf"); AnnIvf.saveCentroids(spark, AnnIvf.fit(spark, emb, nlist = 4), ivfDir)
    assert(manifestFile(ivfDir).delete())
    intercept[ArtifactManifest.Missing] { AnnIvf.loadCentroids(spark, ivfDir) }

    val pq = AnnPq.fit(spark, emb, subspaces = 2, subDim = 32, k = 4, iters = 1)
    val pqDir = tmp("mf-missing-pq"); AnnPq.save(spark, pq, pqDir)
    assert(manifestFile(pqDir).delete())
    intercept[ArtifactManifest.Missing] { AnnPq.load(spark, pqDir) }

    // the dedup index versions through the snapshot log — "unversioned"
    // there means NO checksum-valid manifest file at all
    val (h, b) = LlmOps.dedupIndexOf(Tables.documents(spark, TestSpark.sf001))
    val ddDir = tmp("mf-missing-dd"); LlmOps.saveDedupIndex(h, b, ddDir)
    new java.io.File(ddDir).listFiles()
      .filter(_.getName.startsWith("manifest.v"))
      .foreach(f => assert(f.delete()))
    intercept[ArtifactManifest.Missing] { LlmOps.loadDedupIndex(spark, ddDir) }
  }

  test("an artifact of the wrong family fails on kind, not on a shape coincidence") {
    // a KMeans model dir handed to the IVF loader: both are
    // (cluster, centroid) parquet — without the manifest this LOADS and
    // probes garbage (long centroids read as doubles)
    val kmDir = tmp("mf-kind")
    KMeans.save(spark, KMeans.fit(spark, emb, k = 4, iters = 1), kmDir)
    val e = intercept[ArtifactManifest.Mismatch] { AnnIvf.loadCentroids(spark, kmDir) }
    assert(e.field == "kind")
  }

  test("a stale format_version is rejected before any data is read") {
    val dir = tmp("mf-version")
    KMeans.save(spark, KMeans.fit(spark, emb, k = 4, iters = 1), dir)
    doctorManifest(dir, "format_version", "0")
    val e = intercept[ArtifactManifest.Mismatch] { KMeans.load(spark, dir) }
    assert(e.field == "format_version")
  }

  test("structural params are verified against the loaded content, not just echoed") {
    // manifest says k=7, table holds 4 centroids — the artifact was
    // mutated (or mixed) after save
    val kmDir = tmp("mf-k")
    KMeans.save(spark, KMeans.fit(spark, emb, k = 4, iters = 1), kmDir)
    doctorManifest(kmDir, "k", "7")
    assert(intercept[ArtifactManifest.Mismatch] { KMeans.load(spark, kmDir) }.field == "k")

    val pqDir = tmp("mf-subdim")
    AnnPq.save(spark, AnnPq.fit(spark, emb, subspaces = 2, subDim = 32, k = 4, iters = 1), pqDir)
    doctorManifest(pqDir, "sub_dim", "16")
    assert(intercept[ArtifactManifest.Mismatch] { AnnPq.load(spark, pqDir) }.field == "sub_dim")
  }

  test("DSIR LM pair round-trips byte-identically; a mutated vocabulary is rejected") {
    // the loaded pair reproduces the in-plan selection exactly (the t24
    // contract, here at the smoke tier)
    val sel23 = SparkEntry.queries("t23_dsir_select")(spark, TestSpark.sf0001)
      .collect().map(_.toSeq).toSeq
    val sel24 = SparkEntry.queries("t24_dsir_persisted")(spark, TestSpark.sf0001)
      .collect().map(_.toSeq).toSeq
    assert(sel24 === sel23, "selection from the loaded LM pair must equal the in-plan selection")

    val f = LlmOps.dsirOccurrences(spark, TestSpark.sf0001)
    val dir = tmp("mf-dsir")
    LlmOps.saveDsirLmPair(LlmOps.dsirLmPairOf(f), dir)
    LlmOps.loadDsirLmPair(spark, dir): Unit // pristine artifact loads
    // a vocabulary mutated after the manifest committed (here: duplicate
    // count rows appended — same failure class as lost rows) contradicts
    // the recomputed vocab_rows/totals and refuses to load
    spark.read.parquet(dir).limit(7).write.mode("append").parquet(dir)
    val e = intercept[ArtifactManifest.Mismatch] { LlmOps.loadDsirLmPair(spark, dir) }
    assert(Set("vocab_rows", "raw_tokens", "target_tokens").contains(e.field))
    // and the pair is its own family: the unigram-LM loader fails on kind
    val dir2 = tmp("mf-dsir-kind")
    LlmOps.saveDsirLmPair(LlmOps.dsirLmPairOf(f), dir2)
    assert(intercept[ArtifactManifest.Mismatch] {
      LlmOps.loadUnigramLm(spark, dir2)
    }.field == "kind")
  }

  test("bigram LM round-trips byte-identically; a mutated count table is rejected") {
    // the loaded count table reproduces the in-plan scores exactly (the
    // t26 contract at the smoke tier)
    val s25 = SparkEntry.queries("t25_bigram_nll")(spark, TestSpark.sf0001)
      .collect().map(_.toSeq).toSeq
    val s26 = SparkEntry.queries("t26_bigram_nll_persisted")(spark, TestSpark.sf0001)
      .collect().map(_.toSeq).toSeq
    assert(s26 === s25, "scores from the loaded bigram LM must equal the in-plan scores")

    import org.apache.spark.sql.functions.col
    val tk = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), LlmOps.tokensCol(col("text")).as("t"))
    val dir = tmp("mf-bigram")
    LlmOps.saveBigramLm(LlmOps.bigramLmCountsOf(tk), dir)
    LlmOps.loadBigramLm(spark, dir) // pristine artifact loads
    // count rows mutated after the manifest committed contradict the
    // recomputed totals and refuse to load
    spark.read.parquet(dir).limit(7).write.mode("append").parquet(dir)
    val e = intercept[ArtifactManifest.Mismatch] { LlmOps.loadBigramLm(spark, dir) }
    assert(Set("total_tokens", "vocab_rows", "bigram_rows").contains(e.field))
    // its own family: the unigram-LM loader fails on kind
    val dir2 = tmp("mf-bigram-kind")
    LlmOps.saveBigramLm(LlmOps.bigramLmCountsOf(tk), dir2)
    assert(intercept[ArtifactManifest.Mismatch] {
      LlmOps.loadUnigramLm(spark, dir2)
    }.field == "kind")
  }

  test("a dedup index whose tables contradict the manifest (mutated committed dir) is rejected") {
    val docs = Tables.documents(spark, TestSpark.sf001).select("doc_id", "text")
    val (h, b) = LlmOps.dedupIndexOf(docs.filter(col("doc_id") % 2 === 0))
    val dir = tmp("mf-halfappend")
    LlmOps.saveDedupIndex(h, b, dir)
    // a torn APPEND can't produce this state anymore (its dirs are
    // unreferenced and invisible) — what this guards now is out-of-band
    // mutation of a COMMITTED directory: rows injected into the base
    // data dir after its manifest committed contradict the recorded count
    h.limit(5).write.mode("append").parquet(s"$dir/data/hash/base-v1")
    val e = intercept[ArtifactManifest.Mismatch] { LlmOps.loadDedupIndex(spark, dir) }
    assert(e.field == "hash_rows")
    // recovery is any re-commit over the polluted dir (here an append):
    // the new snapshot recounts the referenced directories as they ARE,
    // and admission tolerates the duplicate rows by construction
    LlmOps.appendDedupIndex(docs.filter(col("doc_id") % 2 =!= 0).localCheckpoint(true), dir)
    val (h2, b2) = LlmOps.loadDedupIndex(spark, dir)
    assert(h2.count() > 0 && b2.count() > 0)
  }

  test("footer row count equals Spark's count over _SUCCESS, .crc, multi-file and empty writes, with no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    val base = tmp("footer-count")
    docs.repartition(3).write.parquet(s"$base/multi")
    docs.limit(4).coalesce(1).write.parquet(s"$base/one")
    docs.limit(0).write.parquet(s"$base/empty")
    val dirs = Seq("multi", "one", "empty").map(d => s"$base/$d")
    val names = dirs.flatMap(d => new java.io.File(d).list().toSeq)
    assert(names.contains("_SUCCESS") && names.exists(n => n.startsWith(".") && n.endsWith(".crc")),
      s"the directories must hold the files the count skips: $names")
    assert(new java.io.File(s"$base/multi").list().count(_.endsWith(".parquet")) >= 3)
    val want = spark.read.parquet(dirs: _*).count()

    // jobs submitted under this thread's probe property; the marker job,
    // delivered after any job of the count, ends the wait
    val probe = "graft.test.footerProbe"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(probe))).foreach(seen.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(probe, "count")
      val got = ArtifactManifest.tableRows(spark, dirs: _*)
      sc.setLocalProperty(probe, "marker")
      spark.range(1).count()
      val deadline = System.currentTimeMillis() + 10000
      while (!seen.contains("marker") && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(seen.contains("marker"), "the listener never saw the marker job")
      assert(got == want && want > 0, s"footer count $got, Spark count $want")
      assert(!seen.contains("count"), "the footer count submitted a Spark job")
    } finally {
      sc.setLocalProperty(probe, null)
      sc.removeSparkListener(listener)
    }
  }

  test("a truncated part file in a referenced dir fails the load and the commit, never counts as 0 rows") {
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    val (h, b) = LlmOps.dedupIndexOf(docs.filter(col("doc_id") % 2 === 0))
    val dir = tmp("mf-truncated")
    LlmOps.saveDedupIndex(h, b, dir)
    val part = new java.io.File(s"$dir/data/bands/base-v1").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val bytes = Files.readAllBytes(part.toPath)
    Files.write(part.toPath, bytes.take(bytes.length / 2))
    new java.io.File(part.getParent, s".${part.getName}.crc").delete(): Unit
    def namesPart(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains(part.getName)))
    val load = intercept[Exception] { LlmOps.loadDedupIndex(spark, dir) }
    assert(!load.isInstanceOf[ArtifactManifest.Mismatch] && namesPart(load),
      s"the load must fail on the unreadable footer, not on a count: $load")
    // a re-commit over the directory recounts it: it must refuse too,
    // not record the truncated file as zero rows
    val commit = intercept[Exception] {
      LlmOps.appendDedupIndex(docs.filter(col("doc_id") % 2 =!= 0), dir)
    }
    assert(namesPart(commit), s"the commit must fail on the unreadable footer: $commit")
    assert(new java.io.File(dir).list().count(_.startsWith("manifest.v")) == 1,
      "no snapshot may commit over the truncated file")
  }

  test("snapshot log: orphan data dirs are invisible at load and retired by compaction's GC") {
    val docs = Tables.documents(spark, TestSpark.sf001).select("doc_id", "text")
    val (h, b) = LlmOps.dedupIndexOf(docs.filter(col("doc_id") % 4 === 0))
    val dir = tmp("snap-orphan")
    LlmOps.saveDedupIndex(h, b, dir)
    val (h1, _) = LlmOps.loadDedupIndex(spark, dir)
    val n1 = h1.count()
    // a crashed writer's leftovers: fully-written but never-committed dirs
    h.limit(3).write.parquet(s"$dir/data/hash/batch-7")
    b.limit(3).write.parquet(s"$dir/data/bands/batch-7")
    val (h2, b2) = LlmOps.loadDedupIndex(spark, dir)
    assert(h2.count() == n1, "orphan dir rows leaked into the loaded hash table")
    assert(b2.count() == b.count(), "orphan dir rows leaked into the loaded band table")
    LlmOps.compactDedupIndex(spark, dir)
    val hashDirs = new java.io.File(s"$dir/data/hash").listFiles().map(_.getName)
    assert(!hashDirs.contains("batch-7"), "GC left the orphan dir behind")
    val (h3, _) = LlmOps.loadDedupIndex(spark, dir)
    assert(h3.count() == n1)
  }
}
