package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Approximate nearest-neighbor search via IVF-Flat (inverted file with
  * exact rescoring) — the coarse-quantization scale path beside LSH
  * (AnnLsh) and the brute-force baseline (LlmOps e01).
  *
  * Index build (linear, one shuffle for the k-means step):
  *   1. seed `nlist` centroids deterministically (smallest xxhash64 of
  *      vec_id — spread, reproducible);
  *   2. one Lloyd refinement: assign every vector to its nearest seed
  *      with a compiled argmax over literal centroid arrays (no shuffle),
  *      then per-cluster mean per dimension (posexplode + grouped avg —
  *      the e03 centroid kernel, map-side-combinable);
  *   3. final assignment against the refined centroids (again compiled,
  *      shuffle-free).
  *
  * Query: each query probes its `nprobe` nearest clusters; candidates are
  * an equi-join on cluster id (shuffles ~nprobe/nlist of the corpus, not
  * all of it); exact cosine rescoring + top-k window over candidates only.
  * The per-qid window ranks probed-cluster MEMBERS, so its partition size
  * is ~nprobe·N/nlist — size `nlist` with the corpus (the standard ~√N
  * rule) to keep that bounded; at fixed nlist a 100× corpus would hand
  * each qid a 100× candidate partition, the hot-reducer shape the
  * exact-kernel paths (topCCandidates) exist to avoid.
  *
  * Centroids are metadata-sized (nlist x dim doubles) — collected to the
  * driver and shipped into the compiled scorer as ONE nested-array
  * literal (cosine_top_clusters), so generated-code size is constant in
  * nlist (the inlined-per-centroid form broke codegen past a few hundred
  * lists) and the matrix is scale-independent of the corpus.
  */
object AnnIvf {

  /** The `topn` nearest clusters by cosine (descending, ties to the
    * higher id) as ONE compiled kernel call with the whole centroid
    * matrix as a single nested-array literal (CosineTopClustersExpr).
    * The per-centroid inlined-expression form (one cosine_similarity +
    * struct per centroid) blew the JVM 64 KB method / constant-pool
    * limits past a few hundred lists — a real IVF index has thousands;
    * the kernel's generated code is constant-size in nlist. Centroid
    * components are cast to FLOAT at literal build, matching the old
    * CAST($v AS FLOAT) literal arrays bit-for-bit. */
  private[operators] def topClustersCol(centroids: Seq[Array[Double]], topn: Int): Column =
    call_function(
      "cosine_top_clusters",
      col("embedding"),
      typedLit[Seq[Seq[Float]]](centroids.map(_.map(_.toFloat).toSeq)),
      lit(topn)
    )

  /** argmax over cosine similarities — compiled per row, no join, no
    * shuffle; ties break to the higher cluster id (the old array_max
    * lexicographic semantic). */
  private[operators] def nearestCentroidCol(centroids: Seq[Array[Double]]): Column =
    element_at(topClustersCol(centroids, 1), 1)

  /** Probe list: each row's `nprobe` nearest clusters, compiled. */
  private def probeClustersCol(centroids: Seq[Array[Double]], nprobe: Int): Column =
    topClustersCol(centroids, nprobe)

  /** Build the refined centroid set (driver-side metadata, deterministic). */
  private[graft] def centroids(
      spark: SparkSession,
      emb: DataFrame, // vec_id, embedding: array<float>
      nlist: Int
  ): Seq[Array[Double]] = {
    VectorFunctions.register(spark)
    val seeds = emb
      .select(col("vec_id"), col("embedding"), xxhash64(col("vec_id")).as("h"))
      .orderBy("h")
      .limit(nlist)
      .select("embedding")
      .collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      .toSeq
    // a corpus smaller than nlist yields fewer seeds — clamp rather than
    // index past the end
    val k = seeds.length
    require(k > 0, "cannot build IVF centroids over an empty corpus")
    // one Lloyd step: assign all vectors, take per-cluster per-dim means.
    // The (cluster, pos, mean) rows are nlist x dim — metadata — so the
    // per-cluster arrays are assembled ON THE DRIVER from the collected
    // rows: the old second groupBy (collect_list + array_sort) existed
    // only to do that assembly distributed, costing one more exchange +
    // adaptive stage per index fit, and this fit runs in ~12 queries.
    // The mean arithmetic (first aggregation) is byte-identical.
    val assigned = emb.withColumn("cluster", nearestCentroidCol(seeds))
    val refined = assigned
      .select(col("cluster"), posexplode(col("embedding")))
      .groupBy("cluster", "pos")
      .agg(avg(col("col")).as("m"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2))
      .toMap
      .groupBy(_._1._1)
      .map { case (c, m) =>
        val dims = m.map { case ((_, pos), v) => pos -> v }
        c -> Array.tabulate(dims.size)(dims(_))
      }
    // a cluster can lose all members in the Lloyd step; keep its seed
    (0 until k).map(i => refined.getOrElse(i, seeds(i)))
  }

  /** Public index-build entry: the refined centroid set (see centroids). */
  def fit(spark: SparkSession, emb: DataFrame, nlist: Int = 16): Seq[Array[Double]] =
    centroids(spark, emb, nlist)

  /** Persist an IVF centroid set as a parquet artifact: one row per
    * cluster, `(cluster INT, centroid ARRAY<DOUBLE>)`. Doubles round-trip
    * parquet bit-exactly (raw IEEE-754 bits), so a loaded set probes and
    * scores identically to the fitted one — build the index once on a
    * scheduled job, search every batch from the artifact (the d13
    * decontamination shape at production scale). */
  def saveCentroids(spark: SparkSession, cs: Seq[Array[Double]], path: String): Unit = {
    import spark.implicits._
    cs.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cluster", "centroid")
      .repartition(1)
      .write
      .mode("overwrite")
      .parquet(path)
    // manifest LAST — it is the artifact's commit marker (see ArtifactManifest)
    ArtifactManifest.write(
      spark,
      path,
      "ivf-centroids",
      Map("nlist" -> cs.length.toString, "dim" -> cs.head.length.toString)
    )
  }

  /** Reload a centroid set written by [[saveCentroids]] (exact inverse).
    * Manifest-validated: kind/version, then nlist and dimensionality
    * against the loaded rows — typed errors, never a silent mis-probe. */
  def loadCentroids(spark: SparkSession, path: String): Seq[Array[Double]] = {
    val mf = ArtifactManifest.readAndCheck(spark, path, "ivf-centroids")
    val cs = spark.read
      .parquet(path)
      .select("cluster", "centroid")
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
      .map(_._2)
      .toSeq
    require(cs.nonEmpty, s"no IVF centroids found at $path")
    ArtifactManifest.check(path, "nlist", mf.getOrElse("nlist", "?"), cs.length.toString)
    ArtifactManifest.check(path, "dim", mf.getOrElse("dim", "?"), cs.head.length.toString)
    cs
  }

  /** Top-k approximate neighbors for each query vector, building the
    * index in-plan (fit + topKWith). */
  def topK(
      spark: SparkSession,
      emb: DataFrame, // vec_id, embedding
      queries: DataFrame, // vec_id, embedding (small by construction)
      k: Int = 5,
      nlist: Int = 16,
      nprobe: Int = 4
  ): DataFrame = {
    // cache the corpus for the duration of the index build + query: the
    // seed scan, the Lloyd aggregation, the final assignment, and the
    // probe join would otherwise each re-evaluate the upstream pipeline.
    // The RESULT is materialized eagerly (queries x k rows — small by
    // construction) so the corpus cache can be RELEASED before returning:
    // cache entries are never auto-evicted on reference drop, and a
    // service issuing repeated topK calls would otherwise pin one corpus
    // copy per call for the session lifetime.
    // At 100 TB the equivalent move is building once and searching from
    // the persisted artifact — fit + saveCentroids/loadCentroids +
    // topKWith (spec-pinned identical to this fused form).
    val cached = emb.cache()
    try {
      val cs = centroids(spark, cached, nlist)
      topKWith(spark, cached, queries, cs, k, nprobe).localCheckpoint()
    } finally cached.unpersist()
  }

  // ---- persisted cluster-partitioned index (incremental FAISS-add path) ----

  private val IndexKind = "ivf-index"
  private val L = SnapshotLog

  /** Build + persist the FULL IVF index — not just centroids but the
    * assigned corpus, written PARTITIONED BY cluster under a snapshot
    * log. This is what makes IVF an index at 100 TB rather than a
    * query-time projection: a probe becomes a PARTITION-PRUNED scan of
    * `nprobe/nlist` of the stored bytes (the scan's PartitionFilters —
    * spec-pinned), where [[topKWith]] must scan and assign the whole
    * corpus per search. Layout: snapshot-versioned `centroids` and
    * `vectors` data dirs, the latter internally partitioned by
    * `cluster=N` subdirectories. The quantizer is INSIDE the snapshot —
    * one manifest references the centroid generation AND the vector
    * directories assigned under it, so a crash mid-rebuild can never
    * publish a new quantizer beside old assignments (cluster ids that
    * mean different things would silently mis-probe; with the shared
    * commit point either both flip or neither). The manifest carries
    * the physical row count — a lost partition directory fails the
    * search-time load loudly.
    *
    * `retain` is the GC grace window for concurrent readers: a rebuild
    * supersedes every prior generation, and `retain = 1` (single-reader
    * default) deletes the superseded directories at the commit — a
    * search that resolved the pre-rebuild snapshot (the live-store shape
    * [[graft.streaming.EventStream.ivfIngest]] advertises) would then
    * fail mid-read. A multi-reader deployment passes `retain > 1` so the
    * previous `retain - 1` generations stay on disk until the NEXT
    * rebuilds retire them — the refreshGrams discipline; sizing guidance
    * lives on [[SnapshotLog.gc]]. */
  def buildIndex(
      spark: SparkSession,
      emb: DataFrame,
      path: String,
      nlist: Int = 16,
      retain: Int = 1
  ): Unit = {
    val cs = centroids(spark, emb, nlist)
    val v = L.nextVersion(spark, path)
    val ctag = s"centroids-v$v"
    val vtag = s"base-v$v"
    saveCentroids(spark, cs, L.dataDir(path, "centroids", ctag))
    emb
      .withColumn("cluster", nearestCentroidCol(cs))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(L.dataDir(path, "vectors", vtag))
    commitIndex(spark, path, v, Map("vectors" -> Seq(vtag), "centroids" -> Seq(ctag)))
    // a REBUILD (re-train on drifted data) supersedes every prior
    // generation; retire all but the newest `retain` snapshots' dirs on
    // the spot — the caller-supplied grace window, never after the fact
    L.gc(spark, path, IndexKind, retain)
  }

  /** The index's frozen coarse quantizer, resolved THROUGH the current
    * snapshot (the centroid generation the stored assignments were made
    * under — never a free-floating artifact). */
  def indexCentroids(spark: SparkSession, path: String): Seq[Array[Double]] = {
    val snap = L.current(spark, path, IndexKind)
    val dirs = snap.dirs(path, "centroids")
    require(dirs.nonEmpty, s"IVF index at $path references no centroid generation")
    loadCentroids(spark, dirs.head)
  }

  /** Append a batch against the FROZEN coarse quantizer — the standard
    * IVF add semantics (train once, add forever; FAISS's `add` after
    * `train`): new vectors are assigned to the EXISTING centroids and
    * land as a fresh immutable partitioned directory, one manifest PUT
    * as the commit point. No rebuild, no rewrite, cost linear in the
    * batch; recall degrades only as the data distribution drifts from
    * the trained quantizer (re-train + buildIndex is the compaction
    * analog, on the deployment's drift cadence). A torn append is
    * unreferenced and invisible — the ingestBatch crash discipline. */
  def appendIndex(spark: SparkSession, batch: DataFrame, path: String): Unit = {
    val snap = L.current(spark, path, IndexKind)
    val cs = loadCentroids(spark, snap.dirs(path, "centroids").head)
    val v = L.nextVersion(spark, path)
    val tag = s"append-v$v"
    batch
      .withColumn("cluster", nearestCentroidCol(cs))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(L.dataDir(path, "vectors", tag))
    // count ONLY the new directory's footers, on the driver — the commit
    // carries the total; tableRows lists one level, so it gets the
    // `cluster=*` partition directories
    val dir = new org.apache.hadoop.fs.Path(L.dataDir(path, "vectors", tag))
    val clusters = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .globStatus(new org.apache.hadoop.fs.Path(dir, "cluster=*"))
    val added = ArtifactManifest.tableRows(spark, clusters.map(_.getPath.toString).toIndexedSeq: _*)
    commitIndex(spark, path, v,
      snap.tables + ("vectors" -> (snap.tables.getOrElse("vectors", Nil) :+ tag)),
      resolved = Some(snap), addedRows = Some(added))
  }

  /** CORPUS-WIDE kNN GRAPH: every vector's top-k neighbors via IVF
    * blocking — the workhorse shape of SemDeDup-style curation, where
    * EVERY document needs neighbors, not a fixed query set. Each vector
    * probes its `nprobe` nearest clusters; candidates are the cluster
    * members (one equi-join on cluster id); exact double-cosine rescore +
    * per-vector bounded top-k.
    *
    * Scale: candidate volume is N · nprobe · (N/nlist) — sub-quadratic
    * when nlist tracks √N (the standard sizing, which the e25 gate
    * derives from the corpus count); the top-k window partitions PER
    * VECTOR (N parallel partitions of ~nprobe·N/nlist rows), never
    * globally. Approximate by construction: a true neighbor outside
    * every probed cluster is missed — recall is gated (e26) instead of
    * assumed. */
  def knnGraph(
      spark: SparkSession,
      emb: DataFrame,
      k: Int = 5,
      nlist: Int = 16,
      nprobe: Int = 4
  ): DataFrame = {
    VectorFunctions.register(spark)
    val cs = fit(spark, emb, nlist)
    // assign BEFORE renaming: the compiled assignment kernels resolve the
    // `embedding` column by name
    val members = emb
      .withColumn("cluster", nearestCentroidCol(cs))
      .select(col("vec_id").as("mid"), col("embedding").as("membedding"), col("cluster"))
    val probes = emb
      .select(col("vec_id"), col("embedding"))
      .withColumn("cluster", explode(probeClustersCol(cs, math.min(nprobe, cs.length))))
    val w = Window.partitionBy("vec_id").orderBy(col("cosine").desc, col("mid"))
    probes
      .join(members, "cluster")
      .filter(col("vec_id") =!= col("mid"))
      .withColumn("cosine", expr("cosine_similarity(embedding, membedding)"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("vec_id").as("qid"), col("rnk"), col("mid").as("vid"), col("cosine"))
  }

  /** The index's live tombstone ledger: the union of every committed
    * tombstone directory (empty frame if none) — one `vec_id` per
    * deleted vector. Ledger-sized, never corpus-sized. */
  private[graft] def tombstoneIds(
      spark: SparkSession, path: String, snap: SnapshotLog.Snapshot): DataFrame =
    snap.tables.getOrElse("tombstones", Nil) match {
      case Nil => spark.range(0).select(col("id").as("vec_id"))
      case tags =>
        tags.map(t => spark.read.parquet(L.dataDir(path, "tombstones", t)))
          .reduce(_ unionByName _).select(col("vec_id").cast("long"))
    }

  /** DELETE from a persisted index without touching a vector file — the
    * FAISS IDSelector / Lucene deleted-docs model: the ids land as a new
    * immutable tombstone directory and ONE manifest PUT makes them
    * visible; every subsequent [[searchIndex]] excludes them before
    * scoring. The physical rows stay (the `rows` audit is untouched)
    * until the next [[rebuildIndex]] or [[compactIndex]], which purge
    * tombstoned vectors and clear the ledger — the merge-reclaims model.
    * Cost: linear in the delete batch, never in the corpus; a torn
    * tombstone write is unreferenced and invisible (the appendIndex
    * crash discipline). This is the takedown/GDPR primitive a 100 TB
    * vector store cannot run without: a full rebuild per delete batch
    * would be a corpus rewrite. */
  def deleteFromIndex(spark: SparkSession, ids: DataFrame, path: String): Unit = {
    val snap = L.current(spark, path, IndexKind)
    val v = L.nextVersion(spark, path)
    val tag = s"tombstones-v$v"
    ids.select(col("vec_id").cast("long")).distinct()
      .write.mode("overwrite").parquet(L.dataDir(path, "tombstones", tag))
    commitIndex(spark, path, v,
      snap.tables + ("tombstones" -> (snap.tables.getOrElse("tombstones", Nil) :+ tag)),
      resolved = Some(snap), addedRows = Some(0L))
  }

  /** Re-train + rewrite the index over its CURRENT stored vectors — the
    * compaction analog for IVF (run on the deployment's drift cadence:
    * appends against a frozen quantizer degrade recall as the data
    * distribution walks away from the trained centroids; FAISS re-trains
    * for the same reason). Collapses N append directories into one fresh
    * generation under new centroids and retires the old through GC. Safe
    * without a lineage cut: the rewrite READS the old directories and
    * WRITES a new one — disjoint paths — and deletion (gc) is ordered
    * after the commit, so no read ever races a delete. The `last_batch`
    * marker rides through (commitIndex's carry), so a rebuild BETWEEN
    * micro-batches cannot turn a stream's committed replay into a
    * double-append — the compactDedupIndex lesson applied here.
    * `retain` is [[buildIndex]]'s reader grace window, threaded through. */
  def rebuildIndex(spark: SparkSession, path: String, nlist: Int = 16, retain: Int = 1): Unit = {
    val snap = L.current(spark, path, IndexKind)
    val tags = snap.tables.getOrElse("vectors", Nil)
    require(tags.nonEmpty, s"IVF index at $path references no vector directories")
    // purge tombstoned vectors (deleteFromIndex's reconciliation point):
    // the rewrite is already O(store), the anti-join adds one ledger-sized
    // side; buildIndex's fresh commit references no tombstone dirs, so the
    // ledger clears atomically with the same manifest PUT
    val vectors = readVectors(spark, path, tags)
      .select("vec_id", "embedding")
      .join(tombstoneIds(spark, path, snap), Seq("vec_id"), "left_anti")
    buildIndex(spark, vectors, path, nlist, retain)
  }

  /** Collapse the appended vector generations into ONE fresh directory
    * under the UNCHANGED quantizer — the small-file bound between
    * rebuilds. Every streamed batch lands as its own `cluster=`-
    * partitioned directory, so after B batches the store holds B × nlist
    * files and every reader (and [[searchIndex]]'s footer validation)
    * pays O(B): batch-constant per commit, but unbounded until a
    * rebuild. A rebuild re-trains — the wrong (and far more expensive)
    * tool when the data distribution has NOT drifted; this is the
    * compactDedupIndex twin: rewrite the union of the referenced vector
    * directories into one `compact-v<N>` dir (assignments preserved
    * verbatim — the quantizer, and therefore every cluster id, is
    * untouched, so search results are byte-identical across the commit),
    * point the new manifest at it, GC the superseded dirs. Staged by
    * construction on the snapshot log: the rewrite reads old paths and
    * writes a new one, the manifest is the atomic flip, and deletion is
    * ordered after it. The `last_batch` marker rides through commitIndex's
    * carry, so compaction between micro-batches cannot un-commit a
    * stream's replay skip. The commit takes the FULL physical recount
    * (`addedRows = None`) — compaction is the reconciliation point the
    * incremental counters are audited against, and it already pays an
    * O(store) rewrite. Run on a cadence knob (see
    * [[graft.streaming.EventStream.ivfIngest]]'s `compactEvery`), not per
    * batch. `retain` is the concurrent-reader grace window, as on
    * [[buildIndex]]. No-op when the store already holds one generation. */
  def compactIndex(spark: SparkSession, path: String, retain: Int = 1): Unit = {
    val snap = L.current(spark, path, IndexKind)
    val tags = snap.tables.getOrElse("vectors", Nil)
    require(tags.nonEmpty, s"IVF index at $path references no vector directories")
    // also the space-reclaim point for tombstoned vectors (the Lucene
    // merge model): purging changes no search result — search already
    // excluded them — it only drops dead rows and clears the ledger
    val hasTombstones = snap.tables.getOrElse("tombstones", Nil).nonEmpty
    if (tags.length > 1 || hasTombstones) {
      val v = L.nextVersion(spark, path)
      val tag = s"compact-v$v"
      val kept = readVectors(spark, path, tags)
        .join(tombstoneIds(spark, path, snap), Seq("vec_id"), "left_anti")
      // every stored vector tombstoned → the rewrite would materialize a
      // FILELESS partitioned directory (zero-row partitionBy writes no
      // data files) and the commit's full recount — and every later
      // reader — would fail parquet schema inference on it: the exact
      // trap appendIndexBatch's added==0 branch guards against. An
      // all-dead store has no compacted form; refuse and tell the caller
      // the store-level operation that IS valid here.
      if (kept.isEmpty)
        throw new IllegalStateException(
          s"IVF index at $path has every stored vector tombstoned; " +
            "compaction cannot produce an empty generation — drop the " +
            "index directory or buildIndex over a fresh corpus instead")
      kept
        .write.mode("overwrite").partitionBy("cluster")
        .parquet(L.dataDir(path, "vectors", tag))
      commitIndex(spark, path, v,
        snap.tables + ("vectors" -> Seq(tag)) - "tombstones",
        resolved = Some(snap))
      L.gc(spark, path, IndexKind, retain)
    }
  }

  /** The streaming vector ingest's cross-batch view of the index: the
    * snapshot plus the collected centroid matrix. The per-batch probe
    * catches a between-batches [[rebuildIndex]], whose new quantizer MUST
    * be picked up; an append never changes the quantizer, so the writer's
    * own commits keep the loaded centroids. */
  private[graft] def ingestCache(path: String): SnapshotLog.Cached[Seq[Array[Double]]] =
    new L.Cached[Seq[Array[Double]]](path, IndexKind, (spark, sn) => {
      val cdirs = sn.dirs(path, "centroids")
      require(cdirs.nonEmpty, s"IVF index at $path references no centroid generation")
      loadCentroids(spark, cdirs.head)
    }, keepOnCommit = true)

  /** Why a vector may NOT enter the store, or NULL when admissible —
    * the INTRINSIC validity gate: null embedding, wrong dimensionality
    * for this index, or a non-finite element (a NaN-poisoned vector
    * scores NaN cosines everywhere, which the search kernels then skip —
    * it would occupy store bytes while being unfindable, and one NaN in
    * a centroid's mean would poison the whole cluster at the next
    * rebuild).
    *
    * DELIBERATELY ARTIFACT-INDEPENDENT — this is why the vector store
    * has NO quarantine-drain twin of
    * [[graft.queries.LlmOps.drainQuarantine]]: the crawl pipeline parks
    * docs whose verdict depends on a REFRESHABLE artifact (an LM that
    * cannot score a doc today may score it after a refresh, so parked
    * docs are re-scored when the artifact moves). A vector's validity
    * consults only the row itself and the index DIMENSION — fixed at
    * build time and invariant across quantizer rebuilds (rebuildIndex
    * re-trains centroids over the same stored vectors; it cannot change
    * dim) — so no later artifact state can flip a reject into an admit:
    * rejects are terminal by construction and a drain loop would have
    * nothing to re-score. Spec-pinned by "vector reject verdicts are
    * quantizer-independent" in EventStreamSpec. */
  private[graft] def vectorRejectReason(dim: Int): Column = {
    val e = col("embedding")
    // null ELEMENTS are checked explicitly: isnan(null) is false and
    // abs(null) === Inf is null, so a [0.1, null, ...] row would fall
    // through a finiteness-only exists() to "admissible" — and a null
    // slot NPEs the compiled kernels (they read elements without
    // isNullAt) or silently scores 0.0, exactly the poisoned-store state
    // this gate exists to block
    when(e.isNull, "null_embedding")
      .when(size(e) =!= dim, "wrong_dim")
      .when(exists(e, x => x.isNull), "null_element")
      .when(exists(e, x => isnan(x) || abs(x) === lit(Float.PositiveInfinity)), "non_finite")
      .otherwise(lit(null).cast("string"))
  }

  /** [[appendIndex]] as one micro-batch of a STREAMING vector ingest,
    * exactly once under [[SnapshotLog.replayGate]]'s protocol with the
    * `last_batch` marker: assign against the frozen quantizer into the
    * idempotent `batch-<id>` directory and commit one manifest referencing
    * it with the marker. Pass the stream's [[ingestCache]] as `cache`;
    * without one the call resolves the index from disk. */
  def appendIndexBatch(
      spark: SparkSession,
      batch: DataFrame,
      path: String,
      batchId: Long,
      cache: Option[SnapshotLog.Cached[Seq[Array[Double]]]] = None,
      rejectDir: Option[String] = None
  ): Unit = {
    val index = cache.getOrElse(ingestCache(path))
    val (snap, cs) = index.resolve(spark)
    val tag = s"batch-$batchId"
    if (L.replayGate(snap, path, "IVF index", "last_batch", batchId, Some(tag))) {
      // one source read per batch, gated by the intrinsic validity check
      // BEFORE anything touches the store
      val pinned = batch
        .withColumn("__reject", vectorRejectReason(cs.head.length))
        .localCheckpoint(true)
      val rejects = pinned.filter(col("__reject").isNotNull)
      val valid = pinned.filter(col("__reject").isNull).drop("__reject")
      rejectDir match {
        case Some(dir) =>
          // the reject LEDGER: parked BEFORE the append commit, so a
          // crash in between replays the batch and overwrites this
          // directory idempotently (mode overwrite per batch_id). Only
          // written when the batch actually rejected something — a
          // healthy stream must not accumulate one empty directory (and
          // one write job) per micro-batch forever; the emptiness probe
          // reads the already-pinned checkpoint, not the source
          if (!rejects.isEmpty)
            rejects
              .withColumnRenamed("__reject", "reason")
              .write.mode("overwrite").parquet(s"$dir/batch_id=$batchId")
        case None =>
          val bad = rejects.limit(1).collect()
          require(
            bad.isEmpty,
            s"batch $batchId carries a malformed vector " +
              s"(${bad.headOption.map(_.getAs[String]("__reject")).getOrElse("")}); " +
              "pass a reject ledger (rejectDir) to park malformed rows, or clean the feed"
          )
      }
      // the pinned batch's count IS the written dir's count (deterministic
      // write), and counting the checkpoint blocks costs no file reads
      val added = valid.count()
      // an all-rejected (or empty) batch still advances the replay marker
      // but commits NO vector directory: a zero-row partitionBy write
      // materializes no data files, and a tag over a fileless directory
      // would fail every later schema-inferring read of the store
      val tables =
        if (added == 0L) snap.tables
        else {
          valid
            .withColumn("cluster", nearestCentroidCol(cs))
            .write.mode("overwrite").partitionBy("cluster")
            .parquet(L.dataDir(path, "vectors", tag))
          snap.tables + ("vectors" -> (snap.tables.getOrElse("vectors", Nil) :+ tag))
        }
      index.committed(spark, commitIndex(spark, path, index.nextVersion, tables,
        Map("last_batch" -> batchId.toString), resolved = Some(snap), addedRows = Some(added)))
    }
  }

  /** Accounting surface over a reject ledger written by
    * [[appendIndexBatch]]/ivfIngest: one row per (batch_id, reason) with
    * its reject count — "what was rejected, why, at what rate", the
    * drain-accounting twin the crawl quarantine already has (every input
    * attributable; rejects are terminal here, so counts ARE the whole
    * story — there is no drain state to report). Schema is fixed
    * (batch_id BIGINT, reason STRING, rejects BIGINT) regardless of the
    * feed's own columns.
    *
    * A MISSING ledger directory reads as an EMPTY summary, not an error:
    * the ledger is written lazily — only a batch that actually rejects
    * rows creates its `batch_id=N` directory, so a healthy stream never
    * materializes the path at all — and monitoring that polls a healthy
    * stream must see zero rows, not a path-not-found failure from
    * parquet schema inference. This method IS the supported reader;
    * reading the raw directory with spark.read.parquet requires the
    * caller to tolerate the missing path themselves. */
  def rejectSummary(spark: SparkSession, rejectDir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val p = new org.apache.hadoop.fs.Path(rejectDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || fs.listStatus(p).isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("batch_id", LongType),
          StructField("reason", StringType),
          StructField("rejects", LongType))))
    else
      spark.read.parquet(rejectDir)
        // partition discovery infers `batch_id=N` as int; pin bigint
        .groupBy(col("batch_id").cast("long").as("batch_id"), col("reason"))
        .agg(count(lit(1)).as("rejects"))
        .orderBy("batch_id", "reason")
  }

  /** One frame over the referenced vector directories. Each generation
    * is read as its OWN root and unioned: Spark's partition discovery
    * rejects multiple roots whose partitioning starts at different
    * depths ("conflicting directory structures"), and a shared basePath
    * would try to parse the `base-v1`/`append-v2` tag level as a
    * partition. Per-root reads keep `cluster=` discovery AND pruning —
    * a partition filter pushes into every scan of the union. */
  private def readVectors(spark: SparkSession, path: String, tags: Seq[String]): DataFrame =
    tags.map(t => spark.read.parquet(L.dataDir(path, "vectors", t))).reduce(_ unionByName _)

  /** One manifest PUT, carrying the superseded snapshot's replay markers
    * ([[SnapshotLog.prior]]). The `rows` prop is maintained
    * INCREMENTALLY when the caller knows its delta (`addedRows`): an
    * append's commit then costs `prior + added` — two longs — where a
    * recount of the parquet footers across EVERY referenced vector
    * directory would make the per-batch ingest floor creep one generation
    * per batch. Full physical recounts remain exactly where
    * reconciliation belongs: bootstrap/rebuild (fresh single-generation
    * store, `addedRows = None`) and [[validateIndex]]'s cold open. */
  private def commitIndex(
      spark: SparkSession,
      path: String,
      v: Int,
      tables: Map[String, Seq[String]],
      extra: Map[String, String] = Map.empty,
      resolved: Option[SnapshotLog.Snapshot] = None,
      addedRows: Option[Long] = None
  ): SnapshotLog.Snapshot = {
    val prior = L.prior(spark, path, IndexKind, resolved)
    val rows = addedRows match {
      case Some(a) if prior.props.contains("rows") => prior.props("rows").toLong + a
      case _ => readVectors(spark, path, tables.getOrElse("vectors", Nil)).count()
    }
    L.commit(spark, path, IndexKind, v,
      tables, prior.markers ++ Map("rows" -> rows.toString) ++ extra)
  }

  /** Cold-open validation of a persisted index: quantizer artifact,
    * snapshot resolution, physical row count vs the manifest — the
    * loadDedupIndex discipline. Stream constructors call this once at
    * start; per-batch appends trust their own commits. */
  def validateIndex(spark: SparkSession, path: String): Unit = {
    val snap = L.current(spark, path, IndexKind)
    val cdirs = snap.dirs(path, "centroids")
    require(cdirs.nonEmpty, s"IVF index at $path references no centroid generation")
    loadCentroids(spark, cdirs.head): Unit
    val tags = snap.tables.getOrElse("vectors", Nil)
    require(tags.nonEmpty, s"IVF index at $path references no vector directories")
    ArtifactManifest.check(path, "rows", snap.props.getOrElse("rows", "?"),
      readVectors(spark, path, tags).count().toString)
  }

  /** Search the persisted index: resolve the snapshot, validate the
    * physical row count, probe — and read ONLY the probed clusters'
    * partitions. The probed-cluster union is queries×nprobe ints
    * (metadata; the documented driver-side collect), pushed as a
    * partition filter so the scan prunes `cluster=` directories instead
    * of reading the corpus. Candidate join + exact rescore + bounded
    * top-k are [[topKWith]]'s stages unchanged. */
  def searchIndex(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int = 5,
      nprobe: Int = 4
  ): DataFrame = {
    VectorFunctions.register(spark)
    val snap = L.current(spark, path, IndexKind)
    val cdirs = snap.dirs(path, "centroids")
    require(cdirs.nonEmpty, s"IVF index at $path references no centroid generation")
    val cs = loadCentroids(spark, cdirs.head)
    val tags = snap.tables.getOrElse("vectors", Nil)
    require(tags.nonEmpty, s"IVF index at $path references no vector directories")
    val vectors = readVectors(spark, path, tags)
    ArtifactManifest.check(path, "rows", snap.props.getOrElse("rows", "?"),
      vectors.count().toString)
    val queryProbes = queries
      .select(
        col("vec_id").as("qid"),
        explode(probeClustersCol(cs, math.min(nprobe, cs.length))).as("cluster")
      )
    val probed = queryProbes.select("cluster").distinct()
      .collect().map(_.getInt(0)).toSeq // metadata: <= queries x nprobe ints
    // deletes are visible immediately: anti-join the tombstone ledger
    // (ledger-sized — Catalyst broadcasts it off its parquet stats while
    // it fits, falls back to a shuffled anti-join for a delete-heavy
    // store; either way the probe-pruned candidate side stays pruned).
    // A ledger-free snapshot — the common case — skips the join: the
    // hot search plan is unchanged when nothing was ever deleted.
    val candidates = vectors.filter(col("cluster").isin(probed: _*))
    val pruned =
      if (snap.tables.getOrElse("tombstones", Nil).isEmpty) candidates
      else candidates.join(tombstoneIds(spark, path, snap), Seq("vec_id"), "left_anti")
    val scored = pruned
      .join(broadcast(queryProbes), Seq("cluster"))
      .filter(col("vec_id") =!= col("qid"))
      .join(
        broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("q_embedding"))),
        Seq("qid")
      )
      .withColumn("cosine", expr("cosine_similarity(q_embedding, embedding)"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("vec_id").as("vid"), col("cosine"))
      .orderBy("qid", "rnk")
  }

  /** Search against a PREBUILT centroid set (fit or loadCentroids) — the
    * artifact-consuming half of the IVF index split. */
  def topKWith(
      spark: SparkSession,
      emb: DataFrame,
      queries: DataFrame,
      cs: Seq[Array[Double]],
      k: Int = 5,
      nprobe: Int = 4
  ): DataFrame = {
    VectorFunctions.register(spark)
    val corpus = emb.withColumn("cluster", nearestCentroidCol(cs))
    // Probe rows carry IDS ONLY: exploding the query embedding into
    // nprobe copies would broadcast the query set ~nprobe x — at the
    // query-set size where a 1x broadcast is the limit, that fails
    // nprobe x sooner. The embeddings re-attach through a second 1x
    // broadcast AFTER the candidate equi-join (the e01 ids-only move),
    // so total broadcast pressure is 1x embeddings + nprobe x (qid,
    // cluster) longs.
    val queryProbes = queries
      .select(
        col("vec_id").as("qid"),
        explode(probeClustersCol(cs, math.min(nprobe, cs.length))).as("cluster")
      )
    val scored = corpus
      .join(broadcast(queryProbes), Seq("cluster"))
      .filter(col("vec_id") =!= col("qid"))
      .join(
        broadcast(
          queries.select(col("vec_id").as("qid"), col("embedding").as("q_embedding"))
        ),
        Seq("qid")
      )
      .withColumn("cosine", expr("cosine_similarity(q_embedding, embedding)"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("vec_id").as("vid"), col("cosine"))
      .orderBy("qid", "rnk")
  }

  // ---- probe-budget calibration (nprobe -> recall) ----

  /** The measured nprobe→recall curve for a quantizer over its corpus —
    * the number a production user must see BEFORE picking nprobe (the
    * soak's 0.24 recall at a 6% probe budget is what shipping blind
    * looks like). One corpus pass (pinned, materialized once) yields the
    * WHOLE curve — no per-nprobe re-measurement: IVF search
    * rescales candidates exactly inside the probed clusters, so the only
    * recall loss is a true neighbor whose assigned cluster is NOT probed
    * — and the minimal nprobe that finds a given (query, neighbor) pair
    * is exactly the POSITION of the neighbor's cluster in the query's
    * centroid-similarity order. The curve is the cumulative histogram of
    * those positions:
    *
    *   1. assign each corpus row its cluster (compiled argmax, no join);
    *   2. exact top-k per query (broadcast non-equi join + the
    *      constant-state [[graft.functions.TopKVids]] heap — one linear
    *      pass, no corpus window);
    *   3. per true neighbor, `array_position` of its cluster in the
    *      query's full probe order;
    *   4. recall(nprobe) = fraction of pairs at position ≤ nprobe.
    *
    * Returns (nprobe, recall) for nprobe = 1..nlist, recall
    * nondecreasing with recall(nlist) = 1.0 by construction. The
    * calibration pays one exact brute-force pass over `emb` for the
    * sample `queries` — the cost of measuring, paid once per quantizer
    * generation, not per search; at 100 TB run it on a corpus sample
    * with a representative query batch. */
  def probeRecallCurve(
      spark: SparkSession,
      emb: DataFrame, // vec_id, embedding
      queries: DataFrame, // vec_id, embedding (small by construction)
      cs: Seq[Array[Double]],
      k: Int = 5
  ): DataFrame = {
    VectorFunctions.register(spark)
    val nlist = cs.length
    // pinned: the assigned corpus feeds BOTH the brute-force scoring
    // join and the neighbor→cluster re-attach — unpinned, the corpus
    // read plus the compiled argmax would execute twice (the e05/t21
    // double-evaluation trap). Released before return: the curve is
    // already driver-held by then (topK's cache-scope discipline).
    val corpus = emb
      .select(col("vec_id"), col("embedding"), nearestCentroidCol(cs).as("cluster"))
      .cache()
    try {
      val scored = corpus
        .as("e")
        .join(broadcast(queries).as("q"), col("q.vec_id") =!= col("e.vec_id"))
        .select(
          col("q.vec_id").as("qid"),
          col("e.vec_id").as("vid"),
          expr("cosine_similarity(q.embedding, e.embedding)").as("c")
        )
      val exact = scored
        .groupBy("qid")
        .agg(graft.functions.TopKVids.topKVids(col("c"), col("vid"), k).as("top"))
        .select(col("qid"), explode(col("top.vids")).as("vid"))
      // the query's FULL centroid order once (nlist ints per query), then
      // each neighbor's cluster position in it
      val order = queries.select(
        col("vec_id").as("qid"),
        probeClustersCol(cs, nlist).as("probe_order")
      )
      val positions = exact
        .join(corpus.select(col("vec_id").as("vid"), col("cluster")), Seq("vid"))
        .join(broadcast(order), Seq("qid"))
        .select(array_position(col("probe_order"), col("cluster")).as("pos"))
      // cumulative histogram — ≤ nlist distinct positions, metadata-sized
      val hist = positions.groupBy("pos").count().collect()
      val total = hist.map(_.getLong(1)).sum.toDouble
      // an empty pair set must FAIL, not flatter: a perfect curve from
      // zero evidence would hand suggestNprobe a measured-looking
      // minimum budget off an accidentally-empty query sample
      require(
        total > 0,
        "probeRecallCurve: no (query, neighbor) pairs — empty or fully " +
          "self-filtered query sample; calibrate with a non-empty sample"
      )
      val byPos = hist.map(r => r.getLong(0) -> r.getLong(1)).toMap
      val curve = (1 to nlist).scanLeft(0L) { (acc, p) => acc + byPos.getOrElse(p.toLong, 0L) }
      import spark.implicits._
      curve.tail.zipWithIndex
        .map { case (cum, i) => (i + 1, cum / total) }
        .toDF("nprobe", "recall")
    } finally corpus.unpersist()
  }

  /** The smallest nprobe whose measured recall on this (quantizer,
    * corpus, query sample) meets `targetRecall` — the probe budget a
    * deployment should run with, instead of guessing. Rule-of-thumb
    * context (measured, docs/SCALE.md): uniform-ish corpora need a
    * 30-50% probe budget for 0.9 recall at small nlist; cluster-friendly
    * corpora far less. Returns nlist (exact search) when the target is
    * unreachable below it. */
  def suggestNprobe(
      spark: SparkSession,
      emb: DataFrame,
      queries: DataFrame,
      cs: Seq[Array[Double]],
      targetRecall: Double,
      k: Int = 5
  ): Int = {
    require(targetRecall > 0 && targetRecall <= 1.0, s"targetRecall in (0,1], got $targetRecall")
    val curve = probeRecallCurve(spark, emb, queries, cs, k).collect()
    curve
      .filter(_.getDouble(1) >= targetRecall)
      .map(_.getInt(0))
      .minOption
      .getOrElse(cs.length)
  }
}
