package graft

import scala.reflect.ClassTag
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.operators.{AnnLsh, AsOfJoin, Multimodal, ParallelMap, SkewJoin}
import graft.sources.Io

/** The user-facing facade: everything a user of the reference runs today,
  * re-expressed on Spark, importable from one place.
  *
  * Burla call → here:
  * {{{
  * // results = remote_parallel_map(my_function, my_inputs)
  * val spark   = Graft.session()
  * val results = Graft.remoteParallelMap(spark, myInputs)(myFunction)
  *
  * // generator=True
  * Graft.remoteParallelMapStream(spark, inputs)(f).foreach(consume)
  *
  * // the reference's "2.4 TB of parquet in 76 s" pattern — the bucket
  * // scan is engine-level here instead of inside the UDF:
  * val df = Graft.readParquet(spark, "s3a://bucket/prefix")
  * df.filter(...).groupBy(...).agg(...)
  * }}}
  *
  * Errors: a failing UDF raises `UdfFailure(inputIndex, cause)` — the
  * analog of `exc.burla_input_index`. Oversized payloads raise
  * `FunctionTooBig` / `InputTooBig` with the reference's limits.
  */
object Graft {

  /** A tuned session (AQE, UTC, extensions, ns-timestamp handling). */
  def session(appName: String = "graft"): SparkSession = GraftSession.get(appName)

  // ---- the reference's operator, all four modes ----

  /** Per-call resource requirements, mirroring the reference's
    * `func_cpu=`/`func_ram=`/`func_gpu=` keyword surface
    * (_remote_parallel_map.py:457-537). See ParallelMap.Resources for the
    * Spark mapping (TaskResourceProfile on clusters; concurrency cap +
    * job-local properties in local mode). */
  type Resources = ParallelMap.Resources
  def resources(funcCpus: Int = 1, funcGpus: Double = 0.0, funcRamGb: Double = 0.0): Resources =
    ParallelMap.Resources(funcCpus, funcGpus, funcRamGb)

  def remoteParallelMap[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None,
      resources: ParallelMap.Resources = ParallelMap.Resources()
  )(f: I => O): Seq[O] = ParallelMap.run(spark, inputs, maxParallelism, resources)(f)

  def remoteParallelMapStream[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None,
      resources: ParallelMap.Resources = ParallelMap.Resources(),
      window: Int = 0
  )(f: I => O): Iterator[O] =
    ParallelMap.stream(spark, inputs, maxParallelism, resources, window)(f)

  def remoteParallelMapAttributed[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None,
      resources: ParallelMap.Resources = ParallelMap.Resources()
  )(f: I => O): Seq[(Long, Try[O])] =
    ParallelMap.runAttributed(spark, inputs, maxParallelism, resources)(f)

  def remoteParallelMapDetached[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None,
      resources: ParallelMap.Resources = ParallelMap.Resources()
  )(f: I => O): ParallelMap.PMapJob[O] =
    ParallelMap.runDetached(spark, inputs, maxParallelism, resources)(f)

  def remoteParallelMapWithLogs[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I]
  )(f: I => O): Seq[(Long, Try[O], String)] = ParallelMap.runWithLogs(spark, inputs)(f)

  /** Live mid-job variant: per-input logs/outcomes arrive as partitions
    * complete, not after the whole job (the reference relays worker log
    * docs while running — _node.py:315-321). */
  def remoteParallelMapStreamWithLogs[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None,
      window: Int = 0
  )(f: I => O): Iterator[(Long, Try[O], String)] =
    ParallelMap.streamWithLogs(spark, inputs, maxParallelism, window = window)(f)

  /** Input-granular LIVE relay: `onLog(inputIndex, logs)` fires on the
    * driver WHILE the job runs — a fast input's log is observable while a
    * straggler in the SAME partition is still executing (heartbeat-fed;
    * latency = spark.executor.heartbeatInterval). Exactly once per input;
    * returns the full attributed results like remoteParallelMapWithLogs. */
  def remoteParallelMapLiveLogs[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None
  )(f: I => O)(onLog: (Long, String) => Unit): Seq[(Long, Try[O], String)] =
    ParallelMap.runWithLiveLogs(spark, inputs, maxParallelism)(f)(onLog)

  /** Nested map — the reference's UDF-calls-rpm-recursively shape
    * (client/tests/test_nested_rpm.py), as driver-side composition running
    * as ONE two-stage distributed plan: fan each input out with `f`, map
    * every inner input with `g`, inner inputs rebalanced across the
    * cluster between the stages. Errors attribute both levels
    * (NestedUdfFailure). */
  def remoteParallelMapNested[I: ClassTag, J: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None,
      resources: ParallelMap.Resources = ParallelMap.Resources()
  )(f: I => Seq[J])(g: J => O): Seq[O] =
    ParallelMap.runNested(spark, inputs, maxParallelism, resources)(f)(g)

  // ---- storage ----

  def readParquet(spark: SparkSession, path: String): DataFrame = Io.readParquet(spark, path)
  def writeParquet(df: DataFrame, path: String): Unit = Io.writeParquet(df, path)
  def writePartitioned(df: DataFrame, path: String, cols: Seq[String]): Unit =
    Io.writePartitioned(df, path, cols)
  def writeBucketed(df: DataFrame, table: String, col: String, buckets: Int): Unit =
    Io.writeBucketed(df, table, col, buckets)

  /** Schema-evolution read: per-file footer schemas unioned, pre-drift
    * files read newer columns as NULL (see Io.readParquetMergedSchema). */
  def readParquetMergedSchema(spark: SparkSession, path: String): DataFrame =
    Io.readParquetMergedSchema(spark, path)

  /** Morton (Z-curve) interleave of two 8-bit coordinates — the q44
    * multi-dimensional clustering key. Pure codegen'd bit arithmetic. */
  def mortonInterleave(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.queries.Relational.morton8(x, y)

  /** Z-ordered parquet layout (q44's write): files are contiguous
    * z-ranges of (xCol & 255, yCol & 255), so per-file zone maps prune on
    * BOTH predicate columns — see Io.writeZOrdered. */
  def writeZOrdered(df: DataFrame, path: String, xCol: String, yCol: String): Unit =
    Io.writeZOrdered(df, path, xCol, yCol)

  /** Small-file compaction planner (t37's next-fit-by-start-offset rule)
    * over a (groupCol, fileCol, bytes) manifest: per (group, bin) the
    * plan row plus the provable `fill_ok` utilization bound. */
  def compactionPlan(files: DataFrame, groupCol: String, fileCol: String,
      targetBytes: Long): DataFrame =
    graft.queries.LlmOps.compactionPlan(files, groupCol, fileCol, targetBytes)

  // ---- relational extras ----

  def asofJoinLatestAtOrBefore(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightTieBreak: String, payload: Seq[String],
      toleranceSeconds: Option[Long] = None
  ): DataFrame =
    AsOfJoin.latestAtOrBefore(left, right, leftKey, rightKey, leftTime, rightTime, rightTieBreak, payload, toleranceSeconds)

  def asofJoinEarliestAtOrAfter(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightTieBreak: String, payload: Seq[String],
      toleranceSeconds: Option[Long] = None
  ): DataFrame =
    AsOfJoin.earliestAtOrAfter(left, right, leftKey, rightKey, leftTime, rightTime, rightTieBreak, payload, toleranceSeconds)

  def saltedJoin(left: DataFrame, right: DataFrame, key: String, buckets: Int = 8): DataFrame =
    SkewJoin.saltedInnerJoin(left, right, key, buckets)

  /** Deterministic content-hash sampling (functions.Sampling): membership
    * depends only on key hash + salt — reproducible on any run, cluster
    * size, or engine; nested fractions with the same salt are subsets. */
  def hashSample(df: DataFrame, key: org.apache.spark.sql.Column, fraction: Double,
      salt: String = "s0"): DataFrame =
    graft.functions.Sampling.hashSample(df, key, fraction, salt)

  def hashSampleStratified(df: DataFrame, key: org.apache.spark.sql.Column,
      stratum: org.apache.spark.sql.Column, fractions: Map[String, Double],
      defaultFraction: Double = 0.0, salt: String = "s0"): DataFrame =
    graft.functions.Sampling.hashSampleStratified(df, key, stratum, fractions, defaultFraction, salt)

  /** Connected components over an undirected edge list (Hash-Min label
    * propagation; see operators/ConnectedComponents) — the cluster-
    * canonicalization step after near-dup pair generation. Returns
    * (id, comp) with comp = min reachable id. */
  def connectedComponents(
      edges: DataFrame, src: String, dst: String, maxIter: Int = 25): DataFrame =
    graft.operators.ConnectedComponents.components(edges, src, dst, maxIter)

  /** collect_set with a hard per-key size bound: overflowing keys emit
    * empty instead of growing an unbounded buffer on one reducer — the
    * skew-proof way to build capped postings/membership lists at scale
    * (see functions.BoundedCollectSet). */
  def boundedCollectSet(valueCol: org.apache.spark.sql.Column, maxSize: Int): org.apache.spark.sql.Column =
    graft.functions.BoundedCollectSet.boundedSet(valueCol, maxSize)

  /** Interval join without the inequality-join row explosion. */
  def rangeJoinDates(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftDate: String, startDate: String, endDateExclusive: String
  ): DataFrame =
    graft.operators.RangeJoin
      .dateIntervalJoin(left, right, leftKey, rightKey, leftDate, startDate, endDateExclusive)

  // ---- LLM-pipeline operators ----

  /** LSH ANN; nprobe > 1 turns on multi-probe (margin-ordered bit flips —
    * recall without more tables or corpus re-bucketing). */
  def annTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
      dim: Int, k: Int = 5, nprobe: Int = 1): DataFrame =
    AnnLsh.topK(spark, corpus, queries, dim, k, nprobe = nprobe)

  /** PQ ANN: fit subspace codebooks, then ADC-shortlist + exact re-rank
    * top-k — the cheapest-scan scale path (codes-only corpus join). */
  def annPqFit(spark: SparkSession, corpus: DataFrame, subspaces: Int = 4,
      subDim: Int = 16, k: Int = 16): graft.operators.AnnPq.Model =
    graft.operators.AnnPq.fit(spark, corpus, subspaces, subDim, k)
  /** BEHAVIOR CHANGE (v0.11, documented in README "Upgrade notes"): the
    * default `shortlist` moved from a fixed 50 to 0 = auto — per query,
    * max(100, searched_corpus/10) capped at 1000. Results improve
    * (the fixed 50 measured 0.24 mean recall@5 at 2 000 vectors) at up
    * to 20x the re-rank cost; callers who want the old budget pass
    * `shortlist = 50` explicitly. v0.12 sizes the auto budget from the
    * corpus actually searched, not the fit-time count. */
  def annTopKPq(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
      model: graft.operators.AnnPq.Model, k: Int = 5, shortlist: Int = 0): DataFrame =
    graft.operators.AnnPq.topK(spark, corpus, queries, model, k, shortlist)

  /** Persist / reload a PQ codebook artifact (train once, encode forever —
    * codes from the loaded model are byte-identical, e13-gated). */
  def annPqSave(spark: SparkSession, model: graft.operators.AnnPq.Model, path: String): Unit =
    graft.operators.AnnPq.save(spark, model, path)
  def annPqLoad(spark: SparkSession, path: String): graft.operators.AnnPq.Model =
    graft.operators.AnnPq.load(spark, path)

  /** IVF-Flat variant: cluster-probe candidates + exact rescore. */
  def annTopKIvf(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
      k: Int = 5, nlist: Int = 16, nprobe: Int = 4): DataFrame =
    graft.operators.AnnIvf.topK(spark, corpus, queries, k, nlist, nprobe)

  /** Fused IVF-PQ search (e27's operator, the FAISS IndexIVFPQ shape):
    * IVF list pruning, PQ ADC over only the probed candidates, exact
    * re-rank of the shortlist. The scale path when both the corpus AND
    * the per-query candidate set are too big for exact scoring. */
  def annTopKIvfPq(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
      k: Int = 5, nlist: Int = 16, nprobe: Int = 4, subspaces: Int = 4,
      subDim: Int = 16, pqK: Int = 16, shortlist: Int = 0): DataFrame =
    graft.operators.AnnIvfPq.topK(
      spark, corpus, queries, k, nlist, nprobe, subspaces, subDim, pqK,
      pqIters = 1, shortlist = shortlist)

  /** Persisted IVF-PQ index lifecycle (e28): quantizers + pre-encoded
    * codes stored cluster-partitioned under a snapshot log — search is a
    * partition-pruned scan + ADC over stored codes + exact re-rank;
    * appends encode against the frozen quantizers. */
  def annIvfPqBuildIndex(spark: SparkSession, corpus: DataFrame, path: String,
      nlist: Int = 16, subspaces: Int = 4, subDim: Int = 16, pqK: Int = 16): Unit =
    graft.operators.AnnIvfPq.buildIndex(spark, corpus, path, nlist, subspaces, subDim, pqK)
  def annIvfPqAppendIndex(spark: SparkSession, batch: DataFrame, path: String): Unit =
    graft.operators.AnnIvfPq.appendIndex(spark, batch, path)
  def annIvfPqSearchIndex(spark: SparkSession, path: String, queries: DataFrame,
      k: Int = 5, nprobe: Int = 4, shortlist: Int = 0): DataFrame =
    graft.operators.AnnIvfPq.searchIndex(spark, path, queries, k, nprobe, shortlist)

  /** Snapshot-log time travel (q55): resolve a committed artifact AS OF
    * a specific version (typed errors on GC'd/torn versions) and the
    * DESCRIBE HISTORY audit surface. */
  def snapshotAt(spark: SparkSession, root: String, kind: String,
      version: Int): graft.operators.SnapshotLog.Snapshot =
    graft.operators.SnapshotLog.at(spark, root, kind, version)
  def snapshotHistory(spark: SparkSession, root: String,
      kind: String): Seq[graft.operators.SnapshotLog.Snapshot] =
    graft.operators.SnapshotLog.history(spark, root, kind)

  /** Edit-distance validation of the MinHash candidate graph (d28's
    * kernel): Levenshtein over normalized prefixes — sequence-similarity
    * confirmation of set-overlap candidates, per-pair cost bounded by
    * the prefix. */
  def editDistPairs(docs: DataFrame, prefixLen: Int = 64, maxDist: Int = 16): DataFrame =
    graft.queries.LlmOps.editDistPairs(docs, prefixLen, maxDist)

  /** IVF index split: build the centroid set once (fit), persist/reload it,
    * and search any batch against the loaded artifact (topKWith). */
  def annIvfFit(spark: SparkSession, corpus: DataFrame, nlist: Int = 16): Seq[Array[Double]] =
    graft.operators.AnnIvf.fit(spark, corpus, nlist)
  /** Build + persist the cluster-PARTITIONED IVF index (centroids + the
    * assigned corpus under a snapshot log) — probes then read
    * nprobe/nlist of the stored bytes via partition pruning. */
  def annIvfBuildIndex(spark: SparkSession, emb: DataFrame, path: String, nlist: Int = 16): Unit =
    graft.operators.AnnIvf.buildIndex(spark, emb, path, nlist)

  /** FAISS add-after-train: append a batch against the frozen coarse
    * quantizer — one immutable partitioned dir + one manifest PUT. */
  def annIvfAppendIndex(spark: SparkSession, batch: DataFrame, path: String): Unit =
    graft.operators.AnnIvf.appendIndex(spark, batch, path)

  /** Partition-pruned search of the persisted IVF index. */
  def annIvfSearchIndex(spark: SparkSession, path: String, queries: DataFrame,
      k: Int = 5, nprobe: Int = 4): DataFrame =
    graft.operators.AnnIvf.searchIndex(spark, path, queries, k, nprobe)

  /** Re-train + rewrite the index over its current stored vectors — the
    * drift-cadence compaction analog; quantizer and assignments flip in
    * one commit, the replay-skip marker carries through. Purges
    * tombstoned vectors and clears the delete ledger. */
  def annIvfRebuildIndex(spark: SparkSession, path: String, nlist: Int = 16): Unit =
    graft.operators.AnnIvf.rebuildIndex(spark, path, nlist)

  /** Corpus-wide kNN graph (e25's kernel): every vector's blocked top-k
    * neighbors via IVF clustering — the SemDeDup workhorse shape. Size
    * nlist to track √N; recall should be gated, not assumed (e26). */
  def knnGraph(spark: SparkSession, emb: DataFrame, k: Int = 5,
      nlist: Int = 16, nprobe: Int = 4): DataFrame =
    graft.operators.AnnIvf.knnGraph(spark, emb, k, nlist, nprobe)

  /** Tombstone ids out of a persisted IVF index (the takedown/GDPR
    * primitive): a metadata-only ledger commit — deletes are visible to
    * the next search immediately, the vector files are untouched until
    * rebuild/compaction reclaims them. `ids` needs a vec_id column. */
  def annIvfDelete(spark: SparkSession, ids: DataFrame, path: String): Unit =
    graft.operators.AnnIvf.deleteFromIndex(spark, ids, path)

  /** What the vector ingest rejected, why, and at what rate: one row per
    * (batch_id, reason) over a reject ledger written by ivfIngest /
    * appendIndexBatch's rejectDir. A missing ledger (healthy stream —
    * the ledger is written lazily) reads as an empty frame, never a
    * path-not-found error. */
  def vectorRejects(spark: SparkSession, rejectDir: String): DataFrame =
    graft.operators.AnnIvf.rejectSummary(spark, rejectDir)

  /** Metadata-filtered exact vector search (e22's kernel): top-k per
    * query among corpus vectors whose `filterCol` equals the query's —
    * PRE-filter semantics (true top-k of the filtered set, no
    * post-filter recall loss). Both frames: (vec_id, embedding,
    * filterCol). */
  def annTopKFiltered(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
      filterCol: String, k: Int = 5): DataFrame =
    graft.queries.LlmOps.filteredTopKOf(spark, corpus, queries, filterCol, k)

  /** IVF list-health diagnostics (e21's kernel): per-list sizes/shares
    * over the integer-exact k-means geometry plus the FAISS-style
    * imbalance factor (nlist·Σs²/n²) and an empty-list verdict — the
    * measurement that schedules [[annIvfRebuildIndex]]. */
  def ivfHealth(spark: SparkSession, emb: DataFrame, nlist: Int = 16): DataFrame =
    graft.queries.LlmOps.ivfHealthOf(spark, emb, nlist)

  def annIvfSaveCentroids(spark: SparkSession, cs: Seq[Array[Double]], path: String): Unit =
    graft.operators.AnnIvf.saveCentroids(spark, cs, path)
  def annIvfLoadCentroids(spark: SparkSession, path: String): Seq[Array[Double]] =
    graft.operators.AnnIvf.loadCentroids(spark, path)
  def annTopKIvfWith(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
      cs: Seq[Array[Double]], k: Int = 5, nprobe: Int = 4): DataFrame =
    graft.operators.AnnIvf.topKWith(spark, corpus, queries, cs, k, nprobe)

  def mediaFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[Multimodal.MediaRow] =
    Multimodal.mediaFromDocuments(spark, docs)

  /** The decodable media table (real PNG images + real PCM WAV audio,
    * id-arithmetic parameters) and the codec-backed stages over it —
    * all through the JDK's own imageio/javax.sound, no external deps. */
  def mediaWithRealPayloads(spark: SparkSession, docs: DataFrame): Dataset[Multimodal.MediaRow] =
    Multimodal.mediaWithRealImages(spark, docs)
  def decodeImages(spark: SparkSession, media: Dataset[Multimodal.MediaRow]): Dataset[Multimodal.DecodedImage] =
    Multimodal.decodeImages(spark, media)
  def decodeAudio(spark: SparkSession, media: Dataset[Multimodal.MediaRow]): Dataset[Multimodal.DecodedAudio] =
    Multimodal.decodeAudio(spark, media)
  def decodeFrames(spark: SparkSession, media: Dataset[Multimodal.MediaRow]): Dataset[Multimodal.DecodedFrames] =
    Multimodal.decodeFrames(spark, media)
  def gifMediaFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[Multimodal.MediaRow] =
    Multimodal.gifMediaFromDocuments(spark, docs)

  /** Integer-exact distributed k-means (operators.KMeans): deterministic
    * md5 seeds, compiled fixed-point assignment, bit-identical on any
    * cluster size — the clustering primitive for semantic dedup blocks,
    * data-mixing strata, and IVF index training. */
  def kMeansFit(spark: SparkSession, emb: DataFrame, k: Int, iters: Int,
      embCol: String = "embedding"): graft.operators.KMeans.Model =
    graft.operators.KMeans.fit(spark, emb, k, iters, embCol)

  def kMeansAssign(spark: SparkSession, emb: DataFrame,
      model: graft.operators.KMeans.Model, embCol: String = "embedding"): DataFrame =
    graft.operators.KMeans.assign(spark, emb, model, embCol)

  /** Persist / reload a fitted k-means model (integer centroids round-trip
    * parquet bit-exactly: assignments from the loaded model are identical). */
  def kMeansSave(spark: SparkSession, model: graft.operators.KMeans.Model, path: String): Unit =
    graft.operators.KMeans.save(spark, model, path)
  def kMeansLoad(spark: SparkSession, path: String): graft.operators.KMeans.Model =
    graft.operators.KMeans.load(spark, path)

  /** fit + label-the-fitted-corpus in ONE shared cache scope — the shape
    * e09/d10/e14 run (separate fit + assign calls recompute the
    * fixed-point transform after the fit cache is released). The label
    * frame is an eagerly-materialized compact (vec_id, cluster, dist)
    * checkpoint. */
  def kMeansFitAssign(spark: SparkSession, emb: DataFrame, k: Int, iters: Int,
      embCol: String = "embedding"): (graft.operators.KMeans.Model, DataFrame) =
    graft.operators.KMeans.fitAssign(spark, emb, k, iters, embCol)

  /** d18's transform as a frame API: per doc, chunk counts before/after
    * the cross-doc-boilerplate strip and the cleaned-text md5. Uncached
    * variant — the chunk subtree runs twice (still linear) instead of
    * pinning a corpus-sized cache the caller could never release; in a
    * long-lived session, one leaked entry per ingest batch is the worse
    * trade. */
  def boilerplateStrip(documents: DataFrame): DataFrame =
    graft.queries.LlmOps.boilerplateStripOf(documents, cache = false)

  /** d19's transform as a frame API: per doc, duplicated k-gram spans
    * (length >= 8 tokens, shared with any other doc) merged into islands
    * and removed, one canonical copy kept corpus-wide; returns span
    * counts, tokens removed, and the cleaned-text md5. */
  def substringDedup(documents: DataFrame): DataFrame =
    graft.queries.LlmOps.substringDedupOf(documents)

  /** d20's transform: keep at most `cap` docs per `source` by
    * (n_chars DESC, doc_id) — exact salted top-K, no whole-domain
    * reducer (C4/Gopher-style domain-share bound). */
  def domainCap(documents: DataFrame, cap: Int, salts: Int = 8): DataFrame =
    graft.queries.LlmOps.domainCapOf(documents, cap, salts)

  /** d21's transform: integer fixed-point PageRank over an undirected
    * (doc_a, doc_b) pair graph — rank docs by centrality in the
    * similarity structure (the webgraph quality signal). */
  def dupGraphRank(pairs: DataFrame): DataFrame =
    graft.queries.LlmOps.dupGraphRankOf(pairs)

  /** d22's transform: per TEST-split doc, distinct 8-grams seen anywhere
    * in TRAIN and the integer-exact 70% contamination flag. */
  def contaminationAudit(documents: DataFrame): DataFrame =
    graft.queries.LlmOps.contaminationOf(documents)

  /** The distinct 8-gram set of a corpus — build once, persist, and feed
    * [[graft.streaming.EventStream.contaminationStream]] or
    * [[contaminationScore]] on every arriving batch. */
  def gramSet(documents: DataFrame): DataFrame =
    graft.queries.LlmOps.gramSetOf(documents)

  /** Score a batch of documents against a prebuilt gram set (d22's
    * scoring half): (doc_id, n_grams, n_hit, contaminated). */
  def contaminationScore(batch: DataFrame, gramSet: DataFrame): DataFrame =
    graft.queries.LlmOps.contaminationAgainst(batch, gramSet)

  /** e14's tail: downsample every cluster of a (vec_id, cluster) label
    * frame to the smallest cluster's size with deterministic
    * hash-threshold membership (t14's exact integer arithmetic). */
  def clusterBalancedSample(labels: DataFrame, salt: String = "cbal1"): DataFrame =
    graft.queries.LlmOps.balanceByCluster(labels, salt, nName = "n_vecs")

  /** t29's battery: the published Gopher hard-filter rules as one
    * projection pass — per-rule booleans + the final keep, all integer
    * arithmetic. Input needs (doc_id, text). */
  def gopherRules(documents: DataFrame): DataFrame =
    graft.queries.LlmOps.gopherRulesOf(documents)

  /** t31's compliance pass: every email / phone / IPv4 / national-id-
    * shaped span replaced with its typed placeholder (fixed composition
    * order — see [[graft.functions.TextOps.redactAllPii]]). A pure
    * row-local projection: no shuffle, regexes compiled once per task. */
  def piiScrub(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.TextOps.redactAllPii(text)

  /** t28's mixture: temperature-weighted (α = 1/2) per-source target
    * allocation + deterministic membership — per source the √n weight,
    * target, kept count, and membership checksum. Input needs
    * (doc_id, source, text). */
  def temperatureMixing(documents: DataFrame): DataFrame =
    graft.queries.LlmOps.temperatureMixingOf(documents)

  /** t32's manifest: deterministic shuffle key (salted content-stable
    * md5) + first-nibble shard per document, aggregated to one manifest
    * row per shard (counts, membership checksum, key range — the range-
    * partition boundaries the physical shard write uses). Input needs
    * (doc_id, n_chars). */
  def shardManifest(documents: DataFrame): DataFrame =
    graft.queries.LlmOps.shardManifestOf(documents)

  /** The physical write behind [[shardManifest]]: the corpus on disk as
    * deterministic shards (one dir per shard, training order within
    * files; re-runs are content-deterministic — membership and order,
    * not file-split bytes). */
  def writeShards(documents: DataFrame, dir: String): Unit =
    graft.queries.LlmOps.writeShards(documents, dir)

  /** t27's report: CCNet-style head/middle/tail buckets BY bigram-LM NLL
    * WITHIN each source (per-group percentile cuts, ranked by the
    * distributed groupedRank kernel — no per-source hot reducer).
    * `numParts` is the range-exchange width (defaultParallelism is the
    * right call on a live session). */
  def sourceQualityBuckets(documents: DataFrame, numParts: Int): DataFrame =
    graft.queries.LlmOps.sourceQualityBucketsOf(documents, numParts)

  /** t30's composed corpus build: Gopher rules → survivor-fit bigram-LM
    * quality terciles within source → √n temperature allocation over the
    * (source, bucket) cells with deterministic membership. One
    * (source, bucket) mixture row out: survivors, target, kept docs,
    * kept tokens, membership checksum. Input needs
    * (doc_id, source, text); `numParts` as in sourceQualityBuckets. */
  def corpusBuild(documents: DataFrame, numParts: Int): DataFrame =
    graft.queries.LlmOps.corpusBuildOf(documents, numParts)

  /** Exact in-group rank without a per-group window partition (the
    * operators.Ranks kernel behind q22/q37/t27): input columns + grank
    * (1-based within `grp` by `orderKeys`) + gn (group size). Include a
    * unique tiebreaker in orderKeys for a deterministic rank. */
  def groupedRank(df: DataFrame, grp: String, numParts: Int,
      orderKeys: org.apache.spark.sql.Column*): DataFrame =
    graft.operators.Ranks.groupedRank(df, grp, numParts, orderKeys: _*)

  /** Spark/DuckDB ntile(k) as a closed form of (grank, gn) — pair with
    * [[groupedRank]] for exact distributed ntile. */
  def ntileFromRank(grank: org.apache.spark.sql.Column,
      gn: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column =
    graft.operators.Ranks.ntileFromRank(grank, gn, k)

  /** nDCG@10 / MRR@10 / P@10 / R@10 over an arbitrary retrieval run
    * (t36's kernel): `run` has one row per (qid, doc_id) with a `score`
    * and boolean `rel`; candidate sets may be corpus-sized (top-10 via
    * groupedRank, no per-qid reducer); decimal discounts make the
    * numbers bit-stable across cluster sizes. */
  def retrievalMetrics10(spark: SparkSession, run: DataFrame): DataFrame =
    graft.queries.LlmOps.retrievalMetrics10(spark, run)

  /** Bounded posting-list builder (t38's kernel): (term, doc_id)
    * occurrences → per mid-band term (minDf ≤ df ≤ maxDf) its df, cf,
    * and complete sorted posting list; reducer state O(maxDf) per key
    * under any skew. */
  def boundedPostings(occ: DataFrame, minDf: Int, maxDf: Int): DataFrame =
    graft.queries.LlmOps.boundedPostings(occ, minDf, maxDf)

  /** Vocabulary coverage curve (t39's kernel): term occurrences → top-k
    * terms with rank and cumulative share of all occurrences — the
    * vocab-size-for-X%-coverage curve tokenizer induction starts from. */
  def vocabCoverage(occ: DataFrame, k: Int): DataFrame =
    graft.queries.LlmOps.vocabCoverage(occ, k)

  /** Sequential funnel (q46's kernel) over (user_id, event_type, ts_s)
    * events: per ordered stage, users reached (first stage-k event at or
    * after their stage-(k-1) entry) and conversion from the previous
    * stage. No windows — chained conditional-min aggregates. */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame =
    graft.queries.Relational.funnel(events, stages)

  /** Join-key skew audit (q47's kernel): group sizes of keyCol, global
    * population stats, the topK heaviest keys with skew factors — the
    * measured pre-join routing decision for [[saltedJoin]]/AQE skew. */
  def skewAudit(df: DataFrame, keyCol: String, topK: Int): DataFrame =
    graft.queries.Relational.skewAudit(df, keyCol, topK)

  /** Near-dup source overlap matrix (d26's kernel) over (doc_id, text,
    * source) documents: MinHash pair counts per unordered source pair —
    * who mirrors whom, and each source's internal dup pressure. */
  def sourceOverlap(documents: DataFrame): DataFrame =
    graft.queries.LlmOps.sourceOverlapOf(documents)

  /** Weekly cohort retention (q49's kernel) over (user_id, ts) events:
    * the (cohort_week, week_offset) triangle with distinct-user counts
    * and retention ratios. User-keyed aggregates + one broadcast of the
    * cohort-size table; no windows, no range joins. */
  def cohortRetention(events: DataFrame): DataFrame =
    graft.queries.Relational.cohortRetention(events)

  /** Rolling DAU/WAU (q50's kernel) over (user_id, ts) events: per day,
    * distinct users that day and over the trailing `windowDays`, plus
    * the stickiness ratio. Dedup + constant-fan-out explode instead of a
    * range join or a corpus-wide RANGE window. */
  def rollingActive(events: DataFrame, windowDays: Int = 7): DataFrame =
    graft.queries.Relational.rollingActive(events, windowDays)

  /** Pairwise Jensen-Shannon divergence between per-source unigram
    * distributions (t41's kernel) over (source, text) docs — the
    * distribution-drift twin of [[sourceOverlap]]'s document-level
    * matrix. Pairs sharing no vocabulary emit no row (js would be ln2). */
  def sourceDivergence(docs: DataFrame): DataFrame =
    graft.queries.LlmOps.sourceDivergence(docs)

  /** BPE merge-pair statistics (t42's kernel): top-k frequency-weighted
    * adjacent character pairs over the corpus's word-frequency
    * dictionary — the first tokenizer-training iteration, vocab-sized
    * after the first aggregate. */
  def bpeMergePairs(docs: DataFrame, topK: Int): DataFrame =
    graft.queries.LlmOps.bpeMergePairs(docs, topK)

  /** Full BPE trainer (t46's kernel): the K-round merge table over the
    * corpus's word-frequency dictionary — per round, the argmax
    * frequency-weighted adjacent token pair (lexicographic tie-break)
    * and its count at merge time. One corpus-sized aggregate up front;
    * each round is vocab-sized plus a single-row driver collect. */
  def bpeTrain(docs: DataFrame, rounds: Int): DataFrame =
    graft.queries.LlmOps.bpeTrain(docs, rounds)

  /** The trained tokenizer applied (t47's kernel): the corpus's top-k
    * token-frequency table under the K trained merges. */
  def bpeTokenStats(docs: DataFrame, rounds: Int, topK: Int = 20): DataFrame =
    graft.queries.LlmOps.bpeTokenStats(docs, rounds, topK)

  /** Market-basket association (q51's kernel) over (basket, item) rows:
    * top-k co-occurring item pairs with support / confidence / lift.
    * Pair generation self-joins on the basket key — per-basket C(n,2),
    * never corpus². */
  def basketLift(baskets: DataFrame, topK: Int = 20): DataFrame =
    graft.queries.Relational.basketLift(baskets, topK)

  /** Time-series gap fill + last-observation-carried-forward (q52's
    * kernel) over (user_id, ts, value) events: the dense per-user daily
    * series with missing days materialized and the last reading carried
    * forward. Day explosion is span-bounded; the LOCF window partitions
    * by user, never globally. */
  def gapFillLocf(events: DataFrame): DataFrame =
    graft.queries.Relational.gapFillLocf(events)

  /** First-order event transition matrix (q53's kernel) over
    * (user_id, event_id, ts, event_type) events: per-user consecutive
    * pairs aggregated to counts + row-normalized probabilities. The lag
    * window partitions by user, never globally. */
  def transitionMatrix(events: DataFrame): DataFrame =
    graft.queries.Relational.transitionMatrix(events)

  /** Per-batch n-gram novelty (t43's kernel) over (doc_id, text) docs:
    * doc_id-quantile batches, distinct word-3-gram counts, and the
    * fraction first seen in each batch — the crawl-saturation curve. */
  def gramNovelty(docs: DataFrame, nBatches: Int = 4): DataFrame =
    graft.queries.LlmOps.gramNovelty(docs, nBatches)

  /** Content-addressed corpus snapshot diff (d27's kernel): per source,
    * distinct texts added / removed / retained between two (source,
    * text) snapshot frames. One hash-keyed full-outer join. */
  def snapshotDiff(a: DataFrame, b: DataFrame): DataFrame =
    graft.queries.LlmOps.snapshotDiff(a, b)

  /** Categorized blocklist screen (t44's kernel) over (doc_id, text)
    * docs: per doc, blocklist hits, the worst category, and the
    * keep/drop verdict under `maxHits`. The term table broadcasts;
    * zero-hit docs read clean, never absent. */
  def blocklistScreen(docs: DataFrame, blocklist: Seq[(String, String)],
      maxHits: Long): DataFrame =
    graft.queries.LlmOps.blocklistScreen(docs, blocklist, maxHits)

  /** Matryoshka-truncated exact search (e24's kernel): cosine top-k over
    * the first `dims` dimensions — half the bytes and dot-product work
    * when the embedding's front dims carry the geometry. */
  def annTopKTruncated(spark: SparkSession, emb: DataFrame, dims: Int,
      k: Int = 5): DataFrame =
    graft.queries.LlmOps.truncatedTopKOf(spark, emb, dims, k)

  /** JSONL ingest with a corrupt-record quarantine: (parsed, rejected)
    * from one read — malformed lines land verbatim in the second frame,
    * nothing is silently dropped. */
  def readJsonlQuarantined(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): (DataFrame, DataFrame) =
    graft.sources.Io.readJsonlQuarantined(spark, path, schema)

  /** Winsorized per-group stats (t40's kernel) over (source, v) with
    * integer v: exact interpolated [pLo, pHi] clip bounds per source,
    * tail clip counts, and the winsorized mean — no corpus-sized double
    * accumulation (exact integer in-range sum + count×bound tails). */
  def winsorizeStats(spark: SparkSession, df: DataFrame,
      pLo: Double, pHi: Double): DataFrame =
    graft.queries.LlmOps.winsorizeStats(spark, df, pLo, pHi)

  // ---- bigram LM + gram-set artifacts (the streaming gates' statics) ----

  /** t25's interpolated bigram LM count table from (doc_id, text) docs —
    * persist with [[bigramLmSave]], score with [[bigramNll]]. */
  def bigramLmCounts(documents: DataFrame): DataFrame =
    graft.queries.LlmOps.bigramLmCountsOf(
      documents.select(org.apache.spark.sql.functions.col("doc_id"),
        graft.queries.LlmOps.tokensCol(org.apache.spark.sql.functions.col("text")).as("t")))

  def bigramLmSave(counts: DataFrame, path: String): Unit =
    graft.queries.LlmOps.saveBigramLm(counts, path)
  def bigramLmLoad(spark: SparkSession, path: String): DataFrame =
    graft.queries.LlmOps.loadBigramLm(spark, path)

  /** Per-doc interpolated bigram NLL under a count table (t25's scoring
    * half): (doc_id, n_tokens, nll); docs with no in-vocabulary token
    * emit no row. */
  def bigramNll(documents: DataFrame, counts: DataFrame): DataFrame =
    graft.queries.LlmOps.bigramNllFrom(
      documents.select(org.apache.spark.sql.functions.col("doc_id"),
        graft.queries.LlmOps.tokensCol(org.apache.spark.sql.functions.col("text")).as("t")),
      counts)

  /** (Re)build the persisted train gram set from the CURRENT train corpus
    * through a snapshot commit — an in-flight stream consuming the
    * artifact picks the new set up at its next micro-batch. */
  def gramSetRefresh(trainDocs: DataFrame, path: String, retain: Int = 2): Unit =
    graft.queries.LlmOps.refreshGrams(trainDocs, path, retain)

  /** Cold-open load of the current persisted gram set (validated). */
  def gramSetLoad(spark: SparkSession, path: String): DataFrame =
    graft.queries.LlmOps.loadGramSet(spark, path)

  // ---- persisted dedup-index artifacts (the incremental-ingest loop) ----

  /** d01's artifact: every document with its exact-dup class id
    * (cid = min doc_id over identical text). Persist with writeParquet;
    * every near-dup pass starts from it instead of re-canonicalizing. */
  def canonicalTable(documents: DataFrame): DataFrame =
    graft.queries.LlmOps.canonicalTable(documents)

  /** MinHash-LSH near-dup pairs from a loaded canonical table (d17's path). */
  def minhashPairsFromCanonical(canonical: DataFrame): DataFrame =
    graft.queries.LlmOps.minhashPairsFromCanonical(canonical)

  /** Corpus dedup index (content-hash table + SimHash band table) —
    * build once per corpus version, persist, admit every batch against it. */
  def dedupIndex(corpus: DataFrame): (DataFrame, DataFrame) =
    graft.queries.LlmOps.dedupIndexOf(corpus)
  def dedupIndexSave(hash: DataFrame, bands: DataFrame, path: String): Unit =
    graft.queries.LlmOps.saveDedupIndex(hash, bands, path)
  def dedupIndexLoad(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    graft.queries.LlmOps.loadDedupIndex(spark, path)

  /** Incremental index maintenance: append an admitted batch's hash/band
    * rows to the persisted index — no rebuild, linear in the batch. */
  def dedupIndexAppend(admitted: DataFrame, path: String): Unit =
    graft.queries.LlmOps.appendDedupIndex(admitted, path)

  /** Periodic compaction for an appended index: distinct + rewrite, run
    * every N appends to bound file counts (never needed for correctness). */
  def dedupIndexCompact(spark: SparkSession, path: String): Unit =
    graft.queries.LlmOps.compactDedupIndex(spark, path)

  /** Batch admission verdict (dup_exact / dup_near / keep) against a
    * prebuilt corpus index — linear in batch size (d08/d16 semantics). */
  def incrementalDedup(batch: DataFrame, hash: DataFrame, bands: DataFrame): DataFrame =
    graft.queries.LlmOps.incrementalDedupAgainst(batch, hash, bands)

  // ---- job status/history (the reference's dashboard tables) ----

  /** One row per ParallelMap job: id, mode, status, counts, timings. */
  def jobs(spark: SparkSession): DataFrame = graft.operators.JobTracker.jobs(spark)

  /** One row per errored input (capped per job): which inputs errored. */
  def jobErrors(spark: SparkSession): DataFrame = graft.operators.JobTracker.jobErrors(spark)

  /** Status transition log per job (RUNNING -> COMPLETED/FAILED/CANCELLED). */
  def jobTransitions(spark: SparkSession): DataFrame =
    graft.operators.JobTracker.jobTransitions(spark)

  /** Self-usage rollup: task-seconds and job counts per UTC day per mode
    * over the engine's own run history (the reference's usage endpoints). */
  def usageDaily(spark: SparkSession): DataFrame =
    graft.operators.JobTracker.usageDaily(spark)

  /** Structural validity checks over ANY ANN top-k frame (qid, vid,
    * cosine) against its query set (vec_id) — one row per query with
    * k_bounded_ok / no_self_ok / no_dup_ok / cosine_ok verdicts, the
    * invariants that hold for every correct index regardless of
    * centroids or buckets (e04/e06 gate exactly this cross-engine;
    * recall needs a ground-truth side and lives in the recall gates). */
  def annStructuralChecks(querySet: DataFrame, topk: DataFrame, k: Int): DataFrame =
    graft.queries.LlmOps.annStructuralVerdicts(querySet, topk, k)

  // ---- mergeable sketch family (the t33/t34/t35 layouts) ----

  /** Per-shard Count-Min sketch blobs over a key column — t35's layout:
    * each shard persists its own ~11 KB blob beside the data; later
    * heavy-hitter questions merge blobs ([[cmsMerge]]) instead of
    * rescanning shards. Fixed seed → deterministic for a given (data,
    * shard) split; counters are sums, so blobs from any partitioning
    * merge to the identical grid. Returns (shard, sk) rows. */
  def cmsShardSketches(
      df: DataFrame,
      key: org.apache.spark.sql.Column,
      shard: org.apache.spark.sql.Column,
      eps: Double = 0.01,
      confidence: Double = 0.99,
      seed: Int = 42
  ): DataFrame =
    df.select(shard.as("shard"), key.as("__k"))
      .groupBy("shard")
      .agg(org.apache.spark.sql.functions.expr(
        s"count_min_sketch(__k, CAST($eps AS DOUBLE), CAST($confidence AS DOUBLE), $seed)")
        .as("sk"))

  /** Deserialize one Count-Min blob. */
  def cmsRead(blob: Array[Byte]): org.apache.spark.util.sketch.CountMinSketch =
    org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(blob))

  /** Merge Count-Min blobs (same eps/confidence/seed) into one queryable
    * sketch — exact: counter grids are long sums, so the merged estimate
    * equals the single-pass estimate for every key (t35 gates that
    * cross-engine; SketchSpec proves a dropped/doubled blob breaks it). */
  def cmsMerge(blobs: Seq[Array[Byte]]): org.apache.spark.util.sketch.CountMinSketch = {
    require(blobs.nonEmpty, "cmsMerge: no blobs")
    blobs.map(cmsRead).reduce { (a, b) => a.mergeInPlace(b); a }
  }

  /** Per-(group, shard) HLL sketch blobs over a key column — t34's
    * layout for distinct counts. Returns (groupCols..., shard, sk). */
  def hllShardSketches(
      df: DataFrame,
      key: org.apache.spark.sql.Column,
      shard: org.apache.spark.sql.Column,
      groupCols: Seq[String] = Nil,
      lgK: Int = 12
  ): DataFrame =
    df.select((groupCols.map(org.apache.spark.sql.functions.col) :+ shard.as("shard") :+ key.as("__k")): _*)
      .groupBy((groupCols :+ "shard").map(org.apache.spark.sql.functions.col): _*)
      .agg(org.apache.spark.sql.functions.expr(s"hll_sketch_agg(__k, $lgK)").as("sk"))

  /** Distinct-count estimates from a blob table by register-wise union —
    * answers arrive without rescanning any shard (new shards union in).
    * Returns (groupCols..., est). */
  def hllMergedEstimates(blobs: DataFrame, groupCols: Seq[String] = Nil): DataFrame = {
    val est = org.apache.spark.sql.functions
      .expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est")
    if (groupCols.isEmpty) blobs.agg(est)
    else blobs.groupBy(groupCols.map(org.apache.spark.sql.functions.col): _*).agg(est)
  }

  // ---- streaming (graft.streaming.EventStream passthroughs) ----

  /** File-source stream over an events parquet directory. */
  def readEventStream(spark: SparkSession, path: String): DataFrame =
    graft.streaming.EventStream.readEvents(spark, path)

  /** Watermark-bounded streaming exact dedup (first occurrence per key). */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    graft.streaming.EventStream.dedupStream(events, keyCols, watermark)

  /** Streaming near-dup guard: flag arriving documents against a static
    * SimHash fingerprint index (d04's artifact) — zero stream state. */
  def nearDupStream(docs: DataFrame, corpusFps: DataFrame, radius: Int = 3): DataFrame =
    graft.streaming.EventStream.nearDupStream(docs, corpusFps, radius)

  /** Exact-dedup maintenance stream (d01's live twin): content-hash each
    * arriving batch against the persisted canonical table, emit
    * accept/duplicate verdicts, append accepted canonicals — zero stream
    * state, exactly-once store, replay-stable verdicts. */
  def canonicalDedupStream(docs: DataFrame, storeDir: String,
      verdictDir: String, checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.EventStream.canonicalDedupStream(docs, storeDir, verdictDir, checkpointDir)

  /** Label a stream of (vec_id, embedding) rows with a persisted k-means
    * model — stateless compiled projection, byte-identical to the batch
    * assignment (EventStreamSpec). */
  /** Streaming sequential funnel (q46's live twin): append-mode
    * (user, stage, entry) rows, each finalized exactly once when the
    * watermark passes it; exact under out-of-order arrival (an on-time
    * earlier-stage event rewinds the downstream chain). */
  def funnelStream(spark: SparkSession,
      events: org.apache.spark.sql.Dataset[graft.streaming.EventStream.Event],
      stages: Seq[String] = Seq("view", "click", "purchase"),
      watermarkSeconds: Long = 1800): org.apache.spark.sql.Dataset[graft.streaming.EventStream.FunnelHit] =
    graft.streaming.EventStream.funnelStream(spark, events, stages, watermarkSeconds)

  /** q53's live twin: per-user consecutive event pairs, each finalized
    * exactly once behind the watermark — feed a streaming groupBy for
    * the live transition matrix. Batch parity spec-pinned. */
  def transitionStream(spark: SparkSession,
      events: org.apache.spark.sql.Dataset[graft.streaming.EventStream.Event],
      watermarkSeconds: Long = 1800): org.apache.spark.sql.Dataset[graft.streaming.EventStream.TransitionHit] =
    graft.streaming.EventStream.transitionStream(spark, events, watermarkSeconds)

  /** q50's incremental maintainer: per micro-batch, merge (user, day)
    * pairs into a persisted distinct store (exactly-once by anti-join)
    * and recompute ONLY the affected days by dynamic partition
    * overwrite. Late arrivals self-correct; byte-parity with the batch
    * kernel is spec-pinned. */
  def rollingActiveStream(events: DataFrame, storeDir: String, outDir: String,
      checkpointDir: String, windowDays: Int = 7)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.EventStream.rollingActiveStream(
      events, storeDir, outDir, checkpointDir, windowDays)

  def clusterStream(emb: DataFrame, model: graft.operators.KMeans.Model): DataFrame =
    graft.streaming.EventStream.clusterStream(emb, model)

  /** Exactly-once parquet landing zone (file-sink manifest + checkpoint). */
  def sinkParquet(df: DataFrame, path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.EventStream.sinkParquet(df, path, checkpoint)

  /** Crash-safe streaming ingest admission against a persisted dedup
    * index: exactly-once per-batch verdicts, snapshot-log index appends
    * (see EventStream.ingestGuard for the full protocol contract). */
  def ingestGuard(docs: DataFrame, indexPath: String, verdictDir: String,
      checkpointDir: String, maintainIndex: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.EventStream.ingestGuard(docs, indexPath, verdictDir,
      checkpointDir, maintainIndex)

  /** The composed live-crawl admission pipeline: dedup + contamination +
    * LM-quality gates in one exactly-once commit loop; `unscorable`
    * routes docs the LM cannot score (Reject / Quarantine). */
  def crawlPipeline(docs: DataFrame, indexPath: String, trainGrams: DataFrame,
      lmCounts: DataFrame, nllMax: Double, verdictDir: String, checkpointDir: String,
      maintainIndex: Boolean = true,
      unscorable: graft.queries.LlmOps.UnscorablePolicy =
        graft.queries.LlmOps.UnscorablePolicy.Reject)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.EventStream.crawlPipeline(docs, indexPath, trainGrams,
      lmCounts, nllMax, verdictDir, checkpointDir, maintainIndex, unscorable)

  /** crawlPipeline wired to the PERSISTED gram artifact: the
    * contamination gate re-resolves the snapshot per batch, so
    * [[gramSetRefresh]] takes effect at the next batch, no restart. */
  def crawlPipelineLive(docs: DataFrame, indexPath: String, gramsPath: String,
      lmCounts: DataFrame, nllMax: Double, verdictDir: String, checkpointDir: String,
      maintainIndex: Boolean, unscorable: graft.queries.LlmOps.UnscorablePolicy)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.EventStream.crawlPipeline(docs, indexPath, gramsPath,
      lmCounts, nllMax, verdictDir, checkpointDir, maintainIndex, unscorable)

  /** Streaming vector ingest into a persisted partitioned IVF index —
    * crash-safe exactly-once appends against the frozen quantizer. */
  def ivfIngest(emb: DataFrame, indexPath: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.EventStream.ivfIngest(emb, indexPath, checkpointDir)

  /** The named query library (oracle-checked operators). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries
}
