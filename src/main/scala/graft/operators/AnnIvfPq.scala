package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fused IVF-PQ search — the production vector-store shape (FAISS
  * IndexIVFPQ): the IVF coarse quantizer prunes the search to each
  * query's `nprobe` probed lists, PQ ADC scores ONLY those candidates
  * from the compressed codes, and the exact fixed-point kernel re-ranks
  * the ADC shortlist. The two stages exist separately as [[AnnIvf]]
  * (e06: probe + exact rescore of every candidate) and [[AnnPq]] (e12:
  * ADC over the whole corpus); fused, the exact work drops to the
  * shortlist and the ADC work to the probed fraction — at 100 TB that is
  * the difference between touching `nprobe/nlist` of the codes (bytes,
  * not vectors) and touching everything.
  *
  * Composition, not reimplementation: probe lists come from the SAME
  * compiled cosine-top-clusters kernel the IVF assignment uses (applied
  * to the queries frame — identical tie-breaks by construction), the
  * candidate set is one broadcast equi-join on cluster id, and the ADC +
  * re-rank is [[AnnPq.topKCandidates]] with the candidate pairs plugged
  * into its fusion seam. The auto-shortlist rule therefore sizes itself
  * from the PROBED candidates per query, preserving AnnPq's
  * searched-corpus discipline under pruning. */
object AnnIvfPq {

  /** One-shot fused search: fit both quantizers in-plan, then search.
    * `queries` must be small (the AnnIvf/AnnLsh/AnnPq contract — its
    * vectors become broadcasts). Output: (qid, rnk, vid, d2), d2 the
    * exact fixed-point squared L2 of the re-rank, like AnnPq.topK. */
  def topK(
      spark: SparkSession,
      emb: DataFrame, // vec_id, embedding
      queries: DataFrame, // vec_id, embedding (small by construction)
      k: Int = 5,
      nlist: Int = 16,
      nprobe: Int = 4,
      subspaces: Int = 4,
      subDim: Int = 16,
      pqK: Int = 16,
      pqIters: Int = 1,
      shortlist: Int = 0
  ): DataFrame = {
    // one corpus cache spans both quantizer fits + the search (the
    // AnnIvf.topK discipline); the result is queries × k rows, so it is
    // materialized eagerly and the cache released before returning
    val cached = emb.cache()
    try {
      val cs = AnnIvf.fit(spark, cached, nlist)
      val pq = AnnPq.fit(spark, cached, subspaces, subDim, pqK, pqIters)
      topKWith(spark, cached, queries, cs, pq, k, nprobe, shortlist)
        .localCheckpoint()
    } finally cached.unpersist()
  }

  /** Search against already-fitted quantizers — the artifact path
    * (loadCentroids + AnnPq.load feed this at production scale). */
  def topKWith(
      spark: SparkSession,
      emb: DataFrame,
      queries: DataFrame,
      centroids: Seq[Array[Double]],
      pq: AnnPq.Model,
      k: Int,
      nprobe: Int,
      shortlist: Int = 0
  ): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    // per-query probe lists THROUGH the compiled kernel the corpus
    // assignment uses — identical metric and tie-breaks, no driver-side
    // reimplementation to drift; queries × nprobe rows, broadcastable
    // clamp nprobe to the list count — the same contract searchIndex
    // enforces, so both entry points accept nprobe > nlist gracefully
    val probes = queries.select(
      col("vec_id").as("qid"),
      explode(AnnIvf.topClustersCol(centroids,
        math.min(nprobe, centroids.length))).as("cluster"))
    val assigned = emb
      .select(col("vec_id"), col("embedding"))
      .withColumn("cluster", AnnIvf.nearestCentroidCol(centroids))
      .select("vec_id", "cluster")
    // candidate pairs: each corpus row fans out only to the queries
    // probing its list — bounded by |queries|, ~nprobe/nlist of the
    // corpus per query
    val cand = assigned
      .join(broadcast(probes), "cluster")
      .select(col("qid"), col("vec_id").as("vid"))
    AnnPq.topKCandidates(spark, emb, queries, pq, k, shortlist, Some(cand))
  }

  // ---- persisted IVF-PQ index (the production vector-store artifact) ----

  private val IndexKind = "ivfpq-index"
  private val L = SnapshotLog

  /** Build + persist the FULL IVF-PQ index: both quantizers (centroid
    * set + PQ codebooks) AND the corpus stored cluster-partitioned WITH
    * its code columns — so a search is (a) a PARTITION-PRUNED scan of
    * the probed lists, (b) ADC over the STORED codes (column-pruned: the
    * ADC leg never reads the embedding column), and (c) an exact re-rank
    * that reads embeddings for the shortlist's pruned partitions only.
    * This is what IndexIVFPQ persists at scale: encoding happens once at
    * ingest, never per search. Snapshot-logged like [[AnnIvf.buildIndex]]
    * — quantizers and assignments flip atomically with one manifest, so
    * a crash mid-rebuild can never publish codes against the wrong
    * codebook. `retain` is the concurrent-reader GC grace window. */
  /** `residual = true` switches the PQ to RESIDUAL encoding — the FAISS
    * IndexIVFPQ default: each vector's code quantizes `x − c(list(x))`
    * rather than `x` itself, which concentrates the quantizer's dynamic
    * range on within-list variation (the inter-list spread is already
    * captured by the coarse centroid) and lifts recall at the same bit
    * budget on clustered corpora. The mode is recorded in the manifest:
    * [[appendIndex]] and [[searchIndex]] dispatch on the stored flag, so
    * an artifact can never be appended or searched in the wrong space.
    * Default false for parity with the in-plan [[topKWith]] path. */
  def buildIndex(
      spark: SparkSession,
      emb: DataFrame,
      path: String,
      nlist: Int = 16,
      subspaces: Int = 4,
      subDim: Int = 16,
      pqK: Int = 16,
      pqIters: Int = 1,
      retain: Int = 1,
      residual: Boolean = false
  ): Unit = {
    val cached = emb.cache()
    try {
      val cs = AnnIvf.fit(spark, cached, nlist)
      // residual mode fits the codebooks on the RESIDUALS (the space the
      // codes will live in), raw mode on the vectors themselves
      val pq =
        if (residual)
          AnnPq.fit(spark, residualFrame(cached, cs), subspaces, subDim, pqK, pqIters)
        else AnnPq.fit(spark, cached, subspaces, subDim, pqK, pqIters)
      val v = L.nextVersion(spark, path)
      val (ctag, ptag, vtag) = (s"centroids-v$v", s"pq-v$v", s"base-v$v")
      AnnIvf.saveCentroids(spark, cs, L.dataDir(path, "centroids", ctag))
      AnnPq.save(spark, pq, L.dataDir(path, "pq", ptag))
      encoded(spark, cached, cs, pq, residual)
        .write.mode("overwrite").partitionBy("cluster")
        .parquet(L.dataDir(path, "vectors", vtag))
      val rows = spark.read.parquet(L.dataDir(path, "vectors", vtag)).count()
      L.commit(spark, path, IndexKind, v,
        Map("centroids" -> Seq(ctag), "pq" -> Seq(ptag), "vectors" -> Seq(vtag)),
        Map("rows" -> rows.toString, "residual" -> residual.toString))
      L.gc(spark, path, IndexKind, retain)
    } finally { cached.unpersist(); () }
  }

  /** Append a batch against the FROZEN quantizers (train-once/
    * encode-forever — the codebook never moves on an append, so new
    * codes are directly comparable to stored ones): assign + encode into
    * an immutable `add-v<N>` directory, commit one manifest referencing
    * it. Incremental row accounting (prior + batch count), the
    * AnnIvf.appendIndexBatch discipline. */
  def appendIndex(spark: SparkSession, emb: DataFrame, path: String): Unit = {
    val snap = L.current(spark, path, IndexKind)
    val cs = AnnIvf.loadCentroids(spark, snap.dirs(path, "centroids").head)
    val pq = AnnPq.load(spark, snap.dirs(path, "pq").head)
    // the ENCODING SPACE is part of the artifact: a residual index must
    // encode appends as residuals or its codes silently stop meaning
    // distances — dispatch on the stored flag, never a caller knob
    val residual = snap.props.getOrElse("residual", "false").toBoolean
    val v = L.nextVersion(spark, path)
    val tag = s"add-v$v"
    val batch = emb.localCheckpoint(true) // pin: counted + written below
    val added = batch.count()
    if (added == 0L) () // zero-row partitionBy writes no files — commit nothing
    else {
      encoded(spark, batch, cs, pq, residual)
        .write.mode("overwrite").partitionBy("cluster")
        .parquet(L.dataDir(path, "vectors", tag))
      val rows = snap.props.get("rows").map(_.toLong + added).getOrElse(added)
      L.commit(spark, path, IndexKind, v,
        snap.tables + ("vectors" -> (snap.tables.getOrElse("vectors", Nil) :+ tag)),
        Map("rows" -> rows.toString, "residual" -> residual.toString))
    }
  }

  /** `x − c(list(x))` as a float array column — requires `embedding` and
    * `cluster` columns in scope. One float subtraction per element
    * against a broadcast literal of the centroid table; the EXACT same
    * arithmetic the driver-side query shift uses (float minus
    * float-narrowed centroid), so corpus codes and query tables live in
    * one space. */
  private[graft] def residualCol(cs: Seq[Array[Double]]): org.apache.spark.sql.Column = {
    val cents = array(cs.map(c => array(c.toIndexedSeq.map(v => lit(v.toFloat)): _*)): _*)
    zip_with(col("embedding"), element_at(cents, col("cluster") + 1), (a, b) => a - b)
  }

  /** (vec_id, embedding = residual) under the given coarse centroids —
    * the frame PQ codebooks are FIT on and codes computed from in
    * residual mode. A vector sitting exactly on its centroid has the
    * all-zero residual (spec-pinned): float subtraction of equal values
    * is exactly zero. */
  private[graft] def residualFrame(emb: DataFrame, cs: Seq[Array[Double]]): DataFrame =
    emb
      .select(col("vec_id"), col("embedding"))
      .withColumn("cluster", AnnIvf.nearestCentroidCol(cs))
      .select(col("vec_id"), residualCol(cs).as("embedding"))

  /** (vec_id, embedding, code0.., cluster) under the given quantizers;
    * `residual` selects which space the codes quantize. The stored
    * `embedding` column is ALWAYS the raw vector — the re-rank leg is
    * exact in the original space either way. */
  private def encoded(
      spark: SparkSession,
      emb: DataFrame,
      cs: Seq[Array[Double]],
      pq: AnnPq.Model,
      residual: Boolean
  ): DataFrame = {
    val codeSource =
      if (residual) residualFrame(emb, cs)
      else emb.select(col("vec_id"), col("embedding"))
    emb
      .select(col("vec_id"), col("embedding"))
      .join(AnnPq.codes(spark, codeSource, pq).drop("pq_dist"), "vec_id")
      .withColumn("cluster", AnnIvf.nearestCentroidCol(cs))
  }

  /** Search the persisted index: snapshot resolve, physical row count vs
    * the manifest (a lost partition directory fails loudly), probe-list
    * computation through the frozen quantizer, then the pruned ADC +
    * re-rank. The probed-cluster set is collected driver-side
    * (≤ queries × nprobe ints) so the scan filter is a LITERAL `IN` —
    * Spark prunes `cluster=` partitions at planning, the property that
    * makes this an INDEX rather than a projection (spec-pinned via
    * PartitionFilters). */
  def searchIndex(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int = 5,
      nprobe: Int = 4,
      shortlist: Int = 0
  ): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val snap = L.current(spark, path, IndexKind)
    val cs = AnnIvf.loadCentroids(spark, snap.dirs(path, "centroids").head)
    val pq = AnnPq.load(spark, snap.dirs(path, "pq").head)
    val vdirs = snap.dirs(path, "vectors")
    require(vdirs.nonEmpty, s"IVF-PQ index at $path references no vector directories")
    // one read per generation dir, unioned: each dir carries its own
    // cluster= partitioning, so partition pruning applies per leg
    val allVectors = vdirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
    ArtifactManifest.check(path, "rows", snap.props.getOrElse("rows", "?"),
      allVectors.count().toString)
    val residual = snap.props.getOrElse("residual", "false").toBoolean
    val probes = queries.select(
      col("vec_id").as("qid"),
      explode(AnnIvf.topClustersCol(cs, math.min(nprobe, cs.length))).as("cluster"))
    val probedSet = probes.select("cluster").distinct()
      .collect().map(_.getInt(0)).toSeq // metadata: <= queries x nprobe ints
    val pruned = allVectors.filter(col("cluster").isin(probedSet: _*))
    val cand = pruned
      .join(broadcast(probes), Seq("cluster"))
      .select(col("qid"), col("vec_id").as("vid"), col("cluster"))
    // Residual index: one ADC table per (query, probed list) — the query
    // shifted by THAT list's centroid, so each list's stored residual
    // codes score in the space they were encoded in. queries × nprobe ×
    // subspaces × k rows, driver-built like adcSearch's plain LUT.
    val rlut =
      if (!residual) None
      else {
        import scala.jdk.CollectionConverters._
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
        val qidType = queries.schema("vec_id").dataType
        val qvecs = queries.select(col("vec_id"), col("embedding"))
          .collect().map(r => r.get(0) -> r.getSeq[Float](1).toArray).toMap
        val probePairs = probes.collect().map(r => (r.get(0), r.getInt(1)))
        val rows = for {
          (qid, cl) <- probePairs.toSeq
          qv = qvecs(qid)
          // the query's residual AGAINST THIS LIST — same float-minus-
          // narrowed-centroid arithmetic as residualCol, then fixed-point
          rq = Array.tabulate(qv.length)(i =>
            KMeans.fixedPointLong(qv(i) - cs(cl)(i).toFloat))
          m <- 0 until pq.subspaces
          c <- 0 until pq.codebooks(m).k
        } yield {
          val qs = rq.slice(m * pq.subDim, (m + 1) * pq.subDim)
          val cent = pq.codebooks(m).centroids(c)
          val dist = qs.zip(cent).map { case (a, b) => val d0 = a - b; d0 * d0 }.sum
          Row(qid, cl, m, c, dist)
        }
        Some(spark.createDataFrame(
          rows.asJava,
          StructType(Seq(
            StructField("qid", qidType), StructField("cluster", IntegerType),
            StructField("m", IntegerType), StructField("code", IntegerType),
            StructField("d", LongType)))))
      }
    AnnPq.adcSearch(
      spark,
      pruned.select(col("vec_id"), col("embedding")),
      pruned.select(col("vec_id") +:
        (0 until pq.subspaces).map(m => col(s"code$m")): _*),
      queries, pq, k, shortlist, Some(cand), rlut)
  }
}
