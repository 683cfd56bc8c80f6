package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.AnnIvf

class AnnIvfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("IVF top-k recalls most brute-force neighbors probing a corpus fraction") {
    val emb = Tables.embeddings(spark, TestSpark.sf001).select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 10)
    val approx = AnnIvf
      .topK(spark, emb, queries, k = 5, nlist = 16, nprobe = 4)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getAs[Long]("vid")).toSet).toMap

    val exact = graft.queries.LlmOps.e01
      .run(spark, TestSpark.sf001)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getAs[Long]("vid")).toSet).toMap

    val recalls = exact.map { case (qid, truth) =>
      approx.get(qid).map(a => (a & truth).size.toDouble / truth.size).getOrElse(0.0)
    }
    val meanRecall = recalls.sum / recalls.size
    info(f"mean recall@5 = $meanRecall%.2f over ${exact.size} queries")
    assert(meanRecall >= 0.4, f"recall too low: $meanRecall%.2f")
  }

  test("nlist = 256 index build + query compiles (no codegen fallback)") {
    import spark.implicits._
    // a real IVF index has thousands of lists; the per-centroid inlined
    // expressions died at this scale (64 KB method limit). Fallback
    // disabled => a codegen failure aborts instead of silently
    // interpreting.
    val big = (0 until 800)
      .map(i => (i.toLong, Array.tabulate(16)(d => ((i * 17 + d * 13) % 64) / 32.0f - 1f)))
      .toDF("vec_id", "embedding")
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val res = AnnIvf
        .topK(spark, big, big.filter(col("vec_id") < 5), k = 3, nlist = 256, nprobe = 8)
        .collect()
      assert(res.nonEmpty)
      assert(res.groupBy(_.getLong(0)).forall(_._2.length == 3))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None    => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("cosine_top_clusters kernel replicates the lexicographic struct-sort semantics") {
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    // includes exact ties (duplicate centroids) to pin higher-id-wins
    val cents = Seq(
      Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 0.0), Array(0.7, 0.7),
      Array(-1.0, 0.0), Array(0.5, -0.5)
    )
    val centLit = typedLit[Seq[Seq[Float]]](cents.map(_.map(_.toFloat).toSeq))
    val df = Seq(
      (1L, Array(1.0f, 0.1f)),
      (2L, Array(0.1f, 1.0f)),
      (3L, Array(0.7f, 0.7f)),
      (4L, Array(0.0f, 0.0f)) // zero vector: all cosines 0.0, pure tie
    ).toDF("vec_id", "embedding")
    // the pre-kernel formulation, kept as the semantic oracle
    val scored = array(cents.zipWithIndex.map { case (c, i) =>
      struct(
        expr(s"cosine_similarity(embedding, ${c.map(v => s"CAST($v AS FLOAT)").mkString("array(", ", ", ")")})").as("cos"),
        lit(i).as("cluster")
      )
    }: _*)
    val rows = df.select(
      col("vec_id"),
      call_function("cosine_top_clusters", col("embedding"), centLit, lit(3)).as("got"),
      slice(reverse(array_sort(scored)), 1, 3).getField("cluster").as("want"),
      element_at(call_function("cosine_top_clusters", col("embedding"), centLit, lit(1)), 1).as("got1"),
      array_max(scored).getField("cluster").as("want1")
    ).collect()
    rows.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2), s"vec ${r.getLong(0)} probe list diverged")
      assert(r.getInt(3) == r.getInt(4), s"vec ${r.getLong(0)} argmax diverged")
    }
  }

  test("cosineTopClusters: argmax and sort paths agree on NaN cosines") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import graft.functions.CentroidKernels
    // ragged matrix makes cosines MIXED NaN/finite for one embedding:
    // c0 is length-1, so the prefix norm stays finite (cos = 1.0) while
    // c1 overlaps the Inf component (cos = NaN). The argmax (store) path
    // must start where the sort (probe) path starts — the old
    // un-negated Double.compare ranked NaN best in argmax but worst in
    // the sort, splitting store and probe.
    val mat = Array(Array(1.0f), Array(0.0f, 1.0f))
    val norms = CentroidKernels.centroidSqNorms(mat)
    def run(e: Array[Float], topn: Int): Seq[Int] = {
      val r = CentroidKernels.cosineTopClusters(ArrayData.toArrayData(e), mat, norms, topn)
      (0 until r.numElements()).map(r.getInt)
    }
    val mixed = Array(1.0f, Float.PositiveInfinity)
    assert(run(mixed, 2) == Seq(0, 1), "finite cosine must outrank NaN")
    assert(run(mixed, 1) == Seq(run(mixed, 2).head), "store == first probe")
    // all-NaN: pure tie, both paths must resolve to the higher id
    val allNaN = Array(Float.NaN, Float.NaN)
    assert(run(allNaN, 1) == Seq(run(allNaN, 2).head))
  }

  test("centroids are deterministic and complete (every cluster has one)") {
    val emb = Tables.embeddings(spark, TestSpark.sf001).select("vec_id", "embedding")
    val c1 = AnnIvf.centroids(spark, emb, 8)
    val c2 = AnnIvf.centroids(spark, emb, 8)
    assert(c1.size == 8 && c2.size == 8)
    assert(c1.zip(c2).forall { case (a, b) => a.sameElements(b) })
    assert(c1.forall(_.length == 64))
  }

  test("persisted index: append-after-train search equals in-plan search over the merged corpus") {
    val emb = Tables.embeddings(spark, TestSpark.sf001).select("vec_id", "embedding")
    val half = substring(md5(col("vec_id").cast("string")), 1, 1) < "8"
    val path = java.nio.file.Files.createTempDirectory("ivf-idx").toString + "/ivf"
    AnnIvf.buildIndex(spark, emb.filter(half), path, nlist = 16)
    AnnIvf.appendIndex(spark, emb.filter(!half), path)
    val queries = emb.filter(col("vec_id") < 10)
    val fromIndex = AnnIvf.searchIndex(spark, path, queries, k = 5, nprobe = 4)
      .collect().map(_.toSeq).toSeq
    // ground truth: the same centroids (the persisted ones ARE the
    // frozen quantizer) driving topKWith over the merged frame — the
    // persisted partitioned layout must change the PLAN, not one row
    val cs = AnnIvf.indexCentroids(spark, path)
    val inPlan = AnnIvf.topKWith(spark, emb, queries, cs, k = 5, nprobe = 4)
      .collect().map(_.toSeq).toSeq
    assert(fromIndex == inPlan, "partitioned-artifact search diverged from the in-plan search")
    Hygiene.release(spark)
  }

  test("persisted index: probes prune partitions; torn appends are invisible") {
    val emb = Tables.embeddings(spark, TestSpark.sf001).select("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("ivf-prune").toString + "/ivf"
    AnnIvf.buildIndex(spark, emb, path, nlist = 16)
    val queries = emb.filter(col("vec_id") < 3)
    val plan = AnnIvf.searchIndex(spark, path, queries, k = 5, nprobe = 2)
      .queryExecution.executedPlan.toString
    // the probed-cluster filter must land as PartitionFilters on the
    // vector scan — the scan reads nprobe/nlist of the stored bytes
    assert("PartitionFilters: \\[[^\\]]*cluster".r.findFirstIn(plan).nonEmpty,
      s"probe filter did not prune partitions:\n$plan")
    val committedRows = AnnIvf.searchIndex(spark, path, queries, k = 5, nprobe = 2).count()
    // CHAOS: a crashed append — data dir fully written, manifest torn —
    // must not leak into a search (the snapshot-log invisibility rule)
    emb.limit(50).withColumn("cluster", lit(1))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$path/data/vectors/append-v99")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "manifest.v99"), "junk".getBytes("UTF-8"))
    assert(AnnIvf.searchIndex(spark, path, queries, k = 5, nprobe = 2).count() == committedRows,
      "an uncommitted append leaked into search results")
    Hygiene.release(spark)
  }

  test("rebuild re-trains atomically: quantizer and assignments flip together or not at all") {
    val emb = Tables.embeddings(spark, TestSpark.sf001).select("vec_id", "embedding")
    val half = substring(md5(col("vec_id").cast("string")), 1, 1) < "8"
    val path = java.nio.file.Files.createTempDirectory("ivf-rebuild").toString + "/ivf"
    AnnIvf.buildIndex(spark, emb.filter(half), path, nlist = 16)
    AnnIvf.appendIndex(spark, emb.filter(!half), path)
    val queries = emb.filter(col("vec_id") < 5)
    val before = AnnIvf.searchIndex(spark, path, queries, k = 5, nprobe = 4)
      .collect().map(_.toSeq).toSeq
    // CHAOS: a crashed rebuild — NEW centroid generation and NEW vector
    // directory fully written, manifest torn. The quantizer lives inside
    // the snapshot, so the search must keep serving the OLD consistent
    // (centroids, assignments) pair — a free-floating centroid artifact
    // would already have flipped here and silently mis-probed
    val csNew = AnnIvf.fit(spark, emb, nlist = 8)
    AnnIvf.saveCentroids(spark, csNew,
      s"$path/data/centroids/centroids-v99")
    emb.limit(40).withColumn("cluster", lit(0))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$path/data/vectors/base-v99")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "manifest.v99"), "junk".getBytes("UTF-8"))
    val served = AnnIvf.searchIndex(spark, path, queries, k = 5, nprobe = 4)
      .collect().map(_.toSeq).toSeq
    assert(served == before, "a torn rebuild changed search results")
    // the real rebuild: re-train at nlist=8 over the stored vectors,
    // retire the old generation, stay row-identical to the in-plan
    // search under the NEW quantizer
    AnnIvf.rebuildIndex(spark, path, nlist = 8)
    AnnIvf.validateIndex(spark, path)
    val cs = AnnIvf.indexCentroids(spark, path)
    assert(cs.size == 8, "rebuild did not re-train the quantizer")
    val after = AnnIvf.searchIndex(spark, path, queries, k = 5, nprobe = 4)
      .collect().map(_.toSeq).toSeq
    val inPlan = AnnIvf.topKWith(spark, emb, queries, cs, k = 5, nprobe = 4)
      .collect().map(_.toSeq).toSeq
    assert(after == inPlan, "rebuilt index diverged from the in-plan search")
    val vdirs = new java.io.File(s"$path/data/vectors").listFiles().map(_.getName).toSet
    assert(vdirs.size == 1 && vdirs.head.startsWith("base-v"),
      s"rebuild left stale vector generations: $vdirs")
    Hygiene.release(spark)
  }

  private def vectorDirs(path: String): Set[String] =
    new java.io.File(s"$path/data/vectors").listFiles().map(_.getName).toSet

  test("compaction collapses appended generations byte-identically; counters stay honest") {
    val emb = Tables.embeddings(spark, TestSpark.sf001).select("vec_id", "embedding")
    val third = substring(md5(col("vec_id").cast("string")), 1, 1)
    val path = java.nio.file.Files.createTempDirectory("ivf-compact").toString + "/ivf"
    AnnIvf.buildIndex(spark, emb.filter(third < "6"), path, nlist = 16)
    val handle = Some(AnnIvf.ingestCache(path))
    AnnIvf.appendIndexBatch(spark, emb.filter(third >= "6" && third < "a"), path, 0L, handle)
    AnnIvf.appendIndexBatch(spark, emb.filter(third >= "a"), path, 1L, handle)
    assert(vectorDirs(path).size == 3, s"expected base + 2 batch dirs: ${vectorDirs(path)}")
    val queries = emb.filter(col("vec_id") < 8)
    val before = AnnIvf.searchIndex(spark, path, queries, k = 5, nprobe = 4)
      .collect().map(_.toSeq).toSeq
    AnnIvf.compactIndex(spark, path)
    // one compact-v generation; superseded dirs retired by the default gc
    val dirs = vectorDirs(path)
    assert(dirs.size == 1 && dirs.head.startsWith("compact-v"),
      s"compaction left stale vector generations: $dirs")
    // the quantizer is untouched, so results are row-identical
    val after = AnnIvf.searchIndex(spark, path, queries, k = 5, nprobe = 4)
      .collect().map(_.toSeq).toSeq
    assert(after == before, "compaction changed search results")
    // the compaction commit's full physical recount reconciled the
    // incrementally-carried totals — cold-open validation must agree
    AnnIvf.validateIndex(spark, path)
    // the last_batch marker rode through: a committed replay still skips
    val rowsAfter = spark.read.parquet(s"$path/data/vectors/${dirs.head}").count()
    AnnIvf.appendIndexBatch(spark, emb.filter(third >= "a"), path, 1L, handle)
    assert(vectorDirs(path) == dirs && spark.read
      .parquet(s"$path/data/vectors/${dirs.head}").count() == rowsAfter,
      "a committed replay re-appended after compaction")
    // ...and a FRESH incarnation's lower id is refused on the high-water
    // mark even though its batch-0 tag was compacted away
    val ex = intercept[IllegalArgumentException] {
      AnnIvf.appendIndexBatch(spark, emb.filter(third >= "6" && third < "a"), path, 0L)
    }
    assert(ex.getMessage.contains("high-water mark"), ex.getMessage)
    Hygiene.release(spark)
  }

  test("incremental commit counts match the physical store across appends") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001).select("vec_id", "embedding")
    val half = substring(md5(col("vec_id").cast("string")), 1, 1) < "8"
    val path = java.nio.file.Files.createTempDirectory("ivf-counts").toString + "/ivf"
    AnnIvf.buildIndex(spark, emb.filter(half), path, nlist = 4)
    AnnIvf.appendIndex(spark, emb.filter(!half), path)
    AnnIvf.appendIndexBatch(spark, emb.filter(!half).withColumn(
      "vec_id", col("vec_id") + 100000L), path, 0L)
    // validateIndex recounts the physical store and checks it against the
    // carried manifest total — the reconciliation the O(1) commits defer
    AnnIvf.validateIndex(spark, path)
    Hygiene.release(spark)
  }

  test("appendIndex runs no Spark job after its write") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val emb = Tables.embeddings(spark, TestSpark.sf0001).select("vec_id", "embedding")
    val half = substring(md5(col("vec_id").cast("string")), 1, 1) < "8"
    val path = java.nio.file.Files.createTempDirectory("ivf-append-jobs").toString + "/ivf"
    AnnIvf.buildIndex(spark, emb.filter(half), path, nlist = 4)
    val sc = spark.sparkContext
    val tag = s"append-${java.util.UUID.randomUUID()}"
    // (job id, SQL execution id or "", tag) of every tagged job, in start order
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, String)]()
    val writes = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("test.append.tag"))).foreach { t =>
          jobs.add((e.jobId, e.properties.getProperty("spark.sql.execution.id", ""), t))
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart
            if x.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
          writes.add(x.executionId.toString)
        case _ => ()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("test.append.tag", tag)
      AnnIvf.appendIndex(spark, emb.filter(!half), path)
      // the listener bus delivers in order: once the marker job shows,
      // every event of the append has been seen
      sc.setLocalProperty("test.append.tag", s"$tag-end")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 10000
      def markerSeen = scala.jdk.CollectionConverters.CollectionHasAsScala(jobs).asScala
        .exists(_._3 == s"$tag-end")
      while (!markerSeen && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(markerSeen, "marker job never reached the listener")
      val appendJobs = scala.jdk.CollectionConverters.CollectionHasAsScala(jobs).asScala
        .toSeq.filter(_._3 == tag)
      val isWrite = (j: (Int, String, String)) => writes.contains(j._2)
      assert(appendJobs.exists(isWrite), s"no write job among $appendJobs")
      val afterWrite = appendJobs.dropWhile(j => !isWrite(j)).filterNot(isWrite)
      assert(afterWrite.isEmpty, s"jobs ${afterWrite.map(_._1)} ran after the write")
    } finally {
      sc.setLocalProperty("test.append.tag", null)
      sc.removeSparkListener(listener)
    }
    AnnIvf.validateIndex(spark, path)
    Hygiene.release(spark)
  }

  test("rebuild with retain=2 leaves the superseded generation readable until the next gc") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001).select("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("ivf-retain").toString + "/ivf"
    AnnIvf.buildIndex(spark, emb, path, nlist = 8)
    val oldDirs = vectorDirs(path)
    AnnIvf.rebuildIndex(spark, path, nlist = 4, retain = 2)
    // the superseded generation survives the rebuild's gc — the grace
    // window a reader that resolved pre-rebuild needs to finish its scan
    assert(oldDirs.subsetOf(vectorDirs(path)),
      s"retain=2 rebuild deleted the superseded generation: ${vectorDirs(path)}")
    assert(vectorDirs(path).size == oldDirs.size + 1)
    // the deployment's next-cadence gc (retain back to 1) retires it
    graft.operators.SnapshotLog.gc(spark, path, "ivf-index")
    assert(vectorDirs(path).intersect(oldDirs).isEmpty,
      "gc(retain=1) left the superseded generation")
    AnnIvf.validateIndex(spark, path)
    Hygiene.release(spark)
  }

  test("probeRecallCurve: nondecreasing, hits 1.0 at nlist, matches measured per-nprobe recall") {
    val emb = Tables.embeddings(spark, TestSpark.sf001).select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 10)
    val cs = AnnIvf.fit(spark, emb, nlist = 16)
    val curve = AnnIvf.probeRecallCurve(spark, emb, queries, cs, k = 5)
      .orderBy("nprobe").collect()
    assert(curve.length == 16)
    assert(curve.map(_.getInt(0)).toSeq == (1 to 16))
    val rs = curve.map(_.getDouble(1))
    assert(rs.zip(rs.tail).forall { case (a, b) => b >= a }, "curve must be nondecreasing")
    assert(rs.last == 1.0, s"probing every cluster must give exact recall, got ${rs.last}")
    // the curve's point at nprobe=4 must equal the recall actually
    // measured by running topKWith at nprobe=4 against brute force
    val approx = AnnIvf
      .topKWith(spark, emb, queries, cs, k = 5, nprobe = 4)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getAs[Long]("vid")).toSet).toMap
    val exact = graft.queries.LlmOps.e01
      .run(spark, TestSpark.sf001)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getAs[Long]("vid")).toSet).toMap
    val measured = exact.map { case (qid, truth) =>
      approx.get(qid).map(a => (a & truth).size.toDouble / truth.size).getOrElse(0.0)
    }.sum / exact.size
    val predicted = rs(3)
    info(f"curve@4 = $predicted%.3f, measured@4 = $measured%.3f")
    assert(math.abs(predicted - measured) < 1e-9,
      f"curve point ($predicted%.3f) must equal the end-to-end measured recall ($measured%.3f)")
    Hygiene.release(spark)
  }

  test("suggestNprobe returns the minimal budget meeting the target, nlist when unreachable early") {
    val emb = Tables.embeddings(spark, TestSpark.sf001).select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 10)
    val cs = AnnIvf.fit(spark, emb, nlist = 16)
    val curve = AnnIvf.probeRecallCurve(spark, emb, queries, cs, k = 5)
      .orderBy("nprobe").collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    for (target <- Seq(0.3, 0.6, 0.9)) {
      val n = AnnIvf.suggestNprobe(spark, emb, queries, cs, target, k = 5)
      assert(curve(n) >= target, s"suggested $n misses target $target: ${curve(n)}")
      if (n > 1) assert(curve(n - 1) < target, s"$n not minimal for $target: ${curve(n - 1)}")
    }
    // exact search is always reachable
    assert(AnnIvf.suggestNprobe(spark, emb, queries, cs, 1.0, k = 5) <= 16)
    Hygiene.release(spark)
  }

  test("rejectSummary reads a missing ledger as an empty frame, never a path error") {
    // the ledger is written lazily (only a rejecting batch creates it),
    // so monitoring a healthy stream polls a path that does not exist —
    // that must read as ZERO rows with the fixed schema, not a
    // path-not-found failure from parquet schema inference
    val dir = java.nio.file.Files.createTempDirectory("ivf-noledger").toString + "/rejects"
    val s = AnnIvf.rejectSummary(spark, dir)
    assert(s.columns.toSeq == Seq("batch_id", "reason", "rejects"))
    assert(s.schema("batch_id").dataType.typeName == "long")
    assert(s.schema("rejects").dataType.typeName == "long")
    assert(s.count() == 0L)
    // an EXISTING but empty directory (e.g. pre-created by ops tooling)
    // reads the same way
    new java.io.File(dir).mkdirs()
    assert(AnnIvf.rejectSummary(spark, dir).count() == 0L)
  }

  test("rejectSummary accounts every parked row per (batch_id, reason)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ivf-ledger").toString
    val idx = s"$base/ivf"
    val ledger = s"$base/rejects"
    def vec(seed: Int): Array[Float] = Array.tabulate(4)(d => (seed * 7 + d).toFloat / 10f)
    val clean = (0 until 32).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    AnnIvf.buildIndex(spark, clean, idx, nlist = 2)
    // batch 1: 2 null embeddings + 1 wrong-dim + 3 valid rows
    val b1 = Seq[(Long, Array[Float])](
      (100L, null), (101L, null), (102L, Array(1f, 2f)),
      (103L, vec(3)), (104L, vec(4)), (105L, vec(5))).toDF("vec_id", "embedding")
    // batch 2: 1 NaN element + 1 null element, rest valid
    val b2 = Seq[(Long, Array[Float])](
      (200L, Array(Float.NaN, 1f, 2f, 3f)),
      (201L, Array(1f, 2f, 3f, 4f)), (202L, vec(6))).toDF("vec_id", "embedding")
      .withColumn("embedding",
        when(col("vec_id") === 201L,
          expr("transform(embedding, (v, j) -> IF(j = 1, CAST(NULL AS FLOAT), v))"))
          .otherwise(col("embedding")))
    AnnIvf.appendIndexBatch(spark, b1, idx, 1L, rejectDir = Some(ledger))
    AnnIvf.appendIndexBatch(spark, b2, idx, 2L, rejectDir = Some(ledger))
    val got = AnnIvf.rejectSummary(spark, ledger).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(
      (1L, "null_embedding", 2L), (1L, "wrong_dim", 1L),
      (2L, "non_finite", 1L), (2L, "null_element", 1L)), got.toString)
    // parked rows keep their payload columns for triage: vec_id is readable
    val parked = spark.read.parquet(ledger).select("vec_id").as[Long].collect().toSet
    assert(parked == Set(100L, 101L, 102L, 200L, 201L))
    // the valid rows of both batches actually entered the store
    AnnIvf.validateIndex(spark, idx)
    Hygiene.release(spark)
  }

  test("e19 poisoned paths: a dipped curve and a sub-1.0 tail each flip their verdict (r13)") {
    // the falsifiability discipline applied to the calibration gate: the
    // oracle pins TRUE per row, so the verdicts must be able to read
    // FALSE on the exact calibration bug they name
    val healthy = Seq(1 -> 0.4, 2 -> 0.7, 3 -> 0.9, 4 -> 1.0)
    val h = graft.queries.LlmOps.probeCurveVerdicts(healthy)
    assert(h.forall(v => v._2 && v._3), h.toString)
    // a dip at nprobe=3 (a broken position histogram): exactly that row's
    // monotone_ok reads FALSE
    val dipped = graft.queries.LlmOps.probeCurveVerdicts(
      Seq(1 -> 0.4, 2 -> 0.7, 3 -> 0.6, 4 -> 1.0))
    assert(dipped.map(v => v._1 -> v._2).toMap == Map(1 -> true, 2 -> true, 3 -> false, 4 -> true))
    // probing every cluster IS exact search: a curve ending below 1.0
    // (a dropped true neighbor) reads exact_at_full FALSE on every row
    val truncated = graft.queries.LlmOps.probeCurveVerdicts(
      Seq(1 -> 0.4, 2 -> 0.7, 3 -> 0.9, 4 -> 0.95))
    assert(truncated.forall(v => !v._3), truncated.toString)
    assert(truncated.forall(v => v._2), "monotonicity is independent of the tail value")
  }
}
