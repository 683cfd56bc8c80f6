package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AnnIvf, AnnIvfPq, AnnPq}

/** Pins the fused IVF-PQ search (e27's operator): the IVF stage really
  * prunes (candidates come only from probed lists), the fusion degrades
  * to plain PQ when every list is probed, and recall against a
  * driver-computed exact baseline clears the e27 gate with margin. */
class AnnIvfPqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def corpus = {
    import spark.implicits._
    (0 until 200)
      .map(i => (i.toLong, Array.tabulate(64)(d => ((i * 31 + d * 7) % 97) / 48.5f - 1f)))
      .toDF("vec_id", "embedding")
  }

  test("probing every list makes the fusion identical to unrestricted PQ") {
    val emb = corpus
    val q = emb.filter(col("vec_id") < 5)
    val fused = AnnIvfPq
      .topK(spark, emb, q, k = 5, nlist = 4, nprobe = 4,
        subspaces = 4, subDim = 16, pqK = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val cs = AnnIvf.fit(spark, emb, nlist = 4)
    assert(cs.length == 4)
    val pq = AnnPq.fit(spark, emb, 4, 16, 8, 1)
    val plain = AnnPq.topK(spark, emb, q, pq, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(fused == plain,
      "nprobe = nlist leaves no pruning — the fused path must reduce exactly")
    Hygiene.release(spark)
  }

  test("IVF stage really prunes: neighbors come only from probed lists") {
    import spark.implicits._
    // two well-separated groups; nprobe = 1 probes only the query's own
    // group's list, so no cross-group vid can ever surface
    def v(base: Float, j: Int) = Array.tabulate(64)(d =>
      (if (d < 32) base else -base) + j * 0.001f)
    val emb = ((0 until 12).map(j => (j.toLong, v(1f, j))) ++
      (0 until 12).map(j => (100L + j, v(-1f, j)))).toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") === 0 || col("vec_id") === 100)
    val got = AnnIvfPq
      .topK(spark, emb, q, k = 3, nlist = 2, nprobe = 1,
        subspaces = 4, subDim = 16, pqK = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(got.nonEmpty)
    assert(got.forall { case (qid, vid) => (qid < 100) == (vid < 100) },
      s"cross-group neighbor surfaced under nprobe=1: ${got.mkString(",")}")
    Hygiene.release(spark)
  }

  test("nprobe above nlist clamps on the in-plan path — same contract as searchIndex") {
    val emb = corpus
    val q = emb.filter(col("vec_id") < 3)
    val cs = AnnIvf.fit(spark, emb, nlist = 4)
    val pq = AnnPq.fit(spark, emb, 4, 16, 8, 1)
    val over = AnnIvfPq.topKWith(spark, emb, q, cs, pq, k = 5, nprobe = 99)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val exactCount = AnnIvfPq.topKWith(spark, emb, q, cs, pq, k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(over == exactCount,
      "nprobe > nlist must clamp to probing every list, not misbehave")
    Hygiene.release(spark)
  }

  test("persisted index: search equals the in-plan fused search; probes prune partitions") {
    val emb = corpus
    val q = emb.filter(col("vec_id") < 5)
    val path = java.nio.file.Files.createTempDirectory("ivfpq-idx").toString + "/ivfpq"
    AnnIvfPq.buildIndex(spark, emb, path, nlist = 8, subspaces = 4, subDim = 16, pqK = 8)
    val fromIndex = AnnIvfPq.searchIndex(spark, path, q, k = 5, nprobe = 3)
      .collect().map(_.toSeq).toSeq
    // the same quantizers driving the in-plan fused search — the stored
    // codes + partitioned layout must change the PLAN, not one row
    val cs = AnnIvf.loadCentroids(spark,
      graft.operators.SnapshotLog.current(spark, path, "ivfpq-index")
        .dirs(path, "centroids").head)
    val pq = AnnPq.load(spark,
      graft.operators.SnapshotLog.current(spark, path, "ivfpq-index")
        .dirs(path, "pq").head)
    val inPlan = AnnIvfPq.topKWith(spark, emb, q, cs, pq, k = 5, nprobe = 3)
      .collect().map(_.toSeq).toSeq
    assert(fromIndex == inPlan,
      "persisted-index search diverged from the in-plan fused search")
    // the probed-cluster filter must land as PartitionFilters on the
    // vector scan — the index property: nprobe/nlist of the bytes read
    val plan = AnnIvfPq.searchIndex(spark, path, q, k = 5, nprobe = 3)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster".r.findFirstIn(plan).nonEmpty,
      s"probe filter did not prune partitions:\n$plan")
    Hygiene.release(spark)
  }

  test("append encodes against the FROZEN quantizers; new vectors searchable, old results stable") {
    // vec_id < 90: the generator is periodic mod 97 (vector 97 would be
    // byte-identical to vector 0 and win the zero-distance tie on id)
    val emb = corpus.filter(col("vec_id") < 90)
    val path = java.nio.file.Files.createTempDirectory("ivfpq-add").toString + "/ivfpq"
    AnnIvfPq.buildIndex(spark, emb, path, nlist = 8, subspaces = 4, subDim = 16, pqK = 8)
    val q = emb.filter(col("vec_id") === 0)
    val before = AnnIvfPq.searchIndex(spark, path, q, k = 3, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    // append a CLONE of vector 0 under a fresh id: it must become the
    // new rank-1 neighbor (identical codes AND identical exact re-rank)
    val clone = corpus.filter(col("vec_id") === 0)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    AnnIvfPq.appendIndex(spark, clone, path)
    val after = AnnIvfPq.searchIndex(spark, path, q, k = 3, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(after.head == ((0L, 1, 1000L)),
      s"the appended exact clone must rank first, got $after")
    assert(after.map(_._3).toSet.intersect(before.map(_._2).toSet).size == 2,
      "appending must not disturb the other stored vectors' ranking")
    // an empty append commits nothing (no fileless directory trap)
    val v0 = graft.operators.SnapshotLog.current(spark, path, "ivfpq-index").version
    AnnIvfPq.appendIndex(spark, emb.filter(col("vec_id") < 0), path)
    assert(graft.operators.SnapshotLog.current(spark, path, "ivfpq-index").version == v0)
    Hygiene.release(spark)
  }

  test("persisted index: torn appends are invisible (snapshot-log chaos)") {
    val emb = corpus.filter(col("vec_id") < 90)
    val path = java.nio.file.Files.createTempDirectory("ivfpq-chaos").toString + "/ivfpq"
    AnnIvfPq.buildIndex(spark, emb, path, nlist = 4, subspaces = 4, subDim = 16, pqK = 8)
    val q = emb.filter(col("vec_id") < 3)
    val committed = AnnIvfPq.searchIndex(spark, path, q, k = 5, nprobe = 4)
      .collect().map(_.toSeq).toSeq
    // CHAOS: a crashed append — data fully written, manifest torn — must
    // not leak into a search (the snapshot-log invisibility rule), and
    // the next real append must not trip over the burned version number
    corpus.filter(col("vec_id") === 0)
      .select((col("vec_id") + 500L).as("vec_id"), col("embedding"))
      .withColumn("cluster", lit(1))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$path/data/vectors/add-v99")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "manifest.v99"), "junk".getBytes("UTF-8"))
    assert(AnnIvfPq.searchIndex(spark, path, q, k = 5, nprobe = 4)
      .collect().map(_.toSeq).toSeq == committed,
      "an uncommitted append leaked into search results")
    AnnIvfPq.appendIndex(spark,
      corpus.filter(col("vec_id") === 1)
        .select((col("vec_id") + 600L).as("vec_id"), col("embedding")), path)
    assert(AnnIvfPq.searchIndex(spark, path, q, k = 5, nprobe = 4)
      .collect().exists(_.getLong(2) == 601L),
      "the post-chaos append must commit and become searchable")
    Hygiene.release(spark)
  }

  test("recall vs driver-computed exact top-5 clears the e27 gate with margin") {
    val emb = corpus
    val q = emb.filter(col("vec_id") < 10)
    val fused = AnnIvfPq
      .topK(spark, emb, q, k = 5, nlist = 16, nprobe = 8,
        subspaces = 4, subDim = 16, pqK = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // exact squared-L2 top-5 per query, computed in the driver (200×10)
    val all = corpus.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val exact = all.filter(_._1 < 10).map { case (qid, qv) =>
      qid -> all.filter(_._1 != qid)
        .map { case (vid, v) =>
          val d2 = qv.zip(v).map { case (a, b) => val x = (a - b).toDouble; x * x }.sum
          (d2, vid)
        }
        .sortBy(identity).take(5).map(_._2).toSet
    }.toMap
    val recalls = exact.map { case (qid, ex) =>
      fused.getOrElse(qid, Set.empty).intersect(ex).size.toDouble / ex.size
    }
    val mean = recalls.sum / recalls.size
    assert(recalls.min >= 0.2, s"per-query floor broken: $recalls")
    assert(mean >= 0.5, s"mean recall $mean under the documented margin")
    Hygiene.release(spark)
  }

  test("residual: a vector exactly on its centroid has the all-zero residual") {
    import spark.implicits._
    // dyadic centroid values are exact in BOTH float and double, so the
    // subtraction must produce literal zero, not epsilon noise
    val cent = Array.tabulate(8)(d => 0.25 * (d + 1) - 1.0) // doubles
    // opposite direction, so the cosine assignment of both test vectors
    // unambiguously lands on `cent`
    val far = Array.fill(8)(-100.0)
    val onCent = cent.map(_.toFloat)
    val off = Array.tabulate(8)(d => (0.5 * d).toFloat)
    val emb = Seq((0L, onCent), (1L, off)).toDF("vec_id", "embedding")
    val got = AnnIvfPq.residualFrame(emb, Seq(cent, far))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    assert(got(0L).forall(_ == 0.0f),
      s"a vector sitting on its centroid must encode the ZERO residual, got ${got(0L).toSeq}")
    assert(got(1L).toSeq == off.zip(cent).map { case (a, b) => a - b.toFloat }.toSeq,
      "off-centroid residuals are elementwise float subtraction")
    Hygiene.release(spark)
  }

  test("residual index: recall >= raw encoding on a clustered corpus; appends stay in residual space") {
    import spark.implicits._
    // clustered corpus — where residual encoding earns its keep: the
    // coarse centroid absorbs the inter-cluster spread, so the codebooks'
    // whole bit budget covers within-cluster detail
    def vec(g: Int, i: Int) = Array.tabulate(64) { d =>
      val center = if (d / 16 == g) 4.0f else -1.0f
      center + ((i * 13 + d * 7) % 21 - 10) * 0.02f
    }
    val rows = for (g <- 0 until 4; i <- 0 until 50) yield (g * 50L + i, vec(g, i))
    val emb = rows.toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") % 50 < 3) // 12 queries, 3 per cluster
    val root = java.nio.file.Files.createTempDirectory("ivfpq-res").toString
    AnnIvfPq.buildIndex(spark, emb, s"$root/raw", nlist = 4,
      subspaces = 4, subDim = 16, pqK = 8)
    AnnIvfPq.buildIndex(spark, emb, s"$root/res", nlist = 4,
      subspaces = 4, subDim = 16, pqK = 8, residual = true)
    def hits(path: String) = AnnIvfPq
      .searchIndex(spark, path, q, k = 5, nprobe = 2, shortlist = 20)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val all = rows.map { case (id, v) => (id, v) }
    val qids = all.filter(_._1 % 50 < 3).map(_._1)
    val exact = qids.map { qid =>
      val qv = all.find(_._1 == qid).get._2
      qid -> all.filter(_._1 != qid)
        .map { case (vid, v) =>
          (v.zip(qv).map { case (a, b) => val x = (a - b).toDouble; x * x }.sum, vid)
        }.sortBy(identity).take(5).map(_._2).toSet
    }.toMap
    def meanRecall(got: Map[Long, Set[Long]]) = {
      val rs = exact.map { case (qid, ex) =>
        got.getOrElse(qid, Set.empty).intersect(ex).size.toDouble / ex.size
      }
      rs.sum / rs.size
    }
    val (rawR, resR) = (meanRecall(hits(s"$root/raw")), meanRecall(hits(s"$root/res")))
    assert(resR >= rawR,
      s"residual encoding must not lose recall on a clustered corpus: residual=$resR raw=$rawR")
    assert(resR >= 0.5, s"residual recall $resR below the gate band")
    // append dispatches on the STORED flag: the new vector is encoded as
    // a residual and immediately searchable at the right rank
    val extra = Seq((999L, vec(2, 17))).toDF("vec_id", "embedding")
    AnnIvfPq.appendIndex(spark, extra, s"$root/res")
    val q999 = Seq((999L, vec(2, 17))).toDF("vec_id", "embedding")
    val post = AnnIvfPq.searchIndex(spark, s"$root/res", q999, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(post.nonEmpty && post.forall { case (qid, vid) => qid == 999L && vid != 999L },
      "an appended vector must search against the corpus without matching itself")
    Hygiene.release(spark)
  }
}
