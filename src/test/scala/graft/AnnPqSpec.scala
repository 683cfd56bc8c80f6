package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.AnnPq

/** PQ ANN operator: codes, determinism, and the shortlist/re-rank
  * contract (the e12 gate pins recall vs exact L2; this spec pins the
  * operator mechanics).
  */
class AnnPqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val emb =
    Tables.embeddings(spark, TestSpark.sf0001).select(col("vec_id"), col("embedding"))

  test("codes: one row per vector, codes in range, exact distortion non-negative") {
    val model = AnnPq.fit(spark, emb, subspaces = 4, subDim = 16, k = 8)
    val c = AnnPq.codes(spark, emb, model)
    assert(c.count() == emb.count())
    (0 until 4).foreach { m =>
      val mx = c.agg(max(col(s"code$m"))).head().getInt(0)
      assert(mx >= 0 && mx < 8)
    }
    assert(c.agg(min(col("pq_dist"))).head().getLong(0) >= 0L)
  }

  test("fit is deterministic: same corpus -> bit-identical codebooks") {
    val a = AnnPq.fit(spark, emb, 4, 16, 8)
    val b = AnnPq.fit(spark, emb, 4, 16, 8)
    // element-wise: Array equality is reference equality
    assert(
      a.codebooks.map(_.centroids.map(_.toSeq)) ==
        b.codebooks.map(_.centroids.map(_.toSeq))
    )
  }

  test("topK: k rows per query, ranked by exact re-ranked distance, no self-match") {
    val model = AnnPq.fit(spark, emb, 4, 16, 8)
    val queries = emb.filter(col("vec_id") < 3)
    val out = AnnPq.topK(spark, emb, queries, model, k = 4, shortlist = 20).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L))
    byQ.foreach { case (qid, rows) =>
      assert(rows.length == 4)
      assert(rows.map(_.getInt(1)).sorted.toSeq == Seq(1, 2, 3, 4))
      assert(rows.forall(_.getLong(2) != qid)) // vid never the query itself
      // d2 non-decreasing with rank (exact re-rank ordering)
      val ds = rows.sortBy(_.getInt(1)).map(_.getLong(3))
      assert(ds.zip(ds.tail).forall { case (x, y) => x <= y })
    }
  }

  test("topK serves query vectors that are NOT in the corpus (separate-frames contract)") {
    // the re-rank stage must take query fixed-point vectors from the
    // QUERIES frame; a corpus lookup would silently inner-join novel
    // queries down to zero rows
    val model = AnnPq.fit(spark, emb, 4, 16, 8)
    val corpus = emb.filter(col("vec_id") >= 3) // queries 0..2 removed
    val queries = emb.filter(col("vec_id") < 3)
    val out = AnnPq.topK(spark, corpus, queries, model, k = 4, shortlist = 20).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L), s"missing queries: ${byQ.keySet}")
    byQ.values.foreach(rows => assert(rows.length == 4))
    // results come from the corpus only
    assert(out.forall(_.getLong(2) >= 3L))
  }

  test("topK keeps the caller's vec_id type (string-keyed corpus)") {
    // the LUT/qFp frames are built driver-side with an explicit schema
    // carrying queries' own id type; a hard-coded getLong crashed any
    // non-bigint-keyed corpus
    val model = AnnPq.fit(spark, emb, 4, 16, 8)
    val sEmb = emb.select(concat(lit("doc-"), col("vec_id")).as("vec_id"), col("embedding"))
    val queries = sEmb.filter(col("vec_id").isin("doc-0", "doc-1"))
    val out = AnnPq.topK(spark, sEmb, queries, model, k = 3, shortlist = 20).collect()
    val byQ = out.groupBy(_.getString(0))
    assert(byQ.keySet == Set("doc-0", "doc-1"))
    byQ.foreach { case (qid, rows) =>
      assert(rows.length == 3)
      assert(rows.forall(_.getString(2) != qid))
      assert(rows.forall(_.getString(2).startsWith("doc-")))
    }
  }

  test("ADC lookup distances equal the compiled int_sqdist in the same fixed-point space") {
    // the LUT is computed driver-side with KMeans.fixedPointLong; if that
    // scalar ever drifts from fixedPoint's in-plan transform, ADC scores
    // leave the codebook space — this pins the parity end to end
    import graft.operators.KMeans
    graft.functions.VectorFunctions.register(spark)
    val model = AnnPq.fit(spark, emb, 4, 16, 8)
    val vec = emb.orderBy("vec_id").limit(1).collect().head.getSeq[Float](1).toArray
    for (m <- 0 until 4; c <- Seq(0, 3, 7)) {
      val qs = vec.slice(m * 16, (m + 1) * 16).map(KMeans.fixedPointLong)
      val cent = model.codebooks(m).centroids(c)
      val driverDist = qs.zip(cent).map { case (a, b) => val d = a - b; d * d }.sum
      import spark.implicits._
      val sparkDist = Seq(vec.slice(m * 16, (m + 1) * 16))
        .toDF("embedding")
        .withColumn("vec_id", lit(0L))
        .select(expr(
          "transform(embedding, v -> CAST(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,7)) * 10000000 AS BIGINT))"
        ).as("x"))
        .select(expr(s"int_sqdist(x, ${cent.mkString("array(", "L, ", "L)")})"))
        .head().getLong(0)
      assert(driverDist == sparkDist, s"subspace $m centroid $c: $driverDist != $sparkDist")
    }
  }

  test("widening the shortlist never worsens the exact-rerank result set quality") {
    // with shortlist = corpus size the result IS exact L2 top-k; a small
    // shortlist is a subset of candidates, so its re-ranked distances are
    // >= the full-shortlist ones rank-for-rank
    val model = AnnPq.fit(spark, emb, 4, 16, 8)
    val queries = emb.filter(col("vec_id") < 3)
    val n = emb.count().toInt
    val small = AnnPq.topK(spark, emb, queries, model, k = 3, shortlist = 10)
      .select("qid", "rnk", "d2").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val full = AnnPq.topK(spark, emb, queries, model, k = 3, shortlist = n)
      .select("qid", "rnk", "d2").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    full.foreach { case (key, dFull) =>
      assert(small(key) >= dFull, s"$key: small-shortlist d2 ${small(key)} < full $dFull")
    }
  }

  test("shortlist=0 resolves to the max(100, searched/10) auto budget") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001).select("vec_id", "embedding")
    val n = emb.count()
    val queries = emb.filter(col("vec_id") < 5)
    val model = AnnPq.fit(spark, emb, 4, 16, 16)
    // queries are drawn from the corpus, and the ADC scan excludes the
    // query's own row, so each qid searches n - 1 candidates
    val expected = math.max(100L, ((n - 1) / 10).min(1000L)).toInt
    val auto = AnnPq.topK(spark, emb, queries, model, k = 5).collect().map(_.toSeq).toSeq
    val explicit = AnnPq.topK(spark, emb, queries, model, k = 5, shortlist = expected)
      .collect().map(_.toSeq).toSeq
    assert(auto == explicit, s"auto shortlist != explicit $expected")
    Hygiene.release(spark)
  }

  test("auto budget sizes from the SEARCHED corpus, not the fit-time count") {
    // train-once/encode-forever: the codebook is fitted on a snapshot,
    // then ingestion grows the corpus. A fit-time budget stays pinned to
    // the old count — silently reproducing the fixed-shortlist recall
    // cliff. The searched corpus here is ~4x the fit corpus; the auto
    // result must match an explicit searched-sized budget, on a dataset
    // where the fit-sized budget provably yields a different result set.
    val emb = Tables.embeddings(spark, TestSpark.sf0001).select("vec_id", "embedding")
    val model = AnnPq.fit(spark, emb, 4, 16, 16) // corpusRows = fit-time n
    val grown = (0 until 4)
      .map(i => emb.select((col("vec_id") + lit(i * 1000000L)).as("vec_id"),
        // shift each clone's vectors so the enlarged corpus is not four
        // identical copies (ties would mask budget differences)
        expr(s"transform(embedding, (v, j) -> v + ${i}e-1f * CAST(j % 7 AS FLOAT))")
          .as("embedding")))
      .reduce(_ union _)
    val n = grown.count()
    val queries = grown.filter(col("vec_id") < 5)
    val searchSized = math.max(100L, ((n - 1) / 10).min(1000L)).toInt
    val fitSized = math.max(100L, ((model.corpusRows - 1) / 10).min(1000L)).toInt
    assert(searchSized > fitSized, "fixture must make the two budgets differ")
    def rows(shortlist: Int) =
      AnnPq.topK(spark, grown, queries, model, k = 5, shortlist = shortlist)
        .collect().map(_.toSeq).toSeq
    val auto = AnnPq.topK(spark, grown, queries, model, k = 5).collect().map(_.toSeq).toSeq
    assert(rows(searchSized) != rows(fitSized),
      "fixture too easy: both budgets re-rank to the same top-k, so the test proves nothing")
    assert(auto == rows(searchSized), "auto budget did not size from the searched corpus")
    Hygiene.release(spark)
  }
}
