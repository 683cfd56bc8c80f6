package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.KMeans

class KMeansSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def emb = Tables.embeddings(spark, TestSpark.sf0001).select("vec_id", "embedding")

  test("fit is deterministic (integer arithmetic, md5 seeds)") {
    val a = KMeans.fit(spark, emb, k = 4, iters = 2)
    val b = KMeans.fit(spark, emb, k = 4, iters = 2)
    assert(a.centroids.map(_.toSeq) === b.centroids.map(_.toSeq))
  }

  test("fitAssign equals fit + assign, model and labels both") {
    val (mA, labeled) = KMeans.fitAssign(spark, emb, k = 4, iters = 2)
    val mB = KMeans.fit(spark, emb, k = 4, iters = 2)
    assert(mA.centroids.map(_.toSeq) === mB.centroids.map(_.toSeq))
    // the checkpointed label frame must be the FINAL model's assignment —
    // a regression that materializes from a pre-final-iteration model (or
    // reads the corpus after the fit cache is gone) diverges here, not in
    // an opaque e09/e14 oracle mismatch later
    val a = labeled.orderBy("vec_id").collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val b = KMeans
      .assign(spark, emb, mB)
      .orderBy("vec_id")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(a === b)
  }

  test("Lloyd iterations do not increase total SSE") {
    // monotone non-increase is the textbook invariant; with truncated
    // integer means it can be violated by at most a rounding epsilon per
    // point-dim, so allow that slack and require substantial progress
    // from the seeds overall
    val sses = (0 to 3).map { it =>
      val m = KMeans.fit(spark, emb, k = 4, iters = it)
      KMeans.assign(spark, emb, m).agg(sum("dist")).collect().head.getLong(0)
    }
    val eps = 1e-4
    sses.sliding(2).foreach { case Seq(prev, next) =>
      assert(next <= (prev * (1 + eps)).toLong, s"SSE rose: $sses")
    }
    assert(sses.last < sses.head, s"no progress from seeds: $sses")
  }

  test("every point is assigned to its nearest centroid (exact argmin)") {
    val m = KMeans.fit(spark, emb, k = 4, iters = 1)
    val fp = KMeans.fixedPoint(emb, "embedding")
    val withAll = fp.select(
      col("vec_id") +: m.centroids.zipWithIndex.map { case (c, i) =>
        expr(s"int_sqdist(x, ${c.mkString("array(", "L, ", "L)")})").as(s"d$i")
      }: _*
    )
    val assigned = KMeans.assign(spark, emb, m)
    val joined = withAll.join(assigned, "vec_id").collect()
    joined.foreach { r =>
      val ds = (0 until 4).map(i => r.getAs[Long](s"d$i"))
      val c = r.getAs[Int]("cluster")
      assert(r.getAs[Long]("dist") === ds(c))
      assert(ds(c) === ds.min)
      // tie-break: the assigned cluster is the SMALLEST id achieving min
      assert(ds.indexOf(ds.min) === c)
    }
  }

  test("k = 256 assignment compiles (no codegen fallback) and matches brute force") {
    import spark.implicits._
    // the inlined-per-centroid form blew the 64 KB JVM method limit here;
    // with fallback disabled a codegen failure is an ERROR, not a silent
    // interpreted slowdown — this pins the single-kernel fix
    val big = (0 until 600)
      .map(i => (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 7) % 100) / 50.0f - 1f)))
      .toDF("vec_id", "embedding")
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val m = KMeans.fit(spark, big, k = 256, iters = 1)
      assert(m.k == 256)
      val assigned = KMeans.assign(spark, big, m).collect()
      assert(assigned.length == 600)
      // brute-force check on a sample: packed argmin semantics at scale
      val fp = KMeans.fixedPoint(big, "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
      assigned.take(50).foreach { r =>
        val x = fp(r.getLong(0))
        val dists = m.centroids.map(c =>
          x.zip(c).map { case (a, b) => val d = a - b; d * d }.sum)
        val best = dists.zipWithIndex.minBy { case (d, i) => (d, i) }
        assert(r.getAs[Int]("cluster") == best._2)
        assert(r.getAs[Long]("dist") == best._1)
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None    => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("fit asserts the sqdist overflow bound up front") {
    import spark.implicits._
    // 2e9 fixed-point components (200 in float at scale 1e7) exceed the
    // k-independent bound sqrt(Long.Max/dims)/2 ~ 1.07e9 at dims=2 —
    // fit must refuse rather than silently wrap the squared-diff sum.
    val hot = (0 until 8)
      .map(i => (i.toLong, Array(200f + i, -200f - i)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      KMeans.fit(spark, hot, k = 4, iters = 1)
    }
    assert(e.getMessage.contains("bound"), e.getMessage)
  }

  test("large k with unit-scale components fits (no *k tightening of the bound)") {
    import spark.implicits._
    // Regression for the packed encoding's scale ceiling: at dims=64 the
    // old dist*k+c packing capped k at ~360 for unit-scale embeddings
    // (sqrt(Long.Max/(64*400))/2 ~ 9.5e6 < the 1e7 fixed-point unit), so
    // corpus-derived k (d10's kForCorpus) would hard-fail just past the
    // x10 bench tier. The [cluster, dist] kernel keeps the k-independent
    // bound; k=400 over unit-scale vectors must fit and assign cleanly.
    val rnd = new scala.util.Random(7)
    val corpus = (0 until 500)
      .map(i => (i.toLong, Array.fill(64)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
    val m = KMeans.fit(spark, corpus, k = 400, iters = 1)
    assert(m.k == 400)
    val assigned = KMeans.assign(spark, corpus, m)
    assert(assigned.count() == 500)
    assert(assigned.agg(org.apache.spark.sql.functions.max("cluster")).head().getInt(0) < 400)
    assert(assigned.agg(org.apache.spark.sql.functions.min("dist")).head().getLong(0) >= 0L)
  }

  test("k larger than corpus: empty clusters keep their seed centroid") {
    val tiny = emb.limit(3)
    val m = KMeans.fit(spark, tiny, k = 5, iters = 2)
    // seeds clamp to corpus size when the corpus is smaller than k
    assert(m.k === 3 && m.centroids.length === 3)
    val sizes = KMeans.assign(spark, tiny, m).groupBy("cluster").count().collect()
    assert(sizes.map(_.getLong(1)).sum === 3)
  }
}
