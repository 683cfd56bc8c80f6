package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

class VectorFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("cosine_similarity expression: known geometries") {
    import spark.implicits._
    VectorFunctions.register(spark)
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f), 1.0),   // identical
      (Array(1f, 0f), Array(0f, 1f), 0.0),   // orthogonal
      (Array(1f, 0f), Array(-1f, 0f), -1.0), // opposite
      (Array(3f, 4f), Array(3f, 4f), 1.0)
    ).toDF("a", "b", "expect")
    val rows = df
      .select(expr("cosine_similarity(a, b)").as("got"), col("expect"))
      .collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("cosine_similarity agrees with the exact-decimal oracle path on real data") {
    VectorFunctions.register(spark)
    val emb = Tables.embeddings(spark, TestSpark.sf001).limit(50)
    val fast = emb
      .as("a")
      .join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id"),
        col("b.vec_id"),
        expr("cosine_similarity(a.embedding, b.embedding)").as("c")
      )
      .collect()
    // spot-check against a driver-side double computation
    val vecs = emb
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .toMap
    fast.take(100).foreach { r =>
      val (a, b) = (vecs(r.getLong(0)), vecs(r.getLong(1)))
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      assert(math.abs(r.getDouble(2) - dot / (na * nb)) < 1e-9)
    }
  }

  test("GraftExtensions injects the full compiled-kernel surface (SQL path)") {
    // newSession() rebuilds session state from the injected extensions with
    // a CLEAN function registry — no VectorFunctions.register pollution from
    // other specs — so this pins what a spark-submit session configured with
    // spark.sql.extensions=graft.GraftExtensions actually gets.
    val fresh = spark.newSession()
    for (fn <- Seq("cosine_similarity", "int8_max_err_ratio", "simhash16",
        "simhash64", "int_sqdist", "int_argmin_sqdist", "cosine_top_clusters"))
      assert(
        fresh.sessionState.functionRegistry
          .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(fn)),
        s"$fn missing from extension-built session"
      )
    assert(!fresh.sql("SELECT simhash16(array('a','b')) AS h").collect().head.isNullAt(0))
    assert(!fresh.sql("SELECT simhash64(array('a','b')) AS h").collect().head.isNullAt(0))
  }

  test("null inputs propagate null") {
    VectorFunctions.register(spark)
    val df = spark.sql("SELECT cosine_similarity(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT))) AS c")
    assert(df.collect().head.isNullAt(0))
  }

  test("int8 quantization: bounded error, int8 range, high round-trip fidelity") {
    import org.apache.spark.sql.functions._
    VectorFunctions.register(spark)
    val emb = Tables.embeddings(spark, TestSpark.sf0001).select("vec_id", "embedding")
    val scale = VectorFunctions.int8Scale(col("embedding"))
    val q = VectorFunctions.int8Quantize(col("embedding"), scale)
    val checked = emb.select(
      col("vec_id"),
      (VectorFunctions.int8MaxError(col("embedding"), scale) <= scale * 0.5000001d).as("err_ok"),
      aggregate(q, lit(0), (acc, x) => greatest(acc, abs(x.cast("int")))).as("max_q"),
      expr("cosine_similarity(embedding, " +
        "transform(embedding, x -> CAST(x AS FLOAT)))").as("self_cos"),
      VectorFunctions.cosineSimExpr(spark, "embedding", "embedding").as("one")
    )
    val rows = checked.collect()
    assert(rows.forall(_.getAs[Boolean]("err_ok")))
    assert(rows.forall(_.getAs[Int]("max_q") <= 127))
    // round-trip cosine stays essentially 1 for real embedding vectors
    val fidelity = emb
      .select(VectorFunctions.cosineSimExpr(spark, "embedding",
        // dequantized copy built inline
        "transform(transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) / " +
          "(GREATEST(aggregate(embedding, CAST(0.0 AS DOUBLE), (a, v) -> GREATEST(a, ABS(CAST(v AS DOUBLE)))), 1e-12) / 127.0)) AS TINYINT)), " +
          "y -> CAST(CAST(y AS DOUBLE) * (GREATEST(aggregate(embedding, CAST(0.0 AS DOUBLE), (a, v) -> GREATEST(a, ABS(CAST(v AS DOUBLE)))), 1e-12) / 127.0) AS FLOAT))").as("cos"))
      .agg(min(col("cos")))
      .collect()
      .head
      .getDouble(0)
    assert(fidelity > 0.995, s"round-trip cosine fell to $fidelity")
  }
}
