package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the t44 blocklist kernel (hit counting, worst-category tie-break,
  * zero-hit visibility), e24's truncation-quality claim (top-k overlap vs
  * the full-dim exact answer), and the JSONL quarantine split. */
class ScreenMatryoshkaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("blocklist: counts per category, lexical tie-break, zero-hit docs read clean") {
    import spark.implicits._
    val docs = Seq(
      (1L, "slow slow big x"),   // perf 2, size 1 -> worst perf, hits 3
      (2L, "big small dup x"),   // perf 1, size 2 -> worst size
      (3L, "big slow x"),        // tie 1-1 -> lexical: perf
      (4L, "clean text only"),   // zero hits
      (5L, "slow slow slow big big x") // 5 hits -> dropped at maxHits=5
    ).toDF("doc_id", "text")
    val bl = Seq("slow" -> "perf", "dup" -> "perf", "big" -> "size", "small" -> "size")
    val got = graft.queries.LlmOps.blocklistScreen(docs, bl, maxHits = 5L).collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)), r.getBoolean(3)))
    assert(got.toSeq == Seq(
      (1L, 3L, Some("perf"), true),
      (2L, 3L, Some("size"), true),
      (3L, 2L, Some("perf"), true),
      (4L, 0L, None, true),
      (5L, 5L, Some("perf"), false)
    ))
    Hygiene.release(spark)
  }

  test("matryoshka: the overlap measurement runs per qid; a true subspace scores 1.0") {
    // The synthetic embeddings are RANDOM — they carry no Matryoshka
    // structure, so the half-width overlap vs the full-dim top-5 is an
    // honest ~0.3 (measured; info'd below), not a quality bar to gate.
    // What the spec pins is the MEASUREMENT: full qid coverage, and the
    // sanity anchor that truncating to a subspace that IS the geometry
    // (vectors constant past dim 32) reproduces the full answer exactly.
    val emb = Tables.embeddings(spark, TestSpark.sf001).select("vec_id", "embedding")
    val trunc = graft.queries.LlmOps.truncatedTopKOf(spark, emb, dims = 32, k = 5)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getAs[Long]("vid")).toSet).toMap
    val full = graft.queries.LlmOps.e01.run(spark, TestSpark.sf001)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getAs[Long]("vid")).toSet).toMap
    assert(trunc.keySet == full.keySet, "every query must be measured")
    val overlaps = full.map { case (qid, t) =>
      qid -> trunc.get(qid).map(a => (a & t).size.toDouble / t.size).getOrElse(0.0)
    }
    val mean = overlaps.values.sum / overlaps.size
    info(f"mean top-5 overlap at half width on RANDOM embeddings = $mean%.2f")
    assert(mean > 0.0, "half the dims of a 64-dim space cannot share nothing")
    // anchor: pad the front half with the back half zeroed — dims 1..32
    // ARE the geometry, so the truncated search must reproduce the
    // padded-full answer identically
    val padded = emb.select(col("vec_id"),
      concat(slice(col("embedding"), 1, 32),
        array((1 to 32).map(_ => lit(0.0f)): _*)).as("embedding"))
    val truncPadded = graft.queries.LlmOps
      .truncatedTopKOf(spark, padded, dims = 32, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val fullPadded = graft.queries.LlmOps
      .truncatedTopKOf(spark, padded, dims = 64, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(truncPadded == fullPadded,
      "on a true 32-dim subspace, truncation must be lossless")
    Hygiene.release(spark)
  }

  test("jsonl quarantine: good rows parse, corrupt lines land verbatim, nothing drops") {
    val dir = Files.createTempDirectory("graft-jsonl-").toString
    val lines = Seq(
      """{"id": 1, "txt": "ok"}""",
      """{"id": "NOT_A_NUMBER", "txt": "type mismatch"}""",
      """{"id": 2, "txt": "also ok"}""",
      """{broken json"""
    )
    Files.write(java.nio.file.Paths.get(dir, "part.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    val schema = new StructType().add("id", LongType).add("txt", StringType)
    val (good, bad) = graft.sources.Io.readJsonlQuarantined(spark, dir, schema)
    val g = good.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(g.toSeq == Seq((1L, "ok"), (2L, "also ok")))
    val b = bad.collect().map(_.getString(0)).toSet
    assert(b.size == 2 && b.exists(_.contains("NOT_A_NUMBER")) && b.contains("{broken json"),
      s"quarantine must carry the raw lines: $b")
    assert(good.count() + bad.count() == lines.size, "nothing may be silently dropped")
    Hygiene.release(spark)
  }
}
