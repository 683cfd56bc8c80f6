package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.KthLargest.kthLargest

class KthLargestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("kth largest equals the sort-based answer across many partitions") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // several keys, scattered over 16 partitions so map-side partials and
    // the merge path both run; duplicates included deliberately
    val rows = for {
      key <- 0 to 4
      _ <- 0 until 500
    } yield (key.toLong, math.floor(rnd.nextDouble() * 100) / 10.0)
    val df = rows.toDF("qid", "v").repartition(16)
    for (k <- Seq(1, 7, 50)) {
      val got = df.groupBy("qid").agg(kthLargest(col("v"), k).as("kth"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val want = rows.groupBy(_._1).map { case (q, vs) =>
        q -> vs.map(_._2).sorted(Ordering[Double].reverse).apply(k - 1)
      }
      assert(got === want, s"k=$k")
    }
  }

  test("groups smaller than k return their minimum (every row qualifies)") {
    import spark.implicits._
    val df = Seq((1L, 3.0), (1L, 1.0), (1L, 2.0), (2L, 9.0)).toDF("qid", "v")
      .repartition(4)
    val got = df.groupBy("qid").agg(kthLargest(col("v"), 10).as("kth"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === Map(1L -> 1.0, 2L -> 9.0))
  }

  test("NULLs are skipped; an all-NULL group yields NULL") {
    import spark.implicits._
    val df = Seq[(Long, Option[Double])](
      (1L, Some(5.0)), (1L, None), (1L, Some(7.0)),
      (2L, None), (2L, None)
    ).toDF("qid", "v").repartition(3)
    val rows = df.groupBy("qid").agg(kthLargest(col("v"), 2).as("kth"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(rows === Map(1L -> Some(5.0), 2L -> None))
  }

  test("NaN scores are skipped by both kernels (a poisoned score never outranks a real one)") {
    import spark.implicits._
    import graft.functions.TopKVids.topKVids
    // NaN arrives FIRST (heap under-full — the corruption window: raw
    // </== comparisons are all-false under NaN, so an admitted NaN broke
    // the sift invariants and could displace valid entries)
    val df = Seq(
      (1L, Double.NaN, 10L), (1L, 3.0, 11L), (1L, 5.0, 12L), (1L, 4.0, 13L),
      (2L, Double.NaN, 20L), (2L, Double.NaN, 21L) // all-NaN group == all-NULL group
    ).toDF("qid", "v", "vid").repartition(3)
    val kth = df.groupBy("qid").agg(kthLargest(col("v"), 2).as("kth"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(kth === Map(1L -> Some(4.0), 2L -> None))
    val top = df.groupBy("qid").agg(topKVids(col("v"), col("vid"), 2).as("t"))
      .selectExpr("qid", "t.vids as vids")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(top === Map(1L -> Seq(12L, 13L), 2L -> Seq.empty[Long]))
  }

  test("topKVids matches the window-based top-k across partials, ties, and short groups") {
    import spark.implicits._
    import graft.functions.TopKVids.topKVids
    val rnd = new scala.util.Random(7)
    // heavy ties (scores quantized to tenths) so the vid tiebreak decides
    // often; group 9 has fewer rows than any k
    val rows = (for {
      key <- 0 to 4
      _ <- 0 until 400
    } yield (key.toLong, rnd.nextInt(100000).toLong, math.floor(rnd.nextDouble() * 100) / 10.0)) ++
      Seq((9L, 3L, 1.0), (9L, 1L, 1.0))
    val df = rows.toDF("qid", "vid", "v").repartition(16)
    for (k <- Seq(1, 5, 23)) {
      val got = df.groupBy("qid").agg(topKVids(col("v"), col("vid"), k).as("top"))
        .select(col("qid"), col("top.vids").as("vids"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
      val want = rows.groupBy(_._1).map { case (q, vs) =>
        q -> vs.map(t => (t._3, t._2)).sortBy { case (s, v) => (-s, v) }.take(k).map(_._2).toList
      }
      assert(got === want, s"k=$k")
    }
    // NULL scores are skipped, not ranked
    val withNull = Seq[(Long, Long, Option[Double])](
      (1L, 10L, Some(2.0)), (1L, 11L, None), (1L, 12L, Some(3.0))
    ).toDF("qid", "vid", "v")
    val g = withNull.groupBy("qid").agg(topKVids(col("v"), col("vid"), 5).as("top"))
      .select(col("top.vids")).head().getSeq[Long](0).toList
    assert(g === List(12L, 10L))
  }
}
