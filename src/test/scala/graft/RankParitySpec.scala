package graft

import org.scalatest.funsuite.AnyFunSuite

/** t21's distributed global rank must be invariant to the range-exchange
  * width: rank = per-partition offset + local row_number holds for ANY
  * monotonic partition assignment, so the tercile output is identical
  * whether the exchange is 2-wide (a laptop) or 2560-wide (a cluster).
  * The width comes from `defaultParallelism` in the registered query —
  * never hard-coded — and this spec pins that a width change is purely a
  * physical choice (the r6 shape fixed 32, which at 500M docs would push
  * the whole corpus through 32 tasks).
  */
class RankParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("t21 terciles are identical at 2-wide and 32-wide range exchanges") {
    val narrow = queries.LlmOps.nllBuckets(spark, TestSpark.sf0001, 2).collect()
    val wide = queries.LlmOps.nllBuckets(spark, TestSpark.sf0001, 32).collect()
    assert(narrow.length == 3, s"expected 3 buckets, got ${narrow.length}")
    assert(narrow.map(_.toString).toSeq == wide.map(_.toString).toSeq,
      s"rank output depends on exchange width:\n narrow=${narrow.mkString("; ")}\n wide=${wide.mkString("; ")}")
    Hygiene.release(spark)
  }

  test("registered t21 derives its width from the session's parallelism") {
    // local[4] test session: defaultParallelism = 4, not the bench's 32 —
    // the query must still produce the same three buckets
    val reg = SparkEntry.queries("t21_nll_buckets")(spark, TestSpark.sf0001).collect()
    val explicit = queries.LlmOps.nllBuckets(spark, TestSpark.sf0001, 7).collect()
    assert(reg.map(_.toString).toSeq == explicit.map(_.toString).toSeq)
    Hygiene.release(spark)
  }

  test("groupedRank is identical at 2-wide and 32-wide exchanges and matches the naive window") {
    import org.apache.spark.sql.functions._
    val o = Tables.orders(spark, TestSpark.sf0001)
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
    def run(w: Int) = graft.operators.Ranks
      .groupedRank(o, "o_orderpriority", w, col("o_totalprice"), col("o_orderkey"))
      .select("o_orderpriority", "o_orderkey", "grank", "gn")
      .orderBy("o_orderpriority", "grank")
      .collect()
    val narrow = run(2)
    val wide = run(32)
    assert(narrow.nonEmpty)
    assert(narrow.map(_.toString).toSeq == wide.map(_.toString).toSeq,
      "groupedRank output depends on exchange width")
    // ground truth: the per-group window this operator exists to replace
    // (fine HERE — a spec-sized input, never a registered query plan)
    val naive = o
      .withColumn(
        "grank",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("o_orderpriority")
            .orderBy(col("o_totalprice"), col("o_orderkey"))
        )
      )
      .withColumn(
        "gn",
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("o_orderpriority")
        )
      )
      .select("o_orderpriority", "o_orderkey", "grank", "gn")
      .orderBy("o_orderpriority", "grank")
      .collect()
    assert(narrow.map(_.toString).toSeq == naive.map(_.toString).toSeq,
      "groupedRank disagrees with the per-group window ground truth")
    Hygiene.release(spark)
  }

  test("groupedRank refuses a count table over its driver bound and names the group column") {
    import org.apache.spark.sql.functions._
    // one group per row: the (partition, group) table has one row per group
    val df = spark.range(graft.operators.Ranks.MaxCountRows + 1L).select(col("id").as("g"), col("id").as("v"))
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Ranks.groupedRank(df, "g", 2, col("v"))
    }
    assert(ex.getMessage.contains("'g'") && ex.getMessage.contains("numParts = 2") &&
      ex.getMessage.contains(s"${graft.operators.Ranks.MaxCountRows + 1} "), ex.getMessage)
    Hygiene.release(spark)
  }

  test("ntileFromRank matches Spark's ntile across group sizes incl. n < k") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // groups of size 1, 2, 3, 5, 8, 11 against ntile(4)
    val rows = Seq(1, 2, 3, 5, 8, 11).flatMap(n => (1 to n).map(i => (s"g$n", i)))
    val df = rows.toDF("g", "v")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g").orderBy("v")
    val got = df
      .withColumn("grank", row_number().over(w).cast("long"))
      .withColumn("gn", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("g")))
      .withColumn("tile", graft.operators.Ranks.ntileFromRank(col("grank"), col("gn"), 4))
      .withColumn("want", ntile(4).over(w))
      .filter(col("tile") =!= col("want"))
      .count()
    assert(got == 0L, s"$got rows disagree with ntile(4)")
    Hygiene.release(spark)
  }
}
