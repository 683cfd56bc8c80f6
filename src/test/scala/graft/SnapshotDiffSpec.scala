package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins d27's snapshot-diff kernel: content addressing (re-ids are
  * invisible), the three-way classification, and per-source attribution. */
class SnapshotDiffSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("diff classifies by content: re-identified texts are retained, not add+remove") {
    import spark.implicits._
    val a = Seq(("s1", "alpha"), ("s1", "beta"), ("s2", "gamma")).toDF("source", "text")
    // beta dropped; alpha kept (same bytes — a re-crawl with a new id
    // would look identical here); delta added; s2 untouched
    val b = Seq(("s1", "alpha"), ("s1", "delta"), ("s2", "gamma")).toDF("source", "text")
    val got = graft.queries.LlmOps.snapshotDiff(a, b).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("s1", 1L, 1L, 1L), ("s2", 0L, 0L, 1L)))
    Hygiene.release(spark)
  }

  test("duplicate copies inside one snapshot collapse before the diff") {
    import spark.implicits._
    val a = Seq(("s1", "x"), ("s1", "x"), ("s1", "x")).toDF("source", "text")
    val b = Seq(("s1", "x")).toDF("source", "text")
    val got = graft.queries.LlmOps.snapshotDiff(a, b).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("s1", 0L, 0L, 1L)),
      "the diff is over distinct contents — copy counts belong to d01/t16")
    Hygiene.release(spark)
  }
}
