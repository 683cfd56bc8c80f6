package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins e22's PRE-filter search semantics beyond the cross-engine hash:
  * no result crosses the metadata filter, and every query gets the full
  * k whenever its filtered candidate set allows — the two properties
  * post-filter (search-then-drop) implementations break. */
class FilteredAnnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("e22: every hit shares the query's label and counts are LEAST(k, group-1)") {
    val rows = graft.queries.Registry.queries("e22_filtered_ann")(spark, TestSpark.sf0001)
      .collect()
    val labels = Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val groupSize = labels.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (qid, vid) = (r.getLong(0), r.getLong(2))
      assert(labels(qid) == labels(vid), s"hit $vid crosses the filter for query $qid")
      assert(qid != vid, s"query $qid returned itself")
    }
    val perQid = rows.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    for (qid <- labels.keys.filter(_ < 10)) {
      val expected = math.min(5, groupSize(labels(qid)) - 1)
      assert(perQid.getOrElse(qid, 0) == expected,
        s"query $qid returned ${perQid.getOrElse(qid, 0)} hits, filtered set allows $expected")
    }
    // the filter actually bites at this tier: some query's filtered
    // top-5 differs from its unfiltered top-5 (otherwise the test is
    // vacuously checking the e01 path)
    val unfiltered = graft.queries.Registry.queries("e01_ann_topk_bruteforce")(
      spark, TestSpark.sf0001).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val filtered = rows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    assert(filtered.exists { case (qid, vids) => unfiltered(qid) != vids },
      "filtered and unfiltered top-k identical for every query — filter never bit")
    Hygiene.release(spark)
  }
}
