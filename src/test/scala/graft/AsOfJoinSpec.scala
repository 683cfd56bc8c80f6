package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.AsOfJoin

class AsOfJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import java.sql.Timestamp

  private def ts(s: String) = Timestamp.valueOf(s)

  test("latest right row at-or-before each left row, per key") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, ts("2024-01-05 00:00:00")),
      (2L, 10L, ts("2024-01-01 00:00:00")), // before any order
      (3L, 20L, ts("2024-01-10 00:00:00"))
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts("2024-01-02 00:00:00"), 100L, 11.0),
      (10L, ts("2024-01-04 00:00:00"), 101L, 22.0),
      (10L, ts("2024-01-06 00:00:00"), 102L, 33.0), // after event 1
      (20L, ts("2024-01-10 00:00:00"), 200L, 44.0)  // exactly at event 3
    ).toDF("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")

    val out = AsOfJoin
      .latestAtOrBefore(left, right, "user_id", "o_custkey", "ts", "o_orderdate",
        "o_orderkey", Seq("o_orderkey", "o_totalprice"))
      .orderBy("event_id")
      .collect()

    assert(out.length == 3)
    // event 1: latest at-or-before 01-05 is order 101
    assert(out(0).getAs[Long]("o_orderkey") == 101L)
    // event 2: nothing before -> nulls (left-join semantics)
    assert(out(1).isNullAt(out(1).fieldIndex("o_orderkey")))
    // event 3: order exactly at event time matches (inclusive)
    assert(out(2).getAs[Long]("o_orderkey") == 200L)
  }

  test("NULL times: right NULLs never match, left NULLs match nothing") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, Some(ts("2024-01-05 00:00:00"))),
      (2L, 10L, None: Option[Timestamp]) // NULL left time -> no match
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      // NULL right time: would sort first under naive asc ordering and
      // leak its payload into every left row — must be excluded
      (10L, None: Option[Timestamp], 999L, 9.9),
      (10L, Some(ts("2024-01-02 00:00:00")), 100L, 1.0)
    ).toDF("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    val out = AsOfJoin
      .latestAtOrBefore(left, right, "user_id", "o_custkey", "ts", "o_orderdate",
        "o_orderkey", Seq("o_orderkey", "o_totalprice"))
      .orderBy("event_id")
      .collect()
    assert(out.length == 2)
    // event 1: the timed order wins; the NULL-time order is invisible
    assert(out(0).getAs[Long]("o_orderkey") == 100L)
    // event 2 (NULL left time): matches nothing, payload NULL
    assert(out(1).isNullAt(out(1).fieldIndex("o_orderkey")))
  }

  test("NULL keys: NULL = NULL never matches (SQL equi-join semantics)") {
    import spark.implicits._
    val left = Seq(
      (1L, Some(10L), ts("2024-01-05 00:00:00")),
      (2L, None: Option[Long], ts("2024-01-05 00:00:00")) // NULL key
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      // NULL-key right row at an earlier time: Window.partitionBy groups
      // NULL keys together, so without the key filter its payload would
      // be carried into the NULL-key left row — SQL `l.key = r.key`
      // never matches NULLs
      (None: Option[Long], ts("2024-01-02 00:00:00"), 999L, 9.9),
      (Some(10L), ts("2024-01-02 00:00:00"), 100L, 1.0)
    ).toDF("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    val out = AsOfJoin
      .latestAtOrBefore(left, right, "user_id", "o_custkey", "ts", "o_orderdate",
        "o_orderkey", Seq("o_orderkey", "o_totalprice"))
      .orderBy("event_id")
      .collect()
    assert(out.length == 2, "left rows all survive (left-join semantics)")
    assert(out(0).getAs[Long]("o_orderkey") == 100L)
    assert(out(1).isNullAt(out(1).fieldIndex("o_orderkey")),
      "NULL-key left row must not carry the NULL-key right row's payload")
  }

  test("forward variant: earliest right row at-or-after each left row") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, ts("2024-01-05 00:00:00")),
      (2L, 10L, ts("2024-01-09 00:00:00")), // after every order -> no match
      (3L, 20L, ts("2024-01-10 00:00:00"))
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts("2024-01-04 00:00:00"), 100L, 1.0), // before event 1 -> invisible
      (10L, ts("2024-01-06 00:00:00"), 101L, 2.0), // earliest at-or-after event 1
      (10L, ts("2024-01-08 00:00:00"), 102L, 3.0),
      (20L, ts("2024-01-10 00:00:00"), 200L, 4.0) // exactly at event 3 (inclusive)
    ).toDF("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    val out = AsOfJoin
      .earliestAtOrAfter(left, right, "user_id", "o_custkey", "ts", "o_orderdate",
        "o_orderkey", Seq("o_orderkey", "o_totalprice"))
      .orderBy("event_id")
      .collect()
    assert(out(0).getAs[Long]("o_orderkey") == 101L)
    assert(out(1).isNullAt(out(1).fieldIndex("o_orderkey")))
    assert(out(2).getAs[Long]("o_orderkey") == 200L)
  }

  test("ties on right time resolve to greatest tiebreak key") {
    import spark.implicits._
    val left = Seq((1L, 10L, ts("2024-01-05 00:00:00"))).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts("2024-01-03 00:00:00"), 7L, 1.0),
      (10L, ts("2024-01-03 00:00:00"), 9L, 2.0),
      (10L, ts("2024-01-03 00:00:00"), 8L, 3.0)
    ).toDF("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    val out = AsOfJoin
      .latestAtOrBefore(left, right, "user_id", "o_custkey", "ts", "o_orderdate",
        "o_orderkey", Seq("o_orderkey", "o_totalprice"))
      .collect()
    assert(out.head.getAs[Long]("o_orderkey") == 9L)
  }

  test("tolerance nulls a too-old nearest match but keeps an in-window one; rows survive") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, ts("2024-01-05 00:00:00")), // nearest order 3 days ago: in window
      (2L, 20L, ts("2024-01-10 00:00:00")) // nearest order 6 days ago: out
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts("2024-01-02 00:00:00"), 100L, 11.0),
      (20L, ts("2024-01-04 00:00:00"), 200L, 22.0)
    ).toDF("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    val out = AsOfJoin
      .latestAtOrBefore(left, right, "user_id", "o_custkey", "ts", "o_orderdate",
        "o_orderkey", Seq("o_orderkey", "o_totalprice"),
        toleranceSeconds = Some(3L * 86400))
      .orderBy("event_id").collect()
    assert(out.length == 2, "out-of-window rows must survive with null payload")
    assert(out(0).getAs[Long]("o_orderkey") == 100L)
    assert(out(1).isNullAt(out(1).fieldIndex("o_orderkey")))
    assert(out(1).isNullAt(out(1).fieldIndex("o_totalprice")),
      "the whole payload nulls together — it is one carried row")
  }

  test("tolerance boundary is exact on sub-second timestamps (integral-micros gap)") {
    import spark.implicits._
    // gap = exactly tol with a .7-second fraction on both endpoints: a
    // double-seconds compare can round the gap a ulp above tol and flip
    // the inclusive <=; the integral-micros gate must keep it IN. The
    // second left row sits 1 microsecond past the window and must null.
    val tol = 5L
    val left = Seq(
      (1L, 10L, ts("2024-01-05 00:00:10.700")),
      (2L, 10L, Timestamp.from(
        ts("2024-01-05 00:00:10.700").toInstant.plusNanos(1000)))
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts("2024-01-05 00:00:05.700"), 100L, 11.0)
    ).toDF("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    val out = AsOfJoin
      .latestAtOrBefore(left, right, "user_id", "o_custkey", "ts", "o_orderdate",
        "o_orderkey", Seq("o_orderkey", "o_totalprice"),
        toleranceSeconds = Some(tol))
      .orderBy("event_id").collect()
    assert(out(0).getAs[Long]("o_orderkey") == 100L,
      "a gap landing exactly on the tolerance is inclusive")
    assert(out(1).isNullAt(out(1).fieldIndex("o_orderkey")),
      "one microsecond past the window is out")
  }

  test("forward tolerance: the gap measures toward the future") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, ts("2024-01-05 00:00:00")), // next order in 2 days: in window
      (2L, 20L, ts("2024-01-01 00:00:00")) // next order in 9 days: out
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts("2024-01-07 00:00:00"), 100L, 11.0),
      (20L, ts("2024-01-10 00:00:00"), 200L, 22.0)
    ).toDF("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    val out = AsOfJoin
      .earliestAtOrAfter(left, right, "user_id", "o_custkey", "ts", "o_orderdate",
        "o_orderkey", Seq("o_orderkey", "o_totalprice"),
        toleranceSeconds = Some(3L * 86400))
      .orderBy("event_id").collect()
    assert(out(0).getAs[Long]("o_orderkey") == 100L)
    assert(out(1).isNullAt(out(1).fieldIndex("o_orderkey")))
  }
}
