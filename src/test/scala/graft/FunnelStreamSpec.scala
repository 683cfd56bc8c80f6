package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStream

/** Pins funnelStream — q46's streaming twin: exact ordered-funnel
  * semantics under out-of-order arrival (the rewind case), finality only
  * behind the watermark, and stage-count parity with the batch kernel on
  * the real events table. */
class FunnelStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ev(id: Long, uid: Long, epochS: Long, typ: String) =
    EventStream.Event(id, new java.sql.Timestamp(epochS * 1000), uid, typ, 1.0)

  test("in-order progression emits each stage once; pre-view clicks don't count") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[EventStream.Event]
    // u1 completes in order; u2's only click precedes its first view
    src.addData(
      ev(1, 1, 10000, "view"), ev(2, 1, 10100, "click"), ev(3, 1, 10200, "purchase"),
      ev(4, 2, 10000, "click"), ev(5, 2, 10050, "view"))
    val q = EventStream.funnelStream(spark, src.toDS())
      .writeStream.outputMode("append").format("memory").queryName("fs1").start()
    try {
      q.processAllAvailable()
      src.addData(ev(9, 99, 999999, "view")) // push the watermark past everything
      q.processAllAvailable()
      val got = spark.table("fs1").as[EventStream.FunnelHit].collect()
        .filter(_.user_id != 99).toSet
      assert(got == Set(
        EventStream.FunnelHit(1, 1, 10000),
        EventStream.FunnelHit(1, 2, 10100),
        EventStream.FunnelHit(1, 3, 10200),
        EventStream.FunnelHit(2, 1, 10050)), s"got $got")
    } finally q.stop()
  }

  test("an on-time out-of-order earlier-stage event rewinds the chain") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[EventStream.Event]
    // batch 1: view@10000, click@9500 — the click precedes the only view,
    // so the chain is view-only (and nothing is final: wm = 8200)
    src.addData(ev(1, 1, 10000, "view"), ev(2, 1, 9500, "click"))
    val q = EventStream.funnelStream(spark, src.toDS())
      .writeStream.outputMode("append").format("memory").queryName("fs2").start()
    try {
      q.processAllAvailable()
      assert(spark.table("fs2").isEmpty, "nothing may finalize above the watermark")
      // batch 2: view@9000 is ON TIME (>= 8200) and rewinds t_view below
      // the click — the click is now a stage-2 entry. An arrival-order
      // state machine would have discarded it.
      src.addData(ev(3, 1, 9000, "view"))
      q.processAllAvailable()
      src.addData(ev(9, 99, 999999, "view"))
      q.processAllAvailable()
      val got = spark.table("fs2").as[EventStream.FunnelHit].collect()
        .filter(_.user_id != 99).toSet
      assert(got == Set(
        EventStream.FunnelHit(1, 1, 9000),
        EventStream.FunnelHit(1, 2, 9500)), s"got $got")
    } finally q.stop()
  }

  test("stage counts over the real events table match the batch q46 kernel") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, TestSpark.sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStream.Event].collect()
    val src = MemoryStream[EventStream.Event]
    val q = EventStream.funnelStream(spark, src.toDS())
      .writeStream.outputMode("append").format("memory").queryName("fs3").start()
    try {
      // two arbitrary batches: within-batch order is whatever collect
      // returned; correctness must not depend on it (only on no event
      // being below the watermark — batch 1's max ts bounds the wm, and
      // the split is by ts so batch 2 stays admissible)
      val cut = rows.map(_.ts.getTime).sorted.apply(rows.length / 2)
      src.addData(rows.filter(_.ts.getTime <= cut).toSeq: _*)
      q.processAllAvailable()
      src.addData(rows.filter(_.ts.getTime > cut).toSeq: _*)
      q.processAllAvailable()
      val flushTs = rows.map(_.ts.getTime / 1000).max + 10000000L
      src.addData(EventStream.Event(999999L,
        new java.sql.Timestamp(flushTs * 1000), 999999L, "view", 1.0))
      q.processAllAvailable()
      val streamed = spark.table("fs3").as[EventStream.FunnelHit].collect()
        .filter(_.user_id != 999999L)
      val streamCounts = streamed.groupBy(_.stage).view.mapValues(_.length.toLong).toMap
      val batch = graft.queries.Registry.queries("q46_funnel")(spark, TestSpark.sf0001)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(streamCounts.getOrElse(1, 0L) == batch("1_view"), s"$streamCounts vs $batch")
      assert(streamCounts.getOrElse(2, 0L) == batch("2_click"), s"$streamCounts vs $batch")
      assert(streamCounts.getOrElse(3, 0L) == batch("3_purchase"), s"$streamCounts vs $batch")
      // each (user, stage) finalizes exactly once — append-mode discipline
      assert(streamed.map(h => (h.user_id, h.stage)).distinct.length == streamed.length)
    } finally q.stop()
  }
}
