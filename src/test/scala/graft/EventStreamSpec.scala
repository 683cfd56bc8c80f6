package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.EventStream

class EventStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("readEvents equals Tables.events row-for-row on the same file") {
    // the stream source and the batch loader dispatch on the same physical
    // schema — this pins that they can never diverge silently (the r7 bug:
    // the stream side hard-coded int64-nanos against a timestamp[us] file
    // and every streamed window landed in 1970)
    val dir = java.nio.file.Files.createTempDirectory("events-parity")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sf0001}/events.parquet"),
      dir.resolve("events.parquet"))
    val q = EventStream.readEvents(spark, dir.toString)
      .writeStream.outputMode("append").format("memory")
      .queryName("events_parity").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("events_parity")
      // the one documented divergence: the stream side carries ts as
      // TIMESTAMP (watermarks demand the instant type); with the session
      // pinned to UTC the cast is wall-clock-preserving, so batch-side
      // cast here makes the comparison exact
      val batch = Tables.events(spark, TestSpark.sf0001)
        .withColumn("ts", col("ts").cast("timestamp"))
      assert(streamed.schema === batch.schema,
        "stream source must declare the batch loader's schema (ts normalized to TIMESTAMP)")
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select("event_id", "ts", "user_id", "event_type", "value")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3), r.getDouble(4)))
        .sortBy(_._1).toSeq
      assert(key(streamed) === key(batch))
      assert(streamed.count() === batch.count())
    } finally q.stop()
  }

  test("readEvents' int64-nanos branch floor-divides exactly (synthetic nanos file)") {
    import spark.implicits._
    // a physically-int64 ts column (what TIMESTAMP(NANOS) reads as under
    // nanosAsLong) must take the nanos branch: exact floor division to µs,
    // including the pre-1970 boundary where truncation would round UP
    val dir = java.nio.file.Files.createTempDirectory("events-nanos")
    Seq(
      (1L, 3_600_000_000_000L, 7L, "view", 1.0, "{}"), // 1970-01-01T01:00:00
      (2L, -500L, 8L, "view", 1.0, "{}"), // -500 ns -> floors to -1 µs
      (3L, 999L, 9L, "view", 1.0, "{}") // 999 ns -> floors to 0 µs
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val q = EventStream.readEvents(spark, dir.toString)
      .writeStream.outputMode("append").format("memory")
      .queryName("events_nanos").start()
    try {
      q.processAllAvailable()
      val got = spark.table("events_nanos")
        .select("event_id", "ts").collect()
        .map(r => r.getLong(0) -> r.getTimestamp(1).getTime) // ms since epoch
        .toMap
      assert(got(1L) === 3_600_000L) // 3.6e12 ns = 3600 s = 3.6e6 ms
      assert(got(2L) === -1L, "Timestamp.getTime floors -1µs into the -1ms bucket")
      // the decisive check is at µs precision, where truncation-vs-floor differs
      val micros = spark.table("events_nanos")
        .select(col("event_id"), expr("unix_micros(ts)"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(micros(1L) === 3_600_000_000L)
      assert(micros(2L) === -1L, "div-toward-zero would give 0 here")
      assert(micros(3L) === 0L)
    } finally q.stop()
  }

  test("readDocuments / readEmbeddings stream the batch schema and rows") {
    for ((name, reader, idCol) <- Seq(
        ("documents",
          (s: org.apache.spark.sql.SparkSession, p: String) => EventStream.readDocuments(s, p),
          "doc_id"),
        ("embeddings",
          (s: org.apache.spark.sql.SparkSession, p: String) => EventStream.readEmbeddings(s, p),
          "vec_id"))) {
      val dir = java.nio.file.Files.createTempDirectory(s"$name-parity")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"${TestSpark.sf0001}/$name.parquet"),
        dir.resolve(s"$name.parquet"))
      val q = reader(spark, dir.toString)
        .writeStream.outputMode("append").format("memory")
        .queryName(s"${name}_parity").start()
      try {
        q.processAllAvailable()
        val streamed = spark.table(s"${name}_parity")
        val batch = Tables.table(spark, TestSpark.sf0001, name)
        assert(streamed.schema === batch.schema, s"$name schema drift")
        val gotIds = streamed.select(idCol).collect().map(_.getLong(0)).sorted.toSeq
        val wantIds = batch.select(idCol).collect().map(_.getLong(0)).sorted.toSeq
        assert(gotIds === wantIds, s"$name ids drift")
      } finally q.stop()
    }
  }

  test("streaming hourly stats equal the batch computation (memory sink)") {
    // the file source needs a directory; stage the single parquet file
    val dir = java.nio.file.Files.createTempDirectory("events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sf0001}/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = EventStream.readEvents(spark, dir.toString)
    val q = EventStream
      .hourlyStats(stream)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("hourly_out")
      .start()
    try {
      q.processAllAvailable()
      val got = spark
        .table("hourly_out")
        .select(col("hour"), col("event_type"), col("n"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val want = Tables
        .events(spark, TestSpark.sf0001)
        .groupBy(date_trunc("hour", col("ts")).cast("timestamp").as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(got == want)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("sliding-window rates match the batch computation") {
    val dir = java.nio.file.Files.createTempDirectory("events-slide")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sf0001}/events.parquet"),
      dir.resolve("events.parquet"))
    val q = EventStream
      .slidingRate(EventStream.readEvents(spark, dir.toString))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("slide_out")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("slide_out").collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got.nonEmpty)
      // spot-check one (window, type) cell against a direct batch filter
      val ((wStart, eType), n) = got.head
      val wEnd = new java.sql.Timestamp(wStart.getTime + 5 * 60 * 1000)
      val want = Tables.events(spark, TestSpark.sf0001)
        .filter(col("event_type") === eType &&
          col("ts").cast("timestamp") >= lit(wStart) &&
          col("ts").cast("timestamp") < lit(wEnd))
        .count()
      assert(n == want, s"window $wStart/$eType: stream=$n batch=$want")
    } finally q.stop()
  }

  test("streaming dedup keeps first occurrence per content key across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, java.sql.Timestamp, String)]
    def row(id: Long, epochS: Long, text: String) =
      (id, new java.sql.Timestamp(epochS * 1000), text)
    src.addData(row(1, 1000, "alpha"), row(2, 1010, "beta"), row(3, 1020, "alpha"))
    val deduped = EventStream.dedupStream(
      src.toDF().toDF("event_id", "ts", "text"),
      keyCols = Seq("text"),
      watermark = "10 minutes"
    )
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      // duplicate arriving in a LATER batch within the watermark horizon
      // is still dropped (state persists across batches)
      src.addData(row(4, 1030, "beta"), row(5, 1040, "gamma"))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id").as[Long].collect().toSet
      assert(ids == Set(1L, 2L, 5L))
      val texts = spark.table("dedup_out").select("text").as[String].collect().toSet
      assert(texts == Set("alpha", "beta", "gamma"))
    } finally q.stop()
  }

  test("streaming near-dup guard flags arrivals against the static fingerprint index") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    graft.functions.VectorFunctions.register(spark)
    // static corpus: three docs, fingerprinted with the same kernel the
    // stream side uses (d04's persistable artifact)
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again"),
      (101L, "completely different content about spark physical plans"),
      (102L, "rolling hash chunk boundaries for content defined dedup")
    ).toDF("doc_id", "text")
    val corpusFps = corpus.select(
      col("doc_id"),
      expr("simhash64(array_remove(split(lower(text), ' '), ''))").as("simhash")
    )
    val src = MemoryStream[(Long, String)]
    val out = EventStream.nearDupStream(src.toDF().toDF("doc_id", "text"), corpusFps)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("neardup_out").start()
    try {
      src.addData(
        // byte-identical to corpus 100 -> hamming 0
        (1L, "the quick brown fox jumps over the lazy dog again and again"),
        // unrelated -> no match
        (2L, "entirely unrelated text mentioning nothing similar whatsoever at all")
      )
      q.processAllAvailable()
      // a near-variant of corpus 100 arriving in a LATER batch (one word
      // swapped) matches iff its fingerprint sits within the radius; the
      // exact copy is the guaranteed in-radius case
      src.addData((3L, "the quick brown fox jumps over the lazy dog again and againx"))
      q.processAllAvailable()
      val rows = spark.table("neardup_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      val byDoc = rows.groupBy(_._1)
      assert(byDoc(1L).toSeq == Seq((1L, 100L, 0))) // exact: one row, hamming 0
      assert(!byDoc.contains(2L)) // unrelated never emits
      // exactly-once per pair: no doc_id repeats a matched_id
      assert(rows.groupBy(r => (r._1, r._2)).values.forall(_.size == 1))
    } finally q.stop()
  }

  test("streaming cluster routing labels arrivals identically to the batch assignment") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import graft.operators.KMeans
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, TestSpark.sf0001).select("vec_id", "embedding")
    val model = KMeans.fit(spark, emb, k = 4, iters = 1)
    // the stream consumes the LOADED artifact, not the in-memory model —
    // the train-once/persist/score-anywhere split end to end
    val dir = java.nio.file.Files.createTempDirectory("kmeans_stream").toString
    KMeans.save(spark, model, dir)
    val loaded = KMeans.load(spark, dir)
    val rows = emb.limit(20).collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val src = MemoryStream[(Long, Seq[Float])]
    val out = EventStream.clusterStream(src.toDF().toDF("vec_id", "embedding"), loaded)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("cluster_out").start()
    try {
      src.addData(rows.take(10): _*)
      q.processAllAvailable()
      src.addData(rows.drop(10): _*) // later batch, same contract
      q.processAllAvailable()
      val got = spark.table("cluster_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
      val ids = rows.map(_._1)
      val want = KMeans
        .assign(spark, emb.filter(col("vec_id").isin(ids: _*)), model)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
      assert(got === want)
    } finally q.stop()
  }

  test("sessionization closes gap-separated sessions with typed state") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[EventStream.Event]
    def ev(id: Long, uid: Long, epochS: Long) =
      EventStream.Event(id, new java.sql.Timestamp(epochS * 1000), uid, "view", 1.0)
    // user 1: two sessions separated by > 1800 s; user 2: one open session
    src.addData(
      ev(1, 1, 1000), ev(2, 1, 1100), ev(3, 1, 1200),
      ev(4, 1, 9000), ev(5, 1, 9100),
      ev(6, 2, 500)
    )
    val out = EventStream.sessionize(spark, src.toDS())
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sessions_out").start()
    try {
      q.processAllAvailable()
      // both sessions flush once the watermark (9100s - gap = 7300s)
      // passes their last event + gap (3000s and 2300s) — never on the
      // in-batch gap alone, which an on-time out-of-order event could
      // still bridge (see the bridging test below)
      val sessions = spark.table("sessions_out").as[EventStream.UserSession].collect()
      assert(sessions.toSet == Set(
        EventStream.UserSession(1L, 3L, 200L),
        EventStream.UserSession(2L, 1L, 0L)
      ))
      // a far-future event advances the watermark past user 1's open
      // session, flushing it via timeout; user 2 starts a fresh session
      src.addData(ev(7, 2, 99999))
      q.processAllAvailable()
      val s2 = spark.table("sessions_out").as[EventStream.UserSession].collect()
      assert(s2.toSet == Set(
        EventStream.UserSession(1L, 3L, 200L),
        EventStream.UserSession(2L, 1L, 0L),
        EventStream.UserSession(1L, 2L, 100L)
      ))
    } finally q.stop()
  }

  test("sessionization: an on-time out-of-order event bridges an in-batch gap") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[EventStream.Event]
    def ev(id: Long, uid: Long, epochS: Long) =
      EventStream.Event(id, new java.sql.Timestamp(epochS * 1000), uid, "view", 1.0)
    // batch 1: t=10000 and t=13000 — an in-batch gap > 1800 s. Closing on
    // that gap alone would emit (n=1, dur=0) prematurely: the watermark
    // after this batch is only 13000 - 1800 = 11200, so an event at t in
    // [11200, 11800] is still ON TIME and bridges the two. (Timestamps sit
    // well above epoch 0: Spark's own late-row filter drops a t=0 event
    // against the INITIAL watermark value 0 before the state function
    // ever sees it.)
    src.addData(ev(1, 1, 10000), ev(2, 1, 13000))
    val out = EventStream.sessionize(spark, src.toDS())
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sessions_bridge").start()
    try {
      q.processAllAvailable()
      assert(spark.table("sessions_bridge").isEmpty,
        "nothing may flush while the watermark can still admit a bridge")
      // batch 2: t=11500 >= watermark 11200 — admissible, and within gap
      // of both t=10000 and t=13000: the three events are ONE session
      src.addData(ev(3, 1, 11500))
      q.processAllAvailable()
      // batch 3: far-future event pushes the watermark past 13000 + gap,
      // flushing the bridged session
      src.addData(ev(4, 2, 99999))
      q.processAllAvailable()
      val sessions = spark.table("sessions_bridge")
        .as[EventStream.UserSession].collect()
      assert(sessions.toSet == Set(EventStream.UserSession(1L, 3L, 3000L)),
        s"expected one bridged session, got ${sessions.mkString(", ")}")
    } finally q.stop()
  }

  test("stream-static enrichment joins the batch dim without stream state") {
    val dir = java.nio.file.Files.createTempDirectory("events-enrich")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sf0001}/events.parquet"),
      dir.resolve("events.parquet"))
    // derive a user-attribute dim covering only part of the id space so
    // the left_outer survival path is exercised too
    val dim = Tables
      .events(spark, TestSpark.sf0001)
      .select(col("user_id")).distinct()
      .filter(col("user_id") % 2 === 0)
      .withColumn("segment", concat(lit("seg-"), (col("user_id") % 3).cast("string")))
    val q = EventStream
      .enrich(EventStream.readEvents(spark, dir.toString), dim, "user_id", "left_outer")
      .select("event_id", "user_id", "segment")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("enrich_out")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("enrich_out").collect()
      val total = Tables.events(spark, TestSpark.sf0001).count()
      assert(got.length.toLong === total, "left_outer enrichment must preserve every event")
      val (even, odd) = got.partition(_.getLong(1) % 2 == 0)
      assert(even.nonEmpty && even.forall(!_.isNullAt(2)))
      assert(odd.nonEmpty && odd.forall(_.isNullAt(2)))
    } finally q.stop()
  }

  test("stream-stream interval join correlates same-user events within the bound") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, uid: Long, epochS: Long, typ: String)
        : (Long, java.sql.Timestamp, Long, String, Double, String) =
      (id, new java.sql.Timestamp(epochS * 1000), uid, typ, 1.0, "{}")
    val clicks = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val buys = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val joined = EventStream.correlate(
      clicks.toDF().toDF(cols: _*),
      buys.toDF().toDF(cols: _*),
      withinSeconds = 1800
    )
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("corr_out").start()
    try {
      clicks.addData(ev(1, 7, 1000, "click"), ev(2, 8, 1000, "click"))
      buys.addData(
        ev(10, 7, 1900, "buy"), // user 7, 900s after: match
        ev(11, 7, 5000, "buy"), // user 7, 4000s after: outside bound
        ev(12, 9, 1100, "buy"), // user 9: no click
        ev(13, 8, 900, "buy")   // user 8 but BEFORE the click: no match
      )
      q.processAllAvailable()
      val got = spark.table("corr_out")
        .select("l_id", "r_id").as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 10L)))
    } finally q.stop()
  }

  test("streaming NLL gate scores arrivals byte-identically to the batch scorer, from the persisted LM") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.queries.LlmOps
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    // train once (batch), persist, reload — the artifact is what the
    // stream consumes (the CCNet online-filter split end to end)
    val oc = docs.select(col("doc_id"), explode(LlmOps.tokensCol(col("text"))).as("tok"))
    val dir = java.nio.file.Files.createTempDirectory("unigram_lm").toString
    LlmOps.saveUnigramLm(LlmOps.unigramLmOf(oc), dir)
    val lm = LlmOps.loadUnigramLm(spark, dir)
    // 20 "arriving" docs with event times; two batches to prove the
    // contract holds across triggers
    val arrivals = docs.limit(20).collect().map { r =>
      (r.getLong(0), new java.sql.Timestamp(1000_000L + r.getLong(0)), r.getString(1))
    }
    val src = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = EventStream.nllStream(src.toDF().toDF("doc_id", "ts", "text"), lm)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("nll_out").start()
    try {
      src.addData(arrivals.take(10): _*)
      q.processAllAvailable()
      src.addData(arrivals.drop(10): _*)
      q.processAllAvailable()
      // append mode holds rows until the watermark passes their ts; a
      // final far-future arrival flushes everything pending
      src.addData((999999L, new java.sql.Timestamp(9_000_000_000L), "flush"))
      q.processAllAvailable()
      val got = spark.table("nll_out")
        .filter(col("doc_id") < 999999L)
        .select("doc_id", "n_tokens", "nll")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      val ids = arrivals.map(_._1)
      val want = LlmOps
        .scoreAgainstLm(oc.filter(col("doc_id").isin(ids: _*)), lm)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      assert(got.nonEmpty)
      assert(got === want, "streamed NLL scores must be byte-identical to the batch scorer")
    } finally q.stop()
  }

  test("streaming bigram-NLL gate scores arrivals byte-identically to batch, from the persisted counts") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.queries.LlmOps
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    val tk = docs.select(col("doc_id"), LlmOps.tokensCol(col("text")).as("t"))
    val dir = java.nio.file.Files.createTempDirectory("bigram_lm").toString
    LlmOps.saveBigramLm(LlmOps.bigramLmCountsOf(tk), dir)
    val counts = LlmOps.loadBigramLm(spark, dir)
    // arrivals include docs the LM trained on AND novel text whose
    // bigrams are unseen-but-known-token (the interpolation's backoff
    // path) — batch and stream must agree on both
    val trained = docs.limit(12).collect().map { r =>
      (r.getLong(0), new java.sql.Timestamp(1000_000L + r.getLong(0)), r.getString(1))
    }
    val novelText = trained.map(_._3).head.split(" ").reverse.mkString(" ")
    val arrivals = trained :+ ((888888L, new java.sql.Timestamp(1100_000L), novelText))
    val src = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = EventStream.bigramNllStream(src.toDF().toDF("doc_id", "ts", "text"), counts)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("bigram_nll_out").start()
    try {
      src.addData(arrivals.take(6): _*)
      q.processAllAvailable()
      src.addData(arrivals.drop(6): _*)
      q.processAllAvailable()
      src.addData((999999L, new java.sql.Timestamp(9_000_000_000L), "flush"))
      q.processAllAvailable()
      val got = spark.table("bigram_nll_out")
        .filter(col("doc_id") < 999999L)
        .select("doc_id", "n_tokens", "nll")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      val arrivalsDf = arrivals.toSeq.toDF("doc_id", "ts", "text")
        .select(col("doc_id"), LlmOps.tokensCol(col("text")).as("t"))
      val want = LlmOps.bigramNllFrom(arrivalsDf, counts)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      assert(got.nonEmpty)
      assert(got.map(_._1).contains(888888L), "the novel-bigram doc must still score (backoff path)")
      assert(got === want, "streamed bigram scores must be byte-identical to the batch scorer")
    } finally q.stop()
  }

  test("contamination stream: streamed verdicts byte-identical to the batch scorer, zero state") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.queries.LlmOps
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    val isBatch = substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1")
    val train = docs.filter(!isBatch)
    val gramSet = LlmOps.gramSetOf(train).localCheckpoint(true)
    val arriving = docs.filter(isBatch).as[(Long, String)].collect().sortBy(_._1).toSeq
    val (b1, b2) = arriving.splitAt(arriving.size / 2)
    val base = java.nio.file.Files.createTempDirectory("contam-stream").toString
    val out = s"$base/verdicts"; val ck = s"$base/ck"
    def want(b: Seq[(Long, String)]) =
      LlmOps.contaminationAgainst(b.toDF("doc_id", "text"), gramSet)
        .collect().map(_.toSeq).toSeq
    val (w1, w2) = (want(b1), want(b2))
    assert(w1.nonEmpty && w2.nonEmpty)
    val src = MemoryStream[(Long, String)]
    val q = EventStream.contaminationStream(src.toDF().toDF("doc_id", "text"), gramSet, out, ck)
    try {
      src.addData(b1: _*); q.processAllAvailable()
      src.addData(b2: _*); q.processAllAvailable()
      // no stateful operators anywhere in the stream
      assert(q.lastProgress == null ||
        Option(q.lastProgress.stateOperators).forall(_.isEmpty))
    } finally q.stop()
    val verdicts = spark.read.parquet(out)
    def got(id: Long) = verdicts.filter(col("batch_id") === id)
      .drop("batch_id").collect().map(_.toSeq).toSeq
    assert(got(0).sortBy(_.head.toString.toLong) === w1.sortBy(_.head.toString.toLong))
    assert(got(1).sortBy(_.head.toString.toLong) === w2.sortBy(_.head.toString.toLong))
  }

  test("contamination gate: an oversized batch drops the broadcast hint, same verdicts") {
    import spark.implicits._
    import graft.queries.LlmOps
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    val isBatch = substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1")
    val train = docs.filter(!isBatch)
    val gramSet = LlmOps.gramSetOf(train).localCheckpoint(true)
    val batch = docs.filter(isBatch).as[(Long, String)].collect().sortBy(_._1).toSeq
    val bdf = batch.toDF("doc_id", "text")
    // isolate the HINT from Catalyst's size-based auto-broadcast (which
    // would legitimately broadcast this test-sized gram frame either
    // way, and at scale is itself threshold-guarded — the hazard was
    // only ever the unconditional hint overriding that guard)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // in-bound batch: the hint forces the broadcast probe (fast shape)
      val small = LlmOps.contaminationAgainst(bdf, gramSet)
      assert(small.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "in-bound batch lost the broadcast probe")
      // recovery-sized batch (threshold forced to 1 gram): the hint must
      // drop — an unbounded gram set through driver broadcast memory is
      // how a catch-up batch kills the stream — and verdicts stay equal
      val big = LlmOps.contaminationAgainst(bdf, gramSet, broadcastMaxGrams = 1L)
      val hitJoinPlan = big.queryExecution.executedPlan.toString
      assert(!hitJoinPlan.contains("BroadcastHashJoin"),
        s"oversized batch still broadcasts:\n$hitJoinPlan")
      assert(small.collect().map(_.toSeq).toSeq === big.collect().map(_.toSeq).toSeq,
        "join-strategy fallback changed the verdicts")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    Hygiene.release(spark)
  }

  test("domain quota stream: first-K admission carries across batches, bounded one-long state") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[EventStream.DocArrival]
    val out = EventStream.domainQuotaStream(spark, src.toDS(), quota = 3)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("quota_out").start()
    try {
      // batch 1 deliberately out of intra-batch order: determinism is by
      // doc_id within (source, batch), so 5 must lose to 1/2/3 — not
      // whichever the iterator yields first
      src.addData(
        EventStream.DocArrival(5, "a"), EventStream.DocArrival(1, "a"),
        EventStream.DocArrival(2, "a"), EventStream.DocArrival(3, "a"),
        EventStream.DocArrival(11, "b"))
      q.processAllAvailable()
      // batch 2: source a is already at quota; b still has budget
      src.addData(
        EventStream.DocArrival(6, "a"), EventStream.DocArrival(12, "b"),
        EventStream.DocArrival(13, "b"), EventStream.DocArrival(14, "b"))
      q.processAllAvailable()
      val got = spark.table("quota_out").as[EventStream.QuotaVerdict]
        .collect().map(v => v.doc_id -> v.admitted).toMap
      assert(got == Map(
        1L -> true, 2L -> true, 3L -> true, 5L -> false, 6L -> false,
        11L -> true, 12L -> true, 13L -> true, 14L -> false
      ))
      // the batch twin over the same arrival order agrees: first-3 per
      // source by (batch order, doc_id) — here globally by doc_id per
      // source since batches arrived in id order past the first
      val all = Seq(
        (1L, "a"), (2L, "a"), (3L, "a"), (5L, "a"), (6L, "a"),
        (11L, "b"), (12L, "b"), (13L, "b"), (14L, "b"))
      val batchTwin = all.groupBy(_._2).flatMap { case (_, ds) =>
        ds.sortBy(_._1).zipWithIndex.map { case ((id, _), i) => id -> (i < 3) }
      }
      assert(got == batchTwin)
    } finally q.stop()
  }

  test("domain quota stream: admitted counts survive a checkpoint restart") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("quota-restart").toString
    val ck = s"$base/ck"; val out = s"$base/out"
    // file sink, not memory: the memory sink refuses checkpoint recovery
    def run(src: MemoryStream[EventStream.DocArrival]) = {
      val q = EventStream.domainQuotaStream(spark, src.toDS(), quota = 3)
        .writeStream.option("checkpointLocation", ck)
        .outputMode("append").format("parquet").option("path", out).start()
      try q.processAllAvailable()
      finally q.stop()
    }
    val src = MemoryStream[EventStream.DocArrival]
    src.addData(
      EventStream.DocArrival(1, "a"), EventStream.DocArrival(2, "a"))
    run(src)
    // more arrivals land while the query is down; the restarted query
    // must resume source a's count at 2, not 0 — admitting only one more
    src.addData(
      EventStream.DocArrival(3, "a"), EventStream.DocArrival(4, "a"),
      EventStream.DocArrival(5, "a"))
    run(src)
    val got = spark.read.parquet(out).as[EventStream.QuotaVerdict]
      .collect().map(v => v.doc_id -> v.admitted).toMap
    assert(got == Map(1L -> true, 2L -> true, 3L -> true, 4L -> false, 5L -> false),
      s"restart must carry the admitted count across the checkpoint: $got")
  }

  test("ingestGuard: streamed verdicts byte-identical to batch, index maintained across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.queries.LlmOps
    implicit val sqlCtx = spark.sqlContext
    // corpus/arrival split exactly as d08 tags it, so the verdict mix is
    // known-nontrivial (exact dups, near dups, and admits all occur)
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    val isBatch = substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1")
    val corpus = docs.filter(!isBatch)
    val arriving = docs.filter(isBatch).as[(Long, String)].collect().sortBy(_._1).toSeq
    val (b1, b2base) = arriving.splitAt(arriving.size / 2)
    val base = java.nio.file.Files.createTempDirectory("ingest-guard").toString
    val idx = s"$base/idx"; val out = s"$base/verdicts"; val ck = s"$base/ck"
    val (h0, bd0) = LlmOps.dedupIndexOf(corpus)
    LlmOps.saveDedupIndex(h0, bd0, idx)

    def asTuples(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "dup_exact", "dup_near", "keep").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq

    // batch twins, computed EAGERLY before the stream mutates the index:
    // batch 1 against the pristine artifact; batch 2 (plus an exact
    // replay of an admitted batch-1 doc under a fresh id) against
    // pristine + batch-1's admitted rows — exactly what ingestGuard's
    // maintenance must have appended by then
    val (hash0, bands0) = LlmOps.loadDedupIndex(spark, idx)
    val want1 = asTuples(LlmOps.incrementalDedupAgainst(b1.toDF("doc_id", "text"), hash0, bands0))
    val admitted1 = b1.filter(d => want1.find(_._1 == d._1).exists(_._4))
    assert(admitted1.nonEmpty && admitted1.size < b1.size,
      "split must produce both admitted and rejected docs for the test to bite")
    val replayId = arriving.map(_._1).max + 1
    val b2 = b2base :+ (replayId -> admitted1.head._2)
    val (ha, ba) = LlmOps.dedupIndexOf(admitted1.toDF("doc_id", "text"))
    val want2 = asTuples(LlmOps.incrementalDedupAgainst(
      b2.toDF("doc_id", "text"), hash0.union(ha), bands0.union(ba)))

    val src = MemoryStream[(Long, String)]
    val q = EventStream.ingestGuard(src.toDF().toDF("doc_id", "text"), idx, out, ck)
    try {
      src.addData(b1: _*); q.processAllAvailable()
      src.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    val verdicts = spark.read.parquet(out)
    assert(asTuples(verdicts.filter(col("batch_id") === 0)) === want1,
      "micro-batch 1 must match the batch operator against the pristine index")
    assert(asTuples(verdicts.filter(col("batch_id") === 1)) === want2,
      "micro-batch 2 must see batch 1's admitted rows — the index append worked")
    // the replayed text was admitted in batch 1, so its copy is an exact dup now
    assert(want2.find(_._1 == replayId).exists(_._2), "replay doc should be dup_exact")
    // and the artifact on disk grew by both batches' admitted rows (each
    // append distincts its own batch's texts), manifest re-committed to
    // match (loadDedupIndex re-validates it or this line throws)
    val admitted2Ids = want2.filter(_._4).map(_._1).toSet
    val d1 = admitted1.map(_._2).distinct.size
    val d2 = b2.filter(d => admitted2Ids(d._1)).map(_._2).distinct.size
    val (hEnd, bEnd) = LlmOps.loadDedupIndex(spark, idx)
    assert(hEnd.count() == h0.count() + d1 + d2)
    // each batch wrote exactly the index parts dedupIndexOf gives its
    // admitted documents: both tables equal, as multisets, the base index
    // plus every batch's parts
    val (hb, bb) = LlmOps.dedupIndexOf(b2.filter(d => admitted2Ids(d._1)).toDF("doc_id", "text"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(hEnd) === rows(h0.union(ha).union(hb)), "hash table differs from base + batch parts")
    assert(rows(bEnd) === rows(bd0.union(ba).union(bb)), "bands table differs from base + batch parts")
  }

  test("crawlPipeline: three gates, one verdict table; only fully-admitted docs extend the index") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.queries.LlmOps
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    val firstChar = substring(md5(col("doc_id").cast("string")), 1, 1)
    val corpus = docs.filter(firstChar.isin("0", "1", "2", "3"))
    val train = docs.filter(firstChar.isin("4", "5", "6", "7"))
    val fresh = docs
      .filter(!firstChar.isin("0", "1", "2", "3", "4", "5", "6", "7"))
      .as[(Long, String)].collect().sortBy(_._1).take(8).toSeq
    val base = java.nio.file.Files.createTempDirectory("crawl-pipe").toString
    val idx = s"$base/idx"; val out = s"$base/verdicts"; val ck = s"$base/ck"
    val (h0, bd0) = LlmOps.dedupIndexOf(corpus)
    LlmOps.saveDedupIndex(h0, bd0, idx)
    val grams = LlmOps.gramSetOf(train).localCheckpoint(true)
    val lmDir = s"$base/lm"
    LlmOps.saveBigramLm(
      LlmOps.bigramLmCountsOf(train.select(col("doc_id"), LlmOps.tokensCol(col("text")).as("t"))),
      lmDir)
    val counts = LlmOps.loadBigramLm(spark, lmDir)
    // generous quality bar: only UNSCORABLE docs fail the third gate here
    // (threshold behavior itself is t25's domain)
    val nllMax = 1e9

    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val dupDoc = (maxId + 1, corpus.select("text").head().getString(0)) // gate 1 reject
    val contamDoc = (maxId + 2, train.select("text").head().getString(0)) // gate 2 reject
    val oovDoc = (maxId + 3, "zzzzz qqqqq wwwww") // gate 3 reject (no in-vocab token)
    val b1 = fresh ++ Seq(dupDoc, contamDoc, oovDoc)

    // the composed batch twin, per the documented semantics — computed
    // EAGERLY against the given index tables before the stream mutates
    def want(batch: Seq[(Long, String)], hash: org.apache.spark.sql.DataFrame,
        bands: org.apache.spark.sql.DataFrame) = {
      val bdf = batch.toDF("doc_id", "text")
      val dv = LlmOps.incrementalDedupAgainst(bdf, hash, bands)
      val cv = LlmOps.contaminationAgainst(bdf, grams).select("doc_id", "contaminated")
      val nv = LlmOps
        .bigramNllFrom(bdf.select(col("doc_id"), LlmOps.tokensCol(col("text")).as("t")), counts)
        .select("doc_id", "nll")
      dv.join(cv, Seq("doc_id"), "left")
        .join(nv, Seq("doc_id"), "left")
        .select(
          col("doc_id"), col("dup_exact"), col("keep"),
          coalesce(col("contaminated"), lit(false)).as("contaminated"), col("nll"),
          (col("keep") && !coalesce(col("contaminated"), lit(false)) &&
            col("nll").isNotNull && col("nll") <= nllMax).as("admit"))
        .collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3),
          Option(r.get(4)).map(_.asInstanceOf[Double]), r.getBoolean(5)))
        .sortBy(_._1).toSeq
    }
    val (hash0, bands0) = LlmOps.loadDedupIndex(spark, idx)
    val want1 = want(b1, hash0, bands0)
    val admitted1 = b1.filter(d => want1.find(_._1 == d._1).exists(_._6))
    assert(admitted1.nonEmpty, "some fresh doc must pass all three gates")
    // batch 2: an admitted batch-1 text under a fresh id — the maintained
    // index must now flag it as an exact dup (the feedback loop)
    val replay = (maxId + 4, admitted1.head._2)
    val (ha, ba) = LlmOps.dedupIndexOf(admitted1.toDF("doc_id", "text"))
    val want2 = want(Seq(replay), hash0.union(ha), bands0.union(ba))

    val src = MemoryStream[(Long, String)]
    val q = EventStream.crawlPipeline(
      src.toDF().toDF("doc_id", "text"), idx, grams, counts, nllMax, out, ck)
    try {
      src.addData(b1: _*); q.processAllAvailable()
      src.addData(replay); q.processAllAvailable()
    } finally q.stop()

    def got(batchId: Int) = spark.read.parquet(out)
      .filter(col("batch_id") === batchId)
      .select("doc_id", "dup_exact", "keep", "contaminated", "nll", "admit")
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]), r.getBoolean(5)))
      .sortBy(_._1).toSeq
    assert(got(0) === want1, "batch 1 verdicts must equal the composed batch twins")
    assert(got(1) === want2, "batch 2 must see batch 1's admitted rows in the index")
    // each crafted arrival rejected by exactly its own gate
    val byId = got(0).map(t => t._1 -> t).toMap
    assert(byId(dupDoc._1)._2 && !byId(dupDoc._1)._6, "corpus copy: dup_exact, rejected")
    assert(byId(contamDoc._1)._4 && byId(contamDoc._1)._3 && !byId(contamDoc._1)._6,
      "train copy: kept by dedup but contaminated, rejected")
    assert(byId(oovDoc._1)._5.isEmpty && byId(oovDoc._1)._3 && !byId(oovDoc._1)._6,
      "unscorable doc: no NLL, rejected by the quality gate")
    assert(want2.head._2 && !want2.head._6, "replayed admitted text: exact dup now")
    // the index grew by exactly the admitted docs' distinct texts
    val (hEnd, _) = LlmOps.loadDedupIndex(spark, idx)
    assert(hEnd.count() == h0.count() + admitted1.map(_._2).distinct.size)
  }

  test("ingestGuard chaos: a batch killed mid-commit replays to the same verdicts and one logical append") {
    import spark.implicits._
    import graft.queries.LlmOps
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    val isBatch = substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1")
    val corpus = docs.filter(!isBatch)
    val arriving = docs.filter(isBatch).as[(Long, String)].collect().sortBy(_._1).toSeq
    val (b1, b2) = arriving.splitAt(arriving.size / 2)
    val base = java.nio.file.Files.createTempDirectory("ingest-chaos").toString
    val idx = s"$base/idx"; val out = s"$base/verdicts"
    val (h0, bd0) = LlmOps.dedupIndexOf(corpus)
    LlmOps.saveDedupIndex(h0, bd0, idx)
    def asTuples(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "dup_exact", "dup_near", "keep").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq

    // batch 0 commits normally (ingestBatch IS the foreachBatch body)
    LlmOps.ingestBatch(b1.toDF("doc_id", "text"), idx, out, 0L, maintainIndex = true)
    val (h1, _) = LlmOps.loadDedupIndex(spark, idx)
    val h1Count = h1.count()
    // the batch-1 twin, against the post-batch-0 index, BEFORE any chaos
    val (hashPre, bandsPre) = LlmOps.loadDedupIndex(spark, idx)
    val want2 = asTuples(LlmOps.incrementalDedupAgainst(b2.toDF("doc_id", "text"), hashPre, bandsPre))
    assert(want2.exists(_._4) && want2.exists(!_._4), "batch 1 must mix admits and rejects")

    // CHAOS: fabricate the exact state a kill between the batch data
    // write and the manifest commit leaves on the snapshot log — batch-1
    // data directories fully written but referenced by NO committed
    // manifest, plus the crashed commit's own TORN manifest file (garbage
    // bytes whose checksum cannot validate). Without snapshot isolation,
    // batch 1's docs would flag as duplicates OF THEMSELVES on replay.
    val (oh, ob) = LlmOps.dedupIndexOf(b2.toDF("doc_id", "text"))
    ob.write.parquet(s"$idx/data/bands/batch-1")
    oh.write.parquet(s"$idx/data/hash/batch-1")
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val torn = fs.create(new Path(idx, "manifest.v99"), true)
    torn.write("kind=dedup-index\nthis-commit-never-finished\n".getBytes("UTF-8"))
    torn.close()
    // the torn state is INVISIBLE, not merely detected: a plain load
    // serves the last committed snapshot unchanged (the r7 rename
    // protocol threw Mismatch here and needed an enumerate-and-undo pass
    // before the replay was safe)
    val (hChaos, _) = LlmOps.loadDedupIndex(spark, idx)
    assert(hChaos.count() === h1Count,
      "unreferenced batch dirs / torn manifests must not leak into a load")

    // REPLAY batch 1: verdicts against the committed snapshot —
    // byte-identical to the pre-chaos twin, nothing self-flagged
    LlmOps.ingestBatch(b2.toDF("doc_id", "text"), idx, out, 1L, maintainIndex = true)
    assert(asTuples(spark.read.parquet(out).filter(col("batch_id") === 1)) === want2,
      "recovered batch must score against the committed (pre-batch) snapshot")
    val (h2, _) = LlmOps.loadDedupIndex(spark, idx) // consistent again
    val admitted2 = b2.filter(d => want2.find(_._1 == d._1).exists(_._4)).map(_._2).distinct.size
    assert(h2.count() === h1Count + admitted2, "exactly one logical append")

    // REPLAY after full commit (crash after manifest, before the stream
    // checkpoint advanced): must be a no-op — same verdicts, no growth
    LlmOps.ingestBatch(b2.toDF("doc_id", "text"), idx, out, 1L, maintainIndex = true)
    assert(asTuples(spark.read.parquet(out).filter(col("batch_id") === 1)) === want2,
      "a committed batch's replay must not recompute against the appended index")
    val (h3, _) = LlmOps.loadDedupIndex(spark, idx)
    assert(h3.count() === h1Count + admitted2, "no double append on committed replay")

    // COMPACTION between micro-batches must carry the last_batch marker
    // forward — a compaction that dropped it would turn the next
    // committed-replay into a recompute against the appended index (the
    // self-flagging hazard all over again)
    LlmOps.compactDedupIndex(spark, idx)
    val (hc, _) = LlmOps.loadDedupIndex(spark, idx)
    val compacted = hc.count() // distinct() may retire duplicate hash rows
    LlmOps.ingestBatch(b2.toDF("doc_id", "text"), idx, out, 1L, maintainIndex = true)
    assert(asTuples(spark.read.parquet(out).filter(col("batch_id") === 1)) === want2,
      "compaction must not erase the stream's replay-skip evidence")
    val (h4, _) = LlmOps.loadDedupIndex(spark, idx)
    assert(h4.count() === compacted, "no append on committed replay after compaction")
  }

  test("ivfIngest: streamed appends land exactly-once; search equals the in-plan merged search") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.AnnIvf
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, TestSpark.sf0001).select("vec_id", "embedding")
    val half = substring(md5(col("vec_id").cast("string")), 1, 1) < "8"
    val base = java.nio.file.Files.createTempDirectory("ivf-ingest").toString
    val idx = s"$base/ivf"
    AnnIvf.buildIndex(spark, emb.filter(half), idx, nlist = 16)
    val arriving = emb.filter(!half)
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    val (b1, b2) = arriving.splitAt(arriving.size / 2)
    val src = MemoryStream[(Long, Seq[Float])]
    val q = EventStream.ivfIngest(src.toDF().toDF("vec_id", "embedding"), idx, s"$base/ck")
    try {
      src.addData(b1: _*); q.processAllAvailable()
      // mid-stream search already sees batch 0 (commit = visibility)
      val qs = emb.filter(col("vec_id") < 3)
      assert(AnnIvf.searchIndex(spark, idx, qs, k = 3, nprobe = 4).count() > 0)
      src.addData(b2: _*); q.processAllAvailable()
      q.processAllAvailable() // idle drain: no spurious re-append
    } finally q.stop()
    // the index now holds every vector exactly once (validateIndex
    // recounts physical rows against the manifest)
    AnnIvf.validateIndex(spark, idx)
    val queries = emb.filter(col("vec_id") < 10)
    val fromIndex = AnnIvf.searchIndex(spark, idx, queries, k = 5, nprobe = 4)
      .collect().map(_.toSeq).toSeq
    val cs = AnnIvf.indexCentroids(spark, idx)
    val inPlan = AnnIvf.topKWith(spark, emb, queries, cs, k = 5, nprobe = 4)
      .collect().map(_.toSeq).toSeq
    assert(fromIndex == inPlan, "streamed index diverged from the in-plan merged search")
    // a committed replay is a no-op (direct protocol call, same batch id)
    val before = spark.read.parquet(s"$idx/data/vectors/batch-1").count()
    AnnIvf.appendIndexBatch(spark, b2.toDF("vec_id", "embedding"), idx, 1L)
    assert(spark.read.parquet(s"$idx/data/vectors/batch-1").count() == before)
    // a fresh incarnation replaying ids is refused (the high-water mark
    // fires first — it covers even ids whose tags compaction removed)
    val ex = intercept[IllegalArgumentException] {
      AnnIvf.appendIndexBatch(spark, b1.toDF("vec_id", "embedding"), idx, 0L)
    }
    assert(ex.getMessage.contains("high-water mark"), ex.getMessage)
    // a REBUILD between micro-batches carries the replay-skip marker —
    // a committed batch's replay after the rebuild is still a no-op
    // (the compactDedupIndex carry-forward lesson, IVF edition)
    AnnIvf.rebuildIndex(spark, idx, nlist = 16)
    def vectorDirs() = new java.io.File(s"$idx/data/vectors").listFiles().map(_.getName).toSet
    val rebuilt = vectorDirs()
    assert(rebuilt.size == 1, s"rebuild left stale generations: $rebuilt")
    AnnIvf.appendIndexBatch(spark, b2.toDF("vec_id", "embedding"), idx, 1L)
    assert(vectorDirs() == rebuilt,
      "rebuild erased the stream's replay-skip evidence (batch re-appended)")
    Hygiene.release(spark)
  }

  test("ivfIngest: compaction's default retain keeps the superseded generation readable for concurrent readers") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{AnnIvf, SnapshotLog}
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, TestSpark.sf0001).select("vec_id", "embedding")
    val half = substring(md5(col("vec_id").cast("string")), 1, 1) < "8"
    val base = java.nio.file.Files.createTempDirectory("ivf-retain").toString
    val idx = s"$base/ivf"
    AnnIvf.buildIndex(spark, emb.filter(half), idx, nlist = 8)
    val arriving = emb.filter(!half)
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    val slices = arriving.grouped((arriving.size + 2) / 3).toSeq // batches 0,1,2
    val src = MemoryStream[(Long, Seq[Float])]
    // compactEvery = 2, retain left at the default: the advertised
    // "searches pick up each batch as soon as its manifest commits"
    // contract means a reader may hold the pre-compaction snapshot when
    // the compaction commit lands — the auto retain (2 under compaction)
    // must keep that snapshot's directories alive through the flip
    val q = EventStream.ivfIngest(src.toDF().toDF("vec_id", "embedding"), idx,
      s"$base/ck", compactEvery = 2)
    try {
      src.addData(slices(0): _*); q.processAllAvailable()
      src.addData(slices(1): _*); q.processAllAvailable()
      // the concurrent reader: resolves the pre-compaction snapshot NOW
      val preSnap = SnapshotLog.current(spark, idx, "ivf-index")
      val preTags = preSnap.tables("vectors")
      assert(preTags.size > 1, s"expected multiple generations pre-compaction: $preTags")
      src.addData(slices(2): _*); q.processAllAvailable() // batch 2 → compaction
      val postSnap = SnapshotLog.current(spark, idx, "ivf-index")
      assert(postSnap.tables("vectors").exists(_.startsWith("compact-")),
        s"compaction did not commit: ${postSnap.tables("vectors")}")
      // the superseded generation is still on disk AND still readable —
      // the in-flight pre-compaction read survives the commit
      preTags.foreach { tag =>
        val dir = SnapshotLog.dataDir(idx, "vectors", tag)
        assert(new java.io.File(dir).exists(), s"retain default GC'd $dir at the flip")
        assert(spark.read.parquet(dir).count() > 0, s"$dir unreadable post-compaction")
      }
    } finally q.stop()
    // contrast: an explicit retain=1 compaction reclaims the superseded
    // dirs immediately (the no-concurrent-readers deployment's choice)
    AnnIvf.rebuildIndex(spark, idx, nlist = 8) // collapse to one generation first
    AnnIvf.appendIndexBatch(spark, slices(0).toDF("vec_id", "embedding"), idx, 3L)
    val tagsBefore = SnapshotLog.current(spark, idx, "ivf-index").tables("vectors")
    AnnIvf.compactIndex(spark, idx, retain = 1)
    tagsBefore.foreach { tag =>
      assert(!new java.io.File(SnapshotLog.dataDir(idx, "vectors", tag)).exists(),
        s"explicit retain=1 left superseded dir $tag")
    }
    AnnIvf.validateIndex(spark, idx)
    Hygiene.release(spark)
  }

  test("ivfIngest: malformed vectors park in the reject ledger, never the store") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.AnnIvf
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, TestSpark.sf0001).select("vec_id", "embedding")
    val base = java.nio.file.Files.createTempDirectory("ivf-reject").toString
    val idx = s"$base/ivf"
    AnnIvf.buildIndex(spark, emb, idx, nlist = 8)
    val baseRows = spark.read.parquet(s"$idx/data/vectors/base-v1").count()
    val valid = emb.as[(Long, Seq[Float])].collect().sortBy(_._1).take(10)
      .map { case (v, e) => (v + 100000L, Option(e)) }.toSeq
    val malformed = Seq(
      (900001L, None: Option[Seq[Float]]), // null embedding
      (900002L, Some(Seq(1f, 2f))), // wrong dim (index is 64)
      (900003L, Some(Seq.tabulate(64)(i => if (i == 0) Float.NaN else 0.1f))) // non-finite
    )
    val src = MemoryStream[(Long, Option[Seq[Float]])]
    val q = EventStream.ivfIngest(
      src.toDF().toDF("vec_id", "embedding"), idx, s"$base/ck", rejectDir = s"$base/rejects")
    try {
      // batch 0: valid rows mixed with all three malformed shapes
      src.addData(valid ++ malformed: _*); q.processAllAvailable()
      // batch 1: ALL malformed — must advance the replay marker but
      // commit NO vector directory (a fileless tag would break every
      // later schema-inferring read of the store)
      src.addData((900004L, None: Option[Seq[Float]])); q.processAllAvailable()
      // batch 2: valid again — the store keeps ingesting past it
      src.addData((910000L, Option(valid.head._2.get))); q.processAllAvailable()
    } finally q.stop()
    // the store holds base + the 11 valid arrivals, nothing malformed
    AnnIvf.validateIndex(spark, idx)
    val snap = graft.operators.SnapshotLog.current(spark, idx, "ivf-index")
    assert(snap.props("rows").toLong == baseRows + valid.size + 1)
    assert(snap.props("last_batch") == "2", snap.props.toString)
    val tags = snap.tables("vectors").toSet
    assert(tags == Set("base-v1", "batch-0", "batch-2"), s"unexpected tags: $tags")
    // the ledger carries exactly the malformed rows, with their reasons
    val parked = spark.read.parquet(s"$base/rejects")
    assert(parked.count() == 4)
    val reasons = parked.select("vec_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(reasons(900001L) == "null_embedding")
    assert(reasons(900002L) == "wrong_dim")
    assert(reasons(900003L) == "non_finite")
    assert(reasons(900004L) == "null_embedding")
    // the parked vectors are absent from search results
    val hits = AnnIvf.searchIndex(spark, idx, emb.filter(col("vec_id") < 5), k = 5, nprobe = 8)
    assert(hits.filter(col("vid").isin(900001L, 900002L, 900003L, 900004L)).count() == 0)
    Hygiene.release(spark)
  }

  test("ivfIngest: a poisoned feed stays exact through compactions and a rebuild between batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{AnnIvf, SnapshotLog}
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, TestSpark.sf0001).select("vec_id", "embedding")
    val half = substring(md5(col("vec_id").cast("string")), 1, 1) < "8"
    val base = java.nio.file.Files.createTempDirectory("ivf-poison").toString
    val idx = s"$base/ivf"; val ledger = s"$base/rejects"
    AnnIvf.buildIndex(spark, emb.filter(half), idx, nlist = 8)
    val baseRows = emb.filter(half).count()
    // every vec_id % 23 < 4 arrives malformed, one reason per residue; 23
    // is coprime to the batch count, so every batch carries some of each
    val reasonOf = Map(0L -> "null_embedding", 1L -> "wrong_dim",
      2L -> "null_element", 3L -> "non_finite")
    def poison(v: Long, e: Seq[Float]): (Long, Option[Seq[Option[Float]]]) = {
      val boxed = e.map(Option(_))
      v -> (v % 23 match {
        case 0 => None
        case 1 => Some(boxed.take(3))
        case 2 => Some(None +: boxed.tail)
        case 3 => Some(Some(Float.NaN) +: boxed.tail)
        case _ => Some(boxed)
      })
    }
    val nBatches = 6
    val slices = emb.filter(!half).as[(Long, Seq[Float])].collect()
      .groupBy(_._1 % nBatches).toSeq.sortBy(_._1).map(_._2.toSeq.sortBy(_._1))
    assert(slices.size == nBatches && slices.forall(_.exists(_._1 % 23 < 4)))
    def snapProps = SnapshotLog.current(spark, idx, "ivf-index").props
    def ledgerDirs = Option(new java.io.File(ledger).listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getName).toSet
    val src = MemoryStream[(Long, Option[Seq[Option[Float]]])]
    // compactEvery = 2 compacts after batches 2 and 4; the rebuild lands
    // between batches 3 and 4, so batch 4 resolves a new quantizer and
    // its compaction follows the rebuild
    val q = EventStream.ivfIngest(src.toDF().toDF("vec_id", "embedding"), idx,
      s"$base/ck", compactEvery = 2, rejectDir = ledger)
    try {
      slices.zipWithIndex.foreach { case (slice, i) =>
        src.addData(slice.map { case (v, e) => poison(v, e) }: _*); q.processAllAvailable()
        if (i == 3) {
          val before = ledgerDirs
          AnnIvf.rebuildIndex(spark, idx, nlist = 8)
          assert(ledgerDirs == before, "a rebuild touched the reject ledger")
        }
        // the marker and the carried row total survive every maintenance
        // step, and the ledger holds one directory per batch so far
        val valid = slices.take(i + 1).flatten.count(_._1 % 23 >= 4)
        assert(snapProps.get("last_batch").contains(i.toString), s"batch $i: $snapProps")
        assert(snapProps.get("rows").contains((baseRows + valid).toString), s"batch $i: $snapProps")
        assert(ledgerDirs == (0 to i).map(b => s"batch_id=$b").toSet, s"batch $i: $ledgerDirs")
      }
    } finally q.stop()
    assert(SnapshotLog.current(spark, idx, "ivf-index").tables("vectors").exists(_.startsWith("compact-")))
    AnnIvf.validateIndex(spark, idx) // the carried total reconciles with a physical recount
    val expected = slices.flatten.map(_._1 % 23).filter(_ < 4)
      .groupBy(identity).map { case (m, ms) => reasonOf(m) -> ms.size.toLong }
    val got = AnnIvf.rejectSummary(spark, ledger).groupBy("reason").agg(sum("rejects"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(expected.size == 4 && got == expected, s"ledger $got != expected $expected")
    Hygiene.release(spark)
  }

  test("vector reject verdicts are quantizer-independent — why the store has no drain loop") {
    import spark.implicits._
    import graft.operators.AnnIvf
    val emb = Tables.embeddings(spark, TestSpark.sf0001).select("vec_id", "embedding")
    val base = java.nio.file.Files.createTempDirectory("ivf-nodrain").toString
    val idx = s"$base/ivf"
    AnnIvf.buildIndex(spark, emb, idx, nlist = 8)
    val mixed = Seq(
      (1L, Option(Seq.fill(64)(0.1f))),
      (2L, None: Option[Seq[Float]]),
      (3L, Some(Seq(1f))),
      (4L, Some(Seq.tabulate(64)(i => if (i == 63) Float.NegativeInfinity else 0f)))
    ).toDF("vec_id", "embedding")
    def verdicts(): Map[Long, String] = {
      val dim = AnnIvf.indexCentroids(spark, idx).head.length
      mixed.select(col("vec_id"), AnnIvf.vectorRejectReason(dim).as("r"))
        .collect().map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("ok")).toMap
    }
    val before = verdicts()
    assert(before == Map(1L -> "ok", 2L -> "null_embedding", 3L -> "wrong_dim", 4L -> "non_finite"))
    // a quantizer REBUILD — the artifact refresh that re-opens parked
    // docs in the crawl pipeline — cannot flip a single vector verdict:
    // validity consults only the row and the index dimension, which the
    // rebuild preserves. Rejects are terminal; a drain loop would have
    // nothing to re-score.
    AnnIvf.rebuildIndex(spark, idx, nlist = 4)
    assert(verdicts() == before, "a rebuild changed a validity verdict")
    // and without a ledger, a malformed batch fails LOUDLY instead of
    // silently dropping rows
    val ex = intercept[IllegalArgumentException] {
      AnnIvf.appendIndexBatch(spark, mixed, idx, 10L)
    }
    assert(ex.getMessage.contains("malformed vector"), ex.getMessage)
    Hygiene.release(spark)
  }

  test("gram refresh: an in-flight crawlPipeline picks up the rebuilt artifact at the next batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.queries.LlmOps
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    val firstChar = substring(md5(col("doc_id").cast("string")), 1, 1)
    val corpus = docs.filter(firstChar.isin("0", "1")) // gate-1 index, static here
    val train1 = docs.filter(firstChar.isin("4", "5", "6", "7"))
    // the arriving doc: text NOT in corpus (no dup) and NOT in train1 (no
    // contamination against the v1 gram set)
    val freshDoc = docs.filter(firstChar === "a").as[(Long, String)].head()
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val base = java.nio.file.Files.createTempDirectory("gram-refresh").toString
    val idx = s"$base/idx"; val out = s"$base/verdicts"; val ck = s"$base/ck"
    val gramsPath = s"$base/grams"
    val (h0, bd0) = LlmOps.dedupIndexOf(corpus)
    LlmOps.saveDedupIndex(h0, bd0, idx)
    // LM over train1 + the fresh doc so both arrivals are scoreable
    val counts = LlmOps
      .bigramLmCountsOf(train1.unionByName(docs.filter(firstChar === "a"))
        .select(col("doc_id"), LlmOps.tokensCol(col("text")).as("t")))
      .localCheckpoint(true)
    // v1 artifact from train1; round-trip sanity on the cold-open path
    LlmOps.refreshGrams(train1, gramsPath)
    assert(LlmOps.loadGramSet(spark, gramsPath).count() > 0)

    val src = MemoryStream[(Long, String)]
    // maintainIndex=false isolates the contamination flip (with it on,
    // the second arrival would also be an exact dup of the first)
    val q = EventStream.crawlPipeline(
      src.toDF().toDF("doc_id", "text"), idx, gramsPath, counts, 1e9, out, ck,
      false, LlmOps.UnscorablePolicy.Reject)
    try {
      // batch 0: the doc clears all three gates against the v1 gram set
      src.addData((maxId + 1, freshDoc._2)); q.processAllAvailable()
      // the doc is ADMITTED into the training corpus; rebuild the gram
      // artifact from the grown corpus — the refresh cadence — while the
      // stream is live
      LlmOps.refreshGrams(train1.unionByName(Seq((maxId + 1, freshDoc._2)).toDF("doc_id", "text")), gramsPath)
      // batch 1: the SAME text under a new id must now flag as
      // contamination — the stream resolved the new snapshot, no restart
      src.addData((maxId + 2, freshDoc._2)); q.processAllAvailable()
    } finally q.stop()
    val v = spark.read.parquet(out)
      .select("doc_id", "contaminated", "admit", "verdict").collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2), r.getString(3))).toMap
    assert(v(maxId + 1) == ((false, true, "admit")),
      s"pre-refresh arrival should clear every gate: ${v(maxId + 1)}")
    assert(v(maxId + 2) == ((true, false, "reject")),
      s"post-refresh copy must be contamination-rejected: ${v(maxId + 2)}")
    // the superseded v1 snapshot is retired on the refresh cadence
    // (retain=2 default keeps it for concurrent readers' grace; a third
    // refresh would evict it — SnapshotLogSpec territory)
    assert(graft.operators.SnapshotLog.latestVersion(spark, gramsPath) == 2)
    Hygiene.release(spark)
  }

  test("unscorable docs: reject vs quarantine routing on the same batch; neither admits") {
    import spark.implicits._
    import graft.queries.LlmOps
    import graft.queries.LlmOps.UnscorablePolicy
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    val firstChar = substring(md5(col("doc_id").cast("string")), 1, 1)
    val corpus = docs.filter(firstChar.isin("0", "1", "2", "3"))
    val train = docs.filter(firstChar.isin("4", "5", "6", "7"))
    val fresh = docs
      .filter(!firstChar.isin("0", "1", "2", "3", "4", "5", "6", "7"))
      .as[(Long, String)].collect().sortBy(_._1).take(4).toSeq
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val dupDoc = (maxId + 1, corpus.select("text").head().getString(0))
    val oovDoc = (maxId + 2, "zzzzz qqqqq wwwww") // no in-vocab token: unscorable
    val batch = fresh ++ Seq(dupDoc, oovDoc)
    val grams = LlmOps.gramSetOf(train).localCheckpoint(true)
    val counts = LlmOps
      .bigramLmCountsOf(train.select(col("doc_id"), LlmOps.tokensCol(col("text")).as("t")))
      .localCheckpoint(true)
    def run(policy: LlmOps.UnscorablePolicy, tag: String) = {
      val base = java.nio.file.Files.createTempDirectory(s"quarantine-$tag").toString
      val idx = s"$base/idx"; val out = s"$base/verdicts"
      val (h0, bd0) = LlmOps.dedupIndexOf(corpus)
      LlmOps.saveDedupIndex(h0, bd0, idx)
      LlmOps.pipelineBatch(batch.toDF("doc_id", "text"), idx, grams, counts,
        1e9, out, 0L, maintainIndex = true, unscorable = policy)
      val v = spark.read.parquet(out)
        .select("doc_id", "admit", "verdict").collect()
        .map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
      val (h1, _) = LlmOps.loadDedupIndex(spark, idx)
      (v, h1.count())
    }
    val (rej, idxRowsRej) = run(UnscorablePolicy.Reject, "rej")
    val (qua, idxRowsQua) = run(UnscorablePolicy.Quarantine, "qua")
    // the routing column is the ONLY divergence between the policies
    assert(rej.view.mapValues(_._1).toMap == qua.view.mapValues(_._1).toMap,
      "admit bits must not depend on the routing policy")
    assert(idxRowsRej == idxRowsQua, "a quarantined doc must not extend the index")
    // the unscorable doc: reject under Reject, quarantine under Quarantine
    assert(rej(oovDoc._1) == ((false, "reject")), rej(oovDoc._1).toString)
    assert(qua(oovDoc._1) == ((false, "quarantine")), qua(oovDoc._1).toString)
    // a dup is a reject under EITHER policy (its failure is not the score)
    assert(rej(dupDoc._1)._2 == "reject" && qua(dupDoc._1)._2 == "reject")
    // admitted docs route as admit under both
    val admitted = rej.filter(_._2._1).keySet
    assert(admitted.nonEmpty)
    assert(admitted.forall(id => rej(id)._2 == "admit" && qua(id)._2 == "admit"))
    Hygiene.release(spark)
  }

  test("quarantine drain: a doc parked for OOV-NLL under LM v1 is admitted after an LM v2 refresh") {
    import spark.implicits._
    import graft.queries.LlmOps
    import graft.queries.LlmOps.UnscorablePolicy
    val corpus = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text").limit(8)
    val maxId = corpus.agg(max("doc_id")).head().getLong(0)
    // two parked candidates: one whose vocab LM v2 will cover, one it won't
    val oovDoc = (maxId + 1, "zzzzz qqqqq zzzzz qqqqq")
    val stillOov = (maxId + 2, "jjjjj kkkkk jjjjj")
    // 8 corpus tokens + 2 fresh: 1 of its 3 8-grams hits the train set
    // (33% < the 70% contamination rule) and every token is in-vocab
    val freshDoc = corpus.as[(Long, String)].head() match {
      case (_, t) => (maxId + 3, t.split(" ").take(8).mkString(" ") + " extra tail")
    }
    val batch = Seq(oovDoc, stillOov, freshDoc).toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("drain").toString
    val idx = s"$base/idx"; val out = s"$base/verdicts"; val drainOut = s"$base/drain"
    val (h0, bd0) = LlmOps.dedupIndexOf(corpus)
    LlmOps.saveDedupIndex(h0, bd0, idx)
    val grams = LlmOps.gramSetOf(corpus).localCheckpoint(true)
    def lmOf(df: org.apache.spark.sql.DataFrame) = LlmOps
      .bigramLmCountsOf(df.select(col("doc_id"), LlmOps.tokensCol(col("text")).as("t")))
      .localCheckpoint(true)
    val lmV1 = lmOf(corpus)
    // batch 0 under LM v1: both OOV docs route to quarantine
    LlmOps.pipelineBatch(batch, idx, grams, lmV1, 1e9, out, 0L,
      maintainIndex = true, unscorable = UnscorablePolicy.Quarantine)
    val routes0 = spark.read.parquet(out).select("doc_id", "verdict")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(routes0(oovDoc._1) == "quarantine" && routes0(stillOov._1) == "quarantine")
    assert(routes0(freshDoc._1) == "admit")
    val hashAfterBatch = LlmOps.loadDedupIndex(spark, idx)._1.count()
    // LM v2: re-fit over the grown corpus — now covers oovDoc's vocab
    // (the refresh that changes the parked doc's verdict) but not stillOov's
    val lmV2 = lmOf(corpus.unionByName(Seq(oovDoc).toDF("doc_id", "text")))
    LlmOps.drainQuarantine(batch, idx, grams, lmV2, 1e9, out, drainOut, 1L)
    val drainRoutes = spark.read.parquet(drainOut).select("doc_id", "verdict")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // only the two PARKED docs were re-scored (the admitted one is not eligible)
    assert(drainRoutes.keySet == Set(oovDoc._1, stillOov._1), drainRoutes.toString)
    assert(drainRoutes(oovDoc._1) == "admit", "LM v2 covers its vocab — must clear")
    assert(drainRoutes(stillOov._1) == "quarantine", "still unscorable — stays parked")
    // the index extended by exactly the one admitted doc
    val hashAfterDrain = LlmOps.loadDedupIndex(spark, idx)._1.count()
    assert(hashAfterDrain == hashAfterBatch + 1, s"$hashAfterBatch -> $hashAfterDrain")
    // BOTH routes are durable: quarantine in the stream's ledger, admit in
    // the drain's — the audit trail the parked doc's lifecycle needs
    assert(spark.read.parquet(out).filter(col("doc_id") === oovDoc._1)
      .head().getAs[String]("verdict") == "quarantine")
    // a replayed drain (same id) is a no-op
    LlmOps.drainQuarantine(batch, idx, grams, lmV2, 1e9, out, drainOut, 1L)
    assert(LlmOps.loadDedupIndex(spark, idx)._1.count() == hashAfterDrain,
      "a replayed drain double-extended the index")
    // a lower drain id is refused (monotonic per index)
    val ex = intercept[IllegalArgumentException] {
      LlmOps.drainQuarantine(batch, idx, grams, lmV2, 1e9, out, drainOut, 0L)
    }
    assert(ex.getMessage.contains("high-water mark"), ex.getMessage)
    // the stream survives the drain: its next batch commits normally and
    // CARRIES the drain marker, so the drain's replay skip stays durable
    val nextArrival = Seq((maxId + 4, "another brand new arrival document text")).toDF("doc_id", "text")
    LlmOps.pipelineBatch(nextArrival, idx, grams, lmV2, 1e9, out, 1L,
      maintainIndex = true, unscorable = UnscorablePolicy.Quarantine)
    LlmOps.drainQuarantine(batch, idx, grams, lmV2, 1e9, out, drainOut, 1L) // still a no-op
    val finalHash = LlmOps.loadDedupIndex(spark, idx)._1.count()
    // a drain-2 after ANOTHER refresh can still re-score the re-parked doc
    val lmV3 = lmOf(corpus.unionByName(Seq(oovDoc, stillOov).toDF("doc_id", "text")))
    LlmOps.drainQuarantine(batch, idx, grams, lmV3, 1e9, out, drainOut, 2L)
    val drain2 = spark.read.parquet(drainOut).filter(col("drain_id") === 2)
      .select("doc_id", "verdict").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(drain2 == Map(stillOov._1 -> "admit"),
      s"drain 2 must re-score ONLY the still-parked doc: $drain2")
    val hashAfterDrain2 = LlmOps.loadDedupIndex(spark, idx)._1.count()
    assert(hashAfterDrain2 == finalHash + 1)
    // CHAOS: a drain that crashed BETWEEN its ledger write and the index
    // commit left its own drain_id partition on disk with an admit row.
    // The replay must re-score those docs — its own half-finished verdicts
    // are not terminal — and finish the index extension.
    val lateOov = (maxId + 5, "wwwww vvvvv wwwww")
    LlmOps.pipelineBatch(Seq(lateOov).toDF("doc_id", "text"), idx, grams, lmV3, 1e9,
      out, 2L, maintainIndex = true, unscorable = UnscorablePolicy.Quarantine)
    val lmV4 = lmOf(corpus.unionByName(Seq(oovDoc, stillOov, lateOov).toDF("doc_id", "text")))
    val crashed = Seq((lateOov._1, false, false, true, 0L, 0L, false,
      Some(3L), Some(0.1), true, "admit"))
      .toDF("doc_id", "dup_exact", "dup_near", "keep", "n_grams", "n_hit",
        "contaminated", "n_tokens", "nll", "admit", "verdict")
    crashed.write.mode("overwrite").parquet(s"$drainOut/drain_id=3")
    LlmOps.drainQuarantine(Seq(lateOov).toDF("doc_id", "text"), idx, grams, lmV4,
      1e9, out, drainOut, 3L)
    assert(LlmOps.loadDedupIndex(spark, idx)._1.count() == hashAfterDrain2 + 1,
      "the replayed drain treated its own crashed partition as terminal")
    // CHAOS 2 (the r10 ADVICE finding): an EARLIER drain (id 4) crashed
    // between its verdict write and its index commit, and is never
    // replayed under id 4 — the operator's next refresh runs as drain 5,
    // which the monotonic check permits since the crashed drain never
    // advanced the high-water. Drain 5 must NOT read the crashed 'admit'
    // as terminal: that admit never reached the index, and trusting it
    // would permanently exclude the doc while the audit trail claims it
    // was admitted. Terminal verdicts are COMMITTED drains' only
    // (drain_id <= last_drain), not merely other-id partitions.
    val ghostOov = (maxId + 6, "ggggg hhhhh ggggg hhhhh")
    LlmOps.pipelineBatch(Seq(ghostOov).toDF("doc_id", "text"), idx, grams, lmV4, 1e9,
      out, 3L, maintainIndex = true, unscorable = UnscorablePolicy.Quarantine)
    assert(spark.read.parquet(out).filter(col("doc_id") === ghostOov._1)
      .head().getAs[String]("verdict") == "quarantine")
    val hashBeforeGhost = LlmOps.loadDedupIndex(spark, idx)._1.count()
    val crashedEarlier = Seq((ghostOov._1, false, false, true, 0L, 0L, false,
      Some(4L), Some(0.1), true, "admit"))
      .toDF("doc_id", "dup_exact", "dup_near", "keep", "n_grams", "n_hit",
        "contaminated", "n_tokens", "nll", "admit", "verdict")
    crashedEarlier.write.mode("overwrite").parquet(s"$drainOut/drain_id=4")
    val lmV5 = lmOf(corpus.unionByName(
      Seq(oovDoc, stillOov, lateOov, ghostOov).toDF("doc_id", "text")))
    LlmOps.drainQuarantine(Seq(ghostOov).toDF("doc_id", "text"), idx, grams, lmV5,
      1e9, out, drainOut, 5L)
    assert(LlmOps.loadDedupIndex(spark, idx)._1.count() == hashBeforeGhost + 1,
      "drain 5 treated a crashed drain-4 'admit' as terminal — that admit " +
        "never reached the index, the doc must be re-scored")
    val drain5 = spark.read.parquet(drainOut).filter(col("drain_id") === 5)
      .select("doc_id", "verdict").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(drain5 == Map(ghostOov._1 -> "admit"), drain5.toString)
    Hygiene.release(spark)
  }

  test("a fresh stream incarnation replaying batch ids against an existing index is refused") {
    import spark.implicits._
    import graft.queries.LlmOps
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text").limit(12).as[(Long, String)].collect().toSeq
    val (corpus, rest) = docs.splitAt(4)
    val (b1, b2) = rest.splitAt(4)
    val base = java.nio.file.Files.createTempDirectory("ingest-stale").toString
    val idx = s"$base/idx"; val out = s"$base/verdicts"
    val (h0, bd0) = LlmOps.dedupIndexOf(corpus.toDF("doc_id", "text"))
    LlmOps.saveDedupIndex(h0, bd0, idx)
    // one stream incarnation commits batches 0 and 1
    LlmOps.ingestBatch(b1.toDF("doc_id", "text"), idx, out, 0L, maintainIndex = true)
    LlmOps.ingestBatch(b2.toDF("doc_id", "text"), idx, out, 1L, maintainIndex = true)
    val verdicts0 = spark.read.parquet(out).filter(col("batch_id") === 0)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val (h2, _) = LlmOps.loadDedupIndex(spark, idx)
    val rows2 = h2.count()
    // a NEW incarnation (fresh checkpoint) restarts ids at 0: before the
    // guard this silently destroyed the committed batch-0 directory
    // (mode overwrite) and double-listed its tag; now it must refuse —
    // and refuse BEFORE stomping batch 0's committed verdict partition
    val ex = intercept[IllegalArgumentException] {
      LlmOps.ingestBatch(b1.toDF("doc_id", "text"), idx, out, 0L, maintainIndex = true)
    }
    assert(ex.getMessage.contains("high-water mark"), ex.getMessage)
    assert(spark.read.parquet(out).filter(col("batch_id") === 0)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == verdicts0,
      "the refused batch stomped the original verdict partition")
    val (h3, _) = LlmOps.loadDedupIndex(spark, idx)
    assert(h3.count() == rows2, "the refused batch mutated the index")
    // a genuine committed replay (same incarnation, checkpoint lost the
    // advance) still skips silently — last_batch short-circuits first
    LlmOps.ingestBatch(b2.toDF("doc_id", "text"), idx, out, 1L, maintainIndex = true)
    Hygiene.release(spark)
  }

  test("an empty-admission batch still advances the high-water mark (refusal has no tag blind spot)") {
    import spark.implicits._
    import graft.queries.LlmOps
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text").limit(12).as[(Long, String)].collect().toSeq
    val (corpus, fresh) = docs.splitAt(8)
    val base = java.nio.file.Files.createTempDirectory("ingest-empty").toString
    val idx = s"$base/idx"; val out = s"$base/verdicts"
    val (h0, bd0) = LlmOps.dedupIndexOf(corpus.toDF("doc_id", "text"))
    LlmOps.saveDedupIndex(h0, bd0, idx)
    // batch 0 is ALL duplicates of the corpus (new ids, same text): zero
    // docs admitted, so NO batch-0 tag lands in any manifest — only the
    // marker. The old tag-presence refusal was blind here.
    val dups = corpus.map { case (id, text) => (id + 1000L, text) }
    LlmOps.ingestBatch(dups.toDF("doc_id", "text"), idx, out, 0L, maintainIndex = true)
    val (h1, _) = LlmOps.loadDedupIndex(spark, idx)
    assert(h1.count() == h0.count(), "an all-duplicate batch extended the index")
    LlmOps.ingestBatch(fresh.toDF("doc_id", "text"), idx, out, 1L, maintainIndex = true)
    val verdicts0 = spark.read.parquet(out).filter(col("batch_id") === 0)
      .select("doc_id", "keep").collect().map(r => (r.getLong(0), r.getBoolean(1))).sorted.toSeq
    // fresh incarnation replays id 0: no batch-0 tag exists, but the
    // high-water mark (now 1) refuses it before the verdict write
    val ex = intercept[IllegalArgumentException] {
      LlmOps.ingestBatch(fresh.toDF("doc_id", "text"), idx, out, 0L, maintainIndex = true)
    }
    assert(ex.getMessage.contains("high-water mark"), ex.getMessage)
    assert(spark.read.parquet(out).filter(col("batch_id") === 0)
      .select("doc_id", "keep").collect().map(r => (r.getLong(0), r.getBoolean(1))).sorted.toSeq
      == verdicts0,
      "the refused batch stomped the empty-admission batch's verdict partition")
    Hygiene.release(spark)
  }

  test("verdict-only streams (maintainIndex=false) get the same replay protection via the ledger") {
    import spark.implicits._
    import graft.queries.LlmOps
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text").limit(12).as[(Long, String)].collect().toSeq
    val (corpus, rest) = docs.splitAt(4)
    val (b1, b2) = rest.splitAt(4)
    val base = java.nio.file.Files.createTempDirectory("ingest-ledger").toString
    val idx = s"$base/idx"; val out = s"$base/verdicts"
    val (h0, bd0) = LlmOps.dedupIndexOf(corpus.toDF("doc_id", "text"))
    LlmOps.saveDedupIndex(h0, bd0, idx)
    // a verdict-only stream commits NOTHING to the index manifest — its
    // durable history is the _ledger under the verdict dir (underscore-
    // hidden: the verdict table read must not see it)
    LlmOps.ingestBatch(b1.toDF("doc_id", "text"), idx, out, 0L, maintainIndex = false)
    LlmOps.ingestBatch(b2.toDF("doc_id", "text"), idx, out, 1L, maintainIndex = false)
    assert(new java.io.File(s"$out/_ledger").isDirectory, "no ledger written")
    val table = spark.read.parquet(out)
    assert(table.columns.contains("batch_id") && table.count() == 8,
      "the ledger leaked into the verdict table's partition discovery")
    val verdicts0 = table.filter(col("batch_id") === 0)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // the index manifest never advanced (read-only under this stream)
    val snap = graft.operators.SnapshotLog.current(spark, idx, "dedup-index")
    assert(!snap.props.contains("last_batch"),
      "a verdict-only stream wrote the index manifest")
    // fresh incarnation replaying id 0 → refused by the ledger before
    // stomping the original verdict partition
    val ex = intercept[IllegalArgumentException] {
      LlmOps.ingestBatch(b1.toDF("doc_id", "text"), idx, out, 0L, maintainIndex = false)
    }
    assert(ex.getMessage.contains("verdict ledger"), ex.getMessage)
    assert(spark.read.parquet(out).filter(col("batch_id") === 0)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == verdicts0)
    // a committed replay of the marker batch itself skips silently
    LlmOps.ingestBatch(b2.toDF("doc_id", "text"), idx, out, 1L, maintainIndex = false)
    // pipelineBatch rides the same ledger
    val grams = LlmOps.gramSetOf(corpus.toDF("doc_id", "text")).localCheckpoint(true)
    val counts = LlmOps.bigramLmCountsOf(
      corpus.toDF("doc_id", "text").select(col("doc_id"), LlmOps.tokensCol(col("text")).as("t"))
    ).localCheckpoint(true)
    val out2 = s"$base/verdicts2"
    LlmOps.pipelineBatch(b1.toDF("doc_id", "text"), idx, grams, counts, 1e9,
      out2, 0L, maintainIndex = false)
    LlmOps.pipelineBatch(b2.toDF("doc_id", "text"), idx, grams, counts, 1e9,
      out2, 1L, maintainIndex = false)
    val ex2 = intercept[IllegalArgumentException] {
      LlmOps.pipelineBatch(b1.toDF("doc_id", "text"), idx, grams, counts, 1e9,
        out2, 0L, maintainIndex = false)
    }
    assert(ex2.getMessage.contains("verdict ledger"), ex2.getMessage)
    Hygiene.release(spark)
  }

  test("crawlPipeline chaos: a kill between verdict write and manifest commit replays clean") {
    import spark.implicits._
    import graft.queries.LlmOps
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    val isBatch = substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1")
    val corpus = docs.filter(!isBatch)
    val arriving = docs.filter(isBatch).as[(Long, String)].collect().sortBy(_._1).toSeq
    val (b1, b2) = arriving.splitAt(arriving.size / 2)
    val base = java.nio.file.Files.createTempDirectory("pipe-chaos").toString
    val idx = s"$base/idx"; val out = s"$base/verdicts"
    val (h0, bd0) = LlmOps.dedupIndexOf(corpus)
    LlmOps.saveDedupIndex(h0, bd0, idx)
    val grams = LlmOps.gramSetOf(corpus).localCheckpoint(true)
    val counts = LlmOps
      .bigramLmCountsOf(corpus.select(col("doc_id"), LlmOps.tokensCol(col("text")).as("t")))
      .localCheckpoint(true)
    val nllMax = 1e9
    def run(batch: Seq[(Long, String)], id: Long): Unit =
      LlmOps.pipelineBatch(batch.toDF("doc_id", "text"), idx, grams, counts, nllMax,
        out, id, maintainIndex = true)
    def got(id: Long) = spark.read.parquet(out).filter(col("batch_id") === id)
      .select("doc_id", "dup_exact", "keep", "contaminated", "nll", "admit")
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]), r.getBoolean(5)))
      .sortBy(_._1).toSeq

    run(b1, 0L) // batch 0 commits normally
    val (h1, _) = LlmOps.loadDedupIndex(spark, idx)
    val h1Count = h1.count()

    // CHAOS: the on-disk state of a kill between the batch-1 verdict/data
    // writes and the manifest commit — fully-written data dirs referenced
    // by no manifest, plus the crashed commit's torn manifest file
    val (oh, ob) = LlmOps.dedupIndexOf(b2.toDF("doc_id", "text"))
    ob.write.parquet(s"$idx/data/bands/batch-1")
    oh.write.parquet(s"$idx/data/hash/batch-1")
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val torn = fs.create(new Path(idx, "manifest.v99"), true)
    torn.write("kind=dedup-index\nthis-commit-never-finished\n".getBytes("UTF-8"))
    torn.close()
    val (hChaos, _) = LlmOps.loadDedupIndex(spark, idx)
    assert(hChaos.count() === h1Count, "torn state must be invisible to a load")

    // REPLAY batch 1: scored against the committed snapshot — none of its
    // docs flagged as duplicates of their own torn append
    run(b2, 1L)
    val v1 = got(1L)
    val freshTexts = b2.map(_._2).toSet -- b1.map(_._2).toSet -- corpus.as[(Long, String)]
      .collect().map(_._2).toSet
    val freshIds = b2.filter(d => freshTexts(d._2)).map(_._1).toSet
    assert(v1.filter(t => freshIds(t._1)).forall(!_._2),
      "replayed batch self-flagged against its own torn append")
    val admitted = v1.filter(_._6).map(_._1).toSet
    assert(admitted.nonEmpty, "batch 1 must admit something for the append check to bite")
    val admittedTexts = b2.filter(d => admitted(d._1)).map(_._2).distinct.size
    val (h2, _) = LlmOps.loadDedupIndex(spark, idx)
    assert(h2.count() === h1Count + admittedTexts, "exactly one logical append")

    // REPLAY after full commit: skip on the marker — same verdicts, no growth
    run(b2, 1L)
    assert(got(1L) === v1, "committed replay must not recompute")
    val (h3, _) = LlmOps.loadDedupIndex(spark, idx)
    assert(h3.count() === h1Count + admittedTexts, "no double append on committed replay")
  }

  test("ingestGuard restart from checkpoint: batch ids continue, index and verdicts stay consistent") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.queries.LlmOps
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    val isBatch = substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1")
    val corpus = docs.filter(!isBatch)
    val arriving = docs.filter(isBatch).as[(Long, String)].collect().sortBy(_._1).toSeq
    val (b1, b2) = arriving.splitAt(arriving.size / 2)
    val base = java.nio.file.Files.createTempDirectory("ingest-restart").toString
    val idx = s"$base/idx"; val out = s"$base/verdicts"; val ck = s"$base/ck"
    val (h0, bd0) = LlmOps.dedupIndexOf(corpus)
    LlmOps.saveDedupIndex(h0, bd0, idx)
    // batch 1's twin against pristine-plus-batch-0's-admits, computed
    // eagerly before any stream runs (as in the main ingestGuard spec)
    val (hash0, bands0) = LlmOps.loadDedupIndex(spark, idx)
    def asTuples(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "dup_exact", "dup_near", "keep").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    val want1 = asTuples(LlmOps.incrementalDedupAgainst(b1.toDF("doc_id", "text"), hash0, bands0))
    val admitted1 = b1.filter(d => want1.find(_._1 == d._1).exists(_._4))
    val (ha, ba) = LlmOps.dedupIndexOf(admitted1.toDF("doc_id", "text"))
    val want2 = asTuples(LlmOps.incrementalDedupAgainst(
      b2.toDF("doc_id", "text"), hash0.union(ha), bands0.union(ba)))

    // query 1 processes batch 0, then STOPS (clean shutdown = the benign
    // end of the crash spectrum; the chaos spec covers the torn middle);
    // batch 1's data arrives while NO query is running
    val src = MemoryStream[(Long, String)]
    src.addData(b1: _*)
    val q1 = EventStream.ingestGuard(src.toDF().toDF("doc_id", "text"), idx, out, ck)
    try q1.processAllAvailable()
    finally q1.stop()
    src.addData(b2: _*)

    // a SECOND query on the SAME checkpoint resumes numbering at batch 1
    // — the index append and per-batch verdict partitions line up with
    // the checkpoint's batch ids across the restart
    val q2 = EventStream.ingestGuard(src.toDF().toDF("doc_id", "text"), idx, out, ck)
    try q2.processAllAvailable()
    finally q2.stop()

    val verdicts = spark.read.parquet(out)
    assert(asTuples(verdicts.filter(col("batch_id") === 0)) === want1)
    assert(asTuples(verdicts.filter(col("batch_id") === 1)) === want2,
      "the restarted query must see batch 0's admits in the index and commit as batch 1")
    val d1 = admitted1.map(_._2).distinct.size
    val admitted2Ids = want2.filter(_._4).map(_._1).toSet
    val d2 = b2.filter(d => admitted2Ids(d._1)).map(_._2).distinct.size
    val (hEnd, _) = LlmOps.loadDedupIndex(spark, idx)
    assert(hEnd.count() === h0.count() + d1 + d2, "exactly one append per batch across the restart")
  }

  test("parquet sink restart from checkpoint: no loss, no duplicates") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("sink-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sink-ckpt").toString
    val src = MemoryStream[Long]
    src.addData(1L, 2L, 3L)
    val q1 = EventStream.sinkParquet(src.toDF().toDF("v"), out, ckpt)
    try q1.processAllAvailable()
    finally q1.stop()
    // new data arrives while the query is DOWN; the restart must pick up
    // after the committed offsets — batch 0 is not reprocessed
    src.addData(4L, 5L, 6L)
    val q2 = EventStream.sinkParquet(src.toDF().toDF("v"), out, ckpt)
    try q2.processAllAvailable()
    finally q2.stop()
    val vs = spark.read.parquet(out).select("v").as[Long].collect().toSeq
    assert(vs.sorted == Seq(1L, 2L, 3L, 4L, 5L, 6L),
      s"restart lost or duplicated rows: $vs")
  }
}
