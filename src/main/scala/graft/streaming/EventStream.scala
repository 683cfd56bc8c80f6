package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured-Streaming surface over the `events` table shape.
  *
  * The reference has no event-time model at all (SURVEY.md §1.3 — result
  * streaming is purely operational); this module is the "beyond the
  * reference" streaming analog the testdata's stream table anticipates.
  * Everything here is incremental-at-scale by construction: watermarked
  * windowed aggregation state is bounded, and sessionization uses typed
  * per-key state with timeouts.
  */
object EventStream {

  /** Schema-negotiated file-source stream: Structured Streaming's file
    * source demands a user-supplied schema, and guessing it is exactly how
    * a unit mismatch slips in (declaring int64 against a `timestamp[us]`
    * file makes Spark hand back the raw microsecond integers, and a nanos
    * ÷1000 then lands every window in 1970). So don't guess: peek the
    * directory's PHYSICAL schema with a one-off batch read — a
    * footer-metadata operation, no data scan — declare the stream with
    * exactly that schema, and normalize `tsCol` by its physical type:
    *   - int64 (TIMESTAMP(NANOS) under nanosAsLong): an exact floor
    *     division to microseconds (`div` truncates toward zero, so a
    *     pre-1970 nanosecond value would round UP a microsecond; pmod
    *     makes the floor exact in long arithmetic);
    *   - TIMESTAMP_NTZ (what a plain `timestamp[us]` parquet column
    *     infers as): cast to TimestampType, because
    *     `withWatermark`/`window` REQUIRE the instant-bearing TIMESTAMP
    *     type (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise). The engine
    *     pins the session timezone to UTC (GraftSession), so the cast is
    *     wall-clock-preserving and streamed window bounds equal the batch
    *     side's NTZ date_trunc values instant-for-instant — pinned by the
    *     source-parity spec;
    *   - TimestampType passes through untouched. */
  private def readTable(
      spark: SparkSession,
      path: String,
      tsCol: Option[String],
      options: Map[String, String] = Map.empty
  ): DataFrame = {
    val physical = spark.read.parquet(path).schema
    val raw = spark.readStream.schema(physical).options(options).parquet(path)
    tsCol match {
      case Some(c) => physical(c).dataType match {
        case LongType =>
          raw.withColumn(c, timestamp_micros(expr(s"($c - pmod($c, 1000)) div 1000")))
        case TimestampNTZType =>
          raw.withColumn(c, col(c).cast(TimestampType))
        case _ => raw
      }
      case None => raw
    }
  }

  /** File-source stream over an events parquet directory, `ts` normalized
    * to TimestampType(µs) whatever the file physically stored. `options`
    * pass through to the file source — `maxFilesPerTrigger` is the
    * backpressure knob a sustained feed needs (bound each micro-batch's
    * file count so one listing burst cannot become one giant batch). */
  def readEvents(spark: SparkSession, path: String,
      options: Map[String, String] = Map.empty): DataFrame =
    readTable(spark, path, tsCol = Some("ts"), options)

  /** File-source stream over a documents parquet directory (doc_id, text,
    * lang, source, n_chars) — feeds [[ingestGuard]]/[[nllStream]] straight
    * from a landing directory instead of a hand-built typed frame. */
  def readDocuments(spark: SparkSession, path: String,
      options: Map[String, String] = Map.empty): DataFrame =
    readTable(spark, path, tsCol = None, options)

  /** File-source stream over an embeddings parquet directory (vec_id,
    * embedding, label) — feeds [[clusterStream]] from a landing dir. */
  def readEmbeddings(spark: SparkSession, path: String): DataFrame =
    readTable(spark, path, tsCol = None)

  /** Tumbling-window counts/sums per event type with a watermark: the
    * streaming twin of the batch query q26_events_hourly. */
  def hourlyStats(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(
        col("window.start").as("hour"),
        col("event_type"),
        col("n"),
        col("total")
      )

  /** Sliding-window event rate per type (5-minute windows every minute). */
  def slidingRate(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "5 minutes", "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** Streaming exact dedup — the incremental twin of the batch d01 query:
    * keep the first record per key, drop later duplicates. State is the
    * set of keys seen within the watermark horizon; `dropDuplicates` with
    * a watermark lets Spark expire key-state older than the horizon, so
    * the state store is bounded by (arrival rate x horizon), not by the
    * full corpus — the only formulation that survives an unbounded stream.
    * Key by content hash (as d01 does) so the state row is a fixed-width
    * digest rather than the document text.
    */
  def dedupStream(
      events: DataFrame,
      keyCols: Seq[String],
      watermark: String = "1 hour"
  ): DataFrame =
    events
      .withColumn("__dedup_key", sha2(
        to_json(struct(keyCols.map(col): _*),
          Map("ignoreNullFields" -> "false")), 256))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("__dedup_key")
      .drop("__dedup_key")

  /** Exact-dedup MAINTENANCE stream — d01's live twin (the most-used
    * streaming shape in a training-data ingest path): every arriving
    * (doc_id, text) batch is content-hashed against the persisted
    * CANONICAL table, each document gets an accept/duplicate verdict
    * (duplicates attributed to their canonical id — d01's min-doc_id
    * rule within a batch, first-arrival-wins across batches), and the
    * accepted canonicals extend the store so the next batch — or a
    * nightly batch job reading the same table — already sees them.
    *
    * No watermark and ZERO streaming state, deliberately: the dedup
    * state IS the persisted store (an exact-dedup horizon would re-admit
    * any duplicate older than it — wrong for a corpus whose canonicals
    * never expire), so a months-late duplicate still attributes to its
    * canonical, and the state survives restarts by construction. For
    * within-horizon arrival-burst dedup with bounded state, use
    * [[dedupStream]]; for near-dup admission, [[ingestGuard]].
    *
    * Exactly-once: verdicts land by per-batch overwrite BEFORE the store
    * append (the ingestBatch ordering), the append is an anti-join of
    * the batch's canonicals against the store (a replayed batch appends
    * nothing — the rollingActiveStream discipline), and verdicts are
    * REPLAY-STABLE even after a crash between append and checkpoint
    * advance: a canonical's own store row joins back to its own doc_id,
    * which the verdict rule reads as canonical, never as a
    * duplicate-of-itself. Batch-vs-stream parity, late arrivals, and
    * restart recovery are spec-pinned (DedupStreamSpec). */
  def canonicalDedupStream(
      docs: DataFrame, // streaming: doc_id, text
      storeDir: String,
      verdictDir: String,
      checkpointDir: String
  ): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        canonicalDedupBatch(batch, storeDir, verdictDir, batchId)
      }
      .start()

  /** Read a persisted store, or a typed empty frame ONLY when the store
    * genuinely does not exist yet (first batch). The existence probe is
    * explicit — a transient FS error, corrupt footer, or OOM-wrapped
    * read failure PROPAGATES and fails the batch, because treating it as
    * "empty store" would re-admit known duplicates as canonicals and
    * corrupt the store for every later batch (first-arrival-wins breaks
    * permanently; a failed batch just replays). */
  private[graft] def storeOrEmpty(s: SparkSession, dir: String)(
      empty: => DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) empty else s.read.parquet(dir)
  }

  /** One maintenance step (the foreachBatch body, callable from specs). */
  private[graft] def canonicalDedupBatch(
      batch: DataFrame, storeDir: String, verdictDir: String, batchId: Long): Unit = {
    val s = batch.sparkSession
    // pin the arrivals once (the ingestBatch source-amplification rule):
    // the verdict plan reads them twice, the store append once more
    val arrivals = batch
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .withColumn("content_md5", md5(col("text")))
      .localCheckpoint(true)
    val store0 = storeOrEmpty(s, storeDir) {
      s.emptyDataFrame.select(
        lit("").as("content_md5"), lit(0L).as("canonical_id")).limit(0)
    }
    // batch-internal canonical: d01's min-doc_id rule among the arrivals
    val batchCanon = arrivals
      .groupBy("content_md5").agg(min(col("doc_id")).as("__bc"))
    // the store's canonical wins across batches (first-arrival-wins);
    // materialize BEFORE the append — the verdict plan reads storeDir,
    // and writing a path a live plan reads is undefined
    val verdicts = arrivals
      .join(batchCanon, "content_md5")
      .join(store0.withColumnRenamed("canonical_id", "__sc"),
        Seq("content_md5"), "left")
      .select(
        col("doc_id"),
        col("content_md5"),
        coalesce(col("__sc"), col("__bc")).as("canonical_id"),
        when(col("doc_id") === coalesce(col("__sc"), col("__bc")), lit("canonical"))
          .otherwise(lit("duplicate")).as("verdict"))
      .localCheckpoint(true)
    // verdict BEFORE append: a crash in between replays to the SAME
    // verdicts (store unchanged) and then appends; a crash after the
    // append replays to the same verdicts through the self-row rule
    verdicts.write.mode("overwrite").parquet(s"$verdictDir/batch_id=$batchId")
    // materialize before the append: novel's plan reads storeDir (the
    // anti-join), and appending to a path a live plan reads is undefined
    val novel = verdicts
      .filter(col("verdict") === "canonical")
      .select(col("content_md5"), col("doc_id").as("canonical_id"))
      .join(store0, Seq("content_md5"), "left_anti")
      .localCheckpoint(true)
    if (!novel.isEmpty) novel.write.mode("append").parquet(storeDir)
  }

  /** Streaming near-dup guard: flag each arriving document against a
    * STATIC corpus fingerprint index by SimHash band match — d08's
    * incremental ingest dedup as a stream (the shape a live crawl
    * pipeline runs: fingerprint on arrival, check the corpus, route).
    *
    * `corpusFps` is (doc_id, simhash) — d04's output, the persistable
    * fingerprint artifact. The stream side computes its fingerprint with
    * the same compiled one-pass kernel (stateless projection), explodes
    * into radius+1 bit-bands, and equi-joins the static band index:
    * exact within Hamming <= radius by pigeonhole, no stream state AT ALL
    * (stream-static joins keep no watermark store, and the first-match-
    * band predicate makes each (doc, corpus-doc) pair emit exactly once
    * without a stateful distinct). Output: one row per near-dup pair
    * (doc_id, matched_id, hamming), append-mode safe.
    *
    * The static side rides a broadcast here (a 64-bit fingerprint index
    * is ~12 bytes/doc — tens of GB only past 10^9 docs); for an index
    * that genuinely outgrows broadcast, drop the hint and Spark shuffles
    * the static side once per micro-batch against the band key. */
  def nearDupStream(
      docs: DataFrame,
      corpusFps: DataFrame,
      radius: Int = 3
  ): DataFrame = {
    import graft.queries.LlmOps
    graft.functions.VectorFunctions.register(docs.sparkSession)
    // fingerprints are simhash64 — the width is fixed by the kernel, so
    // only the Hamming radius is a knob (bands are radius + 1, pigeonhole)
    val bits = 64
    val nBands = radius + 1
    require(bits % nBands == 0, s"$bits bits must split evenly into $nBands bands")
    val bBits = bits / nBands
    val fps = docs
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"), LlmOps.simhash64Col.as("simhash"))
    val sBands = LlmOps.simhashBandsDf(fps, bBits, nBands).as("s")
    val cBands = LlmOps.simhashBandsDf(corpusFps, bBits, nBands).as("c")
    val exactlyOnce = LlmOps.firstMatchBand(
      col("s.simhash"), col("c.simhash"), col("s.b"), bBits, nBands)
    val ham = bit_count(col("s.simhash").bitwiseXOR(col("c.simhash")))
    sBands
      .join(broadcast(cBands), col("s.b") === col("c.b") && col("s.bv") === col("c.bv"))
      // self-match exclusion: replay after checkpoint recovery (or any
      // arrival already present in a refreshed index) must not emit a
      // spurious (id, id, 0) pair — same id-inequality every batch
      // sibling (d05/d08, AnnIvf/AnnPq) applies
      .filter(col("s.doc_id") =!= col("c.doc_id"))
      .filter(ham <= radius && exactlyOnce)
      .select(
        col("s.doc_id").as("doc_id"),
        col("c.doc_id").as("matched_id"),
        ham.cast("int").as("hamming")
      )
  }

  /** Map-only semantic routing: label a stream of (vec_id, embedding)
    * rows with a PERSISTED k-means model (`KMeans.load`) — the streaming
    * consumer of the batch-trained artifact, completing the
    * train-once/score-anywhere split (batch twin: `KMeans.assign`,
    * e09/e14's labeler). The assignment is a stateless compiled
    * projection (one `int_argmin_sqdist` call against the centroid
    * literal), so it needs no state store, composes with any
    * watermark/sink downstream, and costs O(k·dims) per row — the shape
    * an ingest router needs. The integer-exact kernel makes stream labels
    * byte-identical to the batch assignment of the same rows
    * (spec-pinned). */
  def clusterStream(emb: DataFrame, model: graft.operators.KMeans.Model): DataFrame =
    graft.operators.KMeans.assign(emb.sparkSession, emb, model)

  /** Streaming unigram-NLL quality gate: score arriving (doc_id, ts,
    * text) documents against a PERSISTED unigram LM
    * (`LlmOps.loadUnigramLm`) — the CCNet online-filter shape: the LM is
    * trained once on a reference corpus (batch, t18's math), then every
    * crawled document is scored AS IT ARRIVES and routed/dropped by its
    * perplexity before it ever lands in the corpus store.
    *
    * Per-doc scoring needs the doc's tokens re-assembled, so unlike
    * clusterStream this IS a stateful aggregation: tokens explode, join
    * the static LM table (stream-static equi-join — broadcast-able,
    * stateless), then group by (ts, doc_id). Grouping on the event-time
    * column itself is what bounds the state: with the watermark, a doc's
    * group finalizes and EMITS (append mode) once the watermark passes
    * its ts, and its state is evicted — state is (arrival rate x
    * watermark delay), independent of stream lifetime. The aggregate
    * expressions are LlmOps.scoreAgainstLm — the ONE copy of the scoring
    * math — so a doc's streamed score is byte-identical to batch-scoring
    * the same row against the same artifact (spec-pinned).
    *
    * Output: (ts, doc_id, n_tokens, nll). Docs whose tokens all fall
    * outside the LM vocabulary produce no row (inner join semantics —
    * same as the batch scorer). */
  def nllStream(docs: DataFrame, lm: DataFrame, watermark: String = "10 minutes"): DataFrame = {
    import graft.queries.LlmOps
    val oc = docs
      .withWatermark("ts", watermark)
      .select(col("ts"), col("doc_id"), explode(LlmOps.tokensCol(col("text"))).as("tok"))
    LlmOps.scoreAgainstLm(oc, lm, groupKeys = Seq(col("ts"), col("doc_id")))
  }

  /** [[nllStream]] one order up: score arrivals against a persisted
    * INTERPOLATED BIGRAM LM (t26's count artifact — loadBigramLm). Same
    * state bound (group by (ts, doc_id) under the watermark, append
    * emission at watermark passage), two stream-static equi-joins instead
    * of one (first token vs the unigram dim, later tokens vs the bigram
    * dim — the union carries the shared watermark through both branches).
    * The scoring math is LlmOps.bigramNllFrom — the ONE copy — so a
    * streamed score is byte-identical to batch-scoring the same row
    * against the same artifact (spec-pinned). The interpolation is why
    * this works on a live feed at all: unseen bigrams of known tokens
    * back off to 0.25·unigram instead of −ln 0; tokens entirely outside
    * the frozen vocabulary drop from the score (inner-join semantics,
    * same as the batch scorer and nllStream).
    *
    * Output: (ts, doc_id, n_tokens, nll). */
  def bigramNllStream(
      docs: DataFrame,
      counts: DataFrame,
      watermark: String = "10 minutes"
  ): DataFrame = {
    import graft.queries.LlmOps
    val tk = docs
      .withWatermark("ts", watermark)
      .select(col("ts"), col("doc_id"), LlmOps.tokensCol(col("text")).as("t"))
    LlmOps.bigramNllFrom(tk, counts, keys = Seq("ts", "doc_id"))
  }

  /** Stream-stream event-time interval join: correlate each left event
    * with the right-stream events of the SAME user that happen within
    * `withinSeconds` AFTER it ("purchase within 30 min of a click").
    *
    * This is the stateful two-stream shape Structured Streaming requires
    * both watermarks + an event-time range condition for: the range bound
    * is what lets Spark evict buffered rows — left state is droppable once
    * the right watermark passes ts + withinSeconds, right state once the
    * left watermark passes its ts. Without the interval condition the
    * buffers grow forever; with it, state is bounded by
    * (rate x (watermark delay + withinSeconds)) per side. The join key
    * (user_id) makes the shuffle an equi-partition on both streams.
    */
  def correlate(
      left: DataFrame,
      right: DataFrame,
      withinSeconds: Long = 1800,
      watermark: String = "1 hour"
  ): DataFrame = {
    val l = left
      .withWatermark("ts", watermark)
      .select(
        col("event_id").as("l_id"),
        col("ts").as("l_ts"),
        col("user_id"),
        col("event_type").as("l_type")
      )
    val r = right
      .withWatermark("ts", watermark)
      .select(
        col("event_id").as("r_id"),
        col("ts").as("r_ts"),
        col("user_id"),
        col("event_type").as("r_type")
      )
    l.as("l").join(
      r.as("r"),
      expr(
        s"""l.user_id = r.user_id AND
            r_ts >= l_ts AND
            r_ts <= l_ts + INTERVAL $withinSeconds SECONDS"""
      )
    ).select(
      col("l.user_id").as("user_id"),
      col("l_id"), col("l_type"), col("l_ts"),
      col("r_id"), col("r_type"), col("r_ts")
    )
  }

  /** Stream-static enrichment: join a live event stream against a BATCH
    * dimension table (user/customer attributes) — the standard "enrich on
    * ingest" shape. The static side is broadcast, so the stream never
    * shuffles for the join and no join state accumulates (stream-static
    * joins are stateless by construction: each micro-batch joins against
    * the current dim snapshot). At 100 TB event rates this is exactly the
    * plan you want — dim tables are broadcast-sized or become a
    * slowly-changing lookup the batch side refreshes. `how` may be
    * "inner" or "left_outer" (events without a dim row survive with
    * nulls). */
  def enrich(
      events: DataFrame,
      dim: DataFrame,
      key: String,
      how: String = "inner"
  ): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), how)

  /** Parquet sink with exactly-once delivery: the file sink's commit
    * manifest records which files belong to each epoch, and the checkpoint
    * stores source offsets — so a crashed/restarted query resumes from the
    * last committed epoch without losing or duplicating rows (readers see
    * only manifest-committed files). This pairing (checkpointLocation +
    * file sink) is the durable landing zone of a streaming ingest pipeline;
    * EventStreamSpec proves the restart semantics. */
  def sinkParquet(
      df: DataFrame,
      path: String,
      checkpoint: String
  ): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  /** Streaming ingest admission that CONSUMES and MAINTAINS the persisted
    * dedup index — the live-crawl loop closed: every arriving document is
    * scored against the artifact (d08's verdict: exact-dup by content
    * hash, near-dup by SimHash band within Hamming radius), verdicts land
    * in a parquet sink, and the admitted docs' hash + band rows are
    * appended back so the NEXT micro-batch (or the next nightly batch
    * ingest — same index) already sees them.
    *
    * Spark-first shape: `foreachBatch`, not a stateful stream. The corpus
    * membership is the INDEX's job, not the state store's — admission is
    * a stream-static join per micro-batch, so the streaming side holds
    * ZERO state regardless of corpus size, and the per-batch cost is the
    * batch's own fingerprinting plus two equi-joins (linear in batch,
    * independent of corpus — d16's gated property). The batch twin is
    * `incrementalDedupAgainst`, which scores through the same
    * `fingerprints` + `scoreFingerprints` pair run here, so a streamed
    * verdict is byte-identical to batch-scoring the same rows against the
    * same index (spec-pinned).
    *
    * Semantics and failure notes:
    *   - verdicts are computed and materialized BEFORE the index append
    *     (a batch must not be flagged against itself);
    *   - batch-INTERNAL duplicates are admitted together, as in d08 (the
    *     reference's incremental shape): dedupe within the pipe upstream
    *     via [[dedupStream]] if arrivals can repeat inside one horizon;
    *   - CRASH SAFETY is the exactly-once batch commit on the
    *     [[graft.operators.SnapshotLog]] versioned manifest
    *     ([[graft.operators.SnapshotLog.replayGate]]): a kill anywhere
    *     inside a batch — mid-data-write,
    *     between data and manifest commit, after commit but before the
    *     checkpoint advances — replays to the SAME verdicts and exactly
    *     one logical index append (chaos-spec-pinned), with no rename
    *     anywhere (runs unchanged on a raw object store). Verdicts land
    *     by per-batch overwrite into `verdictDir/batch_id=<id>`, so the
    *     verdict table is exactly-once, readable as one partitioned
    *     parquet table;
    *   - batch-local checkpoint blocks are freed by the ContextCleaner
    *     once the batch closure returns (the silent release path
    *     documented on [[graft.Hygiene]]); run `compactDedupIndex` on the
    *     small-file cadence, as any long-lived ingest would (it retires
    *     the per-batch published files and carries the stream's
    *     `last_batch` marker forward). Compaction is part of the SAME
    *     single-writer role as the stream: run it between micro-batches
    *     or with the stream stopped, never from a second process racing
    *     the loop — its GC deletes directories the current snapshot does
    *     not reference, which is exactly the state of an in-flight
    *     batch's data between write and manifest commit.
    */
  def ingestGuard(
      docs: DataFrame,
      indexPath: String,
      verdictDir: String,
      checkpointDir: String,
      maintainIndex: Boolean = true
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    // full validation ONCE, at stream start: per-batch reads inside the
    // loop go through the trusted load (this single writer commits every
    // manifest from here on), so this is the one place an out-of-band
    // mutation of the index — rows injected or lost while the stream was
    // down — fails typed instead of silently scoring every batch against
    // a corrupted table
    graft.queries.LlmOps.loadDedupIndex(docs.sparkSession, indexPath): Unit
    // cross-batch snapshot reuse: the loop is the single writer, so each
    // batch costs one staleness listing, not a manifest re-resolution
    val cache = Some(graft.queries.LlmOps.dedupCache(indexPath))
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.queries.LlmOps.ingestBatch(batch, indexPath, verdictDir, batchId, maintainIndex, cache)
      }
      .start()
  }

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class OpenSession(n: Long, first: Long, last: Long)
  case class SessionState(sessions: List[OpenSession])
  case class UserSession(user_id: Long, n_events: Long, duration_s: Long)

  /** `frozen`: final entry times (epoch s) for stages 1..frozen.length —
    * all below every future watermark, so immutable. `pending`: per
    * 0-based stage index, the admissible-window event times (ts ≥
    * watermark) the unfrozen chain suffix recomputes from. */
  case class FunnelState(frozen: List[Long], pending: Map[Int, List[Long]])
  case class FunnelHit(user_id: Long, stage: Int, entry_s: Long)

  /** Gap-based sessionization with typed per-key state
    * (flatMapGroupsWithState) — the custom-state streaming primitive the
    * reference's per-job in-memory state machines map onto.
    *
    * A session is emitted ONLY once the watermark passes its last event +
    * gap — never on an in-batch gap. Closing on the in-batch gap alone is
    * unsound: with watermark delay >= the remaining gap headroom, an
    * ON-TIME out-of-order event in a later batch can still land inside the
    * gap and bridge the "closed" session (one true session would come out
    * as two). So the state holds ALL open sessions for the key (plural:
    * a batch can open a later session while an earlier one is still
    * bridgeable), merges incoming events into them, and flushes exactly
    * the sessions nothing admissible can extend.
    *
    * State stays bounded: open sessions are separated by > gap and all of
    * them end above watermark - gap, so a key holds at most about
    * (watermark delay / gap) + 2 sessions, each a fixed-width triple —
    * bounded by the watermark horizon, not the stream. Event-time
    * timeouts flush a silent user's sessions. (Processing-time timeouts
    * are unsuitable here: they keep scheduling batches, so
    * `processAllAvailable` never settles and tests hang.)
    */
  def sessionize(
      spark: SparkSession,
      events: org.apache.spark.sql.Dataset[Event],
      gapSeconds: Long = 1800
  ): org.apache.spark.sql.Dataset[UserSession] = {
    import spark.implicits._
    events
      .withWatermark("ts", s"$gapSeconds seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout
      ) { (uid: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
        val watermarkSec = state.getCurrentWatermarkMs() / 1000
        val prior = state.getOption.map(_.sessions).getOrElse(Nil)
        // flatMapGroupsWithState does NOT filter late data for you: an
        // event below the watermark (replay, stalled producer) would
        // merge BACKWARDS into an open session — rewinding its start and
        // inflating its duration by hours. Drop them, the same verdict
        // the engine's windowed aggs apply. (On timeout the batch is
        // empty, so the same code handles both invocation kinds.)
        val incoming = batch
          .map(_.ts.getTime / 1000)
          .filter(_ >= watermarkSec)
          .map(t => OpenSession(1, t, t))
          .toList
        // merge: sessions and singleton events, ordered by start; a run
        // whose next element starts within gap of the current end fuses
        // (an event bridging two prior sessions fuses all three)
        val merged = (prior ++ incoming)
          .sortBy(s => (s.first, s.last))
          .foldLeft(List.empty[OpenSession]) {
            case (h :: t, s) if s.first - h.last <= gapSeconds =>
              OpenSession(h.n + s.n, h.first, math.max(h.last, s.last)) :: t
            case (acc, s) => s :: acc
          }
          .reverse
        // closed = no admissible event can extend it: extension needs
        // t <= last + gap, admission needs t >= watermark, so the session
        // is final exactly when watermark > last + gap
        val (open, closed) = merged.partition(_.last + gapSeconds >= watermarkSec)
        if (open.isEmpty) { if (state.exists) state.remove() }
        else {
          state.update(SessionState(open))
          // fire when the watermark passes the EARLIEST close point; the
          // timestamp must sit above the current watermark or Spark rejects
          state.setTimeoutTimestamp(
            math.max((open.map(_.last).min + gapSeconds) * 1000,
              state.getCurrentWatermarkMs() + 1)
          )
        }
        closed.iterator.map(s => UserSession(uid, s.n, s.last - s.first))
      }
  }

  /** Streaming sequential funnel — q46's live twin with EXACT batch
    * semantics under out-of-order arrival. Stage k's entry is the user's
    * first stage-k event at or after their stage-(k-1) entry; adding an
    * on-time event can only LOWER entry times (more options), so an
    * entry is FINAL exactly when the watermark passes it (lowering t_k
    * needs an event with ts < t_k at some stage ≤ k, and admission needs
    * ts ≥ watermark — impossible once watermark > t_k). Each advance is
    * emitted once, as an append-mode (user, stage, entry) row, when it
    * finalizes; a batch aggregate over the output reproduces q46's
    * stage counts (spec-pinned against the batch kernel on the same
    * events).
    *
    * State stays bounded by the watermark horizon, not the stream: the
    * frozen chain is ≤ |stages| longs, and pending holds only events at
    * or above the watermark (anything below can never lower an entry —
    * the same admission verdict as [[sessionize]]; in-batch late rows
    * are dropped with the same policy). Unfrozen entries re-derive from
    * pending each invocation, so a late-but-admissible earlier-stage
    * event correctly REWINDS the downstream chain (the case in-arrival-
    * order state machines get wrong — spec-pinned). */
  def funnelStream(
      spark: SparkSession,
      events: org.apache.spark.sql.Dataset[Event],
      stages: Seq[String] = Seq("view", "click", "purchase"),
      watermarkSeconds: Long = 1800
  ): org.apache.spark.sql.Dataset[FunnelHit] = {
    import spark.implicits._
    val stageOf = stages.zipWithIndex.toMap
    val nStages = stages.length
    events
      .filter(e => stageOf.contains(e.event_type))
      .withWatermark("ts", s"$watermarkSeconds seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelHit](
        OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout
      ) { (uid: Long, batch: Iterator[Event], state: GroupState[FunnelState]) =>
        val wm = state.getCurrentWatermarkMs() / 1000
        val prior = state.getOption.getOrElse(FunnelState(Nil, Map.empty))
        val incoming = batch
          .flatMap(e => stageOf.get(e.event_type).map(k => (k, e.ts.getTime / 1000)))
          .filter(_._2 >= wm)
          .toList
        val pending0 = incoming.foldLeft(prior.pending) { case (m, (k, t)) =>
          m.updated(k, t :: m.getOrElse(k, Nil))
        }
        // re-derive the unfrozen chain suffix from pending
        var prev = prior.frozen.lastOption.getOrElse(Long.MinValue)
        var j = prior.frozen.length
        val chain = List.newBuilder[Long]
        var broke = false
        while (j < nStages && !broke) {
          val cand = pending0.getOrElse(j, Nil).filter(_ >= prev)
          if (cand.isEmpty) broke = true
          else { prev = cand.min; chain += prev; j += 1 }
        }
        // final = strictly below the watermark (see scaladoc)
        val (nowFinal, stillOpen) = chain.result().span(_ < wm)
        val frozen2 = prior.frozen ++ nowFinal
        // events below the watermark can never be selected again: a
        // selected-and-final entry is consumed, and any other sub-wm
        // event would need a future chain entry below wm to its left —
        // which admission forbids. Prune them. A COMPLETED funnel needs
        // no candidates at all — but its frozen chain must persist: the
        // state is the only record that this user already converted, and
        // removing it would let a later on-time event replay the whole
        // funnel as fresh emissions (caught by the batch-parity spec).
        val pending2 =
          if (frozen2.length == nStages) Map.empty[Int, List[Long]]
          else pending0
            .map { case (k, ts) => k -> ts.filter(_ >= wm) }
            .filter(_._2.nonEmpty)
        state.update(FunnelState(frozen2, pending2))
        // wake when the watermark passes the earliest unfrozen entry
        stillOpen.headOption.foreach { t =>
          state.setTimeoutTimestamp(
            math.max(t * 1000 + 1, state.getCurrentWatermarkMs() + 1))
        }
        nowFinal.zipWithIndex.iterator.map { case (t, i) =>
          FunnelHit(uid, prior.frozen.length + i + 1, t)
        }
      }
  }

  /** Incrementally maintained rolling actives — q50's live twin as VIEW
    * MAINTENANCE rather than chained stateful aggregation: each batch
    * (1) dedups arrivals to (user_id, day) pairs, (2) appends the pairs
    * NOT already in the persisted distinct store (a stream-static
    * anti-join — replayed batches add nothing, so the store is
    * exactly-once by construction), and (3) recomputes the DAU/WAU rows
    * for exactly the AFFECTED days — a new pair on day d can only move
    * days [d, d+windowDays-1], and their trailing windows only reach
    * back to lo-windowDays+1, so the recompute reads a calendar-bounded
    * slice of the store, never the history — landing them by DYNAMIC
    * partition overwrite (untouched days' files are not rewritten).
    * Late arrivals need no watermark bound: a months-late pair simply
    * makes its old days "affected" and they recompute correctly.
    *
    * The recompute body IS the batch kernel
    * ([[graft.queries.Relational.rollingActiveFromPairs]]), so a
    * streamed row is byte-identical to batch-querying the same pairs —
    * spec-pinned, the contaminationStream discipline. Streaming state:
    * zero. Crash between store-append and out-overwrite self-heals: the
    * replayed batch's anti-join appends nothing and the recompute runs
    * from the already-updated store. */
  def rollingActiveStream(
      events: DataFrame, // streaming, needs user_id + ts
      storeDir: String,
      outDir: String,
      checkpointDir: String,
      windowDays: Int = 7
  ): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        rollingActiveBatch(batch, storeDir, outDir, windowDays)
      }
      .start()

  /** One maintenance step (the foreachBatch body, callable from specs). */
  private[graft] def rollingActiveBatch(
      batch: DataFrame, storeDir: String, outDir: String, windowDays: Int): Unit = {
    val s = batch.sparkSession
    val pairs = batch
      .select(col("user_id").cast("long").as("user_id"), col("ts").cast("date").as("day"))
      .distinct()
    val store0 = storeOrEmpty(s, storeDir) {
      s.emptyDataFrame.select(
        lit(0L).as("user_id"), lit(null).cast("date").as("day")).limit(0)
    }
    // materialize BEFORE the append: `novel` reads storeDir, and writing
    // a path while a live plan reads it is undefined
    val novel = pairs
      .join(store0, Seq("user_id", "day"), "left_anti")
      .localCheckpoint(true)
    // Bounds come from the batch's PAIRS, not the novel subset: on a
    // crash-replay between store-append and out-overwrite, novel is
    // empty (the pairs already landed) but outDir is still stale for
    // the affected days — pairs' window covers novel's, so recomputing
    // from pairs whenever the batch is non-empty self-heals that gap.
    val bounds = pairs.agg(min(col("day")).as("lo"), max(col("day")).as("hi")).collect()(0)
    if (!bounds.isNullAt(0)) {
      if (!novel.isEmpty) novel.write.mode("append").parquet(storeDir)
      val lo = bounds.getDate(0)
      val hi = java.sql.Date.valueOf(bounds.getDate(1).toLocalDate.plusDays(windowDays - 1L))
      val reach = java.sql.Date.valueOf(bounds.getDate(0).toLocalDate.minusDays(windowDays - 1L))
      val slice = s.read.parquet(storeDir)
        .filter(col("day") >= lit(reach) && col("day") <= lit(hi))
      val out = graft.queries.Relational
        .rollingActiveFromPairs(slice, windowDays)
        .filter(col("day") >= lit(lo.toString)) // day is string in the kernel's output
      out.write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(outDir)
    }
  }

  /** One event inside the transition state: second-resolution time, the
    * tie-break id, and the type. */
  case class TEv(ts_s: Long, event_id: Long, typ: String)

  /** `lastFinal`: the newest finalized event — the left endpoint of the
    * next transition, kept forever (dropping it would orphan the first
    * post-gap transition of a returning user). `pending`: admissible-
    * window events (ts ≥ watermark) not yet finalized. */
  case class TransitionState(lastFinal: Option[TEv], pending: List[TEv])
  case class TransitionHit(user_id: Long, from_type: String, to_type: String,
      from_s: Long, to_s: Long)

  /** Streaming first-order transition extraction — q53's live twin: per
    * user, every consecutive event pair (ordered by time, event_id
    * tie-break), each emitted EXACTLY ONCE, and only once FINAL.
    *
    * Finality argument: a pair (a, b) is emitted when the watermark has
    * passed both endpoints. Any later arrival that could squeeze
    * between them would need ts in (a, b) — below the watermark — and
    * sub-watermark arrivals are inadmissible (filtered here exactly as
    * Spark's aggregation watermark would), so no emitted pair can ever
    * be invalidated: out-of-order arrivals WITHIN the horizon reorder
    * the pending buffer before finalization instead (an arrival-order
    * state machine gets this wrong; the spec pins it).
    *
    * Scale: state is one event (lastFinal) plus the in-horizon buffer
    * per user — O(users) keys, the standard per-key streaming-state
    * shape (RocksDB-backed in production); emission is append-mode, so
    * downstream aggregation (the live transition matrix) is an ordinary
    * streaming groupBy over exactly-once pairs. Batch parity with
    * [[graft.queries.Relational.transitionMatrix]] is spec-pinned. */
  def transitionStream(
      spark: SparkSession,
      events: org.apache.spark.sql.Dataset[Event],
      watermarkSeconds: Long = 1800
  ): org.apache.spark.sql.Dataset[TransitionHit] = {
    import spark.implicits._
    events
      .withWatermark("ts", s"$watermarkSeconds seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransitionState, TransitionHit](
        OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout
      ) { (uid: Long, batch: Iterator[Event], state: GroupState[TransitionState]) =>
        val wm = state.getCurrentWatermarkMs() / 1000
        val prior = state.getOption.getOrElse(TransitionState(None, Nil))
        val incoming = batch
          .map(e => TEv(e.ts.getTime / 1000, e.event_id, e.event_type))
          .filter(_.ts_s >= wm)
          .toList
        val ordered = (prior.pending ++ incoming).sortBy(e => (e.ts_s, e.event_id))
        val (nowFinal, stillOpen) = ordered.span(_.ts_s < wm)
        val chain = prior.lastFinal.toList ++ nowFinal
        val hits = chain
          .sliding(2)
          .collect { case List(a, b) =>
            TransitionHit(uid, a.typ, b.typ, a.ts_s, b.ts_s)
          }
          .toList
        state.update(TransitionState(chain.lastOption, stillOpen))
        // wake when the watermark passes the earliest open event, so the
        // (lastFinal -> firstOpen) pair finalizes without new arrivals
        stillOpen.headOption.foreach { e =>
          state.setTimeoutTimestamp(
            math.max(e.ts_s * 1000 + 1, state.getCurrentWatermarkMs() + 1))
        }
        hits.iterator
      }
  }

  /** Streaming n-gram contamination gate — d22's live twin: score every
    * arriving document's distinct 8-grams against the TRAIN split's gram
    * set and land (doc_id, n_grams, n_hit, contaminated) per batch. The
    * shape is ingestGuard's: a foreachBatch stream-static join against a
    * static frame, so the streaming side holds ZERO state at any train
    * size, verdicts land by per-batch overwrite (exactly-once for
    * downstream readers), and the scoring body IS the batch operator —
    * a streamed verdict is byte-identical to batch-scoring the same rows
    * (spec-pinned). `trainGrams` is d22's distinct train-side gram set
    * (one column `h`), built once and typically persisted; pass a loaded
    * frame, not a live recompute, on a long-lived stream. */
  def contaminationStream(
      docs: DataFrame,
      trainGrams: DataFrame,
      verdictDir: String,
      checkpointDir: String
  ): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.queries.LlmOps
          .contaminationAgainst(batch.localCheckpoint(true), trainGrams)
          .write.mode("overwrite").parquet(s"$verdictDir/batch_id=$batchId")
      }
      .start()

  /** [[contaminationStream]] against the PERSISTED gram artifact instead
    * of a frozen frame: each micro-batch resolves the artifact's current
    * snapshot (one directory listing when nothing changed — the
    * SnapshotLog.Cached probe), so a concurrent
    * [[graft.queries.LlmOps.refreshGrams]] — the train corpus's rebuild
    * cadence — takes effect at the NEXT batch with no stream restart. */
  def contaminationStream(
      docs: DataFrame,
      gramsPath: String,
      verdictDir: String,
      checkpointDir: String
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    val grams = graft.queries.LlmOps.gramSetReader(gramsPath)
    grams.get(docs.sparkSession): Unit // validate the artifact at stream start
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.queries.LlmOps
          .contaminationAgainst(batch.localCheckpoint(true), grams.get(batch.sparkSession))
          .write.mode("overwrite").parquet(s"$verdictDir/batch_id=$batchId")
      }
      .start()
  }

  /** The COMPOSED live-crawl admission pipeline — [[ingestGuard]],
    * [[contaminationStream]], and the bigram quality gate fused into one
    * foreachBatch loop over one verdict table: every arriving document is
    * (1) deduped against the persisted index, (2) contamination-scored
    * against the frozen train gram set, (3) quality-scored under the
    * persisted bigram LM, and admitted only past all three; admitted
    * docs' fingerprints extend the index so the next batch (or the
    * nightly batch ingest — same artifact) already sees them. This is
    * the composition the standalone gates document ("arrivals deduped
    * against each other needs ingestGuard in front" — here it IS in
    * front, inside the same commit protocol, so the three verdicts are
    * mutually consistent per batch and exactly-once as one table).
    *
    * Static inputs are ARTIFACTS, not live recomputes: pass
    * loadDedupIndex's path, a loaded gram set, loadBigramLm's counts.
    * Streaming state: zero (three stream-static joins); crash safety:
    * the snapshot-log batch commit ingestGuard runs (chaos-spec-pinned
    * there), applied to the widened verdict. Docs the LM cannot score
    * route by the `unscorable` knob — reject (default) or park as `quarantine`
    * in the verdict column (LlmOps.UnscorablePolicy; never admitted
    * either way). */
  def crawlPipeline(
      docs: DataFrame,
      indexPath: String,
      trainGrams: DataFrame,
      lmCounts: DataFrame,
      nllMax: Double,
      verdictDir: String,
      checkpointDir: String,
      maintainIndex: Boolean = true,
      unscorable: graft.queries.LlmOps.UnscorablePolicy =
        graft.queries.LlmOps.UnscorablePolicy.Reject
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    // full index validation once, at stream start (ingestGuard's rule)
    graft.queries.LlmOps.loadDedupIndex(docs.sparkSession, indexPath): Unit
    val cache = Some(graft.queries.LlmOps.dedupCache(indexPath))
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.queries.LlmOps.pipelineBatch(
          batch, indexPath, trainGrams, lmCounts, nllMax, verdictDir, batchId,
          maintainIndex, unscorable, cache)
      }
      .start()
  }

  /** [[crawlPipeline]] with the contamination gate wired to the PERSISTED
    * gram artifact (`gramsPath`) instead of a frozen frame: the gram set
    * re-resolves per batch through SnapshotLog.Cached — one directory
    * listing when unchanged, a reload when
    * [[graft.queries.LlmOps.refreshGrams]] committed — so the admission
    * bar follows the train corpus without restarting the stream (spec:
    * a doc admitted before a refresh is rejected after it, same stream).
    * No defaults here (Scala allows them on one overload only): pass
    * maintainIndex/unscorable explicitly. */
  def crawlPipeline(
      docs: DataFrame,
      indexPath: String,
      gramsPath: String,
      lmCounts: DataFrame,
      nllMax: Double,
      verdictDir: String,
      checkpointDir: String,
      maintainIndex: Boolean,
      unscorable: graft.queries.LlmOps.UnscorablePolicy
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    graft.queries.LlmOps.loadDedupIndex(docs.sparkSession, indexPath): Unit
    val grams = graft.queries.LlmOps.gramSetReader(gramsPath)
    grams.get(docs.sparkSession): Unit // validate the artifact at stream start
    val cache = Some(graft.queries.LlmOps.dedupCache(indexPath))
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.queries.LlmOps.pipelineBatch(
          batch, indexPath, grams.get(batch.sparkSession), lmCounts, nllMax,
          verdictDir, batchId, maintainIndex, unscorable, cache)
      }
      .start()
  }

  /** Streaming vector ingest into a persisted partitioned IVF index —
    * the embedding twin of [[ingestGuard]]: every arriving
    * (vec_id, embedding) batch is assigned against the FROZEN coarse
    * quantizer and appended as one immutable `batch-<id>` partitioned
    * directory + one manifest commit carrying the replay-skip marker
    * (AnnIvf.appendIndexBatch — crash-safe under the same snapshot-log
    * batch commit as the dedup loop: a torn append is unreferenced and
    * invisible, a committed replay is a no-op, a fresh incarnation
    * replaying ids is refused). Searches against the index pick up each
    * batch as soon as its manifest commits — a live embedding store
    * growing under queries. Zero streaming state.
    *
    * `compactEvery` bounds the store's file count between rebuilds: each
    * batch lands nlist `cluster=` files, so an uncompacted store grows
    * B × nlist files; every `compactEvery`-th committed batch is followed
    * by [[graft.operators.AnnIvf.compactIndex]] (assignments verbatim,
    * quantizer untouched, search results identical across the flip) so
    * the dir count saw-tooths under the cadence bound instead — the
    * crawlPipeline compaction discipline. `0` disables (rebuilds then
    * own file-count hygiene). Compaction runs INSIDE foreachBatch, after
    * the batch's own commit: the stream is the index's single writer, so
    * no second writer races it; a crash mid-compaction leaves the old
    * snapshot fully live and the replay skips the batch (already
    * committed) — the compaction simply re-runs at the next cadence
    * hit.
    *
    * `retain` is the concurrent-reader grace window handed to each
    * compaction's GC (SnapshotLog versions kept). `0` (the default)
    * resolves to 2 WHEN COMPACTION IS ENABLED and 1 otherwise: the
    * "searches pick up each batch as soon as its manifest commits"
    * contract above means a reader may have resolved the pre-compaction
    * snapshot at the moment the compaction commit lands, and a retain of
    * 1 would GC the superseded batch directories out from under that
    * in-flight read. Keeping the previous generation for one extra
    * compaction cycle makes the advertised concurrent search safe by
    * default; deployments with no concurrent readers can pass 1
    * explicitly to reclaim space at each flip. */
  def ivfIngest(
      emb: DataFrame,
      indexPath: String,
      checkpointDir: String,
      compactEvery: Int = 0,
      retain: Int = 0,
      rejectDir: String = ""
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    require(compactEvery >= 0, s"compactEvery must be >= 0, got $compactEvery")
    require(retain >= 0, s"retain must be >= 0 (0 = auto), got $retain")
    val effectiveRetain =
      if (retain > 0) retain else if (compactEvery > 0) 2 else 1
    // malformed vectors (null / wrong-dim / non-finite) never reach the
    // store: with a reject ledger they park under rejectDir/batch_id=N
    // with a reason; without one the batch fails loudly. There is
    // DELIBERATELY no drain loop over the ledger (the crawlPipeline
    // quarantine's twin): validity is intrinsic to the row + the index
    // dimension, which no quantizer rebuild can change, so a parked
    // vector can never become admittable — see
    // AnnIvf.vectorRejectReason's scaladoc.
    val rejects = Option(rejectDir).filter(_.nonEmpty)
    // full validation once, at stream start (the ingestGuard rule)
    graft.operators.AnnIvf.validateIndex(emb.sparkSession, indexPath)
    // cross-batch snapshot + centroid reuse
    val cache = Some(graft.operators.AnnIvf.ingestCache(indexPath))
    emb.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.AnnIvf.appendIndexBatch(
          batch.sparkSession, batch, indexPath, batchId, cache, rejects)
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          graft.operators.AnnIvf.compactIndex(batch.sparkSession, indexPath, effectiveRetain)
      }
      .start()
  }

  case class DocArrival(doc_id: Long, source: String)
  case class QuotaState(admitted: Long)
  case class QuotaVerdict(doc_id: Long, source: String, admitted: Boolean)

  /** Streaming per-domain admission quota — the live-crawl twin of the
    * batch domain cap (d20): admit the FIRST `quota` documents per
    * source, reject the rest, the frontier-budget semantic a crawler
    * applies while fetching (the batch cap ranks retrospectively; a live
    * feed must decide at arrival). State per source is ONE long (the
    * admitted count) — bounded by domain cardinality, independent of
    * stream length or corpus size; compare sessionize, whose state the
    * watermark bounds instead.
    *
    * Determinism: a micro-batch's group iterator carries no ordering
    * guarantee, so arrivals are ordered by doc_id within (source, batch)
    * before the quota is applied — replaying a batch admits the same
    * docs. The per-group sort buffers one source's arrivals WITHIN one
    * micro-batch (batch-bounded, not stream-bounded). Across batches the
    * verdict is arrival-order by construction, exactly the crawl
    * semantic. */
  def domainQuotaStream(
      spark: SparkSession,
      docs: org.apache.spark.sql.Dataset[DocArrival],
      quota: Int
  ): org.apache.spark.sql.Dataset[QuotaVerdict] = {
    import spark.implicits._
    docs
      .groupByKey(_.source)
      .flatMapGroupsWithState[QuotaState, QuotaVerdict](
        OutputMode.Append,
        GroupStateTimeout.NoTimeout
      ) { (src: String, batch: Iterator[DocArrival], state: GroupState[QuotaState]) =>
        var n = state.getOption.map(_.admitted).getOrElse(0L)
        val out = batch.toSeq.sortBy(_.doc_id).map { d =>
          val ok = n < quota
          if (ok) n += 1
          QuotaVerdict(d.doc_id, src, ok)
        }
        state.update(QuotaState(n))
        out.iterator
      }
  }
}
