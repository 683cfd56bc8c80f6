package perfbench

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.{Graft, Hygiene, Tables}
import graft.streaming.EventStream

/** The engine writing beside reading, with state.
  *
  * Set-up (counted in `setup_s`): a seeded half of `documents` becomes a
  * persisted dedup index; the other half is cut into equal slices in a
  * seeded order, and
  * `events` into time-ordered slices with seeded boundaries. Every slice
  * is written before timing starts, so landing one is an atomic rename.
  *
  * Measured, closed loop (land one slice, then `processAllAvailable`):
  *  - `ingest`: `EventStream.ingestGuard` — each batch reads the index,
  *    writes verdicts and appends admitted documents to the index;
  *  - `hourly`: `EventStream.hourlyStats` into a parquet sink — state-store
  *    bound.
  * Slice 0 of each stream starts the query (the file source needs a file
  * to read its schema from): the two starts are reported as `cold_s`. The
  * other batches of both streams make `warm_s`, the ingest batches
  * `latency_ms`. */
final class StreamWorkload(ctx: Ctx) extends Workload {
  import ctx._

  private val docSlices = if (tiny) 3 else 6
  private val eventSlices = if (tiny) 4 else 5
  private val base = s"$runDir/stream"
  private val idx = s"$base/index"
  private val verdicts = s"$base/verdicts"
  private val hourlyOut = s"$base/hourly-out"
  private val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
  private def docs = Tables.documents(spark, dataDir).select("doc_id", "text")

  private var ingestRows = Seq.empty[Long] // docs per measured slice
  private var eventRows = Seq.empty[Long]
  private var indexRows0 = 0L
  private var indexIds = Seq.empty[Long]
  private var sliceOf = Seq.empty[(Long, Int)] // (doc_id, slice) of every arriving document
  private var ingestWall = Seq.empty[Double] // ms per measured batch
  private var hourlyWall = Seq.empty[Double]
  private var startMs = 0.0 // both queries' start: slice 0 read and processed
  private var ingestQ: StreamingQuery = _
  private var hourlyQ: StreamingQuery = _
  private var filesBefore = 0L
  /** Windows ending at or before this (epoch s) are closed by the
    * watermark the last batch runs under, so must have been emitted. */
  private var closedBy = 0.0

  override def prepare(): Unit = {
    // a seeded order of the documents: the first half becomes the index,
    // the rest arrives in equal slices, so batch cost does not vary with
    // how a seed happens to split them
    val all = new scala.util.Random(seed).shuffle(docs.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    val (first, arrivals) = all.splitAt(all.size / 2)
    indexIds = first
    val (hash, bands) = Graft.dedupIndex(docs.filter(col("doc_id").isin(indexIds: _*)))
    Graft.dedupIndexSave(hash, bands, idx)
    indexRows0 = Graft.dedupIndexLoad(spark, idx)._1.count()
    sliceOf = arrivals.zipWithIndex.map { case (id, i) => (id, i * docSlices / arrivals.size) }
    ingestRows = counts(sliceOf.map(_._2), docSlices)
    import spark.implicits._
    stage(docs.join(sliceOf.toDF("doc_id", "slice"), "doc_id"), s"$base/stage-docs")

    // time-ordered slices of equal size; the seed shifts every cut by up to
    // a quarter slice, which only resizes the first and the last slice
    val ev = Tables.events(spark, dataDir).withColumn("ts", col("ts").cast("timestamp"))
    val ts = ev.select(col("ts").cast("double")).collect().map(_.getDouble(0)).sorted
    val per = ts.length / eventSlices
    val shift = ((new scala.util.Random(seed).nextDouble() - 0.5) * per / 2).toInt
    val cuts = (1 until eventSlices).map(i => ts(i * per + shift))
    closedBy = ts.filter(_ < cuts.last).max - 2 * 3600
    val eventSlice = cuts.zipWithIndex.foldLeft(lit(0)) { case (acc, (c, i)) =>
      when(col("ts").cast("double") >= c, lit(i + 1)).otherwise(acc)
    }
    stage(ev.withColumn("slice", eventSlice), s"$base/stage-events")
    eventRows = counts(ts.toSeq.map(t => cuts.count(_ <= t)), eventSlices)
    Hygiene.release(spark)
  }

  private def counts(slices: Seq[Int], n: Int): Seq[Long] = {
    val m = slices.groupBy(identity).view.mapValues(_.size.toLong).toMap
    (0 until n).map(i => m.getOrElse(i, 0L))
  }

  /** Write every slice in one job, one directory per slice. */
  private def stage(df: DataFrame, dir: String): Unit =
    df.repartition(1, col("slice")).write.partitionBy("slice").parquet(dir)

  /** Move slice `i`'s files into the landing directory: one rename each. */
  private def land(stageDir: String, landing: String, i: Int): Unit = {
    val src = new Path(s"$stageDir/slice=$i")
    if (fs.exists(src))
      fs.listStatus(src).filter(_.getPath.getName.endsWith(".parquet")).foreach { st =>
        fs.rename(st.getPath, new Path(landing, s"slice$i-${st.getPath.getName}")): Unit
      }
  }

  /** Land slice 0, start the query and wait until it has processed the
    * slice (the time this took adds to `startMs`); then for each further
    * slice: land, wait until the query has read every landed row, record
    * the wall time. (`processAllAvailable` alone can return on a trigger
    * that listed the directory just before the rename.) */
  private def drive(name: String, stageDir: String, rows: Seq[Long],
      start: String => StreamingQuery): (StreamingQuery, Seq[Double]) = {
    val landing = s"$base/$name-landing"
    fs.mkdirs(new Path(landing))
    land(stageDir, landing, 0)
    trace.within("phase", name) {
      val t0 = System.nanoTime()
      val q = start(landing)
      def settle(want: Long): Unit = {
        q.processAllAvailable()
        while (q.recentProgress.map(_.numInputRows).sum < want) {
          Thread.sleep(1)
          q.processAllAvailable()
        }
      }
      settle(rows.head)
      startMs += (System.nanoTime() - t0) / 1e6
      val walls = rows.indices.drop(1).map { i =>
        val t = System.nanoTime()
        trace.within("call", s"EventStream.$name") {
          land(stageDir, landing, i)
          settle(rows.take(i + 1).sum)
        }
        (System.nanoTime() - t) / 1e6
      }
      (q, walls)
    }
  }

  def measure(): Unit = {
    filesBefore = countFiles(Seq(idx, verdicts))
    val (iq, iw) = drive("ingest", s"$base/stage-docs", ingestRows, landing =>
      EventStream.ingestGuard(EventStream.readDocuments(spark, landing), idx, verdicts,
        s"$base/ingest-ck"))
    ingestQ = iq; ingestWall = iw
    iq.stop()
    val (hq, hw) = drive("hourly", s"$base/stage-events", eventRows, landing =>
      EventStream.sinkParquet(EventStream.hourlyStats(EventStream.readEvents(spark, landing)),
        hourlyOut, s"$base/hourly-ck"))
    hourlyQ = hq; hourlyWall = hw
    hq.stop()

    // rates are medians over batches, like the latencies: one batch that a
    // host hiccup stretched must not move the figure
    def rate(rows: Seq[Long], walls: Seq[Double]) =
      Stats.median(rows.drop(1).zip(walls).map { case (n, ms) => n / (ms / 1e3) })
    report.metric("cold_s", startMs / 1e3, "s")
    report.metric("warm_s", (ingestWall.sum + hourlyWall.sum) / 1e3, "s")
    report.metric("latency_ms", Stats.median(ingestWall), "ms")
    report.metric("ingest_docs_per_s", rate(ingestRows, ingestWall), "1/s")
    report.metric("hourly_events_per_s", rate(eventRows, hourlyWall), "1/s")
    report.metric("hourly_batch_ms_p50", Stats.median(hourlyWall), "ms")
    report.metric("hourly_batch_ms_p75", Stats.pct(hourlyWall, 75), "ms")
    report.note("ingest_batch_ms", ingestWall.map(w => f"$w%.0f").mkString(" "))
    report.note("hourly_batch_ms", hourlyWall.map(w => f"$w%.0f").mkString(" "))
    verify()
  }

  /** Every arrived document gets exactly one verdict, and it is the one
    * the batch path (`Graft.dedupIndex` + `Graft.incrementalDedup`) gives
    * its slice against the initial documents plus every document admitted
    * before; the index grows by exactly the admitted ones. Every emitted
    * hourly row equals the batch aggregate of the same window, and every
    * window the final watermark has closed is emitted. */
  private def verify(): Unit = {
    val t0 = System.nanoTime()
    val verdictRows = spark.read.parquet(verdicts).select("doc_id", "dup_exact", "dup_near", "keep")
      .collect().map(r => (r.getLong(0), (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))))
    val verdict = verdictRows.toMap
    report.check("ingest verdicts", verdictRows.length == verdict.size && verdict.keySet == sliceOf.map(_._1).toSet,
      s"${verdictRows.length} verdicts (${verdict.size} distinct) for ${sliceOf.size} documents")

    // each slice is replayed against the initial documents plus those the
    // stream admitted from earlier slices: the first slice that went wrong
    // is then replayed against an index its predecessors got right, so the
    // slices are independent and replay concurrently
    val bySlice = sliceOf.groupBy(_._2).toSeq.sortBy(_._1).map(_._2.map(_._1))
    val indexedBefore = bySlice.scanLeft(indexIds)((acc, ids) => acc ++ ids.filter(id => verdict.get(id).exists(_._3)))
    val replays = bySlice.zip(indexedBefore).map { case (ids, indexed) =>
      Future {
        val (h, b) = Graft.dedupIndex(docs.filter(col("doc_id").isin(indexed: _*)))
        Graft.incrementalDedup(docs.filter(col("doc_id").isin(ids: _*)), h, b)
          .collect().map(r => r.getAs[Long]("doc_id") ->
            ((r.getAs[Boolean]("dup_exact"), r.getAs[Boolean]("dup_near"), r.getAs[Boolean]("keep")))).toMap
      }
    }
    bySlice.zip(Await.result(Future.sequence(replays), Duration.Inf)).zipWithIndex.foreach {
      case ((ids, want), i) =>
        val wrong = ids.filterNot(id => verdict.get(id) == want.get(id))
        report.check(s"ingest slice $i verdicts", wrong.isEmpty,
          s"${wrong.size} differ from the batch replay: " +
            wrong.take(3).map(id => s"$id ${verdict.get(id)} vs ${want.get(id)}").mkString(", "))
    }
    val admitted = verdictRows.count(_._2._3)
    val indexRows = Graft.dedupIndexLoad(spark, idx)._1.count()
    report.check("ingest index", indexRows == indexRows0 + admitted,
      s"index $indexRows rows, want $indexRows0 + $admitted")
    report.note("ingest_verdicts", s"${verdictRows.count(_._2._1)} exact, ${verdictRows.count(_._2._2)} near, $admitted kept")

    val landed = spark.read.parquet(s"$base/hourly-landing")
    val want = landed
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").cast("double").as("hour"), col("window.end").cast("double").as("end"),
        col("event_type"), col("n"), col("total"))
      .collect().map(r => (r.getDouble(0), r.getString(2)) -> r).toMap
    val got = spark.read.parquet(hourlyOut)
      .select(col("hour").cast("double"), col("event_type"), col("n"), col("total")).collect()
    val keys = got.map(r => (r.getDouble(0), r.getString(1)))
    // float sums are order-dependent: the streamed and batch totals may
    // differ in the last bits, so totals compare to 1e-9 relative
    def same(a: Row, b: Row) = a.getLong(2) == b.getLong(3) &&
      math.abs(a.getDouble(3) - b.getDouble(4)) <= 1e-9 * math.max(1.0, math.abs(b.getDouble(4)))
    val wrong = got.filterNot(r => want.get((r.getDouble(0), r.getString(1))).exists(same(r, _)))
    val missing = want.values.filter(_.getDouble(1) <= closedBy)
      .map(r => (r.getDouble(0), r.getString(2))).filterNot(keys.toSet)
    report.check("hourly output", keys.length == keys.toSet.size && wrong.isEmpty && missing.isEmpty,
      s"${got.length} rows, ${wrong.length} wrong (${wrong.take(3).mkString(" ")}), ${missing.size} closed windows missing")
    report.note("verify_s", f"${(System.nanoTime() - t0) / 1e9}%.1f")
  }

  private def countFiles(dirs: Seq[String]): Long = dirs.map { d =>
    val p = new Path(d)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
  }.sum

  private def calls(t: SparkTrace) = t.all.filter(_.layer == "call")

  def ops(t: SparkTrace): Seq[Span] = calls(t).filter(_.name == "EventStream.ingest")

  /** One warm pass: every measured batch of both streams. */
  def warmPasses(t: SparkTrace): Seq[Seq[Span]] = Seq(calls(t))

  def layers(t: SparkTrace): Unit = {
    def progressOf(q: StreamingQuery): Seq[StreamingQueryProgress] =
      t.progress.synchronized(t.progress.toSeq).filter(p => p.id == q.id && p.numInputRows > 0)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def dur(ps: Seq[StreamingQueryProgress], k: String) =
      med(ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val ingest = progressOf(ingestQ)
    val both = ingest ++ progressOf(hourlyQ)
    val hourly = progressOf(hourlyQ)

    val batches = ops(t)
    val n = math.max(1, batches.size).toDouble
    report.metric("EventStream.addBatch_ms", dur(ingest, "addBatch"), "ms")
    report.metric("EventStream.jobs_per_batch", batches.map(t.jobsOf(_).size).sum / n, "count")
    report.metric("EventStream.bytes_written_per_batch",
      batches.flatMap(t.stagesOf).map(_.get("output_bytes")).sum / n, "B")
    report.metric("EventStream.files_written_per_batch",
      (countFiles(Seq(idx, verdicts)) - filesBefore) / n, "count")
    report.metric("EventStream.index_rows", Graft.dedupIndexLoad(spark, idx)._1.count().toDouble, "count")
    Seq("walCommit", "commitOffsets", "queryPlanning", "latestOffset", "getBatch").foreach { k =>
      report.metric(s"EventStream.${k}_ms", dur(both, k), "ms")
    }
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      med(hourly.map(p => Option(p.stateOperators).toSeq.flatten.map(f).sum))
    report.metric("EventStream.state_rows", state(_.numRowsTotal.toDouble), "count")
    report.metric("EventStream.state_memory_bytes", state(_.memoryUsedBytes.toDouble), "B")
    report.metric("EventStream.state_commit_ms", state(_.commitTimeMs.toDouble), "ms")
  }
}
