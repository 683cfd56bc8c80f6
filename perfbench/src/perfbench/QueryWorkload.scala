package perfbench

import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.Hygiene
import graft.queries.Registry

/** The listed registered queries over the sf0.01 tables, in a
  * seed-permuted order: one cold pass (Catalyst, codegen, first scans) in
  * set-up, then warm passes (see [[measure]]). Each timed call is the query's
  * `Q.run` plus a `collect()` of the full result; the state release
  * between queries sits outside every timed region. Every result is
  * compared with the DuckDB-oracle reference rows. */
final class QueryWorkload(ctx: Ctx) extends Workload {
  import ctx._
  import QueryWorkload.Run

  private val order = new Random(seed).shuffle(Main.Queries)
  private val byName = Registry.all.filter(q => Main.Queries.contains(q.name)).map(q => q.name -> q).toMap

  private val warmMin = if (tiny) 1 else 2
  private var cold = Seq.empty[Run]
  private var warm = Vector.empty[Seq[Run]]

  private def runOne(name: String): Run = {
    val q = byName(name)
    val cg0 = CodeGenerator.compileTime
    val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    var tb = t0
    val got = try {
      Some(trace.within("call", s"queries.$name") {
        val df = q.run(spark, dataDir)
        tb = System.nanoTime()
        val rows = df.collect()
        (df, rows)
      })
    } catch { case e: Exception => report.fail(s"query $name", e); None }
    val t1 = System.nanoTime()
    val phases = got.map(_._1.queryExecution.tracker.phases.map { case (k, v) =>
      k -> v.durationMs.toDouble }).getOrElse(Map.empty)
    val cache = Hygiene.storageBytes(spark)
    val r0 = System.nanoTime()
    Hygiene.release(spark)
    val releaseNs = System.nanoTime() - r0
    Run(name, tb - t0, t1 - t0, got.map { case (df, rows) => Answer.of(df.schema, rows) },
      phases, CodeGenerator.compileTime - cg0,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0,
      got.map(_._2.length.toLong).getOrElse(0L), cache, releaseNs)
  }

  /** Let the garbage of the previous pass be collected and the JIT's queue
    * of methods it decided to compile drain, outside any timing: without
    * this the first warm queries pay for the cold pass. */
  private def settle(): Unit = {
    System.gc()
    Thread.sleep(500)
  }

  private def pass(label: String): Seq[Run] = trace.within("phase", label)(order.map(runOne))

  /** The cold pass (Catalyst, codegen, first scans) is part of set-up: it
    * brings the JVM to the state a long-lived driver runs in. Its time is
    * reported as `cold_s`. */
  override def prepare(): Unit = {
    cold = pass("cold")
    report.metric("cold_s", cold.map(_.wallNs).sum / 1e9, "s")
  }

  /** Warm passes until `--seconds` is used and at least `warmMin` ran.
    * `warm_s` sums each query's median warm time, so one query slowed in
    * one pass by the host does not move it. */
  def measure(): Unit = {
    val t0 = System.nanoTime()
    while (warm.size < warmMin || System.nanoTime() - t0 < seconds * 1e9) {
      settle()
      warm :+= pass(s"warm ${warm.size + 1}")
    }
    val perQuery = order.map(n => n -> Stats.median(warm.map(_.find(_.name == n).get.wallNs / 1e6)))
    report.metric("warm_s", perQuery.map(_._2).sum / 1e3, "s")
    // a typical query: the geometric mean gives each query the same weight
    report.metric("latency_ms", math.exp(perQuery.map(q => math.log(q._2)).sum / perQuery.size), "ms")
    report.note("warm_passes", warm.size)
    report.note("warm_pass_s", warm.map(p => f"${p.map(_.wallNs).sum / 1e9}%.3f").mkString(" "))
    report.note("per_query_cold_ms", cold.map(r => s"${r.name}=${(r.wallNs / 1e6).round}").mkString(" "))
    report.note("per_query_warm_ms", order.map(n =>
      s"$n=${warm.map(_.find(_.name == n).get.wallNs / 1000000).mkString("/")}").mkString(" "))
    verify()
  }

  /** Compare every timed result with the oracle's rows. Reading the
    * reference parquet runs after all timing, so it warms nothing. */
  private def verify(): Unit = {
    val ref = order.map { n =>
      val df = spark.read.parquet(s"$refDir/$n.parquet")
      n -> Answer.of(df.schema, df.collect())
    }.toMap
    (cold +: warm).zipWithIndex.foreach { case (runs, p) =>
      runs.foreach { r =>
        r.answer.foreach { a =>
          report.check(s"query ${r.name} pass $p", a == ref(r.name), a.diff(ref(r.name)))
        }
      }
    }
  }

  def warmPasses(t: SparkTrace): Seq[Seq[Span]] =
    t.all.filter(s => s.layer == "phase" && s.name.startsWith("warm"))
      .map(p => t.children(p).filter(_.layer == "call"))

  def ops(t: SparkTrace): Seq[Span] = warmPasses(t).flatten

  /** Cold-pass sums of the compile-side layers, and warm-pass guards
    * against state drift. */
  def layers(t: SparkTrace): Unit = {
    val ms = 1e6
    report.metric("queries.build_ms", cold.map(_.buildNs).sum / ms, "ms")
    Seq("analysis", "optimization", "planning").foreach { p =>
      report.metric(s"queries.${p}_ms", cold.map(_.phasesMs.getOrElse(p, 0.0)).sum, "ms")
    }
    report.metric("queries.codegen_ms", cold.map(_.codegenNs).sum / ms, "ms")
    report.metric("queries.codegen_classes", cold.map(_.codegenClasses).sum.toDouble, "count")
    def warmRuns(f: Run => Double) = Stats.median(warm.map(_.map(f).sum))
    report.metric("queries.result_rows", warmRuns(_.rows.toDouble), "count")
    report.metric("queries.cache_bytes", warmRuns(_.cacheBytes.toDouble), "B")
    report.metric("Hygiene.release_ms", warmRuns(_.releaseNs / ms), "ms")
  }
}

object QueryWorkload {
  /** One timed query call and what it cost, layer by layer. */
  final case class Run(name: String, buildNs: Long, wallNs: Long, answer: Option[Answer],
      phasesMs: Map[String, Double], codegenNs: Long, codegenClasses: Long, rows: Long,
      cacheBytes: Long, releaseNs: Long)
}

/** A result as the oracle compare sees it: column names sorted, each
  * column's type, each row rendered in that column order, rows sorted.
  * Types compare at the width `tools/compare.py` sees (an int32 column is
  * not an int64 one, nor a float64 one with the same values); values
  * compare exactly, numbers by value, timestamps by their UTC instant, so a
  * DuckDB-written reference and a Spark result meet on the same terms as
  * `tools/compare.py`. */
final case class Answer(cols: Seq[String], types: Seq[String], rows: Seq[String]) {
  def diff(o: Answer): String =
    if (cols != o.cols) s"columns ${cols.mkString(",")} vs ${o.cols.mkString(",")}"
    else if (types != o.types) s"types ${types.mkString(",")} vs ${o.types.mkString(",")}"
    else if (rows.size != o.rows.size) s"${rows.size} rows vs ${o.rows.size}"
    else rows.zip(o.rows).find(p => p._1 != p._2).map(p => s"row ${p._1} vs ${p._2}").getOrElse("")
}

object Answer {
  def of(schema: StructType, rows: Array[Row]): Answer = {
    val idx = schema.fieldNames.toSeq.zipWithIndex.sortBy(_._1).map(_._2)
    Answer(idx.map(schema.fieldNames(_)), idx.map(i => typeTag(schema.fields(i).dataType)),
      rows.map(r => idx.map(i => canon(r.get(i))).mkString("(", ", ", ")")).toSeq.sorted)
  }

  /** The column type as pandas names it after reading the parquet. */
  def typeTag(t: DataType): String = t match {
    case ByteType => "int8"
    case ShortType => "int16"
    case IntegerType => "int32"
    case LongType => "int64"
    case FloatType => "float32"
    case DoubleType => "float64"
    case _: DecimalType => "decimal"
    case other => other.simpleString
  }

  private def num(b: java.math.BigDecimal): String =
    if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString else num(new java.math.BigDecimal(d))
    case f: Float =>
      if (f.isNaN || f.isInfinite) f.toString else num(new java.math.BigDecimal(f.toDouble))
    case b: java.math.BigDecimal => num(b)
    case b: BigDecimal => num(b.bigDecimal)
    case n: java.lang.Number => n.longValue.toString
    case s: String => Json.str(s)
    case b: Boolean => b.toString
    case t: java.sql.Timestamp => s"ts:${Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000}"
    case t: java.time.Instant => s"ts:${t.getEpochSecond * 1000000L + t.getNano / 1000}"
    case t: java.time.LocalDateTime =>
      canon(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => s"date:${d.toLocalDate.toEpochDay}"
    case d: java.time.LocalDate => s"date:${d.toEpochDay}"
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString("0x", "", "")
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("{", ", ", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${canon(k)}: ${canon(x)}" }.sorted.mkString("map{", ", ", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ", ", "]")
    case other => other.toString
  }
}
