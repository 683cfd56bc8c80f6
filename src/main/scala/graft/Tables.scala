package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated star schema (TESTDATA.md).
  *
  * Every table is read with its declared schema: without one, Spark infers
  * it with a one-task job that reads a footer, and that job ran on every
  * read, i.e. at the start of every query. The declared schemas are
  * exactly what inference gives on every scale factor (`TablesSpec`).
  *
  * `events.ts` is a microsecond `timestamp` without a time zone in the
  * TESTDATA files, read as TIMESTAMP_NTZ. A TIMESTAMP(NANOS) column
  * reads as a long under nanosAsLong; [[events]] converts that to a
  * microsecond TimestampType column by exact integer division, since a
  * double division would lose precision above 2^53 ns (~1970+104 days).
  */
object Tables {
  private[graft] val schemas: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, " +
      "p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, " +
      "o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE, " +
      "props STRING")
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `documents` contract: `doc_id` is UNIQUE (one row per document).
    * Per-row kernels (d04's SimHash projection, t01-t05 text stats) and
    * their GROUP BY doc_id oracle twins are only equivalent under this
    * invariant; `QueriesSmokeSpec` asserts it against the testdata. A
    * corpus with duplicate doc_id rows must be deduplicated upstream
    * (d01 exact dedup is the tool) before these operators apply. */
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** events with `ts` as a proper TimestampType (µs), whatever the file had. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // FLOOR division, not `div`: div truncates toward zero, so a
        // pre-1970 nanosecond timestamp would round UP a microsecond —
        // e.g. -500 ns must floor to -1 us, not 0 (the boundary a
        // `<= ts` comparison flips on). pmod is non-negative, making
        // (ts - pmod) an exact long floor.
        raw.withColumn("ts", timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
      case _ => raw
    }
  }
}
