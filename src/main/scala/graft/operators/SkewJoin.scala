package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Salted join for pathologically skewed keys.
  *
  * AQE's skew-join splitting (enabled in GraftSession) handles most skew
  * at runtime; explicit salting remains the tool when one key dominates so
  * hard that even split partitions bottleneck a single join key's
  * build side. Semantics: inner equi-join, identical results to
  * `left.join(right, keys)` — verified by SkewJoinSpec.
  *
  * Mechanics: the left (large, skewed) side gets a DETERMINISTIC salt in
  * [0, n): a content hash over all columns mixed with the source
  * partition id. Determinism matters for fault tolerance: a salt from a
  * nondeterministic source (e.g. monotonically_increasing_id) changes on
  * task re-execution after a shuffle fetch failure, routing re-computed
  * rows to different reducers than the first attempt — rows join twice
  * or never. Content+partition hashing is stable across retries
  * (partition MEMBERSHIP is deterministic even when fetch order is not)
  * and spreads fully identical hot-key rows across buckets as long as
  * they span source partitions — the shape exact-duplicate skew takes at
  * scale. Residual: identical rows inside ONE source partition share a
  * salt; AQE skew-split still applies to that remainder. The right side
  * is replicated n times, one copy per salt value; the join key becomes
  * (key, salt), spreading each hot key over n reducers at the cost of
  * n-times replication of the (small) right side.
  */
object SkewJoin {
  def saltedInnerJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      saltBuckets: Int = 8
  ): DataFrame = {
    require(saltBuckets > 0)
    require(
      !left.columns.contains("__salt") && !right.columns.contains("__salt"),
      "saltedInnerJoin reserves the __salt column name"
    )
    val allCols = left.columns.toIndexedSeq.map(col)
    val saltedLeft = left.withColumn(
      "__salt",
      pmod(
        xxhash64((allCols :+ spark_partition_id().cast("long")): _*),
        lit(saltBuckets.toLong)
      ).cast("int")
    )
    val saltedRight = right
      .withColumn("__salt", explode(array((0 until saltBuckets).map(lit): _*)))
    saltedLeft
      .join(saltedRight, Seq(key, "__salt"))
      .drop("__salt")
  }
}
