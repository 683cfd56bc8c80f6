package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** As-of join: for each left row, attach the latest right row whose time is
  * <= the left row's time, per join key.
  *
  * Implemented as the union + ordered-window "last carried value" trick
  * rather than an inequality join: an inequality join materializes
  * O(left x right-per-key) intermediate rows before picking one winner,
  * which at 100 TB is a catastrophic shuffle; the union formulation is a
  * single hash shuffle on the key plus one sort within partitions —
  * the same cost profile as a sort-merge join, and AQE-skew-splittable.
  *
  * Tie semantics: right rows at exactly the left row's time DO match
  * (at-or-before); among right rows sharing the max time, the one with the
  * greatest non-null `rightTieBreak` wins (NULL tiebreaks lose to any
  * non-null one — the same preference as ORDER BY tb DESC NULLS LAST).
  *
  * The payload travels as ONE struct column, so the carried values always
  * come from a single right row — carrying columns independently would
  * let a NULL in one payload column mix values across right rows.
  *
  * NULL time semantics (matching SQL `r.t <= l.t`, where NULL compares
  * false): right rows with a NULL time never match and are filtered out
  * before the union; left rows with a NULL time match nothing (their
  * payload columns come back NULL) — they sort before every timed row in
  * the window, so no right payload can be carried into them.
  *
  * Tolerance (`toleranceSeconds`, pandas merge_asof's knob): when set,
  * a carried match farther than the window from the left time has its
  * payload nulled — correct because the carried row is the NEAREST
  * admissible match, so if it is outside the window every match is.
  * Timestamp columns compare in integral epoch MICROSECONDS (exact even
  * at a sub-second boundary — a double-seconds compare could flip the
  * inclusive <= on a gap landing exactly on the tolerance); numeric time
  * columns in their own units. Left rows always survive (no-match is an
  * answer).
  *
  * NULL key semantics (matching SQL `l.key = r.key`, where NULL = NULL is
  * not true): right rows with a NULL key never match anything and are
  * filtered out with the NULL-time rows; left rows with a NULL key come
  * back with NULL payload. Without the filter, Window.partitionBy groups
  * all NULL keys into ONE partition and a NULL-key left row would carry a
  * NULL-key right row's payload — a silent deviation from the equi-join
  * semantics the oracle twins (q23/q40) express.
  */
object AsOfJoin {
  def latestAtOrBefore(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTime: String,
      rightTime: String,
      rightTieBreak: String,
      payload: Seq[String],
      toleranceSeconds: Option[Long] = None
  ): DataFrame =
    joinDirectional(left, right, leftKey, rightKey, leftTime, rightTime,
      rightTieBreak, payload, backward = true, toleranceSeconds)

  /** Forward twin: for each left row, the EARLIEST right row whose time is
    * >= the left row's time, per key (the "next event" lookup). Same tie
    * semantics: among right rows at the earliest time, the greatest
    * non-null tiebreak wins; NULL-time rows on either side match nothing.
    * Same cost shape: one union, one hash shuffle on the key, one sort. */
  def earliestAtOrAfter(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTime: String,
      rightTime: String,
      rightTieBreak: String,
      payload: Seq[String],
      toleranceSeconds: Option[Long] = None
  ): DataFrame =
    joinDirectional(left, right, leftKey, rightKey, leftTime, rightTime,
      rightTieBreak, payload, backward = false, toleranceSeconds)

  private def joinDirectional(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTime: String,
      rightTime: String,
      rightTieBreak: String,
      payload: Seq[String],
      backward: Boolean,
      toleranceSeconds: Option[Long]
  ): DataFrame = {
    val leftCols = left.columns.toSeq
    val tbType = right.schema(rightTieBreak).dataType
    val lStructType = StructType(leftCols.map(left.schema(_)))
    val pStructType = StructType(payload.map(right.schema(_)))

    // Under a tolerance, the winning right row's own time rides inside the
    // carried struct (as __rt) so the gap test reads the SAME row the
    // payload came from — testing against any separately-carried time
    // could mix rows the way independent payload columns would.
    // Gap-unit conversion. Temporal columns (NTZ routes through
    // TIMESTAMP first — session-UTC; any zone offset cancels in the gap
    // difference) compare in INTEGRAL epoch microseconds (unix_micros),
    // never double seconds: a microsecond fraction is not exactly
    // representable in a binary double, so a gap landing exactly on the
    // tolerance boundary could flip the inclusive <= against exact
    // timestamp-interval arithmetic. Numeric time columns compare as
    // doubles in their own units (tolerance is then in those units).
    def isTemporal(dt: org.apache.spark.sql.types.DataType): Boolean =
      dt match {
        case org.apache.spark.sql.types.TimestampNTZType |
            org.apache.spark.sql.types.TimestampType |
            org.apache.spark.sql.types.DateType => true
        case _ => false
      }
    val temporalGap = isTemporal(left.schema(leftTime).dataType) &&
      isTemporal(right.schema(rightTime).dataType)
    def asGapUnits(c: org.apache.spark.sql.Column,
        dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column =
      if (isTemporal(dt))
        if (temporalGap) unix_micros(c.cast("timestamp"))
        else c.cast("timestamp").cast("double")
      else c.cast("double")
    val rtType = if (temporalGap) "bigint" else "double"
    val pCols =
      if (toleranceSeconds.isEmpty) payload.map(col)
      else payload.map(col) :+
        asGapUnits(col(rightTime), right.schema(rightTime).dataType).as("__rt")
    val pType =
      if (toleranceSeconds.isEmpty) pStructType
      else pStructType.add("__rt", rtType)

    val l = left.select(
      col(leftKey).as("__key"),
      col(leftTime).as("__t"),
      lit(1).as("__tag"),
      lit(null).cast(tbType).as("__tb"),
      struct(leftCols.map(col): _*).as("__l"),
      lit(null).cast(pType).as("__p")
    )
    val r = right.filter(col(rightTime).isNotNull && col(rightKey).isNotNull).select(
      col(rightKey).as("__key"),
      col(rightTime).as("__t"),
      lit(0).as("__tag"),
      col(rightTieBreak).as("__tb"),
      lit(null).cast(lStructType).as("__l"),
      struct(pCols: _*).as("__p")
    )

    // Right rows sort before left rows at equal time (inclusive match);
    // among equal-time right rows, NULL tiebreaks first (losing) and the
    // max tiebreak last (winning — it is the row `last` carries).
    // NULLS FIRST on __t puts NULL-time LEFT rows (right NULLs are already
    // filtered) before every timed row: they carry no payload, matching
    // SQL's NULL-comparison semantics. The forward variant is the same
    // window over the REVERSED time axis: descending time puts later rows
    // first, so "last carried value" becomes the earliest at-or-after.
    val tOrder = if (backward) col("__t").asc_nulls_first else col("__t").desc_nulls_first
    val w = Window
      .partitionBy("__key")
      .orderBy(tOrder, col("__tag").asc, col("__tb").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    // Tolerance gate (pandas merge_asof semantics): the carried row is
    // the nearest at-or-before (resp. at-or-after) match; if even the
    // nearest lies outside the window, NO match lies inside it (any
    // other candidate is strictly farther), so nulling the payload is
    // exactly "latest within tolerance". Left rows always survive.
    // Timestamps compare in integral epoch microseconds (exact at the
    // boundary); numeric time columns compare in their own units.
    def gated(p: String): org.apache.spark.sql.Column = toleranceSeconds match {
      case None => col(s"__pc.$p")
      case Some(tol) =>
        val lt = asGapUnits(col("__t"), left.schema(leftTime).dataType)
        val gap = if (backward) lt - col("__pc.__rt") else col("__pc.__rt") - lt
        val bound =
          if (temporalGap) lit(tol * 1000000L) else lit(tol.toDouble)
        when(col("__pc").isNotNull && gap <= bound, col(s"__pc.$p"))
      }

    l.unionByName(r)
      .withColumn("__pc", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .select(
        leftCols.map(c => col(s"__l.$c").as(c)) ++
          payload.map(p => gated(p).as(p)): _*
      )
  }
}
