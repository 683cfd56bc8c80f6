package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the Z-order layout (q44) end-to-end: the gated query proves the
  * zone-map MATH cross-engine; this spec proves (1) the Morton interleave
  * itself against a plain-Scala reference (bit placement + bijectivity),
  * and (2) the PHYSICAL claim — files written in z-bucket order carry
  * per-file min/max zone maps that are tight on BOTH predicate dimensions,
  * so a reader prunes on either column, where a linear (single-key) layout
  * prunes on one and must open every file for the other. */
class LayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("morton8 matches the reference interleave and is bijective on the grid") {
    import spark.implicits._
    def ref(x: Int, y: Int): Long =
      (0 to 7).map { i =>
        (((x >> i) & 1).toLong << (2 * i)) | (((y >> i) & 1).toLong << (2 * i + 1))
      }.sum
    // 64x64 corner-to-corner sample of the 8-bit grid (both parities of
    // every bit position exercised via the 0..63 and 192..255 bands)
    val pts = (for { x <- (0 until 64) ++ (192 until 256); y <- 0 until 32 } yield (x, y))
    val got = pts.toDF("x", "y")
      .withColumn("z", graft.queries.Relational.morton8(col("x"), col("y")))
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getAs[Number]("z").longValue()))
    for (((x, y), z) <- got)
      assert(z == ref(x, y), s"morton8($x,$y)=$z, reference says ${ref(x, y)}")
    assert(got.map(_._2).distinct.length == pts.length, "interleave is not injective")
    Hygiene.release(spark)
  }

  /** Per-file (min,max) of a column over a written layout. */
  private def zoneMaps(dir: String, c: String): Seq[(Long, Long)] =
    spark.read.parquet(dir)
      .groupBy(input_file_name())
      .agg(min(col(c)).cast("long").as("lo"), max(col(c)).cast("long").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq

  private def overlapping(maps: Seq[(Long, Long)], lo: Long, hi: Long): Int =
    maps.count { case (mn, mx) => mn <= hi && mx >= lo }

  test("z-bucket files prune on BOTH dimensions; a linear layout only on its sort key") {
    // x/y chosen to SPREAD at the test tier: sf0.001 has only 10
    // suppliers, so q44's l_suppkey dimension would collapse to one
    // cell here — orderkey covers the full 8-bit range
    val base = Tables.lineitem(spark, TestSpark.sf0001)
      .select(
        col("l_partkey").bitwiseAND(255).as("x"),
        col("l_orderkey").bitwiseAND(255).as("y"))

    val tmp = java.nio.file.Files.createTempDirectory("graft-layout").toString
    // the real write q44 plans for: one range shuffle on z, z-sorted rows,
    // bucket = top interleaved byte as the file boundary
    graft.sources.Io.writeZOrdered(base, s"$tmp/zorder", "x", "y")
    // the linear strawman: same file count, single sort key x
    base.repartitionByRange(16, col("x"), col("y"))
      .sortWithinPartitions(col("x"), col("y"))
      .write.parquet(s"$tmp/linear")

    // both-dimension alignment on disk: every z file's span stays inside
    // one high-2-bit cell of x AND of y (the q44 verdict, now physical)
    val zx = zoneMaps(s"$tmp/zorder", "x")
    val zy = zoneMaps(s"$tmp/zorder", "y")
    for ((lo, hi) <- zx) assert((lo >> 6) == (hi >> 6), s"x span [$lo,$hi] crosses a cell")
    for ((lo, hi) <- zy) assert((lo >> 6) == (hi >> 6), s"y span [$lo,$hi] crosses a cell")

    // zone-map pruning: fix the high 2 bits of each dimension in turn
    val lx = zoneMaps(s"$tmp/linear", "x")
    val ly = zoneMaps(s"$tmp/linear", "y")
    val zXHit = overlapping(zx, 64, 127)
    val zYHit = overlapping(zy, 128, 191)
    val lXHit = overlapping(lx, 64, 127)
    val lYHit = overlapping(ly, 128, 191)
    // z-order: both predicates open at most a quarter of the files
    assert(zXHit * 4 <= zx.length, s"x predicate opens $zXHit of ${zx.length} z files")
    assert(zYHit * 4 <= zy.length, s"y predicate opens $zYHit of ${zy.length} z files")
    // linear: the sort key prunes, the other dimension opens ~everything
    assert(lXHit * 2 <= lx.length, s"linear layout should prune on its own key")
    assert(lYHit == ly.length, s"linear y predicate opened $lYHit of ${ly.length} — " +
      "expected every file (full y span per x-sorted file)")
    assert(zYHit * 2 <= lYHit, "z-order did not beat linear on the non-sort dimension")
    Hygiene.release(spark)
  }
}
