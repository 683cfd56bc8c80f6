package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a warm rerun of more distinct generated classes than Spark's default cache holds compiles nothing") {
    // Spark's generated-class cache is JVM-wide and sized once, at first
    // use, from the session's static conf; the session must carry the
    // engine's size for it to take effect
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    // each projection inlines its own literal, so each plan generates
    // classes no other plan shares; 150 plans overflow the default
    // 100-entry cache, which an LRU cycle over them would miss on every
    // access
    val plans = (1 to 150).map(i => spark.range(3).selectExpr(s"id * 7919 + ${9_100_000 + i} AS v"))
    def compiles(): Long = {
      val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      plans.zipWithIndex.foreach { case (df, i) =>
        val got = df.collect().map(_.getLong(0)).toSeq
        assert(got == (0 until 3).map(id => id * 7919L + 9_100_001 + i))
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0
    }
    val cold = compiles()
    assert(cold > 100, s"the cold pass compiled $cold classes; it must overflow the default cache")
    val warm = compiles()
    assert(warm == 0, s"the warm rerun recompiled $warm of the $cold classes the cold pass compiled")
  }
}
