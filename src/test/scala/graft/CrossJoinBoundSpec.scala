package graft

import org.apache.spark.sql.catalyst.expressions.{Attribute, BinaryComparison, EqualTo, Expression, In, InSet, Literal, Md5, Substring}
import org.apache.spark.sql.execution.{FilterExec, LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.scalatest.funsuite.AnyFunSuite

/** THE GLOBAL NEGATIVE CARTESIAN PIN — the crossJoin twin of
  * WindowBoundSpec: no registered query's physical plan may contain a
  * BroadcastNestedLoopJoin or CartesianProduct whose replicated side is
  * not PROVABLY metadata-sized.
  *
  * The shape this kills: `corpus.crossJoin(otherCorpus)` — a pairwise
  * compare that scales as N·M, the all-pairs trap every dedup/ANN path
  * here exists to avoid (LSH bands, SimHash buckets, IVF probes,
  * triangle blocking). Today's crossJoin sites are all verdict-style
  * gates (a single-row aggregate broadcast onto per-row output) or
  * literal block-pair frames; this suite walks EVERY registered query
  * (crossing AQE and cached-relation boundaries) and asserts the
  * pattern cannot re-enter data-sized through a future query.
  *
  * A non-equi join side is BOUNDED when, after stripping row-preserving
  * wrappers (project/filter/sort/exchange/codegen), its defining node is:
  *
  *  (a) a GLOBAL AGGREGATE (no grouping keys — exactly one row): the
  *      verdict gates (recall_ok, objective_ok, thresholds);
  *  (b) a METADATA-KEYED AGGREGATE: grouping keys drawn from the same
  *      metadata-key set WindowBoundSpec case (d) allows (pid/bucket) —
  *      ≤ numParts/nBuckets rows (d14's per-bucket floor verdicts);
  *  (c) a LIMIT (Limit / TakeOrderedAndProject / CollectLimit): ≤ k rows
  *      (candidate shortlists);
  *  (d) a LITERAL LocalTableScan: driver-side constant frames (block
  *      pairs, probe tables) — these cannot scale with the corpus
  *      without a data-sized collect, which PlanAuditSpec forbids
  *      separately;
  *  (e) a JOIN of two bounded sides (bounded × bounded stays bounded:
  *      the n_exact × n_detected gate product);
  *  (f) a QUERY-SET FILTER: a Filter whose condition pins an
  *      allowlisted id column to LITERALS (`vec_id < 10`, `= 0`,
  *      `IN (0,1,2)`) — the broadcast ANN query batch, sized by the
  *      request, never the corpus (e01/e11/e16/e17/t17's pattern);
  *  (g) the EVAL-SPLIT FILTER: a Filter pinning the d12/d13 split tag
  *      — substring(md5(...), 1, ≤2) — by nibble EQUALITY or a
  *      ≤ 4-literal membership list, i.e. a few fixed slices of a
  *      deterministic ≤ 256-way partition. Eval sets are bounded BY
  *      CONSTRUCTION (~10^3-10^5 while corpora are 10^9+); the md5
  *      nibble is the test-tier stand-in for that external set, and
  *      d12's scaladoc names the IVF-probe scale path for when an
  *      eval set outgrows a broadcast. A generic corpus-proportional
  *      predicate (`quality > 0.5`, `vec_id % 2 = 0`, and — tightened
  *      this round — a RANGE over the tag like `md5(x) > 'a'`, half
  *      the corpus) matches NEITHER shape and is flagged.
  *
  * A new query that genuinely needs a new bounded shape must extend the
  * contract HERE, with the justification in this scaladoc — the review
  * step is the point of the pin.
  */
class CrossJoinBoundSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Metadata grouping keys (WindowBoundSpec case (d)'s set). */
  private val metadataKeys = Set("pid", "bucket")

  /** Strip row-preserving wrappers down to the node that determines the
    * side's row count. Wrappers never increase rows; stopping at the
    * first non-wrapper (Filter included — its condition carries the
    * case (f)/(g) evidence) keeps the proof local and reviewable. */
  @scala.annotation.tailrec
  private def defining(p: SparkPlan): SparkPlan = {
    val cls = p.getClass.getSimpleName
    val rowPreserving =
      cls.startsWith("Project") ||
        cls.startsWith("Sort") || cls.contains("Exchange") ||
        cls.startsWith("AQEShuffleRead") || cls.startsWith("ColumnarToRow") ||
        cls.startsWith("InputAdapter") || cls.startsWith("WholeStageCodegen") ||
        cls.startsWith("Coalesce") || cls.startsWith("Union") && p.children.size == 1
    p match {
      case a: AdaptiveSparkPlanExec => defining(a.executedPlan)
      case c: InMemoryTableScanExec => defining(c.relation.cachedPlan)
      case _ if rowPreserving && p.children.size == 1 => defining(p.children.head)
      case _ => p
    }
  }

  /** Allowlisted id columns a query-set filter may pin (case (f)). */
  private val queryIdCols = Set("vec_id")

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other                                               => Seq(other)
  }

  /** The d12/d13 eval-split TAG exactly: substring(md5(...), 1, len ≤ 2)
    * — a ≤ 256-way deterministic partition of the corpus, of which the
    * literal set then picks a few slices. Anything looser is refused:
    * `md5(x) > 'a'` selects a corpus-proportional HALF and must not
    * pass the pin this suite exists to enforce. */
  private def isSplitTag(e: Expression): Boolean = e match {
    case Substring(inner, Literal(pos: Int, _), Literal(len: Int, _)) =>
      pos == 1 && len <= 2 && inner.exists(_.isInstanceOf[Md5])
    case _ => false
  }

  /** Case (f)/(g): does this filter condition contain a conjunct that
    * pins a query-set? Qualifying conjunct shapes (ANY one suffices —
    * extra conjuncts only shrink the side further):
    *  (f) allowlisted id column vs literal(s), ANY comparison shape —
    *      the batch is sized by the request (`vec_id < 10`, `= 0`,
    *      `IN (0,1,2)`);
    *  (g) the eval-split tag under nibble EQUALITY or a ≤ 4-literal
    *      membership list (≤ 4/16 of one nibble's slices). Range
    *      comparisons over the tag (`< '8'` = half the corpus) and
    *      md5 anywhere else do NOT qualify. */
  private def isQuerySetFilter(cond: Expression): Boolean = {
    def isQueryId(e: Expression): Boolean = e match {
      case a: Attribute => queryIdCols.contains(a.name)
      case _            => false
    }
    conjuncts(cond).exists {
      case EqualTo(l, r) =>
        (l.isInstanceOf[Literal] && (isQueryId(r) || isSplitTag(r))) ||
          (r.isInstanceOf[Literal] && (isQueryId(l) || isSplitTag(l)))
      case b: BinaryComparison =>
        (b.left.isInstanceOf[Literal] && isQueryId(b.right)) ||
          (b.right.isInstanceOf[Literal] && isQueryId(b.left))
      case In(v, list) if list.forall(_.isInstanceOf[Literal]) =>
        isQueryId(v) || (isSplitTag(v) && list.size <= 4)
      case i: InSet =>
        isQueryId(i.child) || (isSplitTag(i.child) && i.hset.size <= 4)
      case _ => false
    }
  }

  /** Is this side provably metadata-sized? None = bounded, Some(reason)
    * when not. */
  private def unbounded(side: SparkPlan): Option[String] = {
    val d = defining(side)
    val cls = d.getClass.getSimpleName
    d match {
      // (a)/(b): global or metadata-keyed aggregate
      case g: BaseAggregateExec =>
        val gk = g.groupingExpressions.flatMap(_.references.map(_.name)).toSet
        if (gk.isEmpty || gk.subsetOf(metadataKeys)) None
        else Some(s"aggregate grouped by non-metadata keys ${gk.mkString(",")}")
      // (c): limit-bounded
      case _ if cls.contains("Limit") || cls.contains("TakeOrderedAndProject") => None
      // (d): literal local relation
      case _: LocalTableScanExec => None
      // (e): join of two bounded sides
      case j if j.children.size == 2 && cls.contains("Join") =>
        unbounded(j.children(0)).orElse(unbounded(j.children(1)))
      // (f)/(g): query-set or eval-split filter; a non-qualifying filter
      // only shrinks its child, so fall through to the child's own proof
      case f: FilterExec =>
        if (isQuerySetFilter(f.condition)) None
        else unbounded(f.child).map(r => s"$r (filter '${f.condition.sql.take(80)}' is not a query-set pin)")
      case _ => Some(s"defining node $cls is not a bounded shape")
    }
  }

  private def violations(plan: SparkPlan): Seq[String] =
    PlanTree.flatten(plan).flatMap {
      case b: BroadcastNestedLoopJoinExec =>
        // the REPLICATED side is the broadcast (build) side
        val build =
          if (b.buildSide.toString.contains("Left")) b.left else b.right
        unbounded(build).map(r => s"BroadcastNestedLoopJoin build side unbounded: $r")
      case c: CartesianProductExec =>
        // a cartesian is tolerable only when one side is metadata-sized
        // (and even then a broadcast would be better — none exist today)
        (unbounded(c.left), unbounded(c.right)) match {
          case (Some(l), Some(r)) =>
            Some(s"CartesianProduct with BOTH sides unbounded (left: $l; right: $r)")
          case _ => None
        }
      case _ => None
    }

  test("no registered query cross-joins a data-sized side") {
    val bad = scala.collection.mutable.ListBuffer.empty[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val df = fn(spark, TestSpark.sf0001)
      for (v <- violations(df.queryExecution.executedPlan)) bad += s"$name: $v"
      Hygiene.release(spark)
    }
    assert(bad.isEmpty, s"${bad.size} cartesian violations:\n${bad.mkString("\n")}")
  }

  test("a deliberately data-sized crossJoin fixture fails the pin") {
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id")
    val embs = Tables.embeddings(spark, TestSpark.sf0001).select("vec_id")
    // the all-pairs trap: two corpus-scaled relations, no equi keys
    val bad = docs.crossJoin(embs)
    val vs = violations(bad.queryExecution.executedPlan)
    assert(vs.nonEmpty, "the fixture's data x data cartesian must be flagged")
  }

  test("a corpus-proportional filter is NOT a query-set pin") {
    import org.apache.spark.sql.functions._
    val embs = Tables.embeddings(spark, TestSpark.sf0001).select("vec_id", "embedding")
    // half the corpus is not a query batch, whatever the predicate syntax
    val half = broadcast(embs.filter(pmod(col("vec_id"), lit(2L)) === 0L))
    val bad = embs.as("e").join(half.as("q"), col("q.vec_id") =!= col("e.vec_id"))
    val vs = violations(bad.queryExecution.executedPlan)
    assert(vs.nonEmpty, "the half-corpus broadcast side must be flagged")
  }

  test("an md5 RANGE predicate (corpus-proportional) is NOT an eval-split pin") {
    import org.apache.spark.sql.functions._
    val embs = Tables.embeddings(spark, TestSpark.sf0001).select("vec_id", "embedding")
    // syntactically md5-vs-literal, semantically HALF the corpus — the
    // exact shape the r11 case (g) would have waved through
    val half = broadcast(
      embs.filter(substring(md5(col("vec_id").cast("string")), 1, 1) < "8"))
    val bad = embs.as("e").join(half.as("q"), col("q.vec_id") =!= col("e.vec_id"))
    val vs = violations(bad.queryExecution.executedPlan)
    assert(vs.nonEmpty, "the md5-range half-corpus side must be flagged")
    // ...while the true eval-split tag (nibble membership, 2 slices)
    // still qualifies
    val eval = broadcast(
      embs.filter(substring(md5(col("vec_id").cast("string")), 1, 1).isin("e", "f")))
    val ok = embs.as("e").join(eval.as("q"), col("q.vec_id") =!= col("e.vec_id"))
    assert(violations(ok.queryExecution.executedPlan).isEmpty,
      "the nibble-membership eval side must pass")
  }

  test("a verdict-gate crossJoin (single-row aggregate build side) passes the pin") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id")
    val gate = broadcast(docs.agg((count(lit(1)) > 0L).as("ok")))
    val ok = docs.crossJoin(gate)
    assert(violations(ok.queryExecution.executedPlan).isEmpty)
  }
}
