package graft

import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.scalatest.funsuite.AnyFunSuite

/** THE GLOBAL NEGATIVE WINDOW PIN: no registered query's physical plan may
  * contain a window whose single partition scans the corpus.
  *
  * The shape this kills: `row_number() OVER (PARTITION BY qid ORDER BY …)`
  * where each qid's partition holds the full corpus — every row of the
  * corpus flows through ONE reducer per query id before a single row can
  * rank, the first operator to die at 100 TB (the r8 verdict's e01/e11/e12
  * finding; all three now ride the KthLargest prefilter, and q22/q37's
  * per-priority windows — corpus/5 per reducer — now ride
  * operators.Ranks.groupedRank). This suite asserts every window in every
  * registered query (crossing AQE, cached relations, and checkpoint
  * boundaries the plan string hides) is one of the bounded shapes below,
  * so the pattern cannot re-enter through a future query:
  *
  *  (a) RANK-BOUNDED: a `WindowGroupLimit … Partial` sits beneath the
  *      window — Spark pre-limits EVERY map partition to the top-k rows
  *      per key before the exchange, so the reducer sees ≤ k·maps rows,
  *      never the corpus (the rewrite fires for row_number/rank/dense_rank
  *      windows followed by a rank filter);
  *  (b) LIMIT-BOUNDED: the window's input subtree contains a global
  *      top-k/limit (TakeOrderedAndProject / Limit) — the window ranks a
  *      pre-limited list (t17's 50-row RRF lists), not a relation that
  *      scales with the corpus;
  *  (c) KEY-BOUNDED: at least one partition conjunct bounds the group
  *      (partitioning by MORE keys only shrinks partitions), because it
  *      is either an allowlisted per-entity attribute — doc_id (one
  *      document's chunks/spans), user_id (one user's events — the
  *      reference's per-user semantics), o_custkey (one customer's
  *      orders), __key (operators.AsOfJoin's equi-join key: one entity's
  *      merged timeline), bucket/pid (the explicit corpus/N range slices
  *      of the t15/t21/Ranks distributed-rank design, N = the scale-out
  *      knob) — or a hash-derived expression (md5/xxhash64/pmod/crc32:
  *      dup-group and salt keys whose group size is duplicate
  *      multiplicity / corpus÷salts — d01's md5(text), d20's salted
  *      domain windows);
  *  (d) METADATA-BOUNDED: the window's input is an aggregate whose
  *      grouping keys are the window's own partition keys plus a
  *      metadata key (pid/bucket/nib) — so each window partition receives
  *      at most numParts/nBuckets rows (the offset frames of
  *      t15/t21/Ranks.groupedRank: per-(pid, grp) counts rolled into
  *      per-grp prefix offsets; t37's compaction planner, whose window
  *      input is the per-(source, nib) file MANIFEST — nib is one md5
  *      hex nibble, so a source's window partition holds ≤ 16 rows
  *      regardless of corpus size).
  *
  * A new query that needs a genuinely new bounded key must add it to the
  * allowlist HERE, with the justification in this scaladoc — that review
  * step is the point of the pin.
  */
class WindowBoundSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Per-entity / range-slice attributes whose partition size is bounded
    * by the entity or the slice width, not the corpus (case (c)). */
  private val boundedAttrs = Set("doc_id", "user_id", "o_custkey", "__key", "bucket", "pid")

  /** Hash-derived partition expressions: dup-group / salt keys. */
  private val hashFns = Seq("md5", "xxhash64", "pmod", "crc32", "hash(")

  /** Metadata keys: an aggregate grouped by one of these (plus the
    * window's own partition keys) emits ≤ numParts rows per window
    * partition (case (d)). */
  private val metadataKeys = Set("pid", "bucket", "nib")

  /** The text defining a projected attribute (`<expr> AS name#id`): the
    * 120 chars preceding the alias in the plan string — enough to see a
    * hash function or a literal, without parsing nested expressions.
    * (120, not 80: t37's md5-nibble grouping expression is ~80 chars and
    * grows with attribute-id width — a late-suite 5-digit id pushed the
    * leading `substring(md5` out of an 80-char window.) */
  private def defOf(planStr: String, attr: String): String = {
    val marker = s" AS $attr#"
    val i = planStr.indexOf(marker)
    if (i < 0) "" else planStr.substring(math.max(0, i - 120), i)
  }

  /** Is this window bounded per the (a)-(d) contract? None when bounded,
    * Some(reason) when not. */
  private def violation(w: WindowExec, wholePlanStr: String): Option[String] = {
    val below = PlanTree.flatten(w).drop(1)
    // (a) partial WindowGroupLimit beneath the window
    val rankBounded = below.exists {
      case g: WindowGroupLimitExec => g.mode.toString.contains("Partial")
      case _                       => false
    }
    if (rankBounded) return None
    // (b) a global limit beneath the window bounds its input row count
    val limitBounded = below.exists { n =>
      val cls = n.getClass.getSimpleName
      cls.contains("TakeOrderedAndProject") || cls.contains("Limit")
    }
    if (limitBounded) return None
    // effective partition refs: drop conjuncts projected from a literal
    // (partitionBy(lit) is partitioning-neutral)
    val partAttrs = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
    val effective = partAttrs.filterNot { a =>
      val d = defOf(wholePlanStr, a).trim
      d.nonEmpty && d.matches(".*[\\s,\\[]-?\\d+") // `…, 0 AS _w1#…`
    }
    // (c) ANY bounded conjunct bounds the whole partition
    val keyBounded = effective.exists { a =>
      boundedAttrs.contains(a) ||
      hashFns.exists(f => a.contains(f)) ||
      hashFns.exists(f => defOf(wholePlanStr, a).contains(f))
    }
    if (keyBounded) return None
    // (d) input is an aggregate keyed by (window partition keys + a
    // metadata key): ≤ numParts rows per window partition
    // a grouping attr is metadata-grade if named so, OR if its defining
    // expression is a fixed-width hash prefix (substring(md5(..), 1, w):
    // ≤ 16^w groups per window partition — t37's md5-nibble file key,
    // which the optimizer renames to _groupingexpression#N)
    def metaAttr(a: String): Boolean =
      metadataKeys.contains(a) || defOf(wholePlanStr, a).contains("substring(md5")
    val metadataBounded = below.exists {
      case g: BaseAggregateExec =>
        val gk = g.groupingExpressions.flatMap(_.references.map(_.name)).toSet
        gk.exists(metaAttr) && (gk -- effective).forall(metaAttr)
      case _ => false
    }
    if (metadataBounded) return None
    Some(
      s"unbounded window: partition refs=${partAttrs.mkString("[", ", ", "]")} — " +
        "no WindowGroupLimit Partial beneath it, no limit-bounded input, " +
        "no bounded partition conjunct, not a metadata-aggregate frame"
    )
  }

  test("no registered query ranks through a corpus-sized window partition") {
    val bad = scala.collection.mutable.ListBuffer.empty[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val df = fn(spark, TestSpark.sf0001)
      val plan = df.queryExecution.executedPlan
      val planStr = plan.toString
      val nodes = PlanTree.flatten(plan)
      val windows = nodes.collect { case w: WindowExec => w }
      for (w <- windows; reason <- violation(w, planStr))
        bad += s"$name: $reason\n  window: ${w.toString.linesIterator.next()}"
      Hygiene.release(spark)
    }
    assert(bad.isEmpty, s"${bad.size} corpus-window violations:\n${bad.mkString("\n")}")
  }

  test("the groupedRank data path itself ranks in range slices, not per-group partitions") {
    // the localCheckpoint inside Ranks.groupedRank erases the rank window
    // from downstream plans (by design — single partition-assignment
    // evaluation), so pin the pre-checkpoint shape directly, the way
    // PlanAuditSpec pins t21's rankedByNll
    import org.apache.spark.sql.functions._
    val o = Tables.orders(spark, TestSpark.sf0001)
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
    val p = o
      .repartitionByRange(8, col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
      .sortWithinPartitions(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
      .withColumn("pid", spark_partition_id())
      .withColumn(
        "rn",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("pid"), col("o_orderpriority"))
            .orderBy(col("o_totalprice"), col("o_orderkey"))
        )
      )
      .queryExecution.executedPlan
    val windows = PlanTree.flatten(p).collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    for (w <- windows) {
      val refs = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
      assert(refs.contains("pid"), s"rank window not pid-sliced: $refs")
    }
    // the range exchange is the only corpus shuffle in the rank path
    assert(p.toString.contains("rangepartitioning(o_orderpriority"), p.toString)
  }
}
