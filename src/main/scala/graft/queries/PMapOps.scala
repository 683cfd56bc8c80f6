package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.ParallelMap

/** The reference's `remote_parallel_map` exercised through the correctness
  * gate: arbitrary Scala functions over table rows, checked against a SQL
  * oracle computing the same thing. Proves the semantic layer (ordering-
  * free results, closure shipping) — not just the DataFrame surface.
  */
object PMapOps {

  /** Driver-side input-list bound for the client-convention query. */
  private val P02InputCap = 100

  /** Distributed form: Dataset.map end-to-end (no driver materialization).
    * The closure re-implements the canonical tokenizer in plain Scala. */
  val p01 = Q(
    "p01_pmap_token_counts",
    Some("""
      SELECT doc_id,
        CAST(len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS INTEGER) AS n_tokens
      FROM documents ORDER BY doc_id""")
  ) { (s, d) =>
    import s.implicits._
    val ds = Tables
      .documents(s, d)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
    ds
      .map { case (id, text) => (id, text.toLowerCase.split(' ').count(_.nonEmpty)) }
      .toDF("doc_id", "n_tokens")
      .orderBy("doc_id")
  }

  /** Client-style form: a BOUNDED, deterministic input list on the driver,
    * fanned back out through ParallelMap.run (the reference's list-in/
    * list-out calling convention — client code always holds its inputs in
    * a local Python list, reference _remote_parallel_map.py:541). The
    * LIMIT keeps the registered query honest: the client convention is for
    * driver-resident lists, never for shipping a whole table through the
    * driver — bulk table work goes through p01's distributed form. */
  val p02 = Q(
    "p02_pmap_char_counts",
    Some(s"""
      SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars_computed
      FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT $P02InputCap)
      ORDER BY doc_id""")
  ) { (s, d) =>
    import s.implicits._
    val inputs: Seq[(Long, String)] = Tables
      .documents(s, d)
      .select(col("doc_id"), col("text"))
      .orderBy("doc_id")
      .limit(P02InputCap)
      .collect()
      .toSeq
      .map(r => (r.getLong(0), r.getString(1)))
    ParallelMap
      // codePointCount, not String.length: the oracle's length(text)
      // counts Unicode code points, while length on a JVM String counts
      // UTF-16 code units — they diverge on any astral character (emoji),
      // the same parity rule Spark's own length() follows
      .run(s, inputs) { case (id, text) => (id, text.codePointCount(0, text.length)) }
      .toDF("doc_id", "n_chars_computed")
      .orderBy("doc_id")
  }

  val all: Seq[Q] = Seq(p01, p02)
}
