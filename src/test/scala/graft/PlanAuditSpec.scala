package graft

/** Pins the SCALE.md plan claims as tests: filters reach the parquet scan,
  * small dims broadcast, and the dedup/similarity pair queries are
  * collect-free (no driver-materialized data re-parallelized into the
  * plan). These are the properties that decide 100 TB behavior; asserting
  * them here means a regression shows up as a red spec, not as a slow
  * cluster.
  */
import org.apache.spark.sql.execution.RDDScanExec
import org.scalatest.funsuite.AnyFunSuite

class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def executed(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.sf0001).queryExecution.executedPlan
  private def plan(name: String): String = executed(name).toString

  test("q06: predicates pushed into the parquet scan, schema pruned") {
    val p = plan("q06_revenue_forecast")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("IsNotNull(l_shipdate"), p)
    // pruned: the 11-column lineitem scan reads only what the query needs
    assert(!p.contains("l_comment"), "scan reads l_comment — column pruning lost")
  }

  test("q27: the 25-brand part dim joins as a broadcast, not a shuffle") {
    val p = plan("q27_brand_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("d05/d02: pair generation is collect-free (no re-parallelized driver data)") {
    for (q <- Seq("d05_dedup_simhash_pairs", "d02_dedup_minhash_lsh")) {
      val p = plan(q)
      assert(!p.contains("Scan ExistingRDD"), s"$q re-parallelizes driver data")
      assert(!p.contains("LocalTableScan"), s"$q embeds driver-collected rows")
    }
  }

  test("e02: only metadata-sized local relations (block pairs), no data collect") {
    val p = plan("e02_embed_neardup")
    assert(!p.contains("Scan ExistingRDD"), "e02 re-parallelizes driver data")
    // the B(B+1)/2 block-pair table is driver-built metadata and IS a
    // LocalTableScan; the embeddings themselves must come from parquet
    assert(p.contains("Scan parquet"), p)
  }

  test("t09/t11: document scans read only the columns the query needs") {
    for (q <- Seq("t09_text_repetition", "t11_ngram_freq")) {
      val p = plan(q)
      assert(!p.contains("lang") && !p.contains("source"),
        s"$q scans metadata columns it never uses:\n$p")
    }
  }

  test("t12: the sampling predicate pushes down to the scan as a filter") {
    val p = plan("t12_corpus_sample")
    // membership is a pure row predicate evaluated in the scan stage: the
    // only exchange allowed is the final ORDER BY's range partitioning
    assert(!p.contains("Exchange hashpartitioning"), s"sampling plan shuffles:\n$p")
    assert(p.contains("Scan parquet"), p)
  }

  test("d04: simhash fingerprints are a narrow projection (no hash shuffle)") {
    val p = plan("d04_dedup_simhash")
    // the one-pass compiled kernel computes the fingerprint in the scan
    // stage; the only exchange allowed is the output ORDER BY's range
    // partitioning — a hash exchange would mean the explode + grouped-sum
    // formulation crept back in
    assert(!p.contains("Exchange hashpartitioning"), s"d04 shuffles:\n$p")
    assert(p.toLowerCase.contains("simhash64"), p)
  }

  test("t10: clean/redact is a pure projection pipeline (no shuffle)") {
    val p = plan("t10_text_clean")
    assert(!p.contains("Exchange hashpartitioning"), s"t10 shuffles:\n$p")
  }

  test("t13: corpus stats and per-term dfs join as broadcasts; ranking is partial top-k") {
    val p = plan("t13_bm25")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), "t13 global-sorts instead of partial top-k")
  }

  test("d08: incremental dedup is collect-free and scans parquet") {
    val p = plan("d08_incremental_dedup")
    assert(!p.contains("Scan ExistingRDD"), "d08 re-parallelizes driver data")
    assert(!p.contains("LocalTableScan"), "d08 embeds driver-collected rows")
    assert(p.contains("Scan parquet"), p)
  }

  test("t15: doc-path prefix sum is bucket-partitioned; offsets come back as a broadcast") {
    val p = plan("t15_sequence_packing")
    // the window over the DATA is partitioned by the doc_id bucket — the
    // whole corpus never flows through one task's window
    assert(p.contains("hashpartitioning(bucket"), p)
    // bucket offsets (metadata-scale) rejoin the data as a broadcast
    assert(p.contains("BroadcastHashJoin"), p)
    // scan reads only what the packer needs
    assert(!p.contains("lang") && !p.contains("source"), "scan reads unused columns")
  }

  test("d11: chunk-hash index and rejoin shuffle on the md5 key; no nested-loop join") {
    val p = plan("d11_dedup_subdoc")
    assert(p.contains("hashpartitioning(h"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(!p.contains("lang") && !p.contains("n_chars"), "scan reads unused columns")
  }

  test("d18: strip shuffles on the chunk-hash key; chunk text never cartesians") {
    val p = plan("d18_boilerplate_strip")
    // index build + attribution rejoin both key on the md5 chunk hash —
    // uniform by construction, like d11
    assert(p.contains("hashpartitioning(h"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(!p.contains("Scan ExistingRDD"), "d18 re-parallelizes driver data")
    // the rewrite needs doc_id + text only
    assert(!p.contains("lang") && !p.contains("n_chars"), "scan reads unused columns")
  }

  test("t17: both retrieval lists are partial top-k; rank windows never see the corpus") {
    val p = plan("t17_hybrid_retrieval")
    // the lexical and semantic lists each end in a TakeOrderedAndProject
    // (partial per-partition top-50) — the row_number windows behind the
    // RRF ranks run over those 50-row lists, not the corpus
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2, p)
    // the single example-query vector rides a broadcast on both the
    // prefilter join and the exact-rescore reattachment. Count the
    // nested-loop broadcasts specifically: the lexical side's dims are
    // BroadcastHashJoins, so an OR over join types would pass vacuously
    // even if the semantic side degraded to a corpus-wide SortMergeJoin
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size >= 2,
      s"semantic side lost a query-vector broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Scan ExistingRDD"), "t17 re-parallelizes driver data")
    // the semantic list's top-C prefilter threshold is the constant-state
    // KthLargest aggregate with map-side partials, not a corpus-wide window
    assert(p.contains("partial_kthlargest"),
      s"semantic prefilter lost its map-side partial aggregation:\n$p")
  }

  test("e14: threshold dim broadcasts back; labels are the compact fitAssign checkpoint") {
    val p = plan("e14_cluster_balanced_sample")
    // the k-row cluster/threshold dim must ride broadcasts, never shuffle
    // the labeled corpus against it
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the only ExistingRDD scan allowed is fitAssign's compact label frame
    val rddScans = "Scan ExistingRDD\\[([^\\]]*)\\]".r.findAllMatchIn(p).map(_.group(1)).toList
    for (cols <- rddScans)
      assert(!cols.contains("embedding") && !cols.contains("x#"),
        s"e14 checkpoints embedding data, not just labels: [$cols]")
  }

  test("t18: LM stats ride broadcasts; the occurrence scan never cartesians") {
    val p = plan("t18_unigram_nll")
    // the 1-row total-token dim must broadcast into the vocab projection
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Scan ExistingRDD"), "t18 re-parallelizes driver data")
    // scoring needs doc_id + text only
    assert(!p.contains("lang") && !p.contains("n_chars"), "scan reads unused columns")
    // r13: the scoring join's broadcast side must be the VOCAB-sized LM,
    // never the corpus-token-sized occurrence frame. Catalyst's plan-time
    // size estimate for an aggregation inherits its child's size, so left
    // unhinted it read the LM subtree as the larger side and broadcast
    // the occurrences — t18's 1.4-1.6x quiet-host regression at sf0.1, an
    // executor-OOM broadcast at scale. scoreAgainstLm keeps the
    // occurrences on the LEFT, so the tok-keyed scoring join must build
    // RIGHT (the hinted LM side).
    val tokJoins = """BroadcastHashJoin \[tok#[^\]]*\], \[tok#[^\]]*\], Inner, (\w+)""".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(tokJoins.nonEmpty, s"no tok-keyed broadcast scoring join found:\n$p")
    assert(tokJoins.forall(_ == "BuildRight"),
      s"occurrence frame is the broadcast build side (BuildLeft):\n$p")
  }

  test("t21: global rank rides a range exchange; offsets broadcast back; no corpus-wide window") {
    // the rank data path (pre-checkpoint — the checkpoint in nllBuckets
    // erases it from the downstream plan, by design: the materialization
    // is what makes pid assignment single-evaluation)
    val rp = queries.LlmOps
      .rankedByNll(spark, TestSpark.sf0001, 32)
      .queryExecution
      .executedPlan
      .toString
    // the rank's heavy lifting is the range repartition on (nll, doc_id)
    assert(rp.contains("rangepartitioning(nll"), rp)
    // the data-path window must be pid-partitioned — a WINDOW fed by a
    // SinglePartition exchange would be the naive global ROW_NUMBER this
    // query exists to avoid (1-row aggregates may legitimately use
    // single-partition exchanges, so pin the window's input specifically)
    val naive = "Exchange SinglePartition[^\\n]*\\n[^\\n]*Window".r
    assert(naive.findFirstIn(rp).isEmpty, s"corpus-wide window detected:\n$rp")
    assert(!rp.contains("Scan ExistingRDD"), "t21 rank path re-parallelizes driver data")
    // downstream: offsets and total are metadata broadcasts over the
    // checkpointed rank frame, whose scans carry ONLY the 5 rank columns
    val p = plan("t21_nll_buckets")
    assert(p.contains("BroadcastHashJoin"), p)
    val rddScans = "Scan ExistingRDD\\[([^\\]]*)\\]".r.findAllMatchIn(p).map(_.group(1)).toList
    assert(rddScans.nonEmpty, s"expected the checkpointed rank frame:\n$p")
    for (cols <- rddScans) {
      // attribute NAMES (the token before '#'), not substrings — "n_tokens"
      // must not trip a "tok" check
      val names = cols.split(",").map(_.trim.takeWhile(_ != '#')).toSet
      assert(
        Set("text", "tok", "embedding").intersect(names).isEmpty,
        s"t21 checkpoints corpus data, not just rank metadata: [$cols]"
      )
    }
  }

  test("t23: DSIR selection ranks on a range exchange; LM totals broadcast; rank scans carry metadata only") {
    val p = plan("t23_dsir_select")
    // the quartile cut rides t21's global-rank machinery — no corpus-wide
    // single-partition window may appear anywhere in the final plan
    val naive = "Exchange SinglePartition[^\\n]*\\n[^\\n]*Window".r
    assert(naive.findFirstIn(p).isEmpty, s"corpus-wide window detected:\n$p")
    // the LM-pair totals (ttr/ttt/v) and rank offsets ride broadcasts
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    // the checkpointed rank frame carries only the 5 rank columns, never
    // corpus text/tokens (attribute NAMES, not substrings)
    val rddScans = "Scan ExistingRDD\\[([^\\]]*)\\]".r.findAllMatchIn(p).map(_.group(1)).toList
    assert(rddScans.nonEmpty, s"expected the checkpointed rank frame:\n$p")
    for (cols <- rddScans) {
      val names = cols.split(",").map(_.trim.takeWhile(_ != '#')).toSet
      assert(
        Set("text", "tok", "embedding").intersect(names).isEmpty,
        s"t23 checkpoints corpus data, not just rank metadata: [$cols]"
      )
    }
  }

  test("e16: grouped MMR keeps every stage distributed — greedy in MapGroups, zero driver collects") {
    val p = plan("e16_mmr_grouped")
    // the sequential greedy lives INSIDE the plan (one MapGroups over
    // qid-keyed constant-size groups), so qid count never touches the
    // driver — e15's collect-the-shortlist shape must NOT reappear here
    assert(p.contains("MapGroups"), p)
    assert(!p.contains("Scan ExistingRDD"), "e16 re-parallelizes driver data")
    assert(!p.contains("LocalTableScan"), "e16 embeds driver-collected rows")
    // the 3-query dim broadcasts into the corpus scan; candidates never
    // cartesian against it
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // candidate generation: the per-qid C-th-best threshold comes from the
    // constant-state KthLargest aggregate with a MAP-SIDE partial (each
    // task combines its corpus slice to a C-slot heap before the shuffle),
    // broadcast back as the prefilter — NOT from a row_number window whose
    // per-qid partition holds the whole corpus (the r7 shape)
    assert(p.contains("partial_kthlargest"),
      s"candidate threshold lost its map-side partial aggregation:\n$p")
    // every surviving rank window must be WindowGroupLimit-bounded: Spark
    // pre-limits each partition to the top-k BEFORE the exchange, so no
    // window's input partition ever exceeds k rows per upstream partition
    val windows = "Window \\[row_number".r.findAllIn(p).size
    val limits = "WindowGroupLimit \\[[^\\]]*\\][^\\n]*Partial".r.findAllIn(p).size
    assert(windows <= limits,
      s"a rank window without a partial WindowGroupLimit bound ($windows windows, $limits partial limits):\n$p")
  }

  test("t19: the curation chain stays distributed — md5-keyed shuffles, broadcast dims, label checkpoint only") {
    val p = plan("t19_semantic_curation")
    // strip + LM stages shuffle on md5/token/doc keys, dims broadcast
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the only ExistingRDD scan is the compact k-means label checkpoint
    val rddScans = "Scan ExistingRDD\\[([^\\]]*)\\]".r.findAllMatchIn(p).map(_.group(1)).toList
    for (cols <- rddScans)
      assert(!cols.contains("embedding") && !cols.contains("x#"),
        s"t19 checkpoints embedding data, not just labels: [$cols]")
  }

  test("d12: eval side broadcasts; the compiled cosine prefilter is the join predicate") {
    val p = plan("d12_semantic_decontam")
    // the small eval split rides a broadcast; the train scan never shuffles
    // before the final per-eval agg
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("cosine_similarity"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("e09/e10: k-means assignment is compiled from parquet; only centroid metadata is local") {
    val p10 = plan("e10_pq_codes")
    assert(!p10.contains("Scan ExistingRDD"), "e10 re-parallelizes driver data")
    assert(p10.contains("Scan parquet"), p10)
    assert(p10.toLowerCase.contains("int_argmin_sqdist"), s"e10 lost the compiled kernel:\n$p10")

    // e09 runs through KMeans.fitAssign: the labeling materializes ONCE from
    // the fit's cached corpus as a localCheckpoint of compact
    // (vec_id, cluster, dist) rows, so e09's final agg plan reads that
    // checkpoint instead of rescanning parquet. Pin both halves:
    //  (a) the only ExistingRDD scan in the final plan is the compact label
    //      frame — embedding arrays must never ride a checkpoint;
    val p9 = plan("e09_kmeans")
    val rddScans = "Scan ExistingRDD\\[([^\\]]*)\\]".r.findAllMatchIn(p9).map(_.group(1)).toList
    assert(rddScans.nonEmpty, s"e09 no longer reads the fitAssign checkpoint:\n$p9")
    for (cols <- rddScans)
      assert(
        !cols.contains("embedding") && !cols.contains("x#"),
        s"e09 checkpoints embedding data, not just labels: [$cols]"
      )
    //  (b) the assignment plan itself — what fitAssign materialized — still
    //      compiles the kernel directly over the parquet scan.
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
      .select(org.apache.spark.sql.functions.col("vec_id"), org.apache.spark.sql.functions.col("embedding"))
    val model = graft.operators.KMeans.fit(spark, emb, k = 4, iters = 1)
    val ap = graft.operators.KMeans.assign(spark, emb, model)
      .queryExecution.executedPlan.toString
    assert(!ap.contains("Scan ExistingRDD"), s"assignment re-parallelizes driver data:\n$ap")
    assert(ap.contains("Scan parquet"), ap)
    assert(ap.toLowerCase.contains("int_argmin_sqdist"), s"assignment lost the compiled kernel:\n$ap")
  }

  test("q22: percentiles carry NO per-group value buffer — groupedRank + tiny agg") {
    val p = plan("q22_price_percentiles")
    // the old formulation's unbounded-state aggregate: the Percentile UDAF
    // (an ObjectHashAggregate buffering every group value)
    assert(!p.contains("percentile("), s"q22 regressed to the buffering UDAF:\n$p")
    assert(!p.contains("ObjectHashAggregate"), s"q22 has an object-buffer aggregate:\n$p")
    // the bounded shape: Ranks.groupedRank's checkpointed (priority,
    // price, orderkey, pid, rn) frame — the per-group row_number window
    // partitioned by (pid, grp) lives BEHIND the checkpoint and is pinned
    // by WindowBoundSpec's data-path test — then per-group offsets and
    // the 5-row counts dim broadcast back, and a plain hash aggregate
    // runs over the <=2 rank-selected rows per target quantile
    val rddScans = "Scan ExistingRDD\\[([^\\]]*)\\]".r.findAllMatchIn(p).map(_.group(1)).toList
    assert(rddScans.nonEmpty, s"expected the checkpointed rank frame:\n$p")
    for (cols <- rddScans) {
      val names = cols.split(",").map(_.trim.takeWhile(_ != '#')).toSet
      assert(
        Set("text", "tok", "embedding").intersect(names).isEmpty,
        s"q22 checkpoints corpus data, not just rank columns: [$cols]"
      )
    }
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("e04: multi-probe fans out the broadcast query side only; corpus buckets once") {
    val p = plan("e04_ann_topk_lsh")
    // the corpus side must not be re-bucketed or replicated per probe: the
    // candidate join takes the corpus bucket rows as the streamed side and
    // the nprobe-exploded query rows as the BROADCAST side
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Scan ExistingRDD"), "e04 re-parallelizes driver data")
    // exactly two parquet scans of embeddings feed the candidate stage
    // (corpus buckets + rescore re-attach); probes add none
    assert(p.contains("cosine_similarity"), p)
  }

  test("d20: the corpus-facing window is salt-partitioned — no whole-domain reducer") {
    val p = plan("d20_domain_cap")
    // first (full-corpus) pass partitions by (source, pmod(xxhash64(doc_id))):
    // one mega-domain spreads over `salts` tasks instead of one
    assert(p.contains("pmod") && p.contains("xxhash64"),
      s"d20's corpus window lost its salt:\n$p")
    // the final per-source window exists, but only over the <= salts*cap
    // local winners — both windows are present in the plan
    assert("Window".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("Scan ExistingRDD"), "d20 re-parallelizes driver data")
  }

  test("t25: bigram LM is grouped counts + equi-joins — no window, no collect") {
    val exec = executed("t25_bigram_nll")
    val p = exec.toString
    assert(p.contains("partial_count"), s"t25 lost map-side partial counting:\n$p")
    assert(!p.contains("Window"), "t25 ranks/scores via a window — should be joins + one agg")
    // The count table is pinned by a localCheckpoint, which prints as
    // Scan ExistingRDD like re-parallelized driver rows do (the d23 case).
    // The scan's RDD tells them apart: checkpointed blocks live on the
    // executors, and they may carry the vocabulary-sized counts only.
    // The walk enters cached subplans, so a cache cannot hide a scan; every
    // scan the plan string prints must be one the walk checks.
    val rddScans = PlanTree.flatten(exec).collect { case s: RDDScanExec => s }
    assert("Scan ExistingRDD".r.findAllIn(p).size == rddScans.size,
      s"t25 prints RDD scans the plan walk does not reach:\n$p")
    for (s <- rddScans) {
      val scan = s.simpleString(10)
      assert(s.rdd.isCheckpointed, s"t25 re-parallelizes driver data: $scan\n${s.rdd.toDebugString}")
      assert(s.output.map(_.name).toSet == Set("prev", "tok", "cnt"),
        s"t25 checkpoints more than the count table: $scan")
    }
    assert(!p.contains("LocalTableScan"), "t25 embeds driver-collected rows")
  }

  test("t27: per-source buckets rank via groupedRank — no per-source corpus window") {
    val p = plan("t27_source_quality_buckets")
    // the in-group rank lives behind groupedRank's checkpoint; the final
    // plan sees the compact rank frame (no text/tok columns), the offsets
    // window over the (pid, source) metadata aggregate, and broadcasts
    val rddScans = "Scan ExistingRDD\\[([^\\]]*)\\]".r.findAllMatchIn(p).map(_.group(1)).toList
    assert(rddScans.nonEmpty, s"expected groupedRank's checkpointed rank frame:\n$p")
    for (cols <- rddScans) {
      val names = cols.split(",").map(_.trim.takeWhile(_ != '#')).toSet
      assert(
        Set("text", "tok", "t", "embedding").intersect(names).isEmpty,
        s"t27 checkpoints corpus data, not just rank columns: [$cols]"
      )
    }
    assert(p.contains("BroadcastHashJoin"), p)
    val naive = "Exchange SinglePartition[^\\n]*\\n[^\\n]*Window".r
    assert(naive.findFirstIn(p).isEmpty, s"corpus-wide window detected:\n$p")
  }

  test("t29: the Gopher rule battery is a pure projection — no shuffle but the output sort") {
    val p = plan("t29_gopher_rules")
    // all seven rules are per-row expressions over the token/line arrays;
    // a hash exchange would mean a grouped reformulation crept in
    assert(!p.contains("Exchange hashpartitioning"), s"t29 shuffles:\n$p")
    assert(p.contains("Scan parquet"), p)
    assert(!p.contains("Scan ExistingRDD"), "t29 re-parallelizes driver data")
  }

  test("t28: membership is a scan-stage predicate; mixture dims broadcast") {
    val p = plan("t28_temperature_mixing")
    // the per-source threshold dim rides broadcasts into the corpus scan;
    // the only data-path shuffles are the per-source aggregations
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Scan ExistingRDD"), "t28 re-parallelizes driver data")
    assert(!p.contains("Window"), "t28 should have no window at all")
  }

  test("d23: survivor pick is a combinable max_by — no per-cluster window, no collect") {
    val p = plan("d23_dedup_best_keep")
    // a giant cluster must cost its size in INPUTS, not in reducer state:
    // max_by partial-aggregates map-side; a Window/row_number rewrite
    // would serialize each cluster through one task
    assert(p.contains("partial_max_by"), s"d23 lost map-side partial aggregation:\n$p")
    assert(!p.contains("Window"), "d23 ranks with a window instead of max_by")
    // (Scan ExistingRDD IS expected here: the CC subplan's checkpointed
    // lineage cuts are distributed RDD blocks, not driver-collected rows —
    // same provenance d06 has. LocalTableScan would be the collect smell.)
    assert(!p.contains("LocalTableScan"), "d23 embeds driver-collected rows")
  }
}
