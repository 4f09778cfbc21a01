package graft.tools

/** Plan auditor: prints the formatted physical plan for representative
  * queries and greps it for the properties that matter at scale -
  * predicate pushdown reaching the parquet scan, pruned read schemas,
  * broadcast joins on dimension tables, whole-stage codegen coverage,
  * and the absence of cartesian products.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    // SPARK_GRAFT_ONLY=a,b restricts the audit (same convention as
    // Bench/Verify) for single-query plan iterations
    val only = graft.registry.Registry.only()
    val spark = graft.LocalSession("graft-plan-audit")

    val interesting = Seq(
      "q_f2_filter",      // pushdown + pruning
      "q_f3_set_filter",  // broadcast dim join
      "q_j1_resolution",  // outer join + agg
      "q_a1_groupagg",    // partial aggregation
      "q_w4_cascade",     // window chain
      "q_d_minhash_pairs",// LSH self-join: md5 4x4 banding + est-free verify
      "q_ann_neardup",    // bucket join
      "q_m1_reconcile",   // full-outer classify + W3 windows + seq keys
      "q_w24_cascade_run",// real cascade: 3 chained hash aggs
      "q_a6_resolve",     // resolution joins + outcome agg
      "q_m4_weaksync",    // anti join + full-outer diff
      "q_d2_repair",      // swapped-key self-joins
      "q_a2_group_merge", // token explode + merge agg + complement
      "q_j_asof",         // as-of: union + running window, join-free
      "q_j_range",        // bucketed range join: equi, no BNLJ
      "q_j8_crosslinked_op", // operator-routed J8: count legs + dim joins
      "q_j9_partner_op",  // operator-routed J9: window suppression
      "q_j10_no_orth_op", // operator-routed J10: semi + anti joins
      "q_s4_homologene",  // entry pairs: count==1 filter + group self-join
      "q_s4_homologene_sync", // multiset sync: ranked windows + count joins
      "q_d_jaccard_exact",// inverted-index exact Jaccard
      "q_t_top_terms",    // tf/df aggs + term join + top-1 window
      "q_pack_bins",      // per-stratum cumulative window
      "q_t_oov",          // broadcast vocab join
      "q_d_boilerplate",  // chunk-hash count + anti-join + reassembly
      "q_d_against_ref",  // hash-projection anti-join
      "q_t_source_report",// two aggs + tiny window
      "q_e_rolling",      // RANGE frames, one entity shuffle
      "q_t_bigrams",      // adjacent-pair explode + TakeOrdered
      "q_t_curate",       // per-stratum window rank
      "q_llm_prep_e2e",   // composed prep flow, one shuffle
      "q_ann_knn_join",   // per-row probe cells + cell equi-join
      "q_e_outliers",     // per-entity percentile + stats join
      "q_fuzzy_pairs",    // deletion-neighborhood equi-join
      "q_t_commonness",   // distinct + vocab agg + term join
      "q_d_simhash_md5",  // md5-bit signature + chunk bucket join
      "q_ann_kmeans_step",// assignment + per-cell/dim combine
      "q_ann_pq_assign",  // pure map stage: PQ codes
      "q_t_bpe_pairs",    // word-freq collapse + pair explode
      "q_d_semdedup",     // in-cell pair join + dup anti-join
      "q_ann_prune",      // per-cell rank window, one shuffle
      "q_contam_semantic",// probe explode + broadcast bench join
      "q_pack_chunks",    // cumulative window + bounded explode
      "q_split_leakage_safe", // components + cluster-key window
      "q_ann_recall",     // knnJoin + broadcast brute-force baseline
      "q_sample_mixture", // count agg + broadcast cutoff join
      "q_shuffle_order",  // one shard shuffle, per-shard rank
      "q_t_length_hist",  // single hash aggregate
      "q_pack_export",    // pack chain + partitioned write round trip
      "q_t_bpe_encode_big", // native BpeSegment path (>64 rules)
      "q_t_repeated_spans", // gram positions + island-merge window
      "q_sk_hll",         // register sketch: one map-side-combined agg
      "q_sk_cms",         // vocab collapse + depth explode + cell agg
      "q_t_tfidf",        // two-level shard top-k windows
      "q_t_pmi",          // bigram marginals + TakeOrdered
      "q_t_lm_ppl",       // count-table joins + broadcast stats
      "q_t_logreg",       // unrolled integer gradient stages
      "q_t_chunks",       // map-only overlapping windows
      "q_t_funnel",       // filter verdicts + funnel agg
      "q_d_containment",  // bottom-k sketches + capped blocking join
      "q_t_winnow",       // native winnow select, no shuffle
      "q_d_winnow_pairs", // winnow postings + df-cut pair join
      "q_d_source_overlap", // hash-distinct + stratum-bounded self-join
      "q_t_byte_bpe",     // byte-level encode: distinct-pre-token frame
      "q_t_byte_roundtrip", // encode -> decode identity chain
      "q_t_max_spans",    // step-1 chain spans (lag window)
      "q_t_max_span_trim",// maximal-span trim + reassembly
      "q_mm_phash_pairs", // pHash bucket-collect pair generation (r11)
      "q_mm_asset_dedup", // two-modality survivorship joins
      "q_agr_counts",     // post-fix: upsert must be an equi-join
      "q_t_unigram",      // native Viterbi over the distinct-word frame
      "q_t_unigram_train",// distributed-prune EM rounds (r11 seed fix)
      "q_sample_token_budget", // sharded greedy prefix selection (r11)
      "q_mm_image_phash", // real JDK decode -> luma grid -> pHash (r12)
      "q_mm_image_pairs", // cross-codec planted dups through real decode (r12)
      "q_sample_budget_stratum", // per-stratum sharded greedy budgets (r12)
      "q_ann_ivfpq_artifact", // IVF-PQ through the persisted artifact (r12)
      "q_mm_audio_phash", // real WAV decode -> window grid -> pHash (r12)
      "q_mm_video_frames") // AVI walk -> BMP frame decode -> sampling (r12)

    interesting.filter(n => only.forall(_.contains(n))).foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      // execute THIS QueryExecution (df.write would clone it), so AQE
      // finalizes the plan we inspect
      df.queryExecution.toRdd.count()
      // counts come from the executed plan TREE (PlanCounts), not a
      // grep over the formatted string: string counts multiply by the
      // reference count of any persisted shared frame (each cache scan
      // reprints its build plan), which made the r14 numbers swing 30x
      // on a pure representation change
      val c = PlanCounts.of(df.queryExecution.executedPlan)
      println(s"\n===== $name =====")
      println("PushedFilters : " + (c.pushedFilters.take(3).mkString(" | ") match {
        case "" => "(none)"; case x => x }))
      println("ReadSchema    : " + c.readSchemas.headOption.getOrElse("(none)"))
      println("BroadcastHash : " + c.broadcastHash)
      println("SortMergeJoin : " + c.sortMerge)
      println("ShuffleHash   : " + c.shuffledHash)
      println("Exchanges     : " + c.exchanges)
      println("ReusedExch    : " + c.reusedExchanges)
      println("CacheScans    : " + c.cacheScans)
      println("CodegenOps    : " + c.codegenOps)
      println("PartialAggs   : " + c.partialAggs)
      println("FinalPlan     : " + c.adaptiveRoots)
      println("Cartesian     : " + c.cartesian)
      println("BNLJ          : " + c.bnlj)
      if (args.length > 1 && args(1) == "-v") df.explain("formatted")
    }
    spark.stop()
  }
}
