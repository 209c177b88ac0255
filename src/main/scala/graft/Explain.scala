package graft

/** Plan-audit utility.
  *
  * Print mode (`runMain graft.Explain <sfDir> [query ...]`): prints the
  * formatted physical plan of the named queries (default: a representative
  * set) so scan pruning, pushed filters, broadcast joins, and
  * whole-stage-codegen spans can be inspected.
  *
  * Check mode (`runMain graft.Explain --check [sfDir]`): plan-regression
  * gate over EVERY registered query — fails (exit 1) on plan shapes that
  * are correct-but-wrong-at-scale and don't show up as test failures:
  *   - a `CartesianProduct` anywhere (an unconstrained all-pairs join;
  *     the only sanctioned cross join is against a broadcast-tiny query
  *     set, which plans as BroadcastNestedLoopJoin, not CartesianProduct);
  *   - a global-table join that is not a broadcast hash join (a shuffle
  *     of the big side against a dimension that fits in memory);
  *   - a CPU-heavy query (per-row hash/JSON/cosine work) whose plan lost
  *     its scatter exchange — on the single-row-group testdata layout the
  *     scan plans 1 partition, and without `RoundRobinPartitioning` all
  *     per-row work lands on one core regardless of cluster width;
  *   - a `SortAggregate` anywhere (hash aggregation silently fell back
  *     to sorting every group's rows — the `max_by(struct)` regression
  *     class repaired in r13, now permanently gated).
  */
object Explain {

  /** Queries whose per-row CPU work (shingling/hashing/cosine/NFC/edit
    * grams/JSON parse) must sit behind a scatter exchange on the narrow
    * testdata layout (see [[SparkEntry.cpuTable]]) — the gate asserts
    * their plan keeps `RoundRobinPartitioning`. Together with
    * [[CpuLight]] this is a TOTAL triage of the registered surface: a
    * new query compiles into neither list until someone decides which
    * side it belongs on ([[coverageGaps]] + PlanGateSpec enforce it),
    * so the gate can never silently lag the surface again (the r14
    * audit found ~60 unprotected queries). */
  private[graft] val CpuHeavy = Seq(
    "q100_threshold_sweep", "q101_bpe_pairs", "q103_weighted_cap",
    "q104_keywords_tfidf", "q105_script_mix", "q106_label_prop",
    "q107_percentile_gate", "q109_json_ingest", "q110_exact_sample",
    "q111_hard_negatives", "q118_embedding_e2e",
    "q120_budget_fill", "q125_token_entropy", "q128_source_overlap",
    "q133_knn_triangles", "q134_lang_confusion", "q136_edit_join",
    "q137_ann_recall", "q138_containment", "q139_edit_blocked",
    "q141_phrase_search", "q142_lsh_eval", "q143_dup_lang_matrix",
    "q144_normalize_text", "q154_dup_histogram", "q23_dedup_ngram",
    "q24_dedup_minhash", "q25_dedup_simhash", "q26_sim_topk",
    "q27_sim_lsh", "q28_cosine_neardup", "q29_text_quality",
    "q30_text_langid", "q31_token_count", "q32_fingerprint",
    "q33_json_props", "q34_multimodal", "q37_sim_ivf",
    "q38_dedup_normalized", "q39_dedup_drop_normalized", "q46_knn_join",
    "q47_neardup_clusters", "q50_pack_sequences", "q51_decontam",
    "q53_repetition_quality", "q54_pii_scrub", "q56_chunk_dedup",
    "q58_token_rarity", "q59_boilerplate", "q61_quantize_int8",
    "q62_knn_quantized", "q63_dedup_incremental", "q64_semantic_dedup",
    "q65_hashed_score", "q66_cosine_incremental", "q67_vocab_topk",
    "q68_leakage_split", "q69_filter_funnel", "q70_dedup_keep_best",
    "q77_dedup_ingest", "q78_cosine_ingest", "q79_chunk_windows",
    "q80_label_centroids", "q82_bm25_topk", "q83_winnow_pairs",
    "q84_cooccur_topk", "q91_curation_e2e", "q92_random_project",
    "q94_snapshot_diff", "q95_lm_score", "q96_dsir_weights",
    "q97_source_card", "q98_kmeans_step", "q155_kmeans_fit",
    "q156_ivf_fitted", "q158_hybrid_rrf", "q160_ivf_drift",
    "q161_ivf_refit", "q162_cluster_card", "q163_dup_spans",
    "q164_span_cut", "q165_knn_sampled_fit", "q166_knn_two_level",
    "q167_mmr_local", "q168_span_cut_ingest", "q169_knn_split",
    "q170_curation_span", "q171_span_cut_indexed",
    "q172_ivf_occupancy", "q173_knn_auto", "q174_knn_persisted",
    "q175_span_index_update", "q176_vector_corpus_update",
    "q177_knn_auto_two_level")

  /** CPU-heavy queries whose FINAL plan is truncated by an eager
    * `localCheckpoint` inside an iterative op (PageRank rounds), so the
    * scatter exchange runs but is invisible to a final-plan string
    * check. Triaged heavy for coverage; the RoundRobinPartitioning
    * assertion is carried by the non-iterative query sharing the same
    * pre-checkpoint build (q113's kNN edge build is q46's gated shape). */
  private[graft] val CpuHeavyTruncated =
    Seq("q113_knn_pagerank", "q157_cc_incremental", "q159_mmr_diversify")

  /** Queries audited as shuffle-bound or dimension-light: their first
    * real work is a join/aggregate exchange (which re-spreads rows on
    * any cluster width), so a scatter would be a pure extra exchange.
    * Kept explicit — not "everything else" — so adding a query forces
    * the triage decision. */
  private[graft] val CpuLight = Seq(
    "q01_agg_pricing", "q02_join_global_inner", "q03_join_global_left",
    "q04_join_ss_inner", "q05_join_ss_left", "q06_join_ss_outer",
    "q07_join_tt_inner", "q08_join_tt_left", "q09_join_tt_outer",
    "q102_activity_profile", "q108_asof_within", "q10_asof_left",
    "q112_decayed_score", "q114_scd2_history", "q115_top_journeys",
    "q116_daily_spikes", "q117_user_lifecycle", "q119_repeat_suppression",
    "q11_asof_inner", "q121_fk_audit", "q122_daily_trending",
    "q123_cube_summary", "q124_interval_overlap", "q126_covisitation",
    "q127_median_mad", "q129_rolling_active", "q12_agg_running",
    "q130_stratified_sample", "q131_percentile_digest",
    "q132_session_stats", "q135_split_audit", "q13_window_tumbling",
    "q178_seed_coverage",
    "q140_kcore", "q145_score_auc", "q146_ab_test", "q147_target_encoding",
    "q148_conversion_ab", "q149_eval_card", "q14_window_hopping",
    "q150_auc_hist", "q151_calibration", "q152_count_encoding",
    "q153_funnel_latency", "q15_window_session", "q16_latest_per_key",
    "q17_merge", "q18_nary_join", "q19_flatmap", "q20_rekey_agg",
    "q21_dedup_exact", "q22_dedup_latest", "q35_pipeline", "q36_fold_agg",
    "q40_salted_join", "q41_range_join", "q42_topn_per_group",
    "q43_rollup", "q44_hash_split", "q45_sketch_profile", "q48_lag_lead",
    "q49_set_ops", "q52_heavy_keys", "q55_temperature_resample",
    "q57_shuffle_shards", "q60_mixture_budget", "q71_cap_per_source",
    "q72_sessionize", "q73_event_funnel", "q74_trailing_window",
    "q75_retention_cohorts", "q76_group_outliers", "q81_quantile_buckets",
    "q85_drift_by_group", "q86_attribution", "q87_winsorized_mean",
    "q88_quality_check", "q89_asof_forward", "q90_asof_nearest",
    "q93_concurrency", "q99_transitions")

  /** Triage-coverage check: every registered query must appear in
    * exactly one of [[CpuHeavy]] / [[CpuLight]]. Returns the problems
    * (empty = total triage). Run by PlanGateSpec and `--check`. */
  def coverageGaps(registered: Set[String]): Seq[String] = {
    val h = CpuHeavy.toSet ++ CpuHeavyTruncated; val l = CpuLight.toSet
    (h.intersect(l)).toSeq.sorted.map(q => s"$q triaged as BOTH heavy and light") ++
      (registered -- h -- l).toSeq.sorted.map(q =>
        s"$q registered but untriaged (add to CpuHeavy or CpuLight)") ++
      ((h ++ l) -- registered).toSeq.sorted.map(q =>
        s"$q triaged but not registered (stale entry)")
  }

  /** Joins against a broadcast-worthy global/dimension table. */
  private val MustBroadcast = Seq("q02_join_global_inner", "q03_join_global_left")

  /** Driver-safe output types — the r16 lesson (q145/q150): the driver's
    * hasher canonicalizes parquet values by type, and the only way the
    * local replica stays STRICTLY stricter than the driver is to pin the
    * emitted-type vocabulary to the set with round-green evidence. The
    * r15 regression emitted the surface's single DECIMAL(38,0) column;
    * values were exactly right and the driver still hashed red, because
    * decimal canonicalization differs between the driver and the local
    * DuckDB float64 round-trip. Decimal stays legal INSIDE a plan
    * (exact quadratic sums need it) — it must be cast to BIGINT/DOUBLE/
    * STRING before the final select. Arrays/structs of safe leaves are
    * safe (green since their introduction: q155's array<float>
    * centroids, q45's sketch struct). */
  private val SafeLeafTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(LongType, IntegerType, DoubleType, FloatType, StringType,
      BooleanType, DateType, TimestampType, BinaryType)
  }

  private def unsafeLeaves(dt: org.apache.spark.sql.types.DataType)
      : Seq[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case t if SafeLeafTypes.contains(t) => Nil
      case ArrayType(e, _)  => unsafeLeaves(e)
      case MapType(k, v, _) => unsafeLeaves(k) ++ unsafeLeaves(v)
      case StructType(fs)   => fs.toSeq.flatMap(f => unsafeLeaves(f.dataType))
      case other            => Seq(other.sql)
    }
  }

  /** Emitted-schema violations for one query (empty = clean): every
    * leaf type of every output column must be in [[SafeLeafTypes]].
    * Run by PlanGateSpec over the whole surface — analysis-only, the
    * schema comes from the logical plan without execution. */
  def schemaViolations(name: String,
      schema: org.apache.spark.sql.types.StructType): Seq[String] =
    schema.fields.toSeq.flatMap { f =>
      unsafeLeaves(f.dataType).distinct.map(t =>
        s"output column `${f.name}` leaks non-driver-safe type $t " +
          "(cast to BIGINT/DOUBLE/STRING before the final select)")
    }

  /** Violations for one query's formatted physical plan (empty = clean).
    * Exposed so the test suite runs the same gate as `--check`. */
  def violations(name: String, plan: String): Seq[String] = Seq(
    Option.when(plan.contains("CartesianProduct"))(
      "CartesianProduct (unconstrained all-pairs join)"),
    Option.when(MustBroadcast.contains(name) && !plan.contains("BroadcastHashJoin"))(
      "global-table join is not a BroadcastHashJoin"),
    Option.when(CpuHeavy.contains(name) && !plan.contains("RoundRobinPartitioning"))(
      "CPU-heavy query lost its scatter exchange (1-partition scan)"),
    // The r13 regression class, made standing: `max_by`/`max(struct)`
    // silently plan SortAggregate (a per-partition SORT of every group's
    // rows before each partial and final aggregate — at 100 TB that is
    // a corpus sort per aggregation stage). Every aggregate in the
    // registered surface must stay HashAggregate/ObjectHashAggregate
    // (argmax work goes through functions.ArgExtremum). No allowlist on
    // purpose: one new max_by(struct) call is exactly the regression
    // this rule exists to catch.
    Option.when(plan.contains("SortAggregate"))(
      "SortAggregate (hash aggregate fell back to per-group sort)")
  ).flatten

  def main(args: Array[String]): Unit = {
    val check = args.headOption.contains("--check")
    val rest = if (check) args.drop(1) else args
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = LocalSession()

    def plan(n: String): String =
      SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)

    if (check) {
      val gaps = coverageGaps(SparkEntry.queries.keySet)
      gaps.foreach(g => println(s"[plan-check] FAIL triage: $g"))
      val failures = gaps.map("triage" -> _) ++
        SparkEntry.queries.keys.toSeq.sorted.flatMap { n =>
        val df = SparkEntry.queries(n)(spark, sfDir)
        val errs = violations(n, df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)) ++
          schemaViolations(n, df.schema)
        errs.foreach(e => println(s"[plan-check] FAIL $n: $e"))
        if (errs.isEmpty) println(s"[plan-check] pass $n")
        errs.map(n -> _)
      }
      println(s"[plan-check] ${SparkEntry.queries.size - failures.map(_._1).distinct.size} ok, " +
        s"${failures.size} violations")
      spark.stop()
      if (failures.nonEmpty) sys.exit(1)
    } else {
      val names = if (rest.length > 1) rest.drop(1).toSeq
        else Seq("q01_agg_pricing", "q02_join_global_inner", "q10_asof_left",
          "q23_dedup_ngram", "q26_sim_topk", "q16_latest_per_key",
          "q53_repetition_quality", "q56_chunk_dedup", "q58_token_rarity")
      names.foreach { n =>
        println(s"\n========== $n ==========")
        println(plan(n))
      }
      spark.stop()
    }
  }
}
