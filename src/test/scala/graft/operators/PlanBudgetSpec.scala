package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.core.TestSpark
import graft.tools.PlanAudit

/** Whole-surface plan-regression gate: every SparkEntry query's WARM live
  * plan (trained artifacts pre-built, InMemoryRelation stored plans excluded
  * — see [[graft.tools.PlanAudit]]) must stay within its recorded shuffle /
  * BroadcastNestedLoopJoin budget, and two bans hold globally: no
  * CartesianProduct anywhere, no interpreted ScalaUDF anywhere (including
  * stored artifact plans).
  *
  * PlanShapeSpec pins a handful of plans in fine detail; this spec is the
  * broad net — a refactor that silently adds a shuffle to ANY of the 127
  * queries fails here even though the DuckDB oracles would stay green (the
  * results don't change, the 100 TB bill does). Budgets are exact warm
  * counts at sf0.001, regenerated with:
  *
  *   sbt "runMain graft.tools.PlanAudit /root/testdata/sf0.001 budgets"
  *
  * An INTENTIONAL plan change (new operator, better strategy) should
  * regenerate and re-commit the table — the diff then documents the change.
  */
class PlanBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  final case class Budget(maxShuffle: Int, maxBnlj: Int)

  private val budgets: Map[String, Budget] =
    Map(
      "a10_grouped_kmv" -> Budget(3, 0),
      "a11_zscore_outliers" -> Budget(3, 0),
      "a12_hll_distinct" -> Budget(5, 0),
      "a13_sampled_quantiles" -> Budget(3, 0),
      "a14_hll_merge" -> Budget(7, 2),
      "a1_total_bounds" -> Budget(1, 0),
      "a2_nan_clean_gate" -> Budget(2, 0),
      "a3_weight_normalize" -> Budget(2, 0),
      "a4_weighted_sum" -> Budget(2, 0),
      "a5_first_seen" -> Budget(2, 0),
      "a7_percentiles" -> Budget(2, 0),
      "a8_salted_agg" -> Budget(3, 0),
      "a9_kmv_distinct" -> Budget(3, 1),
      "c1_curation_pipeline" -> Budget(4, 0),
      "c2_canonical_keep" -> Budget(1, 0),
      "c3_leakage_safe_split" -> Budget(1, 0),
      "c4_train_perceptron" -> Budget(0, 0),
      "d10_decontaminate" -> Budget(4, 0),
      "d11_dup_spans" -> Budget(5, 0),
      "d12_incremental" -> Budget(4, 0),
      "d13_embed_decontaminate" -> Budget(9, 4),
      "d1_exact_dedup" -> Budget(2, 0),
      "d2_minhash_sigs" -> Budget(1, 0),
      "d3_minhash_pairs" -> Budget(1, 0),
      "d4_simhash" -> Budget(2, 0),
      "d5_ngram_jaccard" -> Budget(2, 0),
      "d6_embed_cosine" -> Budget(1, 0),
      "d7_simhash_pairs" -> Budget(2, 0),
      "d8_embed_lsh_dedup" -> Budget(6, 2),
      "d9_dedup_groups" -> Budget(1, 0),
      "e1_kmeans" -> Budget(1, 0),
      "e2_semdedup" -> Budget(3, 0),
      "e3_inertia" -> Budget(2, 0),
      "f1_digits_lpad" -> Budget(1, 0),
      "f2_date_battery" -> Budget(1, 0),
      "f7_scale_round" -> Budget(1, 0),
      "f_json_extract" -> Budget(1, 0),
      "g1_radohydro_pipeline" -> Budget(4, 0),
      "g2_pipeline_invariants" -> Budget(5, 0),
      "g3_cell_weights" -> Budget(2, 0),
      "j10_bloom_prune" -> Budget(5, 1),
      "j1_cross_contains" -> Budget(2, 1),
      "j2_bucket_range_join" -> Budget(1, 0),
      "j6_semi_join" -> Budget(1, 0),
      "j7_anti_join" -> Budget(1, 0),
      "j8_salted_join" -> Budget(2, 0),
      "j9_asof_join" -> Budget(2, 0),
      "m1_binary_meta" -> Budget(1, 0),
      "m2_frame_sample" -> Budget(1, 0),
      "m3_features" -> Budget(1, 0),
      "m4_decoded_features" -> Budget(1, 0),
      "m5_decoded_audio" -> Budget(1, 0),
      "m6_phash_pairs" -> Budget(1, 0),
      "n1_pagerank" -> Budget(0, 0),
      "n2_weighted_pagerank" -> Budget(0, 0),
      "o3_topk" -> Budget(0, 0),
      "o5_window_frames" -> Budget(2, 0),
      "o6_rank_battery" -> Budget(2, 0),
      "o7_range_frames" -> Budget(2, 0),
      "o8_lead_lag" -> Budget(2, 0),
      "p1_between_filter" -> Budget(0, 0),
      "q1_pricing_summary" -> Budget(2, 0),
      "q2_revenue_by_nation" -> Budget(4, 0),
      "q3_shipping_priority" -> Budget(1, 0),
      "q5_region_rollup" -> Budget(3, 0),
      "q6_returned_revenue" -> Budget(1, 0),
      "qf1_nodata_delta" -> Budget(3, 0),
      "qf2_zfill_width" -> Budget(2, 0),
      "r1_gap_fill" -> Budget(4, 1),
      "r2_ewma" -> Budget(2, 0),
      "r3_funnel" -> Budget(4, 0),
      "s10_date_sequence" -> Budget(1, 0),
      "s10_nprobe_calibrate" -> Budget(6, 5),
      "s1_cosine_topk" -> Budget(2, 1),
      "s2_lsh_ann" -> Budget(9, 4),
      "s3_ivf_ann" -> Budget(2, 0),
      "s4_scalar_quant" -> Budget(2, 1),
      "s5_pq_adc" -> Budget(2, 1),
      "s6_mmr_rerank" -> Budget(1, 0),
      "s7_ivfpq_ann" -> Budget(2, 0),
      "s8_ann_recall" -> Budget(21, 9),
      "s9_filtered_ann" -> Budget(2, 0),
      "st1_tumbling_window" -> Budget(2, 0),
      "st2_sliding_window" -> Budget(2, 0),
      "st3_session_window" -> Budget(2, 0),
      "st4_stream_dedup" -> Budget(2, 0),
      "st5_interval_join" -> Budget(2, 0),
      "st6_running_totals" -> Budget(2, 0),
      "t10_feature_hash" -> Budget(2, 0),
      "t11_temp_sample" -> Budget(4, 1),
      "t12_seq_chunk" -> Budget(1, 0),
      "t13_pack" -> Budget(2, 0),
      "t14_rarity_score" -> Budget(5, 1),
      "t15_domain_mix" -> Budget(4, 1),
      "t16_pii_redact" -> Budget(2, 0),
      "t17_source_cap" -> Budget(3, 0),
      "t18_bm25" -> Budget(7, 1),
      "t19_bpe_train" -> Budget(0, 0),
      "t1_text_stats" -> Budget(2, 0),
      "t20_bpe_encode" -> Budget(3, 0),
      "t21_bpe_ids" -> Budget(1, 0),
      "t22_pack_bpe" -> Budget(4, 0),
      "t23_pack_sequences" -> Budget(4, 0),
      "t24_pack_append" -> Budget(3, 0),
      "t2_lang_id" -> Budget(1, 0),
      "t3_fingerprint" -> Budget(1, 0),
      "t4_token_freq" -> Budget(4, 0),
      "t5_quality_filter" -> Budget(2, 0),
      "t6_stratified_sample" -> Budget(1, 0),
      "t7_countmin" -> Budget(2, 0),
      "t8_gopher_repetition" -> Budget(1, 0),
      "t9_tfidf" -> Budget(6, 1),
      "u1_union" -> Budget(1, 0),
      "u4_pivot_wide" -> Budget(2, 0),
      "u5_unpivot" -> Budget(3, 0),
      "u6_rollup" -> Budget(3, 0),
      "u7_grouping_sets" -> Budget(3, 0),
      "v10_weighted_pagerank" -> Budget(0, 0),
      "v1_cc_twostar" -> Budget(1, 0),
      "v2_spans_merge" -> Budget(3, 0),
      "v3_ivfpq_adc" -> Budget(3, 1),
      "v4_bpe_ids" -> Budget(1, 0),
      "v5_pack_bpe" -> Budget(3, 0),
      "v6_pack_sequences" -> Budget(5, 0),
      "v7_kmeans" -> Budget(1, 0),
      "v8_inertia" -> Budget(2, 0),
      "v9_pagerank" -> Budget(0, 0)
    )

  test("plan budgets: every query within recorded shuffle/BNLJ ceilings; no Cartesian, no ScalaUDF") {
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    assert(budgets.keySet == names.toSet,
      s"budget table out of sync with the query surface — regenerate with PlanAudit. " +
        s"missing=${names.toSet -- budgets.keySet} stale=${budgets.keySet -- names.toSet}")
    names.foreach(n => PlanAudit.warm(spark, sfDir, n)) // deterministic warm state
    val violations = names.flatMap { n =>
      val df = PlanAudit.warm(spark, sfDir, n)
      val c = PlanAudit.liveCounts(df)
      val b = budgets(n)
      Seq(
        Option.when(c.shuffle > b.maxShuffle)(s"$n: live shuffles ${c.shuffle} > budget ${b.maxShuffle}"),
        Option.when(c.bnlj > b.maxBnlj)(s"$n: BroadcastNestedLoopJoins ${c.bnlj} > budget ${b.maxBnlj}"),
        Option.when(c.cartesian > 0)(s"$n: CartesianProduct in live plan"),
        Option.when(PlanAudit.scalaUdfCount(df) > 0)(s"$n: interpreted ScalaUDF in plan")
      ).flatten
    }
    assert(violations.isEmpty, "plan regressions:\n" + violations.mkString("\n"))
  }
}
