#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans of the core queries
at sf0.1 — the analog of the reference lab's checked-in
*.plan.txt artifacts (SURVEY.md §5 point 3).

Usage: python scripts/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import sys

sys.path.insert(0, "/root/repo")

from sql_engine_triangle_spark.queries import registry  # noqa: E402
from sql_engine_triangle_spark.session import get_spark  # noqa: E402

# Curated historical plan set: every entry that has ever carried a
# round's plan-review note stays in the artifact so round-over-round
# plan diffs remain meaningful. The DRIVER WINDOW is appended
# MECHANICALLY below (VERDICT r10 #3): two consecutive rounds the
# hand-maintained list silently missed window entries, so the
# "every window entry has a checked-in EXPLAIN" contract is now
# derived from registry._PRIORITY_WINDOW instead of review —
# the same mechanical-over-curated move as the r7 backlog audit.
# tests/test_plans.py::test_every_window_entry_has_a_plan_section
# asserts the PLANS.md artifact actually satisfies the contract.
CURATED = [
    "q1_agg_by_type",
    "q2_town_month_rollup",
    "q3_yoy_window",
    "q4_top_nations_percentiles",
    "q4_semi_join_form",
    "q4_two_key_percentiles",
    "o_topk_rows",
    "j_star_revenue",
    "tpch_q5_local_supplier_volume",
    "dedup_minhash_lsh",
    "dedup_embedding_lsh",
    "pipeline_funnel_conversion",
    "merge_upsert_snapshot",
    "text_boilerplate_strip",
    "pipeline_incremental_admission",
    "multimodal_decode_stats",
    "asof_purchase_attribution",
    # round-4 additions: deepest new join tree, disjunctive predicate
    # decomposition, fused retrieval, and the two-phase-prefix-sum
    # selection
    "tpch_q7_volume_shipping",
    "tpch_q19_disjunctive_join",
    "sim_hybrid_rrf",
    "pipeline_token_budget",
    "curation_domain_cap",
    "pipeline_corpus_build",
    # late-r4 timeseries/sketch/classifier additions
    "w_gap_fill_interpolate",
    "a_hll_partial_rollup",
    "sim_centroid_classify",
    "a_ohlc_bars",
    # round-5 additions: transitive capstone, Arrow kernel forms,
    # integer-exact iterative algorithms, bitmap tiles, and the new
    # join/maintenance surface
    "pipeline_corpus_build_cc",
    "sim_knn_join_arrow",
    "graph_pagerank",
    "ml_kmeans_int",
    "a_bitmap_distinct",
    "a_bitmap_rolling_distinct",
    "j_skew_salted",
    "asof_tolerance_attribution",
    "sim_quantized_topk",
    "maint_snapshot_diff",
    "a_mad_outliers",
    "text_gopher_rules",
    # late-r5 observability / window / ER tier
    "dedup_pair_histogram",
    "w_interval_coverage",
    "a_weighted_median",
    "w_longest_streak",
    "j_fuzzy_name_match",
    "maint_table_checksum",
    "w_running_distinct",
    "graph_reachability",
    # round-6 additions: contamination-aware capstone, bloom runtime
    # filter, sparse cosine, scatter-direction power iteration,
    # ordered funnel, inverted index, patch sums, exact trend
    "pipeline_corpus_build_decontam",
    "j_bloom_prefilter",
    "sim_sparse_cosine_pairs",
    "ml_power_iteration",
    "w_window_funnel",
    "text_inverted_index",
    "multimodal_patch_stats",
    "a_linear_trend",
    "a_equidepth_hist",
    "f_sequence_gaps",
    "emb_pq_codebook",
    "sim_pq_adc_topk",
    "asof_nearest_attribution",
    # round-7 additions: real-tokenizer token metering, BPE-metered
    # budget cut, maximal repeated-passage merge, and the hardest of
    # the newly-rowed TPC-H shapes (8-relation tree).
    "text_tokenize_bpe",
    "pipeline_token_budget_bpe",
    "dedup_repeated_passages",
    "tpch_q8_market_share",
    "j_range_bands_bucketed",
    # round-8 additions: mergeable quantile/count-min tiles, pair-merge
    # BPE trainer, MATCH_RECOGNIZE-lite, wedge Jaccard, synchronized
    # LPA, one-scan quality suite, quantified-subquery decorrelation,
    # exact mid-rank AUC, seasonal index, per-dimension embedding QA
    "a_percentile_partial_rollup",
    "a_cms_partial_rollup",
    "text_bpe_train_merges",
    "w_pattern_match_regex",
    "graph_jaccard_neighbors",
    "graph_label_propagation",
    "maint_data_quality_checks",
    "sub_quantified_anyall",
    "ml_auc_exact",
    "a_seasonal_index",
    "emb_dim_stats",
    "w_rolling_median",
    "curation_k_anonymity",
    "w_cusum_drift",
    # round-9 additions: BM25 retrieval scoring (index USE) and the
    # perceptual-hash image dedup (banded Hamming pairing over the
    # Arrow dHash path).
    "text_bm25_topk",
    "dedup_image_phash",
    "dedup_audio_fingerprint",
    # round-9 session-2 additions (VERDICT r9 Missing #1): the video
    # pair, MMR re-rank, Holt fold, l-diversity, the multimodal
    # capstone, IVF-PQ, and Mann-Kendall/Theil-Sen — completing
    # checked-in EXPLAINs for every driver-window entry.
    "multimodal_video_scenes",
    "dedup_video_keyframes",
    "sim_mmr_diversified",
    "w_holt_linear_int",
    "curation_l_diversity",
    "pipeline_multimodal_corpus_build",
    "sim_ivfpq_adc_topk",
    "a_trend_mann_kendall",
    # round-10 additions: the third governance gate, both
    # retrieval-quality evals, and exact calibration.
    "curation_t_closeness",
    "eval_ivfpq_mrr_recall",
    "eval_bm25_mrr_recall",
    "ml_calibration_ece",
]

# Mechanical window completion: every driver-window entry gets a plan
# section whether or not it is in the curated history.
QUERIES = CURATED + [
    n for n in registry._PRIORITY_WINDOW if n not in CURATED
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="dump_plans")
    out = [
        "# PLANS — formatted physical plans (auto-generated)",
        "",
        f"Source: `scripts/dump_plans.py` at `{sf_dir}`. The EXPLAIN-as-artifact",
        "practice of the reference lab (per-query plan files) applied to our",
        "engine: check PushedFilters/ReadSchema (pushdown + pruning), partial",
        "+ final HashAggregate, BroadcastHashJoin, TakeOrderedAndProject.",
        "",
        "Bench-history note (r3): `j_star_revenue`'s r1→r2 step (0.87→1.24 s)",
        "is the noop-sink measurement fix, not a plan change — r1 timed a",
        "`.count()` that let Catalyst prune the revenue aggregation columns.",
        "Re-measured solo in a fresh session (r3): ~1.3 s, plan unchanged",
        "(4 BroadcastHashJoins, one fact-side agg exchange, decimal-routed",
        "sum). Stable; nothing to fix.",
        "",
        "Measurement note (r5, VERDICT r4 item 4): pipeline_corpus_build's",
        "shingle pass now REUSES the quality gate's token arrays",
        "(minhash_lsh_pairs(..., exploded=...) behind the shingle_rows",
        "repartition barrier) instead of re-tokenizing from text — A/B at",
        "sf0.1, min of 2 noop-sink runs, identical output verified:",
        "re-tokenize 9.89 s / 9.48 s repeat vs reuse 8.62 s (~9-13%, one",
        "regex tokenize per row instead of two). Shipped as the default for",
        "both capstones. The cross-entry checkpoint-sharing idea remains",
        "rejected (8.7 -> 12.9 s, r4 note in curation_ops.py).",
        "",
        "Measurement note (r5, CC capstone): pipeline_corpus_build_cc first",
        "benched 24.4 s — the star operator's emptiness probe and symmetric-",
        "edge checkpoint each re-evaluated the LSH pair lineage. Checkpointing",
        "the pair stream before the operator cut it to 16.3 s; the remaining",
        "gap over the greedy capstone (8.8 s) is the iterative star rounds'",
        "per-round jobs — inherent to transitive clustering, and why",
        "dedup_clusters_lsh itself is unbenched (r4 note).",
        "",
        "Measurement note (r5, Arrow kernel forms): the cluster-bounded",
        "cosine family pays an interpreted HOF fold per PAIR on the JVM;",
        "the *_arrow twins pay one numpy matmul per CLUSTER — sf0.1:",
        "sim_knn_join 4.97 -> 1.90 s, dedup_semantic 4.95 -> 1.57 s,",
        "sim_hard_negatives 4.63 -> 1.59 s; outputs bit-equal at every",
        "fixture SF (equality tests in tests/test_curation_ops.py).",
        "",
        "Measurement note (r6, battery-contamination fix — VERDICT r5",
        '"What\'s wrong" #2 / "Next round" #3): bench.py now runs entries in',
        "family COHORTS, each cohort in a FRESH JVM subprocess, after r5's",
        "91-entry shared session drifted like-for-like numbers +23.7%",
        "(GC/codegen-cache pressure inflating late entries). Verification by",
        "re-measuring the three most-drifted r5 entries solo (own process,",
        "min-of-2 warmed noop-sink runs, sf0.1) against their r5 in-battery",
        "numbers:",
        "  pipeline_corpus_build     13.00 s in-battery (r5) -> 9.37 s solo (r6)",
        "  tpch_q1_pricing_summary   (r5 in-battery drifted +44%) -> 1.79 s solo",
        "  tpch_q21_waiting_supplier (r5 in-battery drifted +39%) -> 1.16 s solo",
        "The solo numbers match the judge's r5 solo re-measurements",
        "(pipeline_corpus_build 9.68 s) — confirming the drift was",
        "measurement methodology, not plan regressions. In-cohort numbers in",
        "BENCH_FULL.json now run at most a family-sized battery per JVM, so",
        "round-over-round deltas are meaningful again.",
        "",
        "Measurement note (r7, prev_common drift check): the mechanical",
        "delta block (VERDICT r6 #6) flagged one entry past noise:",
        "pipeline_corpus_build 8.59 s (r6 cohort) -> 10.96 s (r7 cohort).",
        "Plan is byte-stable (this file, plan_id jitter only), so it was",
        "re-measured solo per the r6 discipline: fresh idle-machine JVM,",
        "warmed noop-sink runs, sf0.1 -> min-of-3 9.33 s (spread 9.3-11.6 s",
        "across consecutive runs in ONE session). 9.33 matches the r5",
        "judge-solo 9.37 s exactly: the entry is stable, and the r6 8.59 /",
        "r7 10.96 cohort numbers are opposite draws from the same ~20%",
        "inter-run variance this 6-stage plan shows (GC timing on the",
        "shingle explode). Like-for-like over the other 107 shared entries:",
        "146.1 -> 136.9 s (-6.3%); no other entry REGRESSED past +0.35 s, and",
        "the dedup_sim-cohort improvements (-0.7 to -1.3 s on five entries)",
        "track that cohort shrinking by the two trimmed JVM fold twins",
        "(VERDICT r6 #5) — less per-JVM battery, less GC pressure, the same",
        "mechanism as the r5 contamination finding, now acting in reverse.",
        "",
        "Measurement note (r7 wrap, second battery run): BENCH_FULL.json was",
        "re-recorded at round end so the committed artifact matches the FINAL",
        "battery (adds j_range_bands_bucketed + the r7 tier). IDENTICAL code",
        "to the morning run, +9.7 s like-for-like — dominated by",
        "pipeline_corpus_build_decontam 12.0 -> 16.1 s in-battery. Solo",
        "reconciliation (bench.py --solo, fresh JVM, min-of-3): 10.66 s —",
        "no regression; both capstones show the documented ~20-35% in-battery",
        "inter-run variance (machine state after hours of JVM churn). The",
        "capstones' round-over-round signal is their SOLO numbers",
        "(pipeline_corpus_build 9.33 s, decontam 10.66 s this round), not",
        "any single battery draw.",
        "",
        "Measurement note (r8, session-level elevation): the r8 batteries",
        "ran UNIFORMLY ~15-25% above the r7 records across unrelated,",
        "code-untouched entries — q1's single-row-group scan floor read",
        "0.434 (r7) -> 0.550 in-battery / 0.573 solo min-of-3; the r7",
        "judge-solo dedup_cluster_size_hist 4.81 -> 5.59 solo min-of-3 —",
        "with ZERO plan changes for those entries (this file regenerated",
        "this round; pre-r8 sections byte-stable). The elevation is",
        "host/ambient for this session, the same mechanism as the r8",
        "scale-stress lesson (first sweep 4-12x slow near JVM teardown;",
        "run-1 20-40% above run-2 across the board). Three full batteries",
        "were run (184.1 / 166.7 / 193.1 s — the third adds only the",
        "0.4 s w_cusum_drift, so the 184->167->193 swing on otherwise",
        "IDENTICAL code bounds this session's ambient variance at ~±8%",
        "around a ~178 s mean). The committed BENCH_FULL.json is the",
        "final battery (matching the shipped entry set), its",
        "solo_reconciled block re-measured every >30% cohort delta, and",
        "the round-over-round signal remains the solo numbers above, not",
        "cross-session battery draws.",
        "",
    ]
    for name in QUERIES:
        df = registry.get(name).fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {name}", "", "```", buf.getvalue().rstrip(), "```", ""]
    with open("/root/repo/PLANS.md", "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({len(QUERIES)} plans)")


if __name__ == "__main__":
    main()
