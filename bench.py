"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"<name>": sec, ...}, "sf": <float>}

Each query is fully executed via a no-op sink (``noop`` data source) so
timings measure scan + compute + shuffle, not driver-side collection.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from file_indexer_spark import registry  # noqa: E402
from file_indexer_spark.session import get_spark  # noqa: E402

# Headline set: one per operator family — full-table scan+sort excluded
# (pure I/O), the rest cover window dedup, grouped join, multi-agg
# stats, top-k, timeline, semi-join work selection, search pushdown.
# (= the round-1 set; kept stable for round-over-round comparability.)
HEADLINE = [
    "d5_duplicates_report",
    "j2_duplicate_groups",
    "j3_duplicate_groups_pattern",
    "a1_database_stats",
    "a9_size_histogram",
    "a10_extension_stats",
    "a11_modification_timeline",
    "a12_duplicate_groups_nested",
    "a7b_phase2_files_to_hash",
    "p1_search_multidim",
    "p2_search_recency_page",
]

# LLM-data-pipeline extension (added round 2): dedup, similarity
# search, text analysis, event analytics, multimodal metadata. Reported
# in the same JSON with a separate subtotal so the r1-comparable
# headline number stays visible.
LLM_EXTENSION = [
    "dd1_exact_dedup",
    "dd2_ngram_jaccard",
    "dd3_minhash_lsh",
    "dd4_simhash",
    "sim1_cosine_topk",
    "sim2_ivf_ann",
    "dd5_embedding_neardup",
    "dd7_dedup_clusters",
    "sp1_hash_split",
    "sp2_source_cap",
    "sp3_sequence_packing",
    "t1_token_stats",
    "t2_quality_scores",
    "t3_language_confusion",
    "t4_fingerprints",
    "t5_quality_retention",
    "e1_sessionization",
    "e2_tumbling_counts",
    "e3_funnel",
    "e4_top_users",
    "e5_props_stats",
    "e6_retention_cohorts",
    "sim4_filtered_ann",
    "m1_binary_metadata",
    "m2_media_decode",
    "m3_frame_sampling",
    "m4_media_features",
    "m5_media_resize",
    "s12_raw_sql",
    # round 3: DataFrame-native star joins, as-of join, sliding
    # windows, exact percentile profiles
    "h1_regional_revenue",
    "h2_returned_top_customers",
    "h3_late_order_priorities",
    "e7_asof_last_view",
    "e8_rolling_daily_value",
    "e9_preceding_window_counts",
    "e10_sliding_counts",
    "t6_length_percentiles",
    "t7_rollup_token_totals",
    "t8_lang_pivot",
    "e11_event_transitions",
    "inf1_classifier_scores",
    "sp4_shard_assignment",
    "e12_gap_percentiles",
    "ct4_boilerplate_ngrams",
    "t9_cube_token_totals",
    # round 2 curation set + MLlib parity paths (now that every round's
    # additions are benched, not just a subset)
    "ct1_contamination",
    "ct2_pii_scrub",
    "ct3_repetition_stats",
    "ch1_token_chunking",
    "mx1_mixture_resample",
    "sd1_semantic_dedup",
    "dd6_minhash_lsh_ml",
    "sim3_brp_lsh_ann",
    # round 4: skew-safe sessionization, approx-percentile 100TB paths,
    # real-format decode, Q1/Q3 star-join shapes
    "e1b_sessionization_skew",
    "t6a_length_percentiles_approx",
    "e12a_gap_percentiles_approx",
    "m2b_ppm_decode",
    "h4_pricing_summary",
    "h5_shipping_priority",
    # round 4 (cont.): stratified sampling, span-level dedup, rank-based
    # quality filter, temperature mixture, distinctive terms, Q6 shape
    "sp5_stratified_sample",
    "dd8_duplicate_spans",
    "ct5_quality_rank_filter",
    "mx2_temperature_mixture",
    "t10_distinctive_terms",
    "h6_revenue_forecast",
    "sim5_knn_join",
    "e13_daily_uniques",
    "e13a_daily_uniques_approx",
    "dd9_duplicate_span_extents",
    "pp1_curation_pipeline",
    "t11_token_rarity",
    # round 5: two-level IVF assignment (the parameterized-k build
    # path), ExactSubstr strip pass, epoch shuffle, int8 quantization
    "sim6_hier_ivf_assign",
    "dd10_strip_spans",
    "sp6_epoch_shuffle",
    "sim7_quantize",
    "m6_image_ahash",
    "m6b_image_dup_groups",
    "e14_session_window",
    "h7_large_volume_customers",
    # round 6: ordinal-free skew-safe sessions, canonical 8x8 aHash,
    # Q13/Q22/Q7 join shapes, batch interval join
    "e1c_session_stats",
    "m6c_image_ahash_canonical",
    "h8_order_count_distribution",
    "h9_idle_rich_customers",
    "h10_nation_trade_volume",
    "e15_interval_join",
    "m7_audio_frame_energy",
    "t12_doc_top_terms",
    "h11_top_revenue_suppliers",
    "sp7_zorder_layout",
    "m8_video_shot_cuts",
    # round 7: bounds companions (sketch/MLlib tolerance contracts as
    # expected-empty joins) + the audio envelope dedup pass
    "t6a_bounds",
    "e12a_bounds",
    "e13a_bounds",
    "dd6_bounds",
    "sim3_bounds",
    "sim8_bounds",
    "m7c_audio_dup_groups",
    # round 8: PQ encode + IVF-PQ ADC search, cross-modal dup report
    # (st12 is streaming → excluded like st1-st11; w10 is a write gate)
    "sim9_pq_encode",
    "sim10_ivfpq_topk",
    "x1_cross_modal_dup_assets",
    "x2_dup_assets_materialized",
    "dd12_incremental_lsh",
    "sim11_ivfpq_materialized",
    "dd13_incremental_clusters",
    "sim12_ivfpq_append",
    # round 9 (cont.): IVF radius search, fractional upsampling, head-
    # vocabulary coverage (w14 is a write gate; st13/sim13/x4 streaming
    # → excluded by the same convention as w1-w12 / st1-st12)
    "sim14_range_search",
    "sp8_weighted_repeat",
    "t13_vocab_coverage",
    "dd14_containment_pairs",
    "e17_event_debounce",
    "sp9_budget_select",
    # round 9 (cont. 2): TPC-H closure pack, exact bigram surprisal,
    # quality keeper, recall harness, leakage audit/fix, prototype
    # sample (dd15/dd16/sp10 re-run the dd3 machinery inline — the
    # same accepted gate shape as dd13/x1)
    "h12_promo_revenue_share",
    "h13_small_qty_revenue",
    "h14_disjunctive_revenue",
    "h15_waiting_suppliers",
    "h16_market_share",
    "t14_bigram_surprisal",
    "dd15_quality_keeper",
    "sim15_recall_eval",
    "dd16_split_contamination",
    "sp10_leakage_safe_split",
    "sp11_prototype_sample",
    "dd17_minhash_calibration",
    "e18_deadline_funnel",
    "pp2_neardup_split_pipeline",
    "sp12_bin_packing",
    # round 10: PageRank centrality (dd3-machinery-bound + 5 bounded
    # iterations), value attribution, BM25 retrieval, drift monitor,
    # MMR re-rank (sim1-candidate-bound), source interleave
    "dd18_pagerank_centrality",
    "e19_linear_attribution",
    "t15_bm25_topk",
    "ct6_distribution_drift",
    "sim16_mmr_rerank",
    "sp13_source_interleave",
    # dd19 rides dd12/dd13's materialize-probe-refresh loop plus the
    # affected-component vertex rerun (st16 is streaming -> excluded
    # like st1-st15)
    "dd19_incremental_pagerank",
    # e20: map-side Misra-Gries candidates + exact verify — the
    # shuffle-free heavy-hitter plan
    "e20_heavy_hitters",
    # inf2: inf1's scan-bound scoring into <= 10 bins; mx3: one
    # per-source agg + O(sources x epochs) windows
    "inf2_calibration_bins",
    "mx3_annealed_mixture",
    # e21: anchor broadcast + map-side decay weights + one user-key agg
    "e21_decayed_engagement",
    # round 11. t16/t17: the lexical-index build/serve/append split
    # (the gates include the build by construction; steady-state serve
    # economics live in BENCH_INCREMENTAL's lexical_index block). dd20
    # rides sim5's kNN machinery + a subgraph-bounded weighted vertex
    # program. st17 is streaming -> excluded like st1-st16.
    "t16_bm25_materialized",
    "t17_bm25_append",
    "dd20_personalized_pagerank",
    # round 12. t17b/t18: the lexical write path's upsert + compaction
    # (each gate includes its base build by construction; steady-state
    # economics live in BENCH_INCREMENTAL's lexical_index block).
    # dd21/dd22/dd23 ride sim5's kNN machinery like dd20; their own
    # refresh/propagation stages are subgraph-bounded. ct7 is ct1's
    # broadcast gram probe + the bounded island window. st18/t19 are
    # streaming -> excluded like st1-st17 (ingest cost in
    # BENCH_STREAM_INGEST); w19 is a write gate like w1-w18.
    "t17b_bm25_upsert",
    "t18_bm25_compaction",
    "dd21_ppr_refresh",
    "dd22_label_propagation",
    "dd23_lp_refresh",
    "ct7_contamination_spans",
    # round 12c. sim17/sim18: the dense index's upsert + compaction —
    # sim12's encode shape over the batch plus sim11's serve (each
    # gate includes its base build by construction). t20: one
    # positional tokenize + term-filtered legs chained on equi-joins;
    # t21 is the same serve over the term-clustered materialization
    # (the gate includes its build by construction).
    "sim17_ivfpq_upsert",
    "sim18_ivfpq_compaction",
    "t20_phrase_search",
    "t21_phrase_materialized",
    # sim19: both legs' gate cost + a result-set-algebra fusion over
    # queries x k rows (corpus-independent once the legs truncate)
    "sim19_hybrid_rrf",
    # inf3: one scan + bounded (1e6-key) rank window — scan-bound
    "inf3_roc_auc",
    # t22/t23: the phrase leg's maintenance (anti-join + batch
    # tokenize; append + clustered rewrite) — each gate includes its
    # base build by construction
    "t22_phrase_upsert",
    "t23_phrase_compaction",
]


def run_query(fn, spark, sf_dir: str) -> float:
    start = time.perf_counter()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - start


def run_query_safe(fn, spark, sf_dir: str, errors: dict, name: str) -> float | None:
    """A failing query must cost its own timing slot, never the whole
    bench run (a round-2 regression lost the entire BENCH json to one
    AnalysisException)."""
    try:
        return run_query(fn, spark, sf_dir)
    except Exception as exc:  # noqa: BLE001
        errors[name] = f"{type(exc).__name__}: {exc}"[:500]
        return None


def _reap(spark) -> None:
    """Release leftover localCheckpoint RDDs between measurements.

    The dedup/text operators checkpoint intermediate frames; the JVM
    only frees them after ContextCleaner processes the weak references,
    which requires a JVM GC. Without this, storage from earlier queries
    piles up across the run and inflates later timings (observed ~2x
    run-to-run variance).
    """
    import gc

    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def _fixed_overhead(spark, probe_path: str | None = None) -> float:
    """The per-query FIXED cost (plan compile + scheduling + noop
    commit + a minimal scan) every measurement pays regardless of data
    volume — measured, not assumed, as the min-of-3 timing of a
    trivial query through the SAME run path as the swept queries.
    Scale artifacts record ``overhead_corrected_ratio`` = (xN − C) /
    (x1 − C): at small x1 absolutes the constant dominates and the raw
    ratio understates–or–overstates the structural scaling (the
    PERFORMANCE.md round-6 sim5/h8 footnotes); subtracting C reads the
    variable cost directly."""
    reps = []
    for _ in range(3):
        start = time.perf_counter()
        df = (
            spark.read.parquet(probe_path)
            if probe_path and os.path.exists(probe_path)
            else spark.range(100)
        )
        df.write.format("noop").mode("overwrite").save()
        reps.append(time.perf_counter() - start)
    return round(min(reps), 4)


def _corrected_ratio(per_dir: dict, factor: int, overhead: float) -> float | None:
    """(xN − C) / (x1 − C), guarded: if either side is within 2x of the
    constant itself the correction is noise-dominated — return None
    rather than a wild number."""
    x1, xn = per_dir.get("x1"), per_dir.get(f"x{factor}")
    if x1 is None or xn is None:
        return None
    if x1 - overhead <= overhead * 0.25 or xn <= overhead:
        return None
    return round((xn - overhead) / (x1 - overhead), 2)


def _cpu_canary() -> float:
    """Fixed single-thread CPU workload (~0.4 s on a 2.1 GHz core),
    reported alongside the timings so round-over-round numbers can be
    normalized for HOST speed: identical code measured 3.7 s vs 5.9 s
    headline totals on two different container hosts — without a
    canary that reads as a code regression."""
    import hashlib

    start = time.perf_counter()
    h = b"x" * 4096
    for _ in range(50_000):
        h = hashlib.md5(h).digest() * 256  # keep 4096-byte blocks
    return round(time.perf_counter() - start, 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    match = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(match.group(1).rstrip(".")) if match else -1.0

    spark = get_spark("file_indexer_spark_bench")

    names = [n for n in HEADLINE + LLM_EXTENSION if n in registry.QUERIES]
    errors: dict[str, str] = {}

    # warm-up pass: JVM JIT / codegen / parquet-footer caches, not
    # counted — we measure steady-state engine throughput
    for name in names:
        run_query_safe(registry.QUERIES[name], spark, sf_dir, errors, name)
    _reap(spark)

    # min of 2 measured reps: a single sample at these sub-second
    # per-query times is dominated by GC/scheduler jitter (observed
    # ±3 s on a ~28 s total); the min is the stable throughput figure
    timings: dict[str, float] = {}
    for name in names:
        if name in errors:
            continue
        reps = []
        for _ in range(2):
            t = run_query_safe(registry.QUERIES[name], spark, sf_dir, errors, name)
            if t is not None:
                reps.append(t)
            _reap(spark)
        if reps:
            timings[name] = round(min(reps), 4)

    # a total whose member set is incomplete is NOT comparable with
    # other rounds: null it out and list what's missing instead of
    # silently reporting a smaller (better-looking) sum.
    def total(members: list[str]) -> float | None:
        if any(n in errors for n in members):
            return None
        return round(sum(timings[n] for n in members if n in timings), 4)

    headline_total = total(HEADLINE)
    llm_total = total(LLM_EXTENSION)
    all_total = total(HEADLINE + LLM_EXTENSION)
    incomplete = {
        label: sorted(n for n in members if n in errors)
        for label, members in [
            ("r1_headline", HEADLINE),
            ("llm_extension", LLM_EXTENSION),
        ]
        if any(n in errors for n in members)
    }
    canary = _cpu_canary()
    # Full per-query map first (for humans / artifacts)...
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec_full",
                "value": headline_total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpu_canary_sec": canary,
                "subtotals": {
                    "r1_headline": headline_total,
                    "llm_extension": llm_total,
                    "all_queries": all_total,
                },
                **({"errors": errors, "incomplete_totals": incomplete} if errors else {}),
            }
        )
    )
    # ...then a COMPACT summary as the FINAL line: the driver's tail
    # capture failed to parse BENCH_r04 ("parsed": null) because the
    # single JSON line outgrew its buffer once the benched set passed 60
    # queries. The last line stays small: headline queries only (the
    # round-over-round comparable set), subtotals, canary.
    # SCALING_HEAVIES (round-13 addition, additive only — the driver's
    # low-core scaling block reads this line's queries map, and the 11
    # headline queries are overhead-bound at sf0.1 with every 8c/32c
    # ratio <= 1; these three llm_extension heavies measure scaling
    # where parallel work actually exists): timed in the normal sweep
    # above, NOT part of "value"/r1_headline (which stay the r01 set).
    scaling_heavies = [
        "dd23_lp_refresh",
        "t14_bigram_surprisal",
        "sim18_ivfpq_compaction",
    ]
    print(
        json.dumps(
            {
                # "value" sums the SAME 11 headline queries as BENCH_r01
                # (round-over-round comparability); the 60+ extension
                # queries are timed in the full line above and summed
                # in "subtotals.llm_extension" / "all_queries".
                "metric": "headline_queries_total_sec",
                "value": headline_total,
                "unit": "sec",
                "queries": {
                    n: timings[n]
                    for n in HEADLINE + scaling_heavies
                    if n in timings
                },
                "sf": sf,
                "cpu_canary_sec": canary,
                "subtotals": {
                    "r1_headline": headline_total,
                    "llm_extension": llm_total,
                    "all_queries": all_total,
                },
                **({"incomplete_totals": incomplete} if errors else {}),
            }
        )
    )


# ---------------------------------------------------------------- scale mode
# ``python bench.py --scale`` records the 10x fact-growth sweep as an
# artifact (BENCH_SCALE.json) so round-over-round scaling is tracked,
# not re-measured by hand. Facts grow 10x in the realistic mode per
# table (events: 10x users at constant per-user density via shifted
# user_id; documents/embeddings: 10x corpus; orders/lineitem: 10x
# orders with consistent key shifts); dimensions stay fixed.

_FACT_SHIFT = {
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
}
_DIMS = ["region", "nation", "customer", "supplier", "part"]
_KEY_SHIFT = 10**9

SCALE_QUERIES = [
    "e1_sessionization",
    "e1b_sessionization_skew",
    "e7_asof_last_view",
    "e9_preceding_window_counts",
    "e10_sliding_counts",
    "e11_event_transitions",
    "t6_length_percentiles",
    "t6a_length_percentiles_approx",
    "t7_rollup_token_totals",
    "t8_lang_pivot",
    "inf1_classifier_scores",
    "sp4_shard_assignment",
    "h1_regional_revenue",
    "h2_returned_top_customers",
    "h3_late_order_priorities",
    "dd1_exact_dedup",
    "dd3_minhash_lsh",
    "dd7_dedup_clusters",
    # round-4 additions. (sim5/dd5/sd1 are excluded on purpose: with
    # the centroid count held fixed, 10x vectors grows within-list pair
    # work ~100x by construction — the real-scale path scales the
    # centroid count with the corpus and is swept separately with
    # ``--scale-neardup`` => BENCH_SCALE_NEARDUP.json.)
    "h4_pricing_summary",
    "h5_shipping_priority",
    "h6_revenue_forecast",
    "h7_large_volume_customers",
    "sp5_stratified_sample",
    "dd8_duplicate_spans",
    "ct5_quality_rank_filter",
    "mx2_temperature_mixture",
    "t10_distinctive_terms",
    "t11_token_rarity",
    "pp1_curation_pipeline",
    "dd9_duplicate_span_extents",
    "e13_daily_uniques",
    # round 5: strip pass (dd9 + join-back), epoch shuffle (sharded
    # ranks), int8 quantization (map-side)
    "dd10_strip_spans",
    "sp6_epoch_shuffle",
    "sim7_quantize",
    # round 6: ordinal-free sessions, interval joins, Q13/Q22/Q7/Q15
    # shapes, per-doc TF-IDF, Z-order layout, audio/video/canonical-
    # image passes, cluster consolidation
    "e1c_session_stats",
    "e15_interval_join",
    "e15b_interval_join_outer",
    "h8_order_count_distribution",
    "h9_idle_rich_customers",
    "h10_nation_trade_volume",
    "h11_top_revenue_suppliers",
    "t12_doc_top_terms",
    "sp7_zorder_layout",
    "m6c_image_ahash_canonical",
    "m7_audio_frame_energy",
    "m8_video_shot_cuts",
    "dd11_cluster_consolidation",
    # round 7: envelope dedup (linear decode + tiny group agg) and the
    # cheap bounds companions (their cost is the twins they join)
    "m7c_audio_dup_groups",
    "t6a_bounds",
    "e12a_bounds",
    "e13a_bounds",
    # round 8: IVF-PQ query path (fixed query set probes 10x-longer
    # lists — linear scan growth, no pair join) and the cross-modal
    # duplicate-asset rollup (linear decode + group aggregates)
    "sim10_ivfpq_topk",
    "x1_cross_modal_dup_assets",
    # round 8: incremental LSH probe (index build + batch probe; the
    # probe leg is O(batch x matched buckets), never O(corpus))
    "dd12_incremental_lsh",
    # round 9: sim10 in its DESIGN regime (n_centroids ~ sqrt(n), the
    # serving rule) beside the fixed-64-centroid gate config — the gate
    # row's ratio is a by-construction artifact of scanning 100x-longer
    # lists (verdict r8 #5); this row is the number the serving path
    # actually exhibits.
    "sim10_ivfpq_topk_serving_regime",
    # round 9 (cont.): map-side repeat generation (linear in output
    # volume), literal-inlined OOV scoring (two linear passes), e1-
    # shaped debounce (one key shuffle), and the radius search (sim10's
    # regime note applies: the fixed gate config probes factor-longer
    # lists — linear scan growth; the serving rule scales n_centroids).
    # dd14 is EXCLUDED like dd2: replication multiplies every shingle's
    # df by the factor, so MAX_DF pruning degenerates on the synthetic
    # corpus (a fixture artifact, not an engine property — near-dup
    # scaling is swept under --scale-neardup).
    "sp8_weighted_repeat",
    "t13_vocab_coverage",
    "e17_event_debounce",
    "sim14_range_search",
    # sp9: one rollup shuffle + semi-join; the boundary-group window is
    # bounded by the score quantization, not the corpus
    "sp9_budget_select",
    # round 9 (cont. 2): the TPC-H closure pack — facts grow 10x,
    # dims fixed, so these isolate the fact-side shuffle/scan growth
    "h12_promo_revenue_share",
    "h13_small_qty_revenue",
    "h14_disjunctive_revenue",
    "h15_waiting_suppliers",
    "h16_market_share",
    # t14: LM counts grow linearly, distinct-bigram model is
    # vocab-bounded (AQE broadcasts it); output O(docs)
    "t14_bigram_surprisal",
    # dd15 rides dd3->dd7's machinery: swept at 10x beside them, and
    # EXCLUDED from the 100x sweep for dd3/dd7's documented reason
    # (exact-copy replication makes pair output quadratic on the
    # 31-word corpus — a fixture artifact)
    "dd15_quality_keeper",
    # sim15 runs sim1 (linear brute force, broadcast queries) + sim2
    # (fixed label-count centroids -> factor-longer lists, the sim10
    # gate-regime note applies); comparison join is metadata-sized
    "sim15_recall_eval",
    # dd16/sp10/dd17 ride the same dd3 machinery as dd15: swept at
    # 10x beside it, excluded at 100x for the same fixture reason
    "dd16_split_contamination",
    "sp10_leakage_safe_split",
    "dd17_minhash_calibration",
    # sp11: broadcast-centroid scoring (linear), two narrow windows,
    # O(clusters x quota) output
    "sp11_prototype_sample",
    # e18: one user-key shuffle + map-side greedy match (e1's class)
    "e18_deadline_funnel",
    # pp2 rides dd3->dd7 like dd15/dd16/sp10: 10x only
    "pp2_neardup_split_pipeline",
    # sp12: one shard shuffle + per-packer sequential pass (state = 2
    # ints; per-row Python inside Arrow batches — N_PACKERS is the
    # parallelism knob)
    "sp12_bin_packing",
    # round 10. dd18 rides dd3's machinery (10x only, like dd15/pp2);
    # its own iterations are pair-subgraph-bounded. e19 is e15's
    # interval join + two narrow aggregates. t15: token stream grows
    # linearly, tf pre-filtered to 3 terms, df/scalars broadcast.
    # ct6: one corpus scan into a 12-bin histogram. sim16: sim1's
    # candidate pass (broadcast queries x linear corpus) + corpus-
    # independent k^2 re-rank. sp13: one source shuffle + O(sources)
    # round windows.
    "dd18_pagerank_centrality",
    "e19_linear_attribution",
    "t15_bm25_topk",
    "ct6_distribution_drift",
    "sim16_mmr_rerank",
    "sp13_source_interleave",
    # dd19: dd13's loop + affected-component rerun — 10x only, same
    # dd3-machinery reason as dd13/dd15/pp2
    "dd19_incremental_pagerank",
    # e20: candidate pass is map-side (linear scan), verify aggregate
    # is O(candidates) — the ratio reads the scan growth
    "e20_heavy_hitters",
    # inf2/mx3: scan-bound scoring / per-source agg — linear
    "inf2_calibration_bins",
    "mx3_annealed_mixture",
    # e21: scan-bound weight expression + user-key agg — linear
    "e21_decayed_engagement",
    # round 11. t16: t15's stats materialized — the build tokenizes
    # the corpus once (linear) and the serve reads O(query-term
    # postings); t17 adds the batch-only tokenize + union. dd20 rides
    # sim5's kNN machinery and is excluded like sim5 (fixed-centroid
    # within-list pair work is a fixture artifact — near-dup scaling
    # is swept under --scale-neardup); its PPR iteration itself is
    # kNN-subgraph-bounded (dd18's argument). st17 follows the
    # streaming family's convention (drain cost is measured under
    # --stream-ingest shapes, not the batch sweep).
    "t16_bm25_materialized",
    "t17_bm25_append",
    # round 12. t17b: t17's shape plus two broadcast anti/semi joins
    # over the stored tables (linear in the index); t18: the appends
    # are t17's shape and the compaction rewrite is one linear pass
    # over the postings. dd21/dd22 ride sim5's kNN machinery and are
    # excluded like dd20 (the fixed-centroid within-list pair work is
    # a fixture artifact at 100x; their own iterations are
    # subgraph-bounded). st18 follows the streaming family's
    # convention (drain cost under --stream-ingest shapes).
    "t17b_bm25_upsert",
    "t18_bm25_compaction",
    # round 12b. ct7: linear gram stream against the broadcast
    # benchmark set; the island window reads only MATCHED occurrences.
    # t19 follows the streaming family's convention (drain cost under
    # --stream-ingest shapes); dd23 rides sim5's kNN machinery and is
    # excluded like dd20/dd21/dd22 (refresh economics live in
    # BENCH_INCREMENTAL's community_index block).
    "ct7_contamination_spans",
    # round 12c. sim17: sim12's batch-encode shape (broadcast frozen
    # quantizer x batch) + sim11's serve with the broadcast tombstone
    # anti-join; sim18 adds the one-pass list-clustered fold/rewrite.
    # Both include their base build by construction (sim11's shape).
    # t20/t21: the positional tokenize grows linearly; the adjacency
    # joins are bounded by the rarest term's postings.
    "sim17_ivfpq_upsert",
    "sim18_ivfpq_compaction",
    "t20_phrase_search",
    "t21_phrase_materialized",
    # sim19 = sim10's scale shape + t15's, then corpus-independent
    # result-set algebra — the ratio reads the two legs' growth
    "sim19_hybrid_rrf",
    # inf3: scan-bound scoring into the bounded rank table
    "inf3_roc_auc",
    # t22/t23: linear tokenize + anti-join/rewrite over the postings
    "t22_phrase_upsert",
    "t23_phrase_compaction",
]


def _sim10_serving_regime(spark, sf_dir: str):
    """sim10 with the centroid count scaled to the corpus
    (n_centroids = sqrt(n)): per-query candidate volume stays ~sqrt(n)
    instead of n/64, the regime an IVF-PQ deployment runs. Not
    oracle-replicable per-factor (k varies with n), so it lives only
    in the scale sweep."""
    import math

    from file_indexer_spark.operators import similarity as sim
    from file_indexer_spark.session import tune_session

    tune_session(spark)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n = emb.count()
    return sim.ivfpq_topk(emb, n_centroids=max(64, math.isqrt(n)))


def _dd20_serving_regime(spark, sf_dir: str):
    """dd20 with the kNN build in its DESIGN regime (n_centroids =
    sqrt(n), the serving rule — sim10's precedent): the gate config's
    fixed centroid count makes within-list pair work quadratic under
    replication (a fixture artifact, sim5's documented exclusion);
    this row measures the shape a deployment runs. Not
    oracle-replicable per-factor (k varies with n), so it lives only
    in the scale sweep."""
    import math

    from file_indexer_spark.operators import graph as gr
    from file_indexer_spark.operators import similarity as sim
    from file_indexer_spark.session import tune_session

    tune_session(spark)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n = emb.count()
    knn = sim.knn_join(emb, n_centroids=max(64, math.isqrt(n)), ordered=False)
    return gr.personalized_pagerank(knn, emb.select("vec_id"))


SCALE_EXTRA = {
    "sim10_ivfpq_topk_serving_regime": _sim10_serving_regime,
    "dd20_personalized_pagerank_serving_regime": _dd20_serving_regime,
}


def materialize_scale(spark, src_dir: str, dst_dir: str, factor: int) -> None:
    from pyspark.sql import functions as F

    done_marker = os.path.join(dst_dir, "_DONE")
    if os.path.isfile(done_marker):
        return
    os.makedirs(dst_dir, exist_ok=True)
    for table in _DIMS:
        src = os.path.join(src_dir, f"{table}.parquet")
        if os.path.exists(src):
            spark.read.parquet(src).write.mode("overwrite").parquet(
                os.path.join(dst_dir, f"{table}.parquet")
            )
    for table, keys in _FACT_SHIFT.items():
        src = os.path.join(src_dir, f"{table}.parquet")
        if not os.path.exists(src):
            continue
        base = spark.read.parquet(src)
        copies = []
        for i in range(factor):
            c = base
            for k in keys:
                c = c.withColumn(k, F.col(k) + F.lit(i * _KEY_SHIFT))
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.write.mode("overwrite").parquet(os.path.join(dst_dir, f"{table}.parquet"))
    with open(done_marker, "w") as fh:
        fh.write(str(factor))


def main_scale() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "10"))
    scale_dir = os.environ.get(
        "SPARK_GRAFT_SCALE_DIR", f"/tmp/spark_graft_scale{factor}"
    )
    out_path = os.environ.get(
        "SPARK_GRAFT_SCALE_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALE.json"),
    )
    spark = get_spark("file_indexer_spark_scale")
    materialize_scale(spark, sf_dir, scale_dir, factor)

    errors: dict[str, str] = {}
    # SPARK_GRAFT_SCALE_QUERIES overrides the swept set (comma list) —
    # used for the large-factor sweep, where near-dup ops on the
    # synthetic 31-word-vocab corpus produce quadratically more OUTPUT
    # pairs (a corpus artifact, not an engine property).
    override = os.environ.get("SPARK_GRAFT_SCALE_QUERIES")
    base_names = override.split(",") if override else SCALE_QUERIES
    names = [
        n for n in base_names if n in registry.QUERIES or n in SCALE_EXTRA
    ]
    results: dict[str, dict] = {}
    for name in names:
        fn = registry.QUERIES.get(name) or SCALE_EXTRA[name]
        per_dir = {}
        for label, d in [("x1", sf_dir), (f"x{factor}", scale_dir)]:
            run_query_safe(fn, spark, d, errors, name)  # warm-up
            _reap(spark)
            reps = []
            for _ in range(2):
                t = run_query_safe(fn, spark, d, errors, name)
                if t is not None:
                    reps.append(t)
                _reap(spark)
            if reps:
                per_dir[label] = round(min(reps), 4)
        if "x1" in per_dir and f"x{factor}" in per_dir and per_dir["x1"] > 0:
            per_dir["ratio"] = round(per_dir[f"x{factor}"] / per_dir["x1"], 2)
        results[name] = per_dir
    overhead = _fixed_overhead(spark, os.path.join(sf_dir, "region.parquet"))
    for per_dir in results.values():
        corr = _corrected_ratio(per_dir, factor, overhead)
        if corr is not None:
            per_dir["overhead_corrected_ratio"] = corr
    ratios = [r["ratio"] for r in results.values() if "ratio" in r]
    corrected = [
        r["overhead_corrected_ratio"]
        for r in results.values()
        if "overhead_corrected_ratio" in r
    ]
    doc = {
        "metric": "scale_sweep_max_ratio",
        "value": max(ratios) if ratios else None,
        "max_overhead_corrected_ratio": max(corrected) if corrected else None,
        "unit": "ratio",
        "factor": factor,
        "sf_dir": sf_dir,
        "fixed_overhead_sec": overhead,
        "methodology": (
            "overhead_corrected_ratio = (xN - C)/(x1 - C) with C = "
            "fixed_overhead_sec, the min-of-3 trivial-query timing "
            "through the same run path; omitted where a side is "
            "overhead-dominated"
        ),
        "queries": results,
        **({"errors": errors} if errors else {}),
    }
    with open(out_path, "w") as fh:
        json.dump(doc, fh, indent=1)
    print(json.dumps(doc))


# ------------------------------------------------------ near-dup scale mode
# ``python bench.py --scale-neardup`` records BENCH_SCALE_NEARDUP.json:
# the near-dup FAMILY swept 10x on a LARGE-VOCABULARY synthetic corpus.
# The main sweep excludes dd2/dd3/dd5/sim5 because the driver's 31-word
# corpus makes their OUTPUT quadratic in corpus size (a corpus artifact).
# Here: 50k-word vocab + planted duplicate pairs every 50 docs keeps
# text-dedup output linear; embeddings come in 10-vector near-identical
# groups so pair output is linear too. The IVF ops scale their centroid
# count to hold the AVERAGE LIST SIZE constant (k = n / LIST_SIZE) —
# the rule that keeps within-list pair work O(n). (k ~ sqrt(n) is the
# right rule for the sim2 QUERY path, where per-query cost is
# k + n/k; for all-pairs dedup it would give O(n^1.5) pair work.)

NEARDUP_LIST_SIZE = 50  # target vectors per IVF list
_ND_VOCAB = 50_000
_ND_WORDS = 60
_ND_DIM = 64


def _synth_docs(spark, n: int):
    from pyspark.sql import functions as F

    # every 50th doc duplicates its predecessor's text exactly
    content = "CASE WHEN id % 50 = 1 THEN id - 1 ELSE id END"
    word = (
        f"concat('w', pmod(xxhash64(concat(cast(({content}) as string), '_', "
        f"cast(i as string))), {_ND_VOCAB}))"
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.expr(
            f"array_join(transform(sequence(0, {_ND_WORDS - 1}), i -> {word}), ' ')"
        ).alias("text"),
    )


def _synth_embeddings(spark, n: int):
    from pyspark.sql import functions as F

    # 10-vector groups share a base direction; small per-vector noise
    # => within-group cosine ~1 (the planted near-dups), cross-group
    # cosine ~0 (random 64-dim directions)
    base = f"(pmod(xxhash64(concat(cast(div(id, 10) as string), '_', cast(j as string))), 2001) - 1000) / 1000.0"
    noise = f"(pmod(xxhash64(concat(cast(id as string), '@', cast(j as string))), 2001) - 1000) / 20000.0"
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {_ND_DIM - 1}), j -> cast({base} + {noise} as float))"
        ).alias("embedding"),
        F.expr("cast(pmod(div(id, 10), 20) as int)").alias("label"),
    )


def main_scale_neardup() -> None:
    from file_indexer_spark.operators import dedup as dd
    from file_indexer_spark.operators import similarity as sm

    n1 = int(os.environ.get("SPARK_GRAFT_ND_N", "5000"))
    factor = 10
    out_path = os.environ.get(
        "SPARK_GRAFT_ND_OUT",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALE_NEARDUP.json"
        ),
    )
    spark = get_spark("file_indexer_spark_neardup_scale")
    errors: dict[str, str] = {}
    results: dict[str, dict] = {}
    meta: dict[str, dict] = {}

    def bench_case(name, label, make_df):
        def run():
            start = time.perf_counter()
            make_df().write.format("noop").mode("overwrite").save()
            return time.perf_counter() - start

        try:
            run()  # warm-up
            _reap(spark)
            reps = []
            for _ in range(2):
                reps.append(run())
                _reap(spark)
            results.setdefault(name, {})[label] = round(min(reps), 4)
        except Exception as exc:  # noqa: BLE001
            errors[f"{name}:{label}"] = f"{type(exc).__name__}: {exc}"[:500]

    # fixture version key: a crashed run leaves a partial dir and a
    # generator change invalidates old fixtures — both must trigger
    # regeneration, so the path carries the recipe constants and a
    # _DONE marker gates reuse (write is atomic via marker-last).
    recipe = f"v{_ND_VOCAB}w{_ND_WORDS}d{_ND_DIM}"

    def _fixture(path: str, make) -> str:
        if not os.path.isfile(os.path.join(path, "_DONE")):
            make().write.mode("overwrite").parquet(path)
            with open(os.path.join(path, "_DONE"), "w") as fh:
                fh.write(recipe)
        return path

    for label, n in [("x1", n1), (f"x{factor}", n1 * factor)]:
        docs_path = _fixture(
            f"/tmp/spark_graft_nd_docs_{recipe}_{n}.parquet",
            lambda: _synth_docs(spark, n),
        )
        vecs_path = _fixture(
            f"/tmp/spark_graft_nd_vecs_{recipe}_{n}.parquet",
            lambda: _synth_embeddings(spark, n),
        )
        docs = spark.read.parquet(docs_path)
        vecs = spark.read.parquet(vecs_path)
        k = max(n // NEARDUP_LIST_SIZE, 1)
        meta[label] = {"n": n, "n_centroids": k}
        bench_case("dd2_ngram_jaccard", label, lambda: dd.ngram_jaccard_pairs(docs))
        bench_case("dd3_minhash_lsh", label, lambda: dd.minhash_lsh_pairs(docs))
        bench_case(
            "dd5_embedding_neardup",
            label,
            lambda: sm.embedding_neardup_pairs(vecs, n_centroids=k),
        )
        bench_case(
            "sim5_knn_join", label, lambda: sm.knn_join(vecs, n_centroids=k)
        )
        # sim2 QUERY path: k ~ sqrt(n) (per-query cost k + n/k), nprobe
        # fixed — the probe fan-out must not grow with the corpus; only
        # the probed lists' length does (n/k = sqrt(n)).
        kq = max(int(round(n ** 0.5)), 1)
        meta[label]["n_centroids_query"] = kq
        bench_case(
            "sim2_ivf_topk_query", label, lambda: sm.ivf_topk(vecs, n_centroids=kq)
        )
        # sim10 QUERY path, same regime: n_lists ~ sqrt(n) so probed
        # candidate volume grows sqrt(n), and the ADC scan reads 4-bit
        # codes instead of floats — the IVF-PQ serving shape at scale.
        bench_case(
            "sim10_ivfpq_topk_query",
            label,
            lambda: sm.ivfpq_topk(vecs, n_centroids=kq),
        )

    for name, per in results.items():
        if "x1" in per and f"x{factor}" in per and per["x1"] > 0:
            per["ratio"] = round(per[f"x{factor}"] / per["x1"], 2)
    overhead = _fixed_overhead(spark)
    for per in results.values():
        corr = _corrected_ratio(per, factor, overhead)
        if corr is not None:
            per["overhead_corrected_ratio"] = corr
    ratios = [r["ratio"] for r in results.values() if "ratio" in r]
    corrected = [
        r["overhead_corrected_ratio"]
        for r in results.values()
        if "overhead_corrected_ratio" in r
    ]
    doc = {
        "metric": "neardup_scale_max_ratio",
        "value": max(ratios) if ratios else None,
        "max_overhead_corrected_ratio": max(corrected) if corrected else None,
        "unit": "ratio",
        "factor": factor,
        "scales": meta,
        "list_size": NEARDUP_LIST_SIZE,
        "fixed_overhead_sec": overhead,
        "methodology": (
            "overhead_corrected_ratio = (xN - C)/(x1 - C) with C = "
            "fixed_overhead_sec (min-of-3 trivial-query timing); "
            "omitted where a side is overhead-dominated"
        ),
        "queries": results,
        **({"errors": errors} if errors else {}),
    }
    with open(out_path, "w") as fh:
        json.dump(doc, fh, indent=1)
    print(json.dumps(doc))


# ------------------------------------------------------ streaming mode
# ``python bench.py --stream`` records BENCH_STREAM.json: throughput
# (rows/sec over the drain wall-clock) and STATE SIZE (progress-listener
# stateOperators: peak numRowsTotal / memoryUsedBytes across batches)
# for the four stateful streaming operator classes, on a 10x stream:
#   st1  watermarked windowed aggregation       (state: active windows x keys)
#   st3  applyInPandasWithState sessionization  (state: one row/user)
#   st9  two-sided stream-stream interval join  (state: rate x window)
#   st7  streaming curation funnel              (state: distinct hashes)
_STREAM_CHUNKS = 8


def _land_chunks(spark, df, src: str, order_col: str, n_chunks: int) -> int:
    """Write df as n_chunks chronological arrival files with strictly
    increasing mtimes (the registry's _land_arrivals discipline) and
    return the row count."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from file_indexer_spark.registry import _land_arrivals

    chunked = df.withColumn(
        "_chunk", F.ntile(n_chunks).over(Window.orderBy(order_col))
    ).localCheckpoint()
    n = chunked.count()
    _land_arrivals(
        src,
        [
            chunked.filter(F.col("_chunk") == i + 1).drop("_chunk")
            for i in range(n_chunks)
        ],
    )
    return n


def _drain_with_metrics(stream_df, output_mode: str) -> dict:
    """availableNow drain into a noop sink; metrics from the progress
    listener (peak summed state rows/bytes across micro-batches)."""
    start = time.perf_counter()
    q = (
        stream_df.writeStream.format("noop")
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.perf_counter() - start
    progs = q.recentProgress
    rows_in = sum(int(p["numInputRows"]) for p in progs)
    state_rows = [
        sum(int(op["numRowsTotal"]) for op in p.get("stateOperators", []))
        for p in progs
    ]
    state_bytes = [
        sum(int(op["memoryUsedBytes"]) for op in p.get("stateOperators", []))
        for p in progs
    ]
    return {
        "input_rows": rows_in,
        "n_batches": len(progs),
        "wall_sec": round(wall, 3),
        "rows_per_sec": round(rows_in / wall, 1) if wall > 0 else None,
        "peak_state_rows": max(state_rows) if state_rows else 0,
        "peak_state_bytes": max(state_bytes) if state_bytes else 0,
    }


def main_stream() -> None:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from file_indexer_spark.streaming import curation as sc
    from file_indexer_spark.streaming import joins as sj
    from file_indexer_spark.streaming import sessions as ss
    from file_indexer_spark.streaming import windows as sw

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "10"))
    scale_dir = os.environ.get(
        "SPARK_GRAFT_SCALE_DIR", f"/tmp/spark_graft_scale{factor}"
    )
    out_path = os.environ.get(
        "SPARK_GRAFT_STREAM_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_STREAM.json"),
    )
    spark = get_spark("file_indexer_spark_stream_bench")
    materialize_scale(spark, sf_dir, scale_dir, factor)
    base = os.path.join(tempfile.gettempdir(), "spark_graft_stream_bench")
    shutil.rmtree(base, ignore_errors=True)

    events = spark.read.parquet(os.path.join(scale_dir, "events.parquet")).select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    docs = spark.read.parquet(os.path.join(scale_dir, "documents.parquet")).select(
        "doc_id", "source", "text"
    )
    results: dict[str, dict] = {}

    src1 = os.path.join(base, "st1_src")
    _land_chunks(spark, events, src1, "ts", _STREAM_CHUNKS)
    results["st1_windowed_counts"] = _drain_with_metrics(
        sw.windowed_counts(
            sw.read_events_stream(spark, src1, max_files_per_trigger=1)
        ),
        "update",
    )

    src3 = os.path.join(base, "st3_src")
    _land_chunks(spark, events, src3, "ts", _STREAM_CHUNKS)
    results["st3_stateful_sessions"] = _drain_with_metrics(
        ss.sessionize_stream(sw.read_events_stream(spark, src3, max_files_per_trigger=1)),
        "update",
    )

    src14 = os.path.join(base, "st14_src")
    _land_chunks(spark, events, src14, "ts", _STREAM_CHUNKS)
    results["st14_streaming_debounce"] = _drain_with_metrics(
        ss.debounce_stream(sw.read_events_stream(spark, src14, max_files_per_trigger=1)),
        "update",
    )

    src15 = os.path.join(base, "st15_src")
    _land_chunks(spark, events, src15, "ts", _STREAM_CHUNKS)
    results["st15_streaming_funnel"] = _drain_with_metrics(
        ss.funnel_stream(sw.read_events_stream(spark, src15, max_files_per_trigger=1)),
        "update",
    )

    src9 = os.path.join(base, "st9_src")
    _land_chunks(spark, events, src9, "ts", _STREAM_CHUNKS)
    results["st9_interval_join_stream"] = _drain_with_metrics(
        sj.view_purchase_pairs(
            sw.read_events_stream(spark, src9, max_files_per_trigger=1)
        ),
        "append",
    )

    src7 = os.path.join(base, "st7_src")
    _land_chunks(spark, docs, src7, "doc_id", _STREAM_CHUNKS)
    bench_set = sc.bench_shingle_set(docs)
    results["st7_streaming_curation"] = _drain_with_metrics(
        sc.curation_stream(
            sc.read_source_docs_stream(spark, src7, max_files_per_trigger=1), bench_set
        ),
        "append",
    )

    # st17: the heavy-hitter sketch — state must stay O(groups x
    # capacity) however many events stream through (the bounded-state
    # claim, measured: peak_state_rows <= N_GROUPS regardless of
    # distinct-user count; each group row carries one MG summary)
    from file_indexer_spark.streaming import frequency as sfq

    src17 = os.path.join(base, "st17_src")
    _land_chunks(spark, events, src17, "ts", _STREAM_CHUNKS)
    results["st17_streaming_heavy_hitters"] = _drain_with_metrics(
        sfq.heavy_hitter_candidates_stream(
            sw.read_events_stream(spark, src17, max_files_per_trigger=1)
        ),
        "update",
    )

    doc = {
        "metric": "streaming_throughput_10x",
        "unit": "rows_per_sec",
        "factor": factor,
        "chunks": _STREAM_CHUNKS,
        "methodology": (
            "availableNow drain of a chronological file stream into a "
            "noop sink; rows_per_sec = total input rows / drain "
            "wall-clock; peak_state_* = max over micro-batch progress "
            "reports of summed stateOperators numRowsTotal / "
            "memoryUsedBytes"
        ),
        "queries": results,
    }
    with open(out_path, "w") as fh:
        json.dump(doc, fh, indent=1)
    print(json.dumps(doc))


# -------------------------------------------------- stream-ingest mode
# ``python bench.py --stream-ingest`` records BENCH_STREAM_INGEST.json:
# end-to-end drain throughput for the three foreachBatch INDEX-INGESTION
# pipelines (st13 near-dup, sim13 ANN, x4 cross-modal). Unlike the
# row-streaming classes in BENCH_STREAM.json, each micro-batch here runs
# heavy index maintenance (LSH probe + cluster refresh / frozen-quantizer
# encode / batch decode), so rows/s reflects the incremental family's
# floor-plus-batch steady state, not record plumbing.


def main_stream_ingest() -> None:
    import shutil
    import tempfile

    from file_indexer_spark.streaming import ann as sann
    from file_indexer_spark.streaming import crossmodal as sxm
    from file_indexer_spark.streaming import neardup as snd

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_path = os.environ.get(
        "SPARK_GRAFT_STREAM_INGEST_OUT",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_STREAM_INGEST.json"
        ),
    )
    chunks = int(os.environ.get("SPARK_GRAFT_INGEST_CHUNKS", "4"))
    spark = get_spark("file_indexer_spark_stream_ingest_bench")
    base = os.path.join(tempfile.gettempdir(), "spark_graft_stream_ingest")
    shutil.rmtree(base, ignore_errors=True)

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text", "n_chars"
    )
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding", "label"
    )
    results: dict[str, dict] = {}

    def run(tag, land_df, order_col, reader, ingest) -> None:
        src = os.path.join(base, f"{tag}_src")
        state = os.path.join(base, f"{tag}_state")
        ckpt = os.path.join(base, f"{tag}_ckpt")
        n = _land_chunks(spark, land_df, src, order_col, chunks)
        start = time.perf_counter()
        ingest(spark, reader(spark, src, max_files_per_trigger=1), state, ckpt)
        wall = time.perf_counter() - start
        results[tag] = {
            "input_rows": n,
            "n_chunks": chunks,
            "wall_sec": round(wall, 3),
            "rows_per_sec": round(n / wall, 1) if wall > 0 else None,
        }

    run("st13_neardup_ingest", docs, "doc_id",
        snd.read_docs_stream, snd.ingest_neardup_stream)
    run("sim13_ann_ingest", emb, "vec_id",
        sann.read_embeddings_stream, sann.ingest_ann_stream)
    run("x4_crossmodal_ingest", docs, "doc_id",
        sxm.read_docs_stream, sxm.ingest_crossmodal_stream)

    # t19: the lexical leg — per batch ONE tokenize/aggregate of the
    # batch itself plus a term-clustered version-dir write; no probe
    # against stored state at all (BM25 stats are pure counts), so
    # this is the cheapest fold in the ingest family
    from file_indexer_spark.streaming import lexical as slex

    run("t19_lexical_ingest", docs.select("doc_id", "text"), "doc_id",
        slex.read_docs_stream, slex.ingest_lexical_stream)

    # st18: the constraint-quarantine MERGE front-end over the w19
    # corrupted feed (classify + cross-batch PK arbitration + bucketed
    # partial upsert + quarantine append per micro-batch)
    from file_indexer_spark.queries.shared import (
        _w19_corrupted_base,
        _w19_dup_rows,
    )
    from file_indexer_spark.streaming import quality as sq
    from file_indexer_spark.tables import files_df

    files = files_df(spark, sf_dir)
    dirty = _w19_corrupted_base(files).unionByName(_w19_dup_rows(files))
    run("st18_quarantine_ingest", dirty, "path",
        sq.read_files_stream, sq.ingest_quarantine_stream)

    # st19: CDC apply onto the dense index. The feed respects CDC
    # phase order (bootstrap upserts first, deletes last, no id twice
    # in one batch), so it lands as explicit arrivals instead of
    # ntile chunks: [base/2, base/2, adds+re-embeds, deletes].
    from pyspark.sql import functions as F

    from file_indexer_spark.registry import _land_arrivals
    from file_indexer_spark.streaming import ann as sann

    _EDIT_VEC_ING = (
        "transform(embedding, x -> CAST(1.0D - CAST(x AS DOUBLE) AS FLOAT))"
    )
    up = F.lit("upsert").alias("op")
    cdc_base = emb.filter(F.col("vec_id") % 10 != 7).select(
        "vec_id", up, "embedding", "label"
    )
    cdc_edits = (
        emb.filter(F.col("vec_id") % 10 == 7)
        .select("vec_id", up, "embedding", "label")
        .unionByName(
            emb.filter(F.col("vec_id") % 10 == 3).select(
                "vec_id", up, F.expr(_EDIT_VEC_ING).alias("embedding"), "label"
            )
        )
    )
    cdc_dels = emb.filter(F.col("vec_id") % 10 == 5).select(
        "vec_id",
        F.lit("delete").alias("op"),
        F.lit(None).cast("array<float>").alias("embedding"),
        F.lit(None).cast("int").alias("label"),
    )
    cdc_src = os.path.join(base, "st19_src")
    cdc_n = (
        cdc_base.count() + cdc_edits.count() + cdc_dels.count()
    )
    _land_arrivals(
        cdc_src,
        [
            cdc_base.filter(F.col("vec_id") % 2 == 0),
            cdc_base.filter(F.col("vec_id") % 2 == 1),
            cdc_edits,
            cdc_dels,
        ],
    )
    start = time.perf_counter()
    sann.ingest_cdc_stream(
        spark,
        sann.read_cdc_stream(spark, cdc_src, max_files_per_trigger=1),
        os.path.join(base, "st19_state"),
        os.path.join(base, "st19_ckpt"),
    )
    wall = time.perf_counter() - start
    results["st19_cdc_dense_ingest"] = {
        "input_rows": cdc_n,
        "n_chunks": 4,
        "wall_sec": round(wall, 3),
        "rows_per_sec": round(cdc_n / wall, 1) if wall > 0 else None,
        "note": (
            "bootstrap quantizer train on batch 1 (base half), then "
            "per-batch frozen-quantizer encode + one tombstone set; "
            "deletes are a tombstone-only batch (no encode at all)"
        ),
    }

    doc = {
        "metric": "stream_ingest_throughput",
        "unit": "rows_per_sec",
        "sf_dir": sf_dir,
        "chunks": chunks,
        "methodology": (
            "availableNow drain of a chronological file stream through "
            "the foreachBatch index-ingestion fold (bootstrap on chunk 1, "
            "then per-batch probe/refresh/encode + per-version state "
            "writes); rows_per_sec = corpus rows / drain wall-clock. "
            "Per-batch cost is the incremental family's floor+batch "
            "steady state (BENCH_INCREMENTAL), so throughput RISES with "
            "batch size — these are 25%-corpus batches, a conservative "
            "regime for state-write amortization"
        ),
        "queries": results,
    }
    with open(out_path, "w") as fh:
        json.dump(doc, fh, indent=1)
    print(json.dumps(doc))


# ---------------------------------------------------- incremental mode
# ``python bench.py --incremental`` records BENCH_INCREMENTAL.json: for
# each compute-once operator family, the from-scratch cost vs the
# build-once cost vs the steady-state (serve/report/refresh/append)
# cost on the ``factor``x fact-growth corpus — the numbers that justify
# the x2/dd12/dd13/sim11/sim12 gates' existence, recorded as an
# artifact rather than prose. The steady-state legs read ONLY the
# materialized parquet tables.


def main_incremental() -> None:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from file_indexer_spark.operators import crossmodal as xm
    from file_indexer_spark.operators import dedup as dd
    from file_indexer_spark.operators import similarity as sim

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "100"))
    scale_dir = os.environ.get(
        "SPARK_GRAFT_SCALE_DIR", f"/tmp/spark_graft_scale{factor}"
    )
    out_path = os.environ.get(
        "SPARK_GRAFT_INCR_OUT",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_INCREMENTAL.json"
        ),
    )
    spark = get_spark("file_indexer_spark_incremental_bench")
    materialize_scale(spark, sf_dir, scale_dir, factor)
    base_dir = os.path.join(tempfile.gettempdir(), "spark_graft_incr_bench")
    shutil.rmtree(base_dir, ignore_errors=True)

    def timed(fn, reps: int = 1) -> float:
        best = None
        for _ in range(reps):
            start = time.perf_counter()
            fn()
            t = time.perf_counter() - start
            best = t if best is None else min(best, t)
            _reap(spark)
        return round(best, 3)

    def mat(tables: dict, tag: str) -> dict:
        out = {}
        for name, df in tables.items():
            p = os.path.join(base_dir, tag, name)
            df.write.mode("overwrite").parquet(p)
            out[name] = spark.read.parquet(p)
        return out

    docs = spark.read.parquet(os.path.join(scale_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(scale_dir, "embeddings.parquet"))
    results: dict[str, dict] = {}

    # x1 vs x2: cross-modal dup report
    fp: dict = {}
    print(f"[incr] starting crossmodal_report", flush=True)
    results["crossmodal_report"] = {
        "from_scratch_x1": timed(lambda: xm.duplicate_assets(docs).count()),
        "build_once": timed(
            lambda: fp.update(mat(xm.fingerprint_tables(docs), "x2"))
        ),
        "steady_state_x2_report": timed(
            lambda: xm.duplicate_assets_from_tables(fp).count(), reps=3
        ),
    }

    # sim10 vs sim11/sim12: ANN index
    idx: dict = {}
    queries = emb.filter(F.col("vec_id") < sim.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    new_vecs = emb.filter(F.col("vec_id") % 10 == 7)
    print(f"[incr] starting ann_index", flush=True)
    results["ann_index"] = {
        "from_scratch_sim10": timed(lambda: sim.ivfpq_topk(emb).count()),
        "build_once": timed(
            lambda: idx.update(mat(sim.ivfpq_index_tables(emb), "sim11"))
        ),
        "steady_state_sim11_serve": timed(
            lambda: sim.ivfpq_topk_from_index(idx, queries).count(), reps=3
        ),
        "steady_state_sim12_append_10pct": timed(
            lambda: sim.ivfpq_append(idx, new_vecs)["codes"].count(), reps=2
        ),
    }

    # round 12c: dense-index EDIT economics (sim17/sim18). One upsert
    # call re-embeds the 10% slice and deletes another 10% — stored
    # codes never read, the mask+delta land as their own file sets;
    # ten successive 1% upserts fragment the serve path (broadcast
    # anti-join + 10-segment delta union), and one sim18 rewrite folds
    # it all back into a single list-clustered table.
    _EDIT_VEC = (
        "transform(embedding, x -> CAST(1.0D - CAST(x AS DOUBLE) AS FLOAT))"
    )
    edit_batch = emb.filter(F.col("vec_id") % 10 == 3).select(
        "vec_id", F.expr(_EDIT_VEC).alias("embedding")
    )
    del_ids = emb.filter(F.col("vec_id") % 10 == 5).select("vec_id")

    def land_upsert_fragments():
        cur = dict(idx)
        for i in range(10):
            b = emb.filter(F.col("vec_id") % 100 == 10 * i + 3).select(
                "vec_id", F.expr(_EDIT_VEC).alias("embedding")
            )
            cur = sim.ivfpq_upsert(cur, b)
            landed = mat(
                {"tombstones": cur["tombstones"], "delta": cur["delta"]},
                f"sim18_gen{i}",
            )
            cur["tombstones"] = landed["tombstones"]
            cur["delta"] = landed["delta"]
        return cur

    dense_frag = land_upsert_fragments()
    dense_comp: dict = {}
    results["ann_index"].update(
        {
            "steady_state_sim17_upsert_edit_plus_serve": timed(
                lambda: sim.ivfpq_topk_from_index(
                    sim.ivfpq_upsert(idx, edit_batch, del_ids), queries
                ).count(),
                reps=2,
            ),
            "serve_after_10_upserts_fragmented": timed(
                lambda: sim.ivfpq_topk_from_index(dense_frag, queries).count(),
                reps=3,
            ),
            "sim18_compaction_rewrite": timed(
                lambda: dense_comp.update(
                    sim.ivfpq_compact(
                        spark, dense_frag, os.path.join(base_dir, "sim18_compact")
                    )
                )
            ),
            "steady_state_serve_after_compaction": timed(
                lambda: sim.ivfpq_topk_from_index(dense_comp, queries).count(),
                reps=3,
            ),
        }
    )

    # t15 vs t16/t17: lexical (BM25) index — postings/doclen/scalars
    # stored once, queries served from clustered re-reads, batches
    # appended without re-tokenizing the corpus (the merge is exact:
    # BM25 stats are pure counts)
    from file_indexer_spark.operators import text as tx

    new_docs = docs.filter(F.col("doc_id") % 10 == 7)
    base_docs = docs.filter(F.col("doc_id") % 10 != 7)
    lidx: dict = {}

    def build_lexical():
        tables = tx.bm25_index_tables(base_docs)
        tables["postings"] = tables["postings"].repartitionByRange(
            8, "term"
        ).sortWithinPartitions("term", "doc_id")
        lidx.update(mat(tables, "t16"))

    def append_lexical():
        tx.bm25_topk_from_index(tx.bm25_append(lidx, new_docs)).count()

    # round 12: fragmentation economics. Ten successive 1% appends
    # land their postings/doclen DELTAS as separate file sets (the
    # steady-state writer's layout); the serve read degrades as every
    # term's postings spread over 11 file sets, and one t18 compaction
    # rewrite restores the clustered layout. Also the t17b upsert leg
    # (read-modify-write of the 10% slice).
    def land_fragmented():
        posts, dls = [lidx["postings"]], [lidx["doclen"]]
        for i in range(10):
            b = docs.filter(F.col("doc_id") % 100 == 10 * i + 7)
            t = tx.bm25_index_tables(b)
            p = mat({"postings": t["postings"], "doclen": t["doclen"]}, f"t18_gen{i}")
            posts.append(p["postings"])
            dls.append(p["doclen"])
        from functools import reduce

        merged_p = reduce(lambda a, b: a.unionByName(b), posts)
        merged_d = reduce(lambda a, b: a.unionByName(b), dls)
        scal = merged_d.groupBy().agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("tot_tokens"),
        )
        return {"postings": merged_p, "doclen": merged_d, "scalars": scal}

    compacted: dict = {}

    def compact():
        compacted.update(
            tx.bm25_compact(spark, frag, os.path.join(base_dir, "t18_compact"))
        )

    t15_scratch = timed(lambda: tx.bm25_topk(docs).count())
    t16_build = timed(build_lexical)  # populates lidx
    frag = land_fragmented()
    print(f"[incr] starting lexical_index", flush=True)
    results["lexical_index"] = {
        "from_scratch_t15": t15_scratch,
        "build_once": t16_build,
        "steady_state_t16_serve": timed(
            lambda: tx.bm25_topk_from_index(lidx).count(), reps=3
        ),
        "steady_state_t17_append_10pct_plus_serve": timed(append_lexical, reps=2),
        "serve_after_10_appends_fragmented": timed(
            lambda: tx.bm25_topk_from_index(frag).count(), reps=3
        ),
        "t18_compaction_rewrite": timed(compact),
        "steady_state_serve_after_compaction": timed(
            lambda: tx.bm25_topk_from_index(compacted).count(), reps=3
        ),
        # t17b: the 10% batch REPLACES its indexed versions in the
        # compacted full index (read-modify-write + serve)
        "steady_state_t17b_upsert_10pct_plus_serve": timed(
            lambda: tx.bm25_topk_from_index(
                tx.bm25_upsert(compacted, new_docs)
            ).count(),
            reps=2,
        ),
    }

    # dd7 vs dd12/dd13: dedup index (base = 90% slice, batch = 10%)
    dmats: dict = {}

    def build_dedup():
        stored = dict(dd.lsh_index_tables(base_docs))
        stored["assignments"] = dd.dedup_clusters(
            base_docs, dd.minhash_lsh_pairs(base_docs)
        )
        dmats.update(mat(stored, "dd13"))

    def refresh():
        pairs = dd.incremental_lsh_pairs(dmats, new_docs)
        dd.incremental_cluster_refresh(
            dmats["assignments"], pairs, new_docs
        ).count()

    print(f"[incr] starting dedup_index", flush=True)
    results["dedup_index"] = {
        "from_scratch_dd7": timed(
            lambda: dd.dedup_clusters(docs, dd.minhash_lsh_pairs(docs)).count()
        ),
        "build_once": timed(build_dedup),
        "steady_state_dd12_probe": timed(
            lambda: dd.incremental_lsh_pairs(dmats, new_docs).count(), reps=2
        ),
        "steady_state_dd13_probe_plus_refresh": timed(refresh, reps=2),
    }

    # dd18 vs dd19: centrality over the dedup graph (reuses the dd13
    # base index; adds the materialized rank/pair tables)
    from file_indexer_spark.operators import graph as gr

    def build_centrality():
        # pairs materialize first; ranks derive from the RE-READ pairs
        # (one dd3 pass, the dd19 gate's compute-once discipline)
        dmats.update(mat({"pairs": dd.minhash_lsh_pairs(base_docs)}, "dd19"))
        dmats.update(
            mat({"ranks": gr.pagerank(base_docs, dmats["pairs"])}, "dd19")
        )

    def refresh_centrality():
        pairs = dd.incremental_lsh_pairs(dmats, new_docs)
        union_assign = dd.incremental_cluster_refresh(
            dmats["assignments"], pairs, new_docs
        )
        gr.pagerank_refresh(
            dmats["ranks"], dmats["pairs"], union_assign, pairs, new_docs
        ).count()

    print(f"[incr] starting centrality_index", flush=True)
    results["centrality_index"] = {
        "from_scratch_dd18": timed(
            lambda: gr.pagerank(docs, dd.minhash_lsh_pairs(docs)).count()
        ),
        "build_once_on_top_of_dd13": timed(build_centrality),
        "steady_state_dd19_probe_refresh_rerank": timed(refresh_centrality, reps=2),
    }

    # dedup family on the REALISTIC-DENSITY corpus (the 50k-vocab
    # near-dup-scale generator: planted duplicate pairs, natural-text
    # shingle density). On the dense gate corpus a 10% batch touches
    # MOST clusters, so the refresh ratio understates the production
    # win; here "affected members" tracks the batch and the refresh
    # cost decomposes into a fixed multi-stage floor + a batch term —
    # the asymmetry the operator exists for (verdict r8 #2).
    nd_n = int(os.environ.get("SPARK_GRAFT_INCR_ND_N", "50000"))
    nd_path = os.path.join(base_dir, "nd_docs")
    _synth_docs(spark, nd_n).write.mode("overwrite").parquet(nd_path)
    rdocs = spark.read.parquet(nd_path)
    realistic: dict[str, float | int] = {
        "n_docs": nd_n,
        "vocab": _ND_VOCAB,
        "from_scratch_dd7": timed(
            lambda: dd.dedup_clusters(rdocs, dd.minhash_lsh_pairs(rdocs)).count()
        ),
    }
    for tag, pred in [("10pct", F.col("doc_id") % 10 == 7),
                      ("1pct", F.col("doc_id") % 100 == 37)]:
        rnew = rdocs.filter(pred)
        rbase = rdocs.filter(~pred)
        rmats: dict = {}
        stored = dict(dd.lsh_index_tables(rbase))
        stored["assignments"] = dd.dedup_clusters(
            rbase, dd.minhash_lsh_pairs(rbase)
        )
        rmats.update(mat(stored, f"dd13_nd_{tag}"))

        def rrefresh(rm=rmats, rn=rnew):
            pairs = dd.incremental_lsh_pairs(rm, rn)
            dd.incremental_cluster_refresh(rm["assignments"], pairs, rn).count()

        realistic[f"steady_state_dd13_refresh_{tag}_batch"] = timed(rrefresh, reps=2)
    print(f"[incr] starting dedup_index_realistic", flush=True)
    results["dedup_index_realistic"] = realistic

    # centrality family on the same realistic-density corpus — the
    # dense-corpus centrality_index row has the dd13 caveat squared
    # (the affected-component rerun covers MOST of the graph when a
    # 10% batch touches most clusters); here affected tracks the batch
    from file_indexer_spark.operators import graph as gr  # noqa: F811

    rc: dict[str, float | int] = {
        "n_docs": nd_n,
        "vocab": _ND_VOCAB,
        "from_scratch_dd18": timed(
            lambda: gr.pagerank(rdocs, dd.minhash_lsh_pairs(rdocs)).count()
        ),
    }
    for tag, pred in [("10pct", F.col("doc_id") % 10 == 7),
                      ("1pct", F.col("doc_id") % 100 == 37)]:
        rnew = rdocs.filter(pred)
        rbase = rdocs.filter(~pred)
        rmats = dict(mat(dict(dd.lsh_index_tables(rbase)), f"dd19_nd_{tag}"))
        rmats.update(mat({"pairs": dd.minhash_lsh_pairs(rbase)}, f"dd19_nd_{tag}"))
        rmats.update(
            mat(
                {
                    "assignments": dd.dedup_clusters(rbase, rmats["pairs"]),
                    "ranks": gr.pagerank(rbase, rmats["pairs"]),
                },
                f"dd19_nd_{tag}",
            )
        )

        def rrerank(rm=rmats, rn=rnew):
            pairs = dd.incremental_lsh_pairs(rm, rn)
            union_assign = dd.incremental_cluster_refresh(
                rm["assignments"], pairs, rn
            )
            gr.pagerank_refresh(
                rm["ranks"], rm["pairs"], union_assign, pairs, rn
            ).count()

        rc[f"steady_state_dd19_rerank_{tag}_batch"] = timed(rrerank, reps=2)
    print(f"[incr] starting centrality_index_realistic", flush=True)
    results["centrality_index_realistic"] = rc

    # dd20 vs dd21: personalized centrality under a SEED-SET EDIT —
    # the kNN edge list and the old-seed rank table are stored once;
    # the refresh re-walks only the components containing an edited
    # seed (Kiveris labeling over the positive-weight pair subgraph)
    # and passes every other stored row through with one anti-join.
    # FACTOR 1 on purpose (recorded in the row): sim5's within-list
    # pair scoring is quadratic in list size on the dense synthetic
    # fixture (the same corpus artifact that excludes dd20–dd23 from
    # the --scale sweep), so the graph-family economics are measured
    # at the base sf — the refresh-vs-scratch RATIO is the product,
    # not the absolute wall.
    emb1 = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    pmats: dict = {}

    def build_personalized():
        pmats.update(mat({"knn": sim.knn_join(emb1, ordered=False)}, "dd21"))
        pmats.update(
            mat(
                {
                    "ranks": gr.personalized_pagerank(
                        pmats["knn"],
                        emb1.select("vec_id"),
                        seed_max=gr.PPR_SEED_MAX_OLD,
                    )
                },
                "dd21",
            )
        )

    print(f"[incr] starting personalized_centrality", flush=True)
    results["personalized_centrality"] = {
        "factor": 1,
        "from_scratch_dd20": timed(
            lambda: gr.personalized_pagerank(
                sim.knn_join(emb1, ordered=False), emb1.select("vec_id")
            ).count()
        ),
        "build_once": timed(build_personalized),
        "steady_state_dd21_seed_edit_refresh": timed(
            lambda: gr.personalized_pagerank_refresh(
                pmats["knn"], emb1.select("vec_id"), pmats["ranks"]
            ).count(),
            reps=2,
        ),
        "walk_only_from_stored_knn": timed(
            lambda: gr.personalized_pagerank(
                pmats["knn"], emb1.select("vec_id")
            ).count(),
            reps=2,
        ),
    }

    # dd22 vs dd23: the community table under a BATCH INGEST — base
    # edges and labels stored once; the refresh re-scores the union
    # kNN (new vectors displace existing top-k lists: dd21's honest
    # boundary), diffs the edge tables, and re-propagates only the
    # components containing a changed endpoint.
    base_emb = emb1.filter(F.col("vec_id") % 10 != 7)
    cmats: dict = {}

    def build_community():
        knn_base = sim.knn_join(base_emb, ordered=False).localCheckpoint(eager=False)
        # round-13: the raw base kNN edges are part of the stored state
        # (knn_join_refresh reuses them for untouched vectors)
        cmats.update(mat({"knn": knn_base}, "dd23"))
        cmats.update(mat({"edges": gr.lp_edges(knn_base)}, "dd23"))
        cmats.update(
            mat(
                {
                    "labels": gr.label_propagation(
                        knn_base, base_emb.select("vec_id")
                    )
                },
                "dd23",
            )
        )

    print(f"[incr] starting community_index", flush=True)
    results["community_index"] = {
        "factor": 1,
        "from_scratch_dd22": timed(
            lambda: gr.label_propagation(
                sim.knn_join(emb1, ordered=False), emb1.select("vec_id")
            ).count()
        ),
        "build_once": timed(build_community),
        "steady_state_dd23_batch_refresh": timed(
            lambda: gr.label_propagation_refresh(
                sim.knn_join(emb1, ordered=False).localCheckpoint(eager=False),
                emb1.select("vec_id"),
                cmats["edges"],
                cmats["labels"],
            ).count(),
            reps=2,
        ),
    }
    # round-13 (VERDICT item 4): the INCREMENTAL kNN maintenance row —
    # the union graph via knn_join_refresh (re-score only dirty lists,
    # stored edges reused for untouched vectors) instead of a full
    # re-score. On THIS dense fixture a 10% batch touches every list,
    # so touched == corpus and the row measures the machinery's
    # worst-case overhead against the full re-score above; the
    # realistic-fixture row below it is where the reuse pays.
    results["community_index"]["steady_state_dd23_refresh_incremental_knn"] = timed(
        lambda: gr.label_propagation_refresh(
            sim.knn_join_refresh(
                emb1, base_emb, cmats["knn"]
            ).localCheckpoint(eager=False),
            emb1.select("vec_id"),
            cmats["edges"],
            cmats["labels"],
        ).count(),
        reps=2,
    )

    # realistic-density regime for the incremental kNN: the 50k-vocab
    # planted-group embeddings (the --scale-neardup fixture family),
    # n_centroids = n/LIST_SIZE so lists stay ~50 vectors, batch = the
    # top-10%-of-ids slice (new arrivals land in their OWN planted
    # groups' lists). Measures from-scratch vs incremental union kNN
    # and the touched fraction that explains the gap.
    nd_vecs_path = f"/tmp/spark_graft_nd_vecs_v{_ND_VOCAB}w{_ND_WORDS}d{_ND_DIM}_{nd_n}.parquet"
    if os.path.isfile(os.path.join(nd_vecs_path, "_DONE")):
        ndv = spark.read.parquet(nd_vecs_path)
    else:
        ndv = _synth_embeddings(spark, nd_n).localCheckpoint()
    nd_k = max(nd_n // NEARDUP_LIST_SIZE, 1)
    # the serving regime (sim12 contract): the index STORES its
    # quantizer AND its assignment table — the (vec_id, centroid_id)
    # rows ARE the IVF index — and a refresh assigns ONLY the batch
    # against the frozen quantizer, so dirty lists = the batch's own
    # lists and cost tracks batch x n_assign lists of pair work.
    # Batch-size sweep: with L lists a batch of b dirties
    # ~min(2b, L) of them — 10% of n=50k over L=1000 dirties ALL
    # lists (the honest worst case, kept), 0.2% dirties ~20%.
    results["knn_incremental_realistic"] = {"n": nd_n, "n_centroids": nd_k}
    for tag, frac in (("10pct", 0.9), ("0p2pct", 0.998)):
        nd_base = ndv.filter(F.col("vec_id") < int(nd_n * frac))
        kmats = mat(
            {"cents": sim.seed_centroid_frame(nd_base, nd_k)}, f"knn_nd_q_{tag}"
        )
        frozen = {"centroids": kmats["cents"], "hier": True}
        kmats.update(
            mat(
                {
                    "knn": sim.knn_join(nd_base, ordered=False, **frozen),
                    "assign": sim.ivf_assignments(
                        nd_base, n_assign=sim.KNN_ASSIGN, **frozen
                    ),
                },
                f"knn_nd_{tag}",
            )
        )
        results["knn_incremental_realistic"][f"from_scratch_union_knn_{tag}"] = timed(
            lambda: sim.knn_join(ndv, ordered=False, **frozen).count(),
            reps=2,
        )
        results["knn_incremental_realistic"][f"incremental_union_knn_{tag}"] = timed(
            lambda: sim.knn_join_refresh(
                ndv,
                nd_base,
                kmats["knn"],
                **frozen,
                stored_assignments=kmats["assign"],
            ).count(),
            reps=2,
        )
    nd_base = ndv.filter(F.col("vec_id") < int(nd_n * 0.9))
    # the caveat rows: UNFROZEN corpus-derived seeds — a 10% ingest
    # displaces ~10% of the md5-ranked seed set, assignments drift
    # corpus-wide, most lists go dirty, and the refresh degrades to a
    # full re-score PLUS the diff overhead (still exact; measured and
    # kept here as the regime the serving path must avoid)
    dmats = mat(
        {"knn": sim.knn_join(nd_base, n_centroids=nd_k, ordered=False)},
        "knn_nd_drift",
    )
    results["knn_incremental_realistic"]["from_scratch_union_knn_seed_drift"] = timed(
        lambda: sim.knn_join(ndv, n_centroids=nd_k, ordered=False).count()
    )
    results["knn_incremental_realistic"]["incremental_union_knn_seed_drift"] = timed(
        lambda: sim.knn_join_refresh(
            ndv, nd_base, dmats["knn"], n_centroids=nd_k
        ).count()
    )

    # the dense-fixture caveat row (dd19/dd21's analogue): a plain
    # re-propagation of a STORED union kNN graph, no diff machinery —
    # isolates the kNN re-score cost from the propagation cost
    umats = mat({"union_knn": sim.knn_join(emb1, ordered=False)}, "dd23u")
    results["community_index"]["propagation_only_from_stored_union_knn"] = timed(
        lambda: gr.label_propagation(
            umats["union_knn"], emb1.select("vec_id")
        ).count(),
        reps=2,
    )

    doc = {
        "metric": "incremental_split_sec",
        "unit": "sec",
        "factor": factor,
        "sf_dir": sf_dir,
        "batch_fraction": 0.1,
        "methodology": (
            "from_scratch = the inline gate operator; build_once = "
            "materialize the index/member tables to parquet (incl. "
            "write+re-read); steady_state = min-of-N over the parquet "
            "re-reads only. dedup_index uses the dense gate corpus "
            "(31-word vocab: a 10% batch touches MOST clusters, so its "
            "refresh ratio understates the production win); "
            "dedup_index_realistic re-measures the family on the "
            "50k-vocab planted-duplicate corpus, where the refresh "
            "cost tracks the BATCH over a fixed multi-stage floor "
            "while from_scratch tracks the corpus; "
            "centrality_index_realistic applies the same split to the "
            "dd18/dd19 family (the dense-corpus centrality row "
            "inherits dd13's caveat squared: the affected-component "
            "rerun covers most of the graph there); "
            "personalized_centrality = dd20 scratch vs dd21's "
            "affected-components seed-edit refresh over stored "
            "knn+ranks; lexical_index round-12 rows: ten 1pct appends "
            "landed as separate file sets (fragmented serve), one t18 "
            "term-clustered rewrite, serve after compaction, and the "
            "t17b read-modify-write 10pct upsert; ann_index round-12c "
            "rows: the sim17 one-call edit (re-embed 10pct + delete "
            "10pct, tombstone mask + delta segment, stored codes never "
            "read), ten 1pct upserts landed as separate mask/delta "
            "file sets (fragmented serve), one sim18 list-clustered "
            "rewrite, and serve after compaction; community_index = "
            "dd22 scratch vs dd23's affected-components batch refresh "
            "over stored edges+labels (the union kNN re-score is the "
            "honest boundary; the propagation_only row isolates it); "
            "since round 13 its build_once row also includes landing "
            "the raw base kNN edges, which knn_join_refresh reuses; "
            "round-13 rows: refresh_incremental_knn = the same dd23 "
            "refresh but the union kNN maintained via knn_join_refresh "
            "(re-score only IVF lists whose membership the batch "
            "changed, stored edges reused elsewhere — on the dense "
            "fixture every list is dirty, so this row is the "
            "machinery's worst-case overhead), and "
            "knn_incremental_realistic = from-scratch vs incremental "
            "union kNN on the 50k-vocab planted-group embeddings at "
            "n/50 lists under the index's FROZEN stored quantizer AND "
            "stored assignment table (the sim12 contract: only the "
            "batch is assigned, dirty lists = the batch's own lists), "
            "swept over batch size — a 10% batch x n_assign=2 lands "
            "in ALL ~1000 lists (the honest worst case: refresh "
            "degrades to scratch + overhead), a 0.2% batch in ~20% "
            "of them (the steady-state regime the refresh exists "
            "for); the *_seed_drift rows re-measure the 10% split "
            "under UNFROZEN corpus-derived seeds, where a 10% ingest "
            "displaces ~10% of the seed set and even the untouched "
            "corpus re-assigns"
        ),
        "families": results,
    }
    with open(out_path, "w") as fh:
        json.dump(doc, fh, indent=1)
    print(json.dumps(doc))


if __name__ == "__main__":
    if "--scale" in sys.argv[1:]:
        main_scale()
    elif "--scale-neardup" in sys.argv[1:]:
        main_scale_neardup()
    elif "--stream-ingest" in sys.argv[1:]:
        main_stream_ingest()
    elif "--stream" in sys.argv[1:]:
        main_stream()
    elif "--incremental" in sys.argv[1:]:
        main_incremental()
    else:
        main()
