"""Benchmark harness: runs the engine's headline and LLM-extension
queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints two JSON lines, the full per-query
map and then a compact final line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"<name>": sec, ...}, "sf": <float>, ...}

Each query is fully executed via a no-op sink (``noop`` data source) so
timings measure scan + compute + shuffle, not driver-side collection.

    python bench.py        # takes no arguments
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

# Round-13 addition to the final line's queries map, additive only: the
# driver's low-core scaling block reads that map, and the 11 headline
# queries are overhead-bound at sf0.1 with every 8c/32c ratio <= 1.
# These three LLM-extension heavies measure scaling where parallel work
# actually exists. They are timed in the normal sweep, NOT summed into
# "value"/r1_headline (which stay the r01 set).
SCALING_HEAVIES = [
    "dd23_lp_refresh",
    "t14_bigram_surprisal",
    "sim18_ivfpq_compaction",
]

# Side modes removed after commit df1108a (``git show df1108a:bench.py``
# holds them), each with the artifact it wrote, now a frozen record.
REMOVED_MODES = {
    "--scale": "BENCH_SCALE.json",
    "--scale-neardup": "BENCH_SCALE_NEARDUP.json",
    "--stream": "BENCH_STREAM.json",
    "--stream-ingest": "BENCH_STREAM_INGEST.json",
    "--incremental": "BENCH_INCREMENTAL.json",
}


def benched_names() -> list[str]:
    """HEADLINE + LLM_EXTENSION, in order. Raises on a name that is not
    registered or is listed twice: skipping it would shrink the totals
    below and make them look faster (see ``total`` in ``main``)."""
    names = HEADLINE + LLM_EXTENSION
    unknown = [n for n in names if n not in registry.QUERIES]
    if unknown:
        raise ValueError(f"bench lists queries that are not registered: {unknown}")
    repeated = sorted({n for n in names if names.count(n) > 1})
    if repeated:
        raise ValueError(f"bench lists queries more than once: {repeated}")
    untimed = [n for n in SCALING_HEAVIES if n not in names]
    if untimed:
        raise ValueError(f"scaling heavies not in the timed sweep: {untimed}")
    return names


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
    names = benched_names()

    spark = get_spark("file_indexer_spark_bench")
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
                    for n in HEADLINE + SCALING_HEAVIES
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


if __name__ == "__main__":
    args = sys.argv[1:]
    removed = [a for a in args if a in REMOVED_MODES]
    if removed:
        sys.exit(
            f"bench.py {removed[0]} was removed; its artifact "
            f"{REMOVED_MODES[removed[0]]} is a frozen record, and "
            f"`git show df1108a:bench.py` holds the code that wrote it"
        )
    if args:
        sys.exit(f"usage: python bench.py (takes no arguments; got {args})")
    main()
