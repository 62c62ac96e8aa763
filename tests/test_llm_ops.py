"""Semantic tests for the LLM-pipeline operators — properties the
oracle diff can't express (recall of approximate methods vs their
exact baselines, invariants of scores and sessions)."""

from __future__ import annotations

import pytest

from file_indexer_spark.operators import dedup as dd
from file_indexer_spark.operators import events as ev
from file_indexer_spark.operators import similarity as sim
from file_indexer_spark.operators import text as tx
from file_indexer_spark.tables import events_df, load_table
from file_indexer_spark.session import tune_session


@pytest.fixture(scope="module")
def docs(spark, sf_oracle):
    tune_session(spark)
    return load_table(spark, sf_oracle, "documents").cache()


@pytest.fixture(scope="module")
def embeddings(spark, sf_oracle):
    tune_session(spark)
    return load_table(spark, sf_oracle, "embeddings").cache()


def test_ivf_recall_vs_exact(embeddings):
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.cosine_topk(embeddings).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"]) for r in sim.ivf_topk(embeddings).collect()
    }
    assert len(exact) == sim.N_QUERIES * sim.TOP_K
    recall = len(exact & approx) / len(exact)
    # nprobe=3 over ~14 lists: most true neighbors should be found
    assert recall >= 0.7, f"IVF recall {recall:.2f} too low"


def test_parameterized_centroids(embeddings):
    """n_centroids decouples the IVF centroid count from the label
    cardinality (the 100 TB knob): exactly k centroids, every vector
    assigned, pairs are a verified subset of the exact near-dup set
    with usable recall, and larger k shrinks per-list pair work."""
    from pyspark.sql import functions as F

    n = embeddings.count()
    # k=4/25 exercise flat assignment; k=200 crosses _HIER_THRESHOLD
    # and exercises the two-level coarse-quantizer path
    assert 200 > sim._HIER_THRESHOLD
    for k in (4, 25, 200):
        assign = sim.ivf_assignments(embeddings, n_centroids=k)
        assert assign.count() == n, "every vector must be assigned"
        n_lists = assign.select("centroid_id").distinct().count()
        assert n_lists <= min(k, n)
        if k < n // 2:
            assert n_lists >= k - 2, f"hash-sampled seeds should spread ({n_lists}/{k})"

    # brute-force ground truth (same pattern as the multi-assign test)
    v = sim._with_norm(sim._spread(embeddings)).select(
        "vec_id", F.col("embedding").alias("emb"), F.col("norm").alias("nrm")
    )
    a, b = v.alias("a"), v.alias("b")
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("cosine", sim._cosine("a.emb", "a.nrm", "b.emb", "b.nrm"))
        .filter(F.col("cosine") >= sim.NEARDUP_COSINE)
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .collect()
    }
    got = {
        (r["vec_a"], r["vec_b"])
        for r in sim.embedding_neardup_pairs(
            embeddings, n_assign=2, n_centroids=25
        ).collect()
    }
    assert got <= exact, "IVF-bucketed pairs must verify exactly"
    assert len(got) / max(len(exact), 1) >= 0.3, (len(got), len(exact))

    # pair work shrinks as k grows: total within-list candidate pairs
    def pair_work(k):
        sizes = (
            sim.ivf_assignments(embeddings, n_centroids=k)
            .groupBy("centroid_id")
            .agg(F.count("*").alias("m"))
            .collect()
        )
        return sum(r["m"] * (r["m"] - 1) // 2 for r in sizes)

    assert pair_work(25) < pair_work(4) / 3


def test_minhash_lsh_finds_planted_near_dups(docs):
    # the synthetic corpus plants ~25 pairs with Jaccard >= 0.8
    lsh_pairs = {(r["doc_a"], r["doc_b"]) for r in dd.minhash_lsh_pairs(docs).collect()}
    exact_pairs = {
        (r["doc_a"], r["doc_b"]) for r in dd.ngram_jaccard_pairs(docs).collect()
    }
    assert len(exact_pairs) >= 20
    # LSH candidates are verified with exact Jaccard on unpruned sets,
    # dd2 uses pruned sets — they must agree on the planted dups
    recall = len(exact_pairs & lsh_pairs) / len(exact_pairs)
    assert recall >= 0.9, f"LSH recall {recall:.2f} vs exact Jaccard"


def test_simhash_agrees_with_jaccard(docs):
    sim_pairs = {(r["doc_a"], r["doc_b"]) for r in dd.simhash_pairs(docs).collect()}
    exact_pairs = {
        (r["doc_a"], r["doc_b"]) for r in dd.ngram_jaccard_pairs(docs).collect()
    }
    # hamming <= 3 on 60 bits is a tighter notion than Jaccard 0.8;
    # everything SimHash flags should be a true near-dup
    assert sim_pairs, "SimHash found no pairs"
    assert sim_pairs <= exact_pairs


def test_quality_scores_bounded(docs):
    rows = tx.quality_scores(docs).collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert 0.0 <= r["quality_score"] <= 1.0
        assert 0.0 <= r["stopword_ratio"] <= 1.0


def test_sessions_partition_events(spark, sf_oracle):
    events = events_df(spark, sf_oracle)
    sessions = ev.sessionize(events)
    assert sessions.groupBy().sum("n_events").collect()[0][0] == events.count()


def test_funnel_monotone(spark, sf_oracle):
    row = ev.funnel(events_df(spark, sf_oracle)).collect()[0]
    assert row["n_users"] >= row["n_viewed"] >= row["n_clicked_after_view"] >= row[
        "n_purchased_after_click"
    ] >= 0


def test_minhash_lsh_ml_parity_with_expr_lsh(docs):
    """dd6 (pyspark.ml MinHashLSH) and dd3 (expression LSH) verify
    candidates with the same exact Jaccard — their emitted pair sets
    should agree on the planted near-dups."""
    ml_pairs = {
        (r["doc_a"], r["doc_b"]) for r in dd.minhash_lsh_ml_pairs(docs).collect()
    }
    expr_pairs = {
        (r["doc_a"], r["doc_b"]) for r in dd.minhash_lsh_pairs(docs).collect()
    }
    assert len(expr_pairs) >= 20
    recall = len(expr_pairs & ml_pairs) / len(expr_pairs)
    assert recall >= 0.9, f"ml-LSH recall {recall:.2f} vs expression LSH"
    # verification is exact in both: no false positives below threshold
    assert not (ml_pairs - expr_pairs) or recall >= 0.9


def test_ivfpq_agrees_with_fullscan_adc_on_probed_lists(embeddings):
    """sim10's ONLY approximation over sim9+ADC is list pruning: its
    result must be EXACTLY the full-scan ADC ranking recomputed over
    the probed lists' members (same distances, same tie order) — a
    bit-level invariant, not a recall heuristic. Plus a loose recall
    floor vs full-scan ADC (nprobe=3 over ~14 label-rep lists), the
    sim2-vs-sim1 pattern."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    assign = {
        r["vec_id"]: r["centroid_id"]
        for r in sim.ivf_assignments(embeddings).collect()
    }
    cents = sim._centroid_frame(embeddings, None, None)
    q = sim._with_norm(embeddings.filter(F.col("vec_id") < sim.N_QUERIES)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    pw = Window.partitionBy("query_id").orderBy(F.desc("c_cosine"), "centroid_id")
    probed: dict[int, set[int]] = {}
    for r in (
        q.join(F.broadcast(cents))
        .withColumn("c_cosine", sim._cosine("q_emb", "q_norm", "c_emb", "c_norm"))
        .withColumn("rn", F.row_number().over(pw))
        .filter(F.col("rn") <= sim.NPROBE)
        .collect()
    ):
        probed.setdefault(r["query_id"], set()).add(r["centroid_id"])

    full = sim.pq_adc_topk(embeddings, k=10**9).collect()  # full ranking
    expected: dict[int, list[tuple]] = {}
    for r in sorted(full, key=lambda r: (r["query_id"], r["rank"])):
        if assign[r["neighbor_id"]] in probed[r["query_id"]]:
            expected.setdefault(r["query_id"], []).append(
                (r["neighbor_id"], r["adc_dist"])
            )
    got: dict[int, list[tuple]] = {}
    for r in sim.ivfpq_topk(embeddings).collect():
        got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["adc_dist"]))
    assert set(got) == set(expected)
    for qid, rows in got.items():
        assert rows == expected[qid][: sim.TOP_K], f"query {qid} diverges"

    adc_full = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.pq_adc_topk(embeddings).collect()
    }
    approx = {(qid, n) for qid, rows in got.items() for (n, _) in rows}
    recall = len(adc_full & approx) / len(adc_full)
    assert recall >= 0.4, f"IVF-PQ recall {recall:.2f} vs full-scan ADC"


def test_ivfpq_scaled_centroids_path(embeddings):
    """The sqrt(n)-centroid serving regime (bench --scale-neardup):
    ivfpq_topk(n_centroids=...) must keep every query answered, ranks
    contiguous from 1, and stay bit-deterministic across runs — the
    same contract as the default label-rep path it parameterizes."""
    from pyspark.sql import functions as F

    n = embeddings.count()
    kq = max(int(round(n**0.5)), 1)
    a = sim.ivfpq_topk(embeddings, n_centroids=kq).collect()
    b = sim.ivfpq_topk(embeddings, n_centroids=kq).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    per_q: dict[int, list[int]] = {}
    for r in a:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    n_queries = embeddings.filter(F.col("vec_id") < sim.N_QUERIES).count()
    assert len(per_q) == n_queries
    for qid, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), qid
        assert len(ranks) <= sim.TOP_K


def test_brp_lsh_recall_vs_exact(embeddings):
    """sim3 (BucketedRandomProjectionLSH, euclidean) vs sim1 (exact
    cosine). Metrics differ, so compare against exact EUCLIDEAN top-k
    computed from sim1's corpus — recall of the bucketed search."""
    from pyspark.sql import functions as F

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.cosine_topk(embeddings).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.brp_lsh_neighbors(embeddings).collect()
    }
    assert len(approx) == sim.N_QUERIES * sim.TOP_K
    # cosine and euclidean top-k overlap strongly on this corpus; the
    # LSH variant should recover a solid majority
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"BRP-LSH recall {recall:.2f} vs exact cosine top-k"


def test_dedup_clusters_chain_merges_and_canonical(spark):
    """A pair chain 1-2, 2-3, plus an island 10-11: components must
    merge transitively (label propagation crosses >1 hop) and the
    canonical doc is the min id of each component."""
    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 7, 10, 11]], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    out = {r["doc_id"]: r for r in dd.dedup_clusters(docs, pairs).collect()}
    assert {k: v["cluster_id"] for k, v in out.items()} == {
        1: 1, 2: 1, 3: 1, 7: 7, 10: 10, 11: 10,
    }
    assert [k for k, v in out.items() if v["is_canonical"]] == [1, 7, 10]


def test_dedup_clusters_empty_pairs(spark):
    docs = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    out = dd.dedup_clusters(docs, pairs).collect()
    assert all(r["doc_id"] == r["cluster_id"] and r["is_canonical"] for r in out)


def test_hash_split_deterministic_and_partitions(docs):
    from file_indexer_spark.operators import sampling as sp

    a = {r["split"]: r for r in sp.hash_split(docs).collect()}
    b = {r["split"]: r for r in sp.hash_split(docs).collect()}
    assert a.keys() == b.keys() == {"train", "val", "test"}
    assert all(a[s]["n_docs"] == b[s]["n_docs"] for s in a)
    total = sum(r["n_docs"] for r in a.values())
    assert total == docs.count()
    # train holds the bulk (87.5 % of hash space)
    assert a["train"]["n_docs"] > 0.7 * total


def test_source_cap_sample_caps_and_is_stable(docs):
    from pyspark.sql import functions as F

    from file_indexer_spark.operators import sampling as sp

    kept = sp.source_cap_sample(docs, cap=5)
    per_source = kept.groupBy("source").count().collect()
    assert all(r["count"] <= 5 for r in per_source)
    # every source with >=5 docs is fully capped, smaller ones intact
    totals = {r["source"]: r["n"] for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    got = {r["source"]: r["count"] for r in per_source}
    for s, n in totals.items():
        assert got.get(s, 0) == min(n, 5)
    # deterministic: same rows both runs
    ids1 = {r["doc_id"] for r in kept.collect()}
    ids2 = {r["doc_id"] for r in sp.source_cap_sample(docs, cap=5).collect()}
    assert ids1 == ids2


def test_sequence_packing_tiles_each_stream(docs):
    from file_indexer_spark.operators import sampling as sp

    rows = sp.sequence_pack(docs, budget=100).collect()
    by_packer = {}
    for r in rows:
        by_packer.setdefault(r["packer"], []).append(r)
    assert len(by_packer) == sp.N_PACKERS
    for packer, rs in by_packer.items():
        rs.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in rs:
            # offsets/spans are consistent with a contiguous token stream
            assert r["seq_offset"] == cum % 100
            assert r["seq_first"] == cum // 100
            assert r["seq_last"] == (cum + r["n_tokens"] - 1) // 100
            cum += r["n_tokens"]


# ---------------------------------------------------------------- curation


def test_contamination_excludes_benchmark_docs(docs):
    from pyspark.sql import functions as F

    from file_indexer_spark.operators import curation as cu

    out = cu.benchmark_contamination(docs).cache()
    bench_ids = {
        r["doc_id"]
        for r in docs.select("doc_id")
        .filter(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == cu.BENCH_HEX)
        .collect()
    }
    out_ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert bench_ids, "benchmark slice is empty — hex prefix rule broken"
    assert not (bench_ids & out_ids), "benchmark docs must not be scored"
    assert len(out_ids) == docs.count() - len(bench_ids)
    rows = out.collect()
    assert all(0 <= r["n_overlap"] <= r["n_shingles"] for r in rows)
    assert all(
        r["contaminated"] == (r["n_overlap"] / r["n_shingles"] >= cu.CONTAMINATION_THRESHOLD)
        for r in rows
    )
    out.unpersist()


def test_repetition_flags_planted_repeats(docs):
    from file_indexer_spark.operators import curation as cu

    rows = cu.repetition_stats(docs).collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert r["top_word_count"] <= r["n_tokens"]
        assert r["n_distinct_bigrams"] <= r["n_bigrams"]
        assert r["n_bigrams"] == r["n_tokens"] - 1
    flags = {r["repetitive"] for r in rows}
    assert flags == {True, False}, "thresholds must split the corpus"


def test_chunking_covers_every_token(docs):
    from pyspark.sql import functions as F

    from file_indexer_spark.operators import curation as cu

    chunks = cu.token_chunking(docs).cache()
    rows = chunks.collect()
    assert all(1 <= r["n_chunk_tokens"] <= cu.CHUNK_SIZE for r in rows)
    assert all(r["start_token"] == r["chunk_idx"] * cu.CHUNK_STRIDE for r in rows)
    # stride < chunk_size => consecutive chunks overlap; the last chunk's
    # window must reach the document's final token
    n_tokens = {
        r["doc_id"]: r["n"]
        for r in docs.select("doc_id", F.size(F.split("text", " ")).alias("n")).collect()
    }
    last = {}
    for r in rows:
        cur = last.get(r["doc_id"])
        if cur is None or r["chunk_idx"] > cur["chunk_idx"]:
            last[r["doc_id"]] = r
    assert set(last) == set(n_tokens)
    for doc_id, r in last.items():
        assert r["start_token"] + r["n_chunk_tokens"] == n_tokens[doc_id]
        # one more stride would start past the end
        assert r["start_token"] + cu.CHUNK_STRIDE >= n_tokens[doc_id]
    chunks.unpersist()


def test_mixture_resample_is_deterministic_and_bounded(docs):
    from file_indexer_spark.operators import curation as cu

    a = cu.mixture_resample(docs).collect()
    b = cu.mixture_resample(docs).collect()
    assert a == b, "resampling must be retry-stable"
    for r in a:
        assert 0 <= r["n_kept"] <= r["n_docs"]
        if r["target_rate"] == 1.0:
            assert r["n_kept"] == r["n_docs"], "rate-1.0 sources keep everything"


def test_neardup_multi_assignment_recall(embeddings):
    """dd5 with n_assign=2 (top-2 centroid multi-assignment): every
    single-assignment pair is still found, recall vs the brute-force
    ground truth does not drop (and recovers boundary pairs when any
    exist), and no pair is double-emitted."""
    from pyspark.sql import functions as F

    from file_indexer_spark.operators import similarity as sm

    # brute-force ground truth on the tiny corpus
    v = sm._with_norm(sm._spread(embeddings)).select(
        "vec_id", F.col("embedding").alias("emb"), F.col("norm").alias("nrm")
    )
    a, b = v.alias("a"), v.alias("b")
    truth = {
        (r["vec_a"], r["vec_b"])
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("cosine", sm._cosine("a.emb", "a.nrm", "b.emb", "b.nrm"))
        .filter(F.col("cosine") >= sm.NEARDUP_COSINE)
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .collect()
    }
    single_rows = sm.embedding_neardup_pairs(embeddings).collect()
    multi_rows = sm.embedding_neardup_pairs(embeddings, n_assign=2).collect()
    single = {(r["vec_a"], r["vec_b"]) for r in single_rows}
    multi = {(r["vec_a"], r["vec_b"]) for r in multi_rows}
    assert len(multi_rows) == len(multi), "multi-assignment double-emitted a pair"
    assert single <= multi, "multi-assignment lost a single-assignment pair"
    assert multi <= truth, "bucketed candidates can never exceed ground truth"
    assert truth, "fixture corpus has planted near-dups"
    assert len(multi & truth) >= len(single & truth)
    # sd1 built on multi-assigned pairs keeps one row per vector
    roll = sm.semantic_dedup(embeddings, n_assign=2)
    assert roll.agg(F.sum("n_vectors")).first()[0] == v.count()


def test_semantic_dedup_drop_rule(embeddings):
    from file_indexer_spark.operators import similarity as sim

    rollup = {r["centroid_id"]: r for r in sim.semantic_dedup(embeddings).collect()}
    pairs = sim.embedding_neardup_pairs(embeddings, sim.SEMDEDUP_COSINE).collect()
    assign = {r["vec_id"]: r["centroid_id"] for r in sim.ivf_assignments(embeddings).collect()}
    dropped_by_cluster: dict[int, set[int]] = {}
    for p in pairs:
        dropped_by_cluster.setdefault(assign[p["vec_b"]], set()).add(p["vec_b"])
    assert sum(r["n_vectors"] for r in rollup.values()) == embeddings.count()
    for cid, r in rollup.items():
        assert r["n_kept"] + r["n_dropped"] == r["n_vectors"]
        assert r["n_dropped"] == len(dropped_by_cluster.get(cid, set()))


def test_percentile_approx_close_to_exact(spark, sf_smoke):
    """The documented 100 TB swap for t6 (percentile -> single-pass
    percentile_approx sketch) must stay within 2% relative error of the
    exact per-source median on the test corpus."""
    from pyspark.sql import functions as F

    from file_indexer_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    both = (
        docs.groupBy("source")
        .agg(
            F.expr("percentile(n_chars, 0.5)").alias("exact"),
            F.expr("percentile_approx(n_chars, 0.5, 10000)").alias("approx"),
        )
        .collect()
    )
    assert both
    for r in both:
        assert abs(r["approx"] - r["exact"]) <= max(0.02 * r["exact"], 1.0), r


def test_approx_percentile_operators_match_exact(spark, sf_oracle):
    """t6a/e12a (the registered 100 TB percentile_approx paths) must
    agree with their exact twins t6/e12: identical group keys, counts,
    means and maxima, and every approx percentile within RANK tolerance
    ±0.02 of its target — i.e. between the exact (p-0.02) and (p+0.02)
    percentiles. (Value tolerance is the wrong bound: the sketch
    returns a real element, so on a sparse tail the value gap to the
    interpolated exact percentile is the data's own spacing.)"""
    from pyspark.sql import functions as F

    from file_indexer_spark.tables import events_df as _edf

    docs = load_table(spark, sf_oracle, "documents")
    events = _edf(spark, sf_oracle)
    gaps = ev._event_gaps(events)
    for exact_df, approx_df, raw, val, key, pcols in [
        (tx.length_percentiles(docs), tx.length_percentiles_approx(docs),
         docs, "n_chars", "source", [("p50_chars", 0.5), ("p90_chars", 0.9), ("p99_chars", 0.99)]),
        (ev.gap_percentiles(events), ev.gap_percentiles_approx(events),
         gaps, "gap_us", "event_type", [("p50_us", 0.5), ("p90_us", 0.9), ("p99_us", 0.99)]),
    ]:
        exact = {r[key]: r.asDict() for r in exact_df.collect()}
        approx = {r[key]: r.asDict() for r in approx_df.collect()}
        assert exact.keys() == approx.keys() and exact
        bounds = {
            r[key]: r.asDict()
            for r in raw.groupBy(key)
            .agg(*[
                F.expr(f"percentile({val}, {max(p - 0.02, 0.0)})").alias(f"lo_{c}")
                for c, p in pcols
            ], *[
                F.expr(f"percentile({val}, {min(p + 0.02, 1.0)})").alias(f"hi_{c}")
                for c, p in pcols
            ])
            .collect()
        }
        for k in exact:
            e, a, b = exact[k], approx[k], bounds[k]
            for col, _p in pcols:
                assert b[f"lo_{col}"] <= a[col] <= b[f"hi_{col}"], (k, col, a[col], b)
            for col in e:
                if col not in {c for c, _ in pcols}:
                    assert a[col] == e[col], (k, col)


def test_events_operators_accept_both_timestamp_types(spark):
    """The driver's events parquet has shipped ts as TIMESTAMP(NANOS),
    TIMESTAMP(MICROS)/NTZ, and could ship tz-aware micros next — a
    round-2 regression (unix_micros rejecting NTZ) broke sessionization
    AND the whole bench. Every events operator must run on both
    TimestampType and TimestampNTZType inputs AND produce the same
    answer for the same wall-clock instants (a silent semantic
    divergence between the types would otherwise pass)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from file_indexer_spark.operators import events as ev

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=7 * i), i % 3,
         ["view", "click", "purchase"][i % 3], float(i), '{"k": %d}' % i)
        for i in range(40)
    ]
    tz = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    ntz = tz.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    ops = [
        ev.sessionize, ev.sessionize_skew_safe, ev.tumbling_counts,
        ev.funnel, ev.top_users, ev.props_stats, ev.retention_cohorts,
        ev.asof_last_match, ev.rolling_daily_value,
        ev.preceding_window_counts, ev.sliding_counts,
        ev.event_transitions, ev.gap_percentiles, ev.gap_percentiles_approx,
    ]

    def norm(v):
        # NTZ collects as naive datetime, TIMESTAMP as session-tz-aware
        # naive — same wall-clock for these fixtures; normalize to str
        return str(v) if isinstance(v, (dt.datetime, dt.date)) else v

    for op in ops:
        got_tz = [{c: norm(v) for c, v in r.asDict().items()} for r in op(tz).collect()]
        got_ntz = [{c: norm(v) for c, v in r.asDict().items()} for r in op(ntz).collect()]
        assert got_tz, op.__name__
        assert got_tz == got_ntz, op.__name__


def test_knn_join_recall_and_within_list_exactness(embeddings):
    """sim5's graph is exact WITHIN a centroid list (every same-list
    pair is scored), and its global recall against the unconstrained
    exact graph should be high on the clustered synthetic corpus."""
    from pyspark.sql import functions as F

    knn = sim.knn_join(embeddings)
    got = {(r["vec_id"], r["neighbor_id"]) for r in knn.collect()}
    # exact global top-k for every vector (brute force, test-only)
    exact_df = sim.cosine_topk(embeddings, queries=embeddings, k=sim.KNN_K)
    exact = {(r["query_id"], r["neighbor_id"]) for r in exact_df.collect()}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.5, f"knn-join recall {recall:.2f} vs exact graph"
    # ranks are dense 1..k' per vector and cosines non-increasing
    bad = (
        knn.groupBy("vec_id")
        .agg(
            F.max("rank").alias("mx"),
            F.count("*").alias("n"),
            (F.min("cosine") <= F.max("cosine")).alias("mono"),
        )
        .filter((F.col("mx") != F.col("n")) | (F.col("mx") > sim.KNN_K) | ~F.col("mono"))
        .count()
    )
    assert bad == 0


def test_knn_join_two_sets_matches_standalone(embeddings):
    """Round-13 optimization gate: the shared-scoring-pass
    ``knn_join_two_sets(union, base)`` must be row-for-row equal to the
    two standalone ``knn_join`` calls it replaces (dd23's gate shape:
    base = the pre-ingest slice, union = the full corpus)."""
    from pyspark.sql import functions as F

    base = embeddings.filter(F.col("vec_id") % 10 != 7)
    got_base, got_union = sim.knn_join_two_sets(embeddings, base)
    want_base = sim.knn_join(base, ordered=False)
    want_union = sim.knn_join(embeddings, ordered=False)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(got_base) == rows(want_base)
    assert rows(got_union) == rows(want_union)


def test_knn_join_refresh_matches_scratch(embeddings):
    """Round-13 incremental kNN maintenance (VERDICT item 4): for any
    base ⊆ union split, refreshing the stored base graph must equal
    knn_join over the union from scratch — stored rows pass through
    only where the batch provably changed no list membership."""
    from pyspark.sql import functions as F

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for pred in (F.col("vec_id") % 10 != 7, F.col("vec_id") % 3 != 0):
        base = embeddings.filter(pred)
        stored = sim.knn_join(base, ordered=False).localCheckpoint()
        got = sim.knn_join_refresh(embeddings, base, stored)
        want = sim.knn_join(embeddings, ordered=False)
        assert rows(got) == rows(want)

    # the serving regime: a FROZEN stored quantizer (sim12 contract) —
    # refresh must equal from-scratch under the same centroid frame,
    # in both routing regimes, with and without the stored-assignments
    # fast path (assignments reused from the index, batch-only assign)
    base = embeddings.filter(F.col("vec_id") % 10 != 7)
    cents = sim.seed_centroid_frame(base, 8).localCheckpoint()
    for hier in (False, True):
        stored = sim.knn_join(
            base, ordered=False, centroids=cents, hier=hier
        ).localCheckpoint()
        want = sim.knn_join(embeddings, ordered=False, centroids=cents, hier=hier)
        got = sim.knn_join_refresh(
            embeddings, base, stored, centroids=cents, hier=hier
        )
        assert rows(got) == rows(want), f"hier={hier}"
        stored_assign = sim.ivf_assignments(
            base, n_assign=sim.KNN_ASSIGN, centroids=cents, hier=hier
        ).localCheckpoint()
        got_fast = sim.knn_join_refresh(
            embeddings,
            base,
            stored,
            centroids=cents,
            hier=hier,
            stored_assignments=stored_assign,
        )
        assert rows(got_fast) == rows(want), f"fast path, hier={hier}"

    import pytest

    # stored assignments need the frozen centroids AND the pinned regime
    for pinned in ({}, {"centroids": cents}):
        with pytest.raises(ValueError):
            sim.knn_join_refresh(
                embeddings, base, stored, stored_assignments=stored_assign, **pinned
            )


def test_knn_join_refresh_rejects_a_base_vector_missing_from_the_union(embeddings):
    """Additions only: a base vec_id that the union lacks would leave its
    stale stored rows in the refreshed graph, so the refresh's job fails
    instead (in plan, no extra job)."""
    from pyspark.sql import functions as F

    base = embeddings.filter(F.col("vec_id") % 10 != 7)
    gone = (
        embeddings.filter(F.col("vec_id") == 0)
        .withColumn("vec_id", F.lit(10**6).cast(embeddings.schema["vec_id"].dataType))
    )
    base = base.unionByName(gone)
    stored = sim.knn_join(base, ordered=False).localCheckpoint()
    refreshed = sim.knn_join_refresh(embeddings, base, stored)
    with pytest.raises(Exception, match="missing from embeddings"):
        refreshed.collect()


def test_daily_uniques_approx_matches_exact_within_rsd(spark, sf_oracle):
    """e13a's HLL++ estimate must sit within a few standard errors of
    exact e13 for every day, and the non-sketch columns must be
    identical."""
    exact = {
        r["day"]: (r["n_events"], r["n_users"])
        for r in ev.daily_uniques(events_df(spark, sf_oracle)).collect()
    }
    approx = {
        r["day"]: (r["n_events"], r["n_users_approx"])
        for r in ev.daily_uniques_approx(events_df(spark, sf_oracle)).collect()
    }
    assert exact.keys() == approx.keys()
    for day, (n_ev, n_u) in exact.items():
        a_ev, a_u = approx[day]
        assert a_ev == n_ev, f"{day}: event counts must be exact"
        # rsd=0.05 => allow 4 sigma (20%) + small-count slack
        assert abs(a_u - n_u) <= max(0.2 * n_u, 2), f"{day}: {a_u} vs exact {n_u}"


def test_stratified_sample_rates_and_mixture_weights(docs):
    """sp5: every stratum's target_rate is min(1, target/n) and the
    kept count is plausible for a binomial at that rate; mx2: weights
    are a probability vector that dampens big sources relative to
    their natural share."""
    from file_indexer_spark.operators import curation as cu
    from file_indexer_spark.operators import sampling as sp

    rows = sp.stratified_sample(docs).collect()
    assert rows
    for r in rows:
        expect = min(1.0, sp.STRATUM_TARGET / r["n_docs"])
        assert abs(r["target_rate"] - round(expect, 6)) < 1e-9
        # 5-sigma binomial envelope around the expected kept count
        mu = r["n_docs"] * expect
        sigma = (mu * (1 - expect)) ** 0.5
        assert abs(r["n_kept"] - mu) <= 5 * sigma + 1, r

    mix = cu.temperature_mixture(docs).collect()
    assert abs(sum(m["temp_weight"] for m in mix) - 1.0) < 1e-4
    # alpha < 1 compresses shares toward uniform: the biggest source's
    # temp weight must not exceed its natural share, the smallest's
    # must not fall below it
    big = max(mix, key=lambda m: m["n_docs"])
    small = min(mix, key=lambda m: m["n_docs"])
    assert big["temp_weight"] <= big["base_share"] + 1e-9
    assert small["temp_weight"] >= small["base_share"] - 1e-9


def test_duplicate_spans_brute_force_parity(spark):
    """dd8 on a tiny planted corpus: shared fractions match a pure-
    Python shingle computation (exact semantics, not just oracle
    agreement)."""
    from file_indexer_spark.functions import hashing as H
    from file_indexer_spark.operators import dedup as dd

    texts = {
        1: "a b c d e f",
        2: "a b c x y z",   # shares the 'a b c' shingle with 1
        3: "p q r s t u",   # unique
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in dd.duplicate_spans(docs).collect()}

    def shingles(t):
        w = t.split(" ")
        n = H.SHINGLE_N
        return {" ".join(w[i:i + n]) for i in range(max(len(w) - n + 1, 1))}

    sets = {i: shingles(t) for i, t in texts.items()}
    for i, s in sets.items():
        shared = {g for g in s if any(g in o for j, o in sets.items() if j != i)}
        assert got[i]["n_shingles"] == len(s)
        assert got[i]["n_shared"] == len(shared), (i, shared)
        assert got[i]["flagged"] == (len(shared) / len(s) >= dd.DUP_SPAN_FLAG)


def test_duplicate_span_extents_brute_force_parity(spark):
    """dd9 on a tiny planted corpus: extents match a pure-Python
    interval computation (marking + merge semantics, not just oracle
    agreement)."""
    from file_indexer_spark.operators import dedup as dd

    texts = {
        # "a b c" (pos 1) and "c d e" (pos 3) duplicated across docs;
        # doc 3 repeats "x y z x y z" => self-repetition marks too
        1: "a b c d e q r s",
        2: "a b c m n c d e",
        3: "x y z x y z",
        4: "u v w",
        # sub-gram-width duplicates: the whole-doc fallback gram's raw
        # end (p + n - 1 = 3) must clamp to the 2-token doc length
        5: "p q",
        6: "p q",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = [
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in dd.duplicate_span_extents(docs).collect()
    ]
    n = dd.SPAN_N
    from collections import Counter

    def grams(t):
        w = t.split(" ")
        return [
            (" ".join(w[i:i + n]), i + 1)
            for i in range(max(len(w) - n + 1, 1))
        ]

    occ = Counter(g for t in texts.values() for g, _ in grams(t))
    expect = []
    for i, t in sorted(texts.items()):
        n_tokens = len(t.split(" "))
        marked = [p for g, p in grams(t) if occ[g] >= 2]
        spans = []
        for p in marked:
            end = min(p + n - 1, n_tokens)  # clamp to doc length
            if spans and p <= spans[-1][1] - n + 1 + n:  # p <= prev_p + n
                spans[-1] = (spans[-1][0], end)
            else:
                spans.append((p, end))
        expect += [(i, s, e, e - s + 1) for s, e in spans]
    assert got == expect, (got, expect)


def test_strip_duplicated_spans_semantics(spark):
    """dd10 on the dd9 fixture corpus: stripped text = tokens outside
    every dd9 extent, fully-stripped docs become the empty string, and
    accounting columns reconcile."""
    from file_indexer_spark.operators import dedup as dd

    texts = {
        1: "a b c d e q r s",
        2: "a b c m n c d e",
        3: "x y z x y z",
        4: "u v w",
        5: "p q",
        6: "p q",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    spans = {}
    for r in dd.duplicate_span_extents(docs).collect():
        spans.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    got = {r["doc_id"]: r for r in dd.strip_duplicated_spans(docs).collect()}
    assert set(got) == set(texts), "every doc emits exactly one row"
    for i, t in texts.items():
        words = t.split(" ")
        keep = [
            w
            for p, w in enumerate(words, start=1)
            if not any(s <= p <= e for s, e in spans.get(i, []))
        ]
        r = got[i]
        assert r["stripped_text"] == " ".join(keep), (i, r)
        assert r["n_tokens_before"] == len(words)
        assert r["n_tokens_after"] == len(keep)
        assert r["n_removed"] == len(words) - len(keep)
    # docs 3 (self-repetition covers everything), 5 and 6 (exact dup
    # pair) strip to empty; doc 4 (unique) is untouched
    assert got[3]["stripped_text"] == "" and got[5]["stripped_text"] == ""
    assert got[4]["stripped_text"] == texts[4] and got[4]["n_removed"] == 0


def test_epoch_shuffle_is_seeded_permutation(docs):
    """sp6: a full permutation of the corpus (each doc exactly once,
    contiguous 1..m positions per shard), identical across re-runs,
    different order under a different seed."""
    from file_indexer_spark.operators import sampling as sp

    n = docs.count()
    e0 = sp.epoch_shuffle(docs, seed=0).collect()
    assert len(e0) == n and len({r["doc_id"] for r in e0}) == n
    by_shard: dict[int, list[int]] = {}
    for r in e0:
        by_shard.setdefault(r["epoch_shard"], []).append(r["shard_pos"])
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # replay-stable; seed changes the order
    again = sp.epoch_shuffle(docs, seed=0).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in e0]
    e1 = {r["doc_id"]: (r["epoch_shard"], r["shard_pos"])
          for r in sp.epoch_shuffle(docs, seed=1).collect()}
    e0map = {r["doc_id"]: (r["epoch_shard"], r["shard_pos"]) for r in e0}
    assert e0map != e1, "different seed must reshuffle"


def test_quantize_embeddings_error_bound(embeddings):
    """sim7: int8 values stay in [-127, 127], the per-vector max
    reconstruction error respects the scalar-quantization bound
    (0.5 / scale), and dequantized cosine stays close to exact."""
    from file_indexer_spark.operators import similarity as sm

    rows = sm.quantize_embeddings(embeddings).collect()
    assert len(rows) == embeddings.count()
    for r in rows:
        assert all(-127 <= v <= 127 for v in r["q"])
        if r["scale"] is not None:
            assert r["max_abs_err"] <= 0.5 / r["scale"] + 1e-6, r["vec_id"]


def test_zorder_interleave_matches_reference(spark):
    """sp7's Morton curve: the Column expression equals a bit-twiddling
    Python reference on the full 8-bit grid corners + randoms."""
    import random

    from pyspark.sql import functions as F

    from file_indexer_spark.operators import sampling as sp

    def ref(x, y, bits=8):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    rng = random.Random(7)
    pts = [(0, 0), (255, 255), (255, 0), (0, 255), (1, 2)] + [
        (rng.randrange(256), rng.randrange(256)) for _ in range(40)
    ]
    df = spark.createDataFrame(pts, "x long, y long").withColumn(
        "z", sp.zorder_value(F.col("x"), F.col("y"))
    )
    for r in df.collect():
        assert r["z"] == ref(r["x"], r["y"]), (r["x"], r["y"])


def test_zorder_layout_bounds_both_dimensions(spark, sf_smoke):
    """The layout claim itself: Morton-prefix shards tile BOTH key
    ranges (each multi-row shard's user span AND day span are well
    under the full range), while a day-sorted layout leaves the full
    user range in every shard — the reason Z-order prunes combined
    predicates and single-key sort cannot."""
    from pyspark.sql import functions as F

    from file_indexer_spark.operators import sampling as sp
    from file_indexer_spark.tables import events_df

    events = events_df(spark, sf_smoke)
    shards = sp.zorder_layout(events).collect()
    assert len(shards) > 4
    # a 4-bit curve prefix leaves 2-bit tiles: <= 4 consecutive values
    # per dimension inside any shard
    for r in shards:
        assert r["user_max"] - r["user_min"] <= 3, r
        assert r["day_max"] - r["day_min"] <= 3, r

    # contrast: day-sorted shards hold (nearly) the whole user range,
    # so a user predicate prunes ~nothing there, while the Morton
    # shards above bound it to <= 4 values
    day = F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
    stats = (
        events.select((F.col("user_id") % 256).alias("u"), day.alias("d"))
        .groupBy("d")
        .agg((F.max("u") - F.min("u")).alias("span"))
        .agg(F.avg("span").alias("avg_span"))
        .crossJoin(
            events.select(
                (F.max(F.col("user_id") % 256) - F.min(F.col("user_id") % 256)).alias(
                    "full"
                )
            )
        )
        .first()
    )
    assert stats["avg_span"] >= 0.6 * stats["full"], stats
    assert stats["avg_span"] > 3, "day layout must be worse than the tiles"


def test_kmeans_improves_on_oneshot_ivf_seeding(spark, sf_smoke):
    """sim8's pinned invariants: exactly k non-empty clusters, every
    vector assigned once, and Lloyd's within-cluster SSE is at or
    below the one-shot IVF seeding's SSE under the same
    nearest-centroid assignment (iterating only improves the
    objective)."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    from file_indexer_spark.operators import similarity as sim
    from file_indexer_spark.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    n = emb.count()
    k = 8

    summary = sim.kmeans_clusters(emb, k=k).collect()
    assert len(summary) == k and all(r["n_vectors"] > 0 for r in summary)
    assert sum(r["n_vectors"] for r in summary) == n

    # SSE comparison under identical assignment arithmetic (numpy)
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    X = np.stack([vecs[i] for i in sorted(vecs)])

    def sse(centroids):
        d = ((X[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        return d.min(axis=1).sum()

    model = KMeans(k=k, maxIter=sim.KMEANS_MAX_ITER, seed=20240813,
                   featuresCol="features").fit(
        emb.select(array_to_vector(F.col("embedding").cast("array<double>"))
                   .alias("features"))
    )
    lloyd = np.stack([np.asarray(c) for c in model.clusterCenters()])
    seeds = np.stack([
        np.array(r["embedding"], dtype=np.float64)
        for r in sim._centroids(emb, k).collect()
    ])
    assert sse(lloyd) <= sse(seeds) * 1.0001, (sse(lloyd), sse(seeds))


def test_idle_rich_customers_semantics_on_crafted_fixture(spark):
    """h9's gate is vacuous on the synthetic fixtures (every customer
    has orders, so both engines return 0 rows — ADVICE r6): exercise
    the semantics on a crafted corpus where above-average-balance
    customers exist WITHOUT orders, one customer sits EXACTLY on the
    cross-multiplication boundary (must be excluded: strict >), and an
    above-average customer WITH orders is anti-joined away."""
    from file_indexer_spark.operators import relational as rel

    customer = spark.createDataFrame(
        [
            (1, 10.00, "AUTOMOBILE"),   # below average
            (2, 25.00, "BUILDING"),     # exactly ON the boundary -> out
            (3, 30.00, "AUTOMOBILE"),   # above, no orders -> IN
            (4, 40.00, "BUILDING"),     # above, HAS an order -> anti-joined
            (5, 20.00, "MACHINERY"),    # below average
            (6, -7.00, "MACHINERY"),    # negative: out of scalar AND result
        ],
        "c_custkey long, c_acctbal double, c_mktsegment string",
    )
    orders = spark.createDataFrame([(100, 4)], "o_orderkey long, o_custkey long")
    # positives: 1000+2500+3000+4000+2000 = 12500 cents over n_pos=5
    # => mean 2500; customer 2 has 2500*5 == 12500 (boundary, excluded)
    out = {r["c_mktsegment"]: r for r in rel.idle_rich_customers(customer, orders).collect()}
    assert set(out) == {"AUTOMOBILE"}
    assert out["AUTOMOBILE"]["numcust"] == 1
    assert out["AUTOMOBILE"]["totacctbal_cents"] == 3000


def test_zorder_layout_rejects_non_power_of_two_shards(spark, sf_smoke):
    """sp7's oracle pins bits=8/n_shards=4096; non-power-of-two shard
    counts must raise instead of silently diverging (ADVICE r6)."""
    import pytest as _pytest

    from file_indexer_spark.operators import sampling as sp
    from file_indexer_spark.tables import events_df

    ev = events_df(spark, sf_smoke)
    with _pytest.raises(ValueError, match="power of two"):
        sp.zorder_layout(ev, n_shards=1000)
    with _pytest.raises(ValueError, match="exceeds"):
        sp.zorder_layout(ev, bits=2, n_shards=4096)


def test_kmeans_refined_seeds_recall_vs_oneshot(spark, sf_oracle):
    """Round-7 carry-over (verdict #3): sim8's Lloyd centroids feed the
    IVF family via ivf_topk(centroids=...). Measured against the same
    exact truth, the refined lists must not lose recall vs the one-shot
    hash-sampled seeds at identical k/nprobe (Lloyd only improves the
    quantizer objective; the measured delta is recorded in
    PERFORMANCE.md). The assignment/probe machinery is IDENTICAL —
    only the centroid frame differs."""
    from file_indexer_spark.tables import load_table

    emb = load_table(spark, sf_oracle, "embeddings")
    k = 16
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.cosine_topk(emb).collect()
    }
    seeded = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.ivf_topk(emb, n_centroids=k).collect()
    }
    refined_cents = sim.kmeans_centroid_frame(emb, k=k)
    refined = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.ivf_topk(emb, centroids=refined_cents).collect()
    }
    r_seed = len(exact & seeded) / len(exact)
    r_ref = len(exact & refined) / len(exact)
    print(f"IVF recall @k={k} nprobe={sim.NPROBE}: seeds={r_seed:.3f} lloyd={r_ref:.3f}")
    assert r_ref >= r_seed - 0.05, (r_ref, r_seed)
    # absolute floor for the 3/16-list probe budget (measured:
    # seeds 0.39, lloyd 0.46 at sf0.01)
    assert r_ref >= 0.4


def test_pq_encode_invariants(spark, sf_smoke):
    """sim9: every vector encodes to M in-range codes; reconstruction
    SSE is non-negative and shrinks (weakly) as the codebook grows —
    a larger K' can only move each subspace argmin closer."""
    from file_indexer_spark.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    n = emb.count()
    out = sim.pq_encode(emb).collect()
    assert len(out) == n
    for r in out[:20]:
        codes = [int(c) for c in r["pq_code"].split("-")]
        assert len(codes) == sim.PQ_SUBSPACES
        assert all(0 <= c < sim.PQ_CODEWORDS for c in codes)
        assert r["recon_sse"] >= 0
    sse16 = {r["vec_id"]: r["recon_sse"] for r in out}
    sse4 = {
        r["vec_id"]: r["recon_sse"]
        for r in sim.pq_encode(emb, n_codewords=4).collect()
    }
    # the K'=4 codebook is a PREFIX of the K'=16 one (same md5 order),
    # so per-vector SSE at 16 codewords is <= SSE at 4 — exactly, not
    # statistically
    assert all(sse16[v] <= sse4[v] + 1e-9 for v in sse4)
    assert sum(sse16.values()) < sum(sse4.values())


def test_incremental_lsh_equals_full_restricted(docs, tmp_path):
    """dd12's exactness contract: probing the materialized corpus index
    with the new batch yields EXACTLY dd3's full-corpus pairs
    restricted to >= 1 new side, with pair_class tagging which leg
    produced each pair — through a real parquet round-trip of the
    index, as the registry gate runs it."""
    from pyspark.sql import functions as F

    new = docs.filter(F.col("doc_id") % 10 == 7)
    base = docs.filter(F.col("doc_id") % 10 != 7)
    mats = {}
    for name, df in dd.lsh_index_tables(base).items():
        path = str(tmp_path / name)
        df.write.mode("overwrite").parquet(path)
        mats[name] = df.sparkSession.read.parquet(path)
    got = dd.incremental_lsh_pairs(mats, new).collect()

    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    expected = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.minhash_lsh_pairs(docs).collect()
        if r["doc_a"] in new_ids or r["doc_b"] in new_ids
    }
    assert {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in got} == expected
    assert len(expected) > 0  # the fixture must actually exercise both legs
    for r in got:
        both_new = r["doc_a"] in new_ids and r["doc_b"] in new_ids
        assert r["pair_class"] == ("new_new" if both_new else "new_base")


def test_ivfpq_serving_from_materialized_index(embeddings, tmp_path):
    """sim11's contract: the serving phase answers the query batch from
    the parquet-materialized index tables alone — identical ranking to
    sim10's inline build, and no Python eval anywhere in the serving
    plan (the scan reads 4-byte codes, never the float corpus)."""
    from pyspark.sql import functions as F

    from tests import plan_inspect as pi

    mats = {}
    for name, df in sim.ivfpq_index_tables(embeddings).items():
        path = str(tmp_path / name)
        df.write.mode("overwrite").parquet(path)
        mats[name] = df.sparkSession.read.parquet(path)
    queries = embeddings.filter(F.col("vec_id") < sim.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    served = sim.ivfpq_topk_from_index(mats, queries)
    assert "EvalPython" not in pi.simple_plan(served)
    assert [tuple(r) for r in served.collect()] == [
        tuple(r) for r in sim.ivfpq_topk(embeddings).collect()
    ]


def test_incremental_cluster_refresh_merges_old_clusters(spark):
    """dd13's hard case: one new doc bridges TWO existing clusters —
    the refresh must merge them under the global min-id label, leave
    untouched clusters alone, and keep pair-free new docs singletons."""
    old = spark.createDataFrame(
        [(1, 1, True), (2, 1, False), (3, 3, True), (4, 3, False), (5, 5, True)],
        "doc_id long, cluster_id long, is_canonical boolean",
    )
    new_docs = spark.createDataFrame([(10,), (11,)], "doc_id long")
    new_pairs = spark.createDataFrame(
        [(2, 10), (3, 10)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in dd.incremental_cluster_refresh(old, new_pairs, new_docs).collect()
    }
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False), 4: (1, False),
        5: (5, True), 10: (1, False), 11: (11, True),
    }


def test_ivfpq_append_frozen_quantizer(embeddings, tmp_path):
    """sim12's contract: appending a batch never re-encodes or
    re-assigns what is already indexed (byte-identical stored rows),
    and the new rows use the STORED codebook/centroids — verified by
    encoding the batch directly against the base index's tables."""
    from pyspark.sql import functions as F

    base = embeddings.filter(F.col("vec_id") % 10 != 7)
    new = embeddings.filter(F.col("vec_id") % 10 == 7)
    mats = {}
    for name, df in sim.ivfpq_index_tables(base).items():
        path = str(tmp_path / name)
        df.write.mode("overwrite").parquet(path)
        mats[name] = df.sparkSession.read.parquet(path)
    merged = sim.ivfpq_append(mats, new)

    stored = {
        r["vec_id"]: (tuple(r["codes"]), r["centroid_id"])
        for r in mats["codes"].collect()
    }
    after = {
        r["vec_id"]: (tuple(r["codes"]), r["centroid_id"])
        for r in merged["codes"].collect()
    }
    assert {k: v for k, v in after.items() if k in stored} == stored
    new_ids = {r["vec_id"] for r in new.select("vec_id").collect()}
    assert set(after) - set(stored) == new_ids
    # new rows must match a direct encode against the frozen tables
    direct = {
        r["vec_id"]: tuple(r["codes"])
        for r in sim._pq_codes(
            new, sim.PQ_SUBSPACES, sim.PQ_CODEWORDS, codebook=mats["codebook"]
        ).collect()
    }
    assert {k: v[0] for k, v in after.items() if k in new_ids} == direct


def _sim17_edits(embeddings):
    """The sim17 gate's edit script in miniature: adds %10==7, updates
    %10==3 (element-wise float32(1.0 - x)), deletes %10==5."""
    from pyspark.sql import functions as F

    batch = embeddings.filter(F.col("vec_id") % 10 == 7).select(
        "vec_id", "embedding"
    ).unionByName(
        embeddings.filter(F.col("vec_id") % 10 == 3).select(
            "vec_id",
            F.expr(
                "transform(embedding, x -> CAST(1.0D - CAST(x AS DOUBLE) AS FLOAT))"
            ).alias("embedding"),
        )
    )
    dels = embeddings.filter(F.col("vec_id") % 10 == 5).select("vec_id")
    return batch, dels


def test_ivfpq_upsert_matches_frozen_scratch_and_is_idempotent(
    embeddings, tmp_path
):
    """sim17's contract: after one upsert call (adds + re-embeds +
    deletes) the served ranking equals encoding the TRUE post-edit
    corpus against the same frozen quantizer from scratch; stored code
    rows are never rewritten (the mask+delta supersede them); and
    re-applying the same upsert is a no-op."""
    from pyspark.sql import functions as F

    base = embeddings.filter(F.col("vec_id") % 10 != 7)
    mats = sim.write_ivfpq_index(
        base.sparkSession, sim.ivfpq_index_tables(base), str(tmp_path / "idx")
    )
    batch, dels = _sim17_edits(embeddings)
    edited = sim.ivfpq_upsert(mats, batch, dels)
    # stored codes untouched on disk — the upsert is read-free
    assert [tuple(r) for r in edited["codes"].collect()] == [
        tuple(r) for r in mats["codes"].collect()
    ]
    queries = embeddings.filter(F.col("vec_id") < sim.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    served = [tuple(r) for r in sim.ivfpq_topk_from_index(edited, queries).collect()]
    # frozen-quantizer scratch over the true post-edit corpus
    corpus = embeddings.filter(F.col("vec_id") % 10 != 5).select(
        "vec_id",
        F.when(
            F.col("vec_id") % 10 == 3,
            F.expr(
                "transform(embedding, x -> CAST(1.0D - CAST(x AS DOUBLE) AS FLOAT))"
            ),
        ).otherwise(F.col("embedding")).alias("embedding"),
    )
    scratch = dict(mats)
    scratch["codes"] = sim.ivfpq_encode_batch(mats, corpus)
    assert served == [
        tuple(r) for r in sim.ivfpq_topk_from_index(scratch, queries).collect()
    ]
    again = sim.ivfpq_upsert(edited, batch, dels)
    assert served == [
        tuple(r) for r in sim.ivfpq_topk_from_index(again, queries).collect()
    ]


def test_ivfpq_compact_folds_mask_and_preserves_ranking(embeddings, tmp_path):
    """sim18's contract: compaction physically drops masked stored
    rows and absorbs the delta (no tombstones/delta keys survive, no
    deleted id survives, every upserted id serves its NEW code), and
    the served ranking is bit-identical to the fragmented index's."""
    from pyspark.sql import functions as F

    base = embeddings.filter(F.col("vec_id") % 10 != 7)
    mats = sim.write_ivfpq_index(
        base.sparkSession, sim.ivfpq_index_tables(base), str(tmp_path / "idx")
    )
    batch, dels = _sim17_edits(embeddings)
    edited = sim.ivfpq_upsert(mats, batch, dels)
    queries = embeddings.filter(F.col("vec_id") < sim.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    before = [tuple(r) for r in sim.ivfpq_topk_from_index(edited, queries).collect()]
    compacted = sim.ivfpq_compact(
        base.sparkSession, edited, str(tmp_path / "compact")
    )
    assert "tombstones" not in compacted and "delta" not in compacted
    ids = {r["vec_id"] for r in compacted["codes"].select("vec_id").collect()}
    deleted = {r["vec_id"] for r in dels.collect()}
    assert not ids & deleted
    delta_codes = {
        r["vec_id"]: tuple(r["codes"]) for r in edited["delta"].collect()
    }
    kept = {
        r["vec_id"]: tuple(r["codes"])
        for r in compacted["codes"].collect()
        if r["vec_id"] in delta_codes
    }
    assert kept == delta_codes
    after_df = sim.ivfpq_topk_from_index(compacted, queries)
    # compaction restores the bare sim11 serve shape: no Python eval,
    # no anti-join left in the plan
    from tests import plan_inspect as pi

    plan = pi.simple_plan(after_df)
    assert "EvalPython" not in plan
    assert "LeftAnti" not in plan
    assert [tuple(r) for r in after_df.collect()] == before


def test_range_search_exact_on_probed_lists(embeddings):
    """sim14's contract: within the probed lists the cut is EXACT —
    the result is precisely the thresholded candidate stream (every
    returned pair clears the floor; every probed candidate clearing
    the floor is returned), and it is a superset-consistent subset of
    what brute force finds at the same radius."""
    from pyspark.sql import functions as F

    got = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in sim.ivf_range_search(embeddings).collect()
    }
    assert got, "radius fixture must return something"
    assert all(c >= sim.RANGE_COSINE for c in got.values())
    # candidates = probe stage output; thresholding it must reproduce
    # the operator's rows exactly (no per-query truncation)
    cand = sim._ivf_scored_candidates(embeddings, sim.NPROBE, None, None)
    expect = {
        (r["query_id"], r["neighbor_id"]): round(r["cosine"], 6)
        for r in cand.filter(F.col("cosine") >= sim.RANGE_COSINE).collect()
    }
    assert got == expect
    # brute-force radius result at the same floor is a superset (IVF
    # misses only unprobed lists, never invents pairs)
    brute = sim._with_norm(sim._spread(embeddings)).select(
        "vec_id", F.col("embedding").alias("emb"), F.col("norm").alias("nrm")
    )
    q = brute.filter(F.col("vec_id") < sim.N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_norm"),
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in q.join(brute, q.query_id != brute.vec_id)
        .withColumn("cosine", sim._cosine("q_emb", "q_norm", "emb", "nrm"))
        .filter(F.col("cosine") >= sim.RANGE_COSINE)
        .collect()
    }
    assert set(got) <= exact


def test_weighted_repeat_multiplicity_invariants(docs):
    """sp8: every doc emits floor(w) or floor(w)+1 copies, copy indexes
    are dense 1..n, a w<1 source drops part of its docs entirely, and a
    w>1 source upsamples — with the realized mean tracking w."""
    import math

    from pyspark.sql import functions as F
    from file_indexer_spark.operators import sampling as sp

    out = sp.weighted_repeat(docs).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r)
    weights = {r["doc_id"]: r["weight"] for r in out}
    for did, rows in per_doc.items():
        w = weights[did]
        n = rows[0]["n_copies"]
        assert n in (math.floor(w), math.floor(w) + 1)
        assert sorted(r["copy"] for r in rows) == list(range(1, n + 1))
    # src0 has w=0.25: some docs must vanish, none emit >1 copy
    src0_docs = {r["doc_id"] for r in docs.filter(F.col("source") == "src0").collect()}
    src0_emitted = {d for d in per_doc if d in src0_docs}
    assert src0_emitted < src0_docs
    assert all(len(per_doc[d]) == 1 for d in src0_emitted)
    # realized copies per source ~ w * n_docs (md5 threshold is unbiased;
    # allow generous slack at fixture scale)
    n_src0 = len(src0_docs)
    assert 0 < len(src0_emitted) <= n_src0
    # a w=3.4 source (suffix % 8 == 7) must emit 3 or 4 copies per doc
    heavy = {
        r["doc_id"] for r in docs.filter(F.col("source") == "src7").collect()
    }
    assert heavy and all(len(per_doc[d]) in (3, 4) for d in heavy)


def test_vocab_coverage_head_and_rates(docs):
    """t13: the head list is the true top-k by (tf desc, word asc);
    per-doc accounting sums to n_tokens and oov_rate is the exact
    integer ratio."""
    from collections import Counter

    rows = docs.select("doc_id", "text").collect()
    counts = Counter(w for r in rows for w in r["text"].split(" "))
    head = sorted(counts, key=lambda w: (-counts[w], w))[: tx.VOCAB_TOP_K]
    head_set = set(head)
    got = {r["doc_id"]: r for r in tx.vocab_coverage(docs).collect()}
    assert len(got) == len(rows)
    for r in rows:
        toks = r["text"].split(" ")
        inv = sum(1 for t in toks if t in head_set)
        g = got[r["doc_id"]]
        assert g["n_tokens"] == len(toks)
        assert g["in_vocab_tokens"] == inv
        assert abs(g["oov_rate"] - round(1 - inv / len(toks), 6)) < 1e-9


def test_containment_directionality_on_crafted_fixture(spark):
    """dd14 semantics: a short doc whose shingles all appear in a long
    doc is contained (one direction only); a near-identical pair
    qualifies in both directions; an unrelated doc in neither."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    long_doc = base + " lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " \
        "one two three four five six seven eight nine ten eleven twelve"
    twin = base + " lambda"
    docs = spark.createDataFrame(
        [
            (1, base),        # contained in 2 (its shingles are a prefix slice)
            (2, long_doc),    # container
            (3, twin),        # near-identical to 1 -> both directions with 1
            (4, "unrelated words only here nothing shared at all whatsoever indeed truly"),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["contained"], r["container"]): r["containment"]
        for r in dd.containment_pairs(docs, threshold=0.8).collect()
    }
    assert (1, 2) in rows and rows[(1, 2)] >= 0.99
    assert (2, 1) not in rows  # the long doc is NOT contained in the short one
    assert (1, 3) in rows and (3, 1) in rows  # near-identical: both ways
    assert not any(4 in k for k in rows)


def test_debounce_transitive_chain_and_split(spark):
    """e17 semantics: a chain of sub-gap steps collapses into ONE burst
    however long it runs (total span >> gap); a super-gap step starts a
    new burst; distinct keys never interact."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    # user 1, click: 5 events 30 min apart (chain spans 2h > 1h gap)
    rows += [(i, t0 + timedelta(minutes=30 * i), 1, "click") for i in range(5)]
    # then a 2h silence -> new burst of 2
    rows += [(10, t0 + timedelta(hours=4), 1, "click"),
             (11, t0 + timedelta(hours=4, minutes=10), 1, "click")]
    # same user, different type: independent
    rows += [(20, t0, 1, "view")]
    # different user entirely
    rows += [(30, t0, 2, "click")]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string"
    )
    out = {(r["user_id"], r["event_type"], r["burst_seq"]): r
           for r in ev.debounce_events(events).collect()}
    assert len(out) == 4
    chain = out[(1, "click", 1)]
    assert chain["kept_event_id"] == 0
    assert chain["n_suppressed"] == 4
    assert chain["span_us"] == 120 * 60 * 1_000_000  # 2h total span
    second = out[(1, "click", 2)]
    assert second["kept_event_id"] == 10 and second["n_suppressed"] == 1
    assert out[(1, "view", 1)]["n_suppressed"] == 0
    assert out[(2, "click", 1)]["n_suppressed"] == 0


def test_budget_select_is_exact_takewhile(docs):
    """sp9: kept tokens fit the budget; the FIRST doc beyond the kept
    prefix (in quality-desc, doc_id order) would overflow it; and the
    kept set is exactly the naive take-while prefix."""
    from file_indexer_spark.operators import sampling as sp
    from file_indexer_spark.operators.text import (
        quality_composite,
        quality_signal_columns,
    )
    from pyspark.sql import functions as F
    import math

    kept = sp.budget_select(docs).collect()
    kept_tokens = sum(r["n_tokens"] for r in kept)
    assert kept_tokens <= sp.BUDGET_TOKENS
    sig = quality_signal_columns()
    all_docs = (
        docs.select(
            "doc_id",
            sig["n_tokens"].alias("n_tokens"),
            sig["n_distinct_tokens"].alias("n_distinct_tokens"),
            sig["n_stopwords"].alias("n_stopwords"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.floor(F.round(quality_composite(), 6) * 1000)
            .cast("long")
            .alias("q_milli"),
        )
        .collect()
    )
    order = sorted(all_docs, key=lambda r: (-r["q_milli"], r["doc_id"]))
    cum, expect = 0, []
    for r in order:
        if cum + r["n_tokens"] > sp.BUDGET_TOKENS:
            break  # take-while, not skip-and-continue
        cum += r["n_tokens"]
        expect.append(r["doc_id"])
    assert [r["doc_id"] for r in kept] == expect
    nxt = order[len(expect)]
    assert kept_tokens + nxt["n_tokens"] > sp.BUDGET_TOKENS


def test_bigram_surprisal_semantics(spark, sf_smoke):
    """t14: a doc made of one repeated bigram scores near-minimal mean
    bits; a doc of corpus-unseen continuations scores near the 20-bit
    clamp. Planted fixture, exact integer contract."""
    from file_indexer_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            # 50x "a b": C12 huge relative to context count
            (1, " ".join(["a b"] * 50)),
            # unique continuations: every bigram unseen elsewhere
            (2, "a " + " ".join(f"z{i}" for i in range(20))),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.bigram_surprisal(docs).collect()}
    assert out[1]["mean_bits"] < out[2]["mean_bits"]
    assert 0 <= out[1]["mean_bits"] <= 20 and out[2]["mean_bits"] <= 20
    # n_bigrams: doc1 has 99 tokens -> 98 bigrams; doc2 21 -> 20
    assert out[1]["n_bigrams"] == 99 and out[2]["n_bigrams"] == 20
    # single-token docs drop out entirely
    single = spark.createDataFrame([(3, "only")], "doc_id long, text string")
    assert tx.bigram_surprisal(single).count() == 0


def test_quality_keeper_prefers_high_quality_member(spark):
    """dd15: in a planted 2-doc cluster the low-diversity boilerplate
    member loses to the clean one even when it has the smaller doc_id
    (the case min-id canonical gets wrong)."""
    from file_indexer_spark.operators import dedup as dd

    base = "alpha beta gamma delta epsilon zeta eta theta " * 6
    docs = spark.createDataFrame(
        [
            # doc 1: the boilerplate twin — same shingles + heavy repetition
            (1, base + ("spam spam spam spam " * 10)),
            (2, base + "iota kappa lambda mu nu xi omicron pi rho sigma"),
            (7, "unrelated totally different words entirely here"),
        ],
        "doc_id long, text string",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (7, 7)], "doc_id long, cluster_id long"
    )
    rows = dd.quality_keeper(docs, clusters).collect()
    assert len(rows) == 1  # singleton cluster excluded
    keeper = rows[0]
    assert keeper["cluster_id"] == 1
    assert keeper["keeper_doc_id"] == 2
    assert keeper["n_docs"] == 2
    assert bool(keeper["upgraded"]) is True


def test_recall_eval_matches_pinned_floor(spark, sf_smoke):
    """sim15: per-query recall distribution is consistent with the
    scalar floor sim2's pytest pins (macro mean >= 0.5 at smoke SF) and
    every row is a valid fraction of k."""
    from file_indexer_spark.operators import similarity as sim
    from file_indexer_spark.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    rows = sim.recall_eval(emb).collect()
    assert len(rows) == sim.N_QUERIES
    assert all(r["n_exact"] == sim.TOP_K for r in rows)
    assert all(0 <= r["n_matched"] <= sim.TOP_K for r in rows)
    macro = sum(r["recall_at_k"] for r in rows) / len(rows)
    assert macro >= 0.5, macro


def test_cluster_split_is_leak_free(spark, sf_smoke):
    """sp10/dd16: the per-doc hash split leaks near-dup pairs across
    train/test (the audit is non-empty on the synthetic corpus); the
    cluster-keyed split provably cannot — every dd3 pair shares a
    cluster, hence a split."""
    from pyspark.sql import functions as F

    from file_indexer_spark.operators import dedup as dd
    from file_indexer_spark.operators.sampling import split_expr
    from file_indexer_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    pairs = dd.minhash_lsh_pairs(docs)

    naive = dd.split_contamination(docs, pairs)
    n_leaked = naive.agg(F.sum("n_leaked_pairs")).collect()[0][0] or 0
    assert n_leaked > 0, "fixture no longer exercises the audit"

    clusters = dd.dedup_clusters(docs, pairs)
    tags = clusters.select(
        "doc_id", split_expr(F.col("cluster_id")).alias("split")
    )
    straddling = (
        pairs.join(
            tags.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")),
            "doc_a",
        )
        .join(
            tags.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")),
            "doc_b",
        )
        .filter(F.col("sa") != F.col("sb"))
        .count()
    )
    assert straddling == 0

    # sp10 keeps sp1's accounting schema (drop-in replacement) and
    # covers the whole corpus
    from file_indexer_spark.operators import sampling as sp

    out = sp.leakage_safe_split(docs, clusters)
    assert out.columns == ["split", "n_docs", "total_tokens", "n_sources"]
    assert out.agg(F.sum("n_docs")).collect()[0][0] == docs.count()


def test_prototype_sample_covers_every_cluster(spark, sf_smoke):
    """sp11: every populated IVF cluster keeps members (coverage), at
    most quota each; ranks are contiguous from 1 with non-increasing
    prototypicality; the centroid's own vector ranks first (self-cosine
    is exactly 1)."""
    from pyspark.sql import functions as F

    from file_indexer_spark.operators import similarity as sim
    from file_indexer_spark.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    out = sim.prototype_sample(emb)
    per_cluster = (
        out.groupBy("centroid_id")
        .agg(
            F.count("*").alias("n"),
            F.min("proto_rank").alias("lo"),
            F.max("proto_rank").alias("hi"),
            F.max(F.when(F.col("proto_rank") == 1, F.col("cosine"))).alias("top_cos"),
        )
        .collect()
    )
    n_clusters = emb.select("label").distinct().count()
    assert len(per_cluster) == n_clusters  # coverage: no cluster dropped
    for r in per_cluster:
        assert 1 <= r["n"] <= sim.PROTO_QUOTA
        assert r["lo"] == 1 and r["hi"] == r["n"]  # contiguous ranks
        assert r["top_cos"] == 1.0  # the centroid member leads its list
    # monotone prototypicality within a cluster
    from pyspark.sql import Window

    w = Window.partitionBy("centroid_id").orderBy("proto_rank")
    bad = out.withColumn("prev", F.lag("cosine").over(w)).filter(
        F.col("prev").isNotNull() & (F.col("cosine") > F.col("prev"))
    )
    assert bad.count() == 0


def test_minhash_calibration_exact_on_identical_docs(spark):
    """dd17: byte-identical docs calibrate perfectly (est = exact =
    1e6, error 0); near-identical docs keep bounded error."""
    from file_indexer_spark.operators import dedup as dd

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, base + "extra tail words here now")],
        "doc_id long, text string",
    )
    rows = {(r["doc_a"], r["doc_b"]): r for r in dd.minhash_calibration(docs).collect()}
    assert (1, 2) in rows
    perfect = rows[(1, 2)]
    assert perfect["sig_matches"] == 32
    assert perfect["est_e6"] == 1_000_000
    assert perfect["exact_e6"] == 1_000_000
    assert perfect["abs_err_e6"] == 0
    # every pair's error is a valid e6 fraction difference
    for r in rows.values():
        assert 0 <= r["abs_err_e6"] <= 1_000_000
        assert r["est_e6"] == r["sig_matches"] * 31250


def test_deadline_funnel_enforces_windows(spark):
    """e18: a click inside the 48 h window converts; one outside does
    not — and the purchase window anchors on the MATCHED click, not
    the view."""
    from file_indexer_spark.operators import events as evo

    rows = [
        # user 1: view -> click +1h -> purchase +1h after click = converts
        (1, "2024-01-01 10:00:00", 1, "view"),
        (2, "2024-01-01 11:00:00", 1, "click"),
        (3, "2024-01-01 12:00:00", 1, "purchase"),
        # user 2: click 49h after view = misses the click window
        (4, "2024-01-01 10:00:00", 2, "view"),
        (5, "2024-01-03 11:00:01", 2, "click"),
        # user 3: click converts; purchase 8 days after click = misses
        (6, "2024-01-01 10:00:00", 3, "view"),
        (7, "2024-01-01 12:00:00", 3, "click"),
        (8, "2024-01-09 13:00:00", 3, "purchase"),
    ]
    ev = spark.createDataFrame(
        [(i, ts, u, t) for i, ts, u, t in rows],
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", __import__("pyspark.sql.functions", fromlist=["F"]).col("ts").cast("timestamp"))
    out = evo.deadline_funnel(ev).collect()[0]
    assert out["n_users"] == 3
    assert out["n_viewed"] == 3
    assert out["n_clicked_within"] == 2  # users 1 and 3
    assert out["n_purchased_within"] == 1  # user 1 only


def test_bin_packing_no_straddle_invariants(spark, sf_smoke):
    """sp12: every bin respects the budget unless it holds a single
    oversized doc; bin ids are contiguous from 0 per packer; every doc
    is assigned exactly once."""
    from pyspark.sql import functions as F

    from file_indexer_spark.operators import sampling as sp
    from file_indexer_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    out = sp.bin_packing(docs)
    assert out.count() == docs.count()
    assert out.select("doc_id").distinct().count() == docs.count()
    per_bin = out.groupBy("packer", "bin_id").agg(
        F.sum("n_tokens").alias("fill"), F.count("*").alias("n")
    )
    overfull = per_bin.filter(
        (F.col("fill") > sp.PACK_BUDGET) & (F.col("n") > 1)
    ).count()
    assert overfull == 0
    ranges = per_bin.groupBy("packer").agg(
        F.min("bin_id").alias("lo"),
        F.max("bin_id").alias("hi"),
        F.count("*").alias("n_bins"),
    )
    bad = ranges.filter(
        (F.col("lo") != 0) | (F.col("hi") != F.col("n_bins") - 1)
    ).count()
    assert bad == 0


def test_pagerank_star_center_outranks_leaves(spark):
    """dd18: on a star graph the hub accumulates rank from every leaf;
    isolated docs hold exactly the teleport base."""
    from pyspark.sql import functions as F

    from file_indexer_spark.operators import graph as gr

    docs = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    # star: 0-1, 0-2, 0-3, 0-4; isolated: 5, 6
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4)], "doc_a long, doc_b long"
    ).withColumn("jaccard", F.lit(1.0))
    out = {r["doc_id"]: r for r in gr.pagerank(docs, pairs).collect()}
    assert out[0]["deg"] == 4
    hub, leaf = out[0]["rank_e6"], out[1]["rank_e6"]
    assert hub > leaf > 0
    # leaves are symmetric — identical ranks
    assert len({out[i]["rank_e6"] for i in (1, 2, 3, 4)}) == 1
    for i in (5, 6):
        assert out[i]["deg"] == 0 and out[i]["rank_e6"] == gr.BASE_E6


def test_linear_attribution_splits_value_equally(spark):
    """e19: a purchase's value splits across in-window views via
    integer DIV; out-of-window views get nothing."""
    from pyspark.sql import functions as F

    from file_indexer_spark.operators import events as evo

    rows = [
        (1, "2024-01-01 10:00:00", 1, "view", 0.0),
        (2, "2024-01-01 10:30:00", 1, "view", 0.0),
        (3, "2024-01-01 08:00:00", 1, "view", 0.0),  # outside 60 min
        (4, "2024-01-01 11:00:00", 1, "purchase", 10.01),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["view_id"]: r for r in evo.linear_attribution(ev).collect()}
    assert set(out) == {1, 2}
    # 10.01e6 DIV 2 = 5_005_000 each, remainder dropped deterministically
    assert out[1]["attributed_e6"] == out[2]["attributed_e6"] == 5_005_000
    assert out[1]["n_conversions"] == 1


def test_bm25_ranks_term_rich_docs_first(spark):
    """t15: a document dense in the query terms outranks a long
    digression containing them once; a doc without them never scores."""
    from file_indexer_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, "spark join window spark join window"),
            (2, "spark " + "filler " * 50),
            (3, "nothing relevant here at all"),
        ],
        "doc_id long, text string",
    )
    rows = tx.bm25_topk(docs, k=3).collect()
    assert [r["doc_id"] for r in rows][0] == 1
    assert all(r["doc_id"] != 3 for r in rows)
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))


def test_bm25_index_serve_equals_scratch(spark, tmp_path):
    """t16: serving from the materialized inverted index produces the
    identical ranking to the from-scratch pass (the build/serve split
    is lossless through a parquet round-trip)."""
    from file_indexer_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, "spark join window spark join window"),
            (2, "spark " + "filler " * 50),
            (3, "nothing relevant here at all"),
            (4, "window join window spark extra words padding"),
        ],
        "doc_id long, text string",
    )
    mats = {}
    for name, df in tx.bm25_index_tables(docs).items():
        p = str(tmp_path / name)
        df.write.parquet(p)
        mats[name] = spark.read.parquet(p)
    scratch = [tuple(r) for r in tx.bm25_topk(docs, k=4).collect()]
    served = [tuple(r) for r in tx.bm25_topk_from_index(mats, k=4).collect()]
    assert served == scratch


def test_bm25_append_equals_full_rebuild(spark, tmp_path):
    """t17: appending a disjoint doc batch to the stored index yields
    EXACTLY the full-corpus index (BM25 stats are pure counts), so the
    served ranking equals a from-scratch pass over the union."""
    from file_indexer_spark.operators import text as tx

    base = spark.createDataFrame(
        [
            (1, "spark join window spark join window"),
            (2, "spark " + "filler " * 50),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (3, "nothing relevant here at all"),
            (4, "window join window spark extra words padding"),
        ],
        "doc_id long, text string",
    )
    mats = {}
    for name, df in tx.bm25_index_tables(base).items():
        p = str(tmp_path / name)
        df.write.parquet(p)
        mats[name] = spark.read.parquet(p)
    merged = tx.bm25_append(mats, batch)
    scratch = [
        tuple(r) for r in tx.bm25_topk(base.unionByName(batch), k=4).collect()
    ]
    served = [tuple(r) for r in tx.bm25_topk_from_index(merged, k=4).collect()]
    assert served == scratch
    # the incrementally-merged scalars equal the union corpus's
    srow = merged["scalars"].collect()[0]
    assert srow["n_docs"] == 4
    assert srow["tot_tokens"] == sum(
        len(r["text"].split(" ")) for r in base.union(batch).collect()
    )


def test_bm25_upsert_updates_and_is_idempotent(spark, tmp_path):
    """t17b: a batch that UPDATES an indexed doc displaces its stale
    postings, doc length, and scalar counts completely (the merged
    index equals a from-scratch build over the true corpus), and
    re-ingesting the same batch is a no-op."""
    from file_indexer_spark.operators import text as tx

    truth = spark.createDataFrame(
        [
            (1, "spark join window spark"),
            (2, "spark filler filler filler"),
            (3, "window join fresh words"),
        ],
        "doc_id long, text string",
    )
    # the stored index has doc 3 STALE (longer, different tf) and no doc 2
    stale = spark.createDataFrame(
        [
            (1, "spark join window spark"),
            (3, "window join fresh words stale stale stale"),
        ],
        "doc_id long, text string",
    )
    batch = truth.filter("doc_id IN (2, 3)")
    mats = tx.write_bm25_index(
        spark, tx.bm25_index_tables(stale), str(tmp_path / "idx")
    )
    merged = tx.bm25_upsert(mats, batch)
    scratch = [tuple(r) for r in tx.bm25_topk(truth, k=3).collect()]
    assert [tuple(r) for r in tx.bm25_topk_from_index(merged, k=3).collect()] == scratch
    srow = merged["scalars"].collect()[0]
    assert (srow["n_docs"], srow["tot_tokens"]) == (3, 12)
    # idempotent re-ingest: same batch again, same index
    again = tx.bm25_upsert(merged, batch)
    assert [tuple(r) for r in tx.bm25_topk_from_index(again, k=3).collect()] == scratch
    srow2 = again["scalars"].collect()[0]
    assert (srow2["n_docs"], srow2["tot_tokens"]) == (3, 12)


def test_bm25_compaction_preserves_ranking(spark, tmp_path):
    """t18: compaction is a pure layout rewrite — the served ranking
    over the compacted index is identical to the fragmented one."""
    from file_indexer_spark.operators import text as tx

    docs = spark.createDataFrame(
        [(i, f"spark join window filler{i % 3} spark") for i in range(8)],
        "doc_id long, text string",
    )
    mats = tx.write_bm25_index(
        spark, tx.bm25_index_tables(docs.filter("doc_id < 5")), str(tmp_path / "b")
    )
    for lo, hi in ((5, 7), (7, 8)):
        mats = tx.bm25_append(
            mats, docs.filter(f"doc_id >= {lo} AND doc_id < {hi}")
        )
    before = [tuple(r) for r in tx.bm25_topk_from_index(mats, k=5).collect()]
    compacted = tx.bm25_compact(spark, mats, str(tmp_path / "c"))
    after = [tuple(r) for r in tx.bm25_topk_from_index(compacted, k=5).collect()]
    assert after == before == [tuple(r) for r in tx.bm25_topk(docs, k=5).collect()]


def test_rrf_fuse_semantics(spark):
    """sim19's contract: a doc ranked by BOTH legs sums both
    reciprocal terms; a doc ranked by one leg scores that term alone
    (missing leg contributes exactly 0, not NULL); lexical-only docs
    appear for EVERY query; ties order by doc_id."""
    dense = spark.createDataFrame(
        [(0, 100, 1), (0, 101, 2), (1, 102, 1)],
        "query_id long, neighbor_id long, rank int",
    )
    lexical = spark.createDataFrame(
        [(101, 1), (103, 2)], "doc_id long, rank int"
    )
    got = {
        (r["query_id"], r["doc_id"]): (r["rank"], r["rrf_score"])
        for r in sim.rrf_fuse(dense, lexical, k=60, topk=10).collect()
    }
    both = round(1 / 62 + 1 / 61, 6)       # q0/doc101: dense rank 2 + lex rank 1
    d1 = round(1 / 61, 6)                   # dense rank 1 alone
    l1, l2 = round(1 / 61, 6), round(1 / 62, 6)
    assert got[(0, 101)][1] == both and got[(0, 101)][0] == 1
    assert got[(0, 100)] == (2, d1)
    assert got[(0, 103)] == (3, l2)
    # query 1 sees the full lexical list too
    assert got[(1, 102)] == (1, d1) or got[(1, 101)][0] == 1
    assert (1, 101) in got and got[(1, 101)][1] == l1
    assert (1, 103) in got and got[(1, 103)][1] == l2
    # ties (102 dense-rank-1 vs 101 lex-rank-1 both 1/61) order by doc_id
    q1 = sorted(
        ((r, d) for (q, d), (r, _) in got.items() if q == 1)
    )
    assert [d for _, d in q1][:2] == [101, 102]


def test_phrase_search_positions_overlaps_and_misses(spark):
    """t20's contract: occurrences are counted at every start position
    (overlapping matches of a self-repeating phrase each count), both
    terms present but never adjacent is NOT a match, and first_pos is
    the 0-based token index of the earliest occurrence."""
    from file_indexer_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, "x table part y table part"),     # two occurrences, first at 1
            (2, "part table x"),                   # reversed: no match
            (3, "table x part"),                   # gap: no match
            (4, "table part"),                     # one at 0
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_occurrences"], r["first_pos"])
        for r in tx.phrase_search(docs).collect()
    }
    assert got == {1: (2, 1), 4: (1, 0)}
    # overlapping self-repeating phrase: "a a a" matches ("a","a") at
    # starts 0 and 1
    rep = spark.createDataFrame([(9, "a a a")], "doc_id long, text string")
    out = tx.phrase_search(rep, phrase=("a", "a")).collect()
    assert [(r["doc_id"], r["n_occurrences"], r["first_pos"]) for r in out] == [
        (9, 2, 0)
    ]


def test_bm25_append_empty_batch_is_noop(spark, tmp_path):
    """t17 edge (ADVICE r11): an EMPTY append batch must leave the
    index bit-identical — sum(dl) over zero rows aggregates to NULL
    and uncoalesced would NULL the merged scalars (and every score)."""
    from file_indexer_spark.operators import text as tx

    base = spark.createDataFrame(
        [(1, "spark join window"), (2, "spark filler words")],
        "doc_id long, text string",
    )
    empty = spark.createDataFrame([], "doc_id long, text string")
    mats = {}
    for name, df in tx.bm25_index_tables(base).items():
        p = str(tmp_path / name)
        df.write.parquet(p)
        mats[name] = spark.read.parquet(p)
    merged = tx.bm25_append(mats, empty)
    srow = merged["scalars"].collect()[0]
    assert (srow["n_docs"], srow["tot_tokens"]) == (2, 6)
    before = [tuple(r) for r in tx.bm25_topk_from_index(mats, k=2).collect()]
    after = [tuple(r) for r in tx.bm25_topk_from_index(merged, k=2).collect()]
    assert after == before


def test_distribution_drift_zero_when_identical(spark):
    """ct6: a batch slice with the same length profile as the base
    yields zero exact-L1 distance (PSI stays at its smoothing floor)."""
    from file_indexer_spark.operators import curation as cu

    # ids 0..39 give each length decade exactly one batch doc
    # ({7,17,27,37}) and nine base docs, so per-bin proportions are
    # identical (1/4 of each side per bin)
    docs = [(i, (60, 110, 160, 210)[i // 10]) for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, n_chars long")
    out = cu.distribution_drift(df).collect()
    assert all(r["l1_num"] == 0 for r in out)
    assert out[0]["l1_num_total"] == 0


def test_mmr_diversifies_against_redundant_top(spark):
    """sim16: two near-identical top candidates can't both make the
    MMR list ahead of a distinct third; ranks are 1..n_select."""
    import math

    from file_indexer_spark.operators import similarity as sim

    # query 0 at e0; candidates: 100/101 identical (dup pair), 102
    # orthogonal-ish but relevant, 103.. filler
    def vec(theta):
        return [math.cos(theta), math.sin(theta)] + [0.0] * 62

    rows = [
        (0, vec(0.0), 0),
        (100, vec(0.12), 1),
        (101, vec(0.12), 1),   # exact duplicate of 100
        (102, vec(1.5), 1),    # near-orthogonal, weakly relevant
        (103, vec(1.1), 1),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    # diversity-heavy lambda: the exact duplicate's sim=1.0 penalty
    # (-0.7) must outweigh its relevance edge
    out = sim.mmr_rerank(emb, lam=0.3, n_select=3).collect()
    got = [r["neighbor_id"] for r in out if r["query_id"] == 0]
    assert got[0] == 100            # most relevant, smaller id on the tie
    assert got[1] == 102            # the duplicate 101 is pushed below a diverse pick
    assert [r["rank"] for r in out if r["query_id"] == 0] == [1, 2, 3]


def test_distribution_drift_overflow_raises_loudly(spark):
    """ct6: histogram cross-products past BIGINT headroom must raise
    (t14's try_multiply discipline), never wrap silently (ADVICE r10)."""
    import pytest

    from file_indexer_spark.operators import curation as cu

    # 4e9 * 4e9 = 1.6e19 > 2^63-1 — the product overflows BIGINT
    big = 4_000_000_000
    hist = spark.createDataFrame(
        [(0, big, 1), (1, 1, big)], "bin int, base_n long, batch_n long"
    )
    with pytest.raises(Exception, match="ct6: histogram cross-product overflow"):
        cu.drift_from_histogram(hist).collect()


def test_mmr_single_candidate_emits_rank1(spark):
    """sim16: a query whose candidate set has exactly ONE member still
    emits its rank-1 row (the pairwise join is empty for such a query;
    the self-seed row keeps the group alive — ADVICE r10)."""
    import math

    from file_indexer_spark.operators import similarity as sim

    def vec(theta):
        return [math.cos(theta), math.sin(theta)] + [0.0] * 62

    rows = [(0, vec(0.0), 0), (100, vec(0.2), 1)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = sim.mmr_rerank(emb, lam=0.3, n_select=3).collect()
    got = [(r["neighbor_id"], r["rank"]) for r in out if r["query_id"] == 0]
    assert got == [(100, 1)]


def test_source_interleave_rounds_are_fair(spark):
    """sp13: every full round contains each live source exactly once;
    exhausted sources drop out of later rounds."""
    from file_indexer_spark.operators import sampling as sp

    rows = [(i, "srcA") for i in range(3)] + [(i + 10, "srcB") for i in range(2)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = sp.source_interleave(docs).collect()
    by_round = {}
    for r in out:
        by_round.setdefault(r["round"], []).append(r["source"])
    assert sorted(by_round[1]) == ["srcA", "srcB"]
    assert sorted(by_round[2]) == ["srcA", "srcB"]
    assert by_round[3] == ["srcA"]  # srcB exhausted
    slots = [(r["round"], r["slot"]) for r in out]
    assert len(set(slots)) == len(slots)


def test_pagerank_refresh_equals_scratch_on_planted_graph(spark):
    """dd19's refresh math: recompute only the affected component,
    pass untouched components and isolated docs through — equal to
    from-scratch PageRank over the union graph."""
    from pyspark.sql import functions as F

    from file_indexer_spark.operators import dedup as dd
    from file_indexer_spark.operators import graph as gr

    base = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    new = spark.createDataFrame([(10,), (11,)], "doc_id long")
    union_docs = base.unionByName(new)
    base_pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "doc_a long, doc_b long"
    )
    # batch connects 10 into the {0,1,2} component; 11 stays isolated;
    # {3,4} and 5 are untouched
    new_pairs = spark.createDataFrame([(2, 10)], "doc_a long, doc_b long")
    union_pairs = base_pairs.unionByName(new_pairs)

    stored_ranks = gr.pagerank(base, base_pairs)
    union_assign = dd.incremental_cluster_refresh(
        dd.dedup_clusters(base, base_pairs), new_pairs, new
    )
    refreshed = gr.pagerank_refresh(
        stored_ranks, base_pairs, union_assign, new_pairs, new
    )
    scratch = gr.pagerank(union_docs, union_pairs)
    got = {r["doc_id"]: (r["deg"], r["rank_e6"]) for r in refreshed.collect()}
    want = {r["doc_id"]: (r["deg"], r["rank_e6"]) for r in scratch.collect()}
    assert got == want
    assert got[11] == (0, gr.BASE_E6)          # isolated new doc
    assert got[3] == want[3] and got[10][0] == 1


def test_heavy_hitters_exact_under_eviction(spark):
    """e20: with a sketch capacity small enough to force Misra-Gries
    decrements, the two-pass result still equals the naive global
    groupBy — the candidate pass is a guaranteed superset."""
    from pyspark.sql import functions as F

    from file_indexer_spark.operators import events as evo

    # 1 partition, 30 distinct light users (1 event each) + 2 heavy
    # (40 and 25 events of 95 total); capacity 8 forces evictions
    rows = [(i, 1000 + i) for i in range(30)]
    rows += [(100 + j, 1) for j in range(40)]
    rows += [(200 + j, 2) for j in range(25)]
    ev = (
        spark.createDataFrame(rows, "event_id long, user_id long")
        .coalesce(1)
    )
    out = evo.heavy_hitters(ev, t=8, capacity=8).collect()
    # threshold = 95 // 8 = 11 -> exactly users 1 (40) and 2 (25)
    assert [(r["user_id"], r["n_events"]) for r in out] == [(1, 40), (2, 25)]


def test_calibration_bins_partition_and_diagonal(spark):
    """inf2: bins partition the corpus, pos_rate is exact per bin, and
    a perfectly calibrated synthetic slice sits on the diagonal."""
    from file_indexer_spark.operators import inference as inf
    from file_indexer_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = inf.calibration_bins(emb).collect()
    assert sum(r["n_vectors"] for r in out) == emb.count()
    for r in out:
        assert 0 <= r["bin"] <= 9
        assert 0 <= r["pos_rate"] <= 1
        assert abs(
            r["calib_gap"] - round(abs(r["mean_confidence"] - r["pos_rate"]), 6)
        ) <= 2e-6  # gap computed pre-rounding; allow the rounding skew


def test_annealed_mixture_flattens_with_alpha(spark):
    """mx3: at alpha=1 weights equal natural shares; as alpha anneals
    down the big source's weight falls and the small source's rises
    (the flattening the schedule exists to produce)."""
    from file_indexer_spark.operators import curation as cu

    rows = [(i, "big") for i in range(90)] + [(100 + i, "small") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = {(r["epoch"], r["source"]): r for r in cu.annealed_mixture(docs).collect()}
    assert abs(out[(0, "big")]["temp_weight"] - 0.9) < 1e-6
    assert (
        out[(0, "big")]["temp_weight"]
        > out[(1, "big")]["temp_weight"]
        > out[(2, "big")]["temp_weight"]
        > out[(3, "big")]["temp_weight"]
    )
    assert (
        out[(3, "small")]["temp_weight"] > out[(0, "small")]["temp_weight"]
    )
    for e in range(4):
        tot = out[(e, "big")]["temp_weight"] + out[(e, "small")]["temp_weight"]
        assert abs(tot - 1.0) < 1e-5


def test_decayed_engagement_prefers_recent_value(spark):
    """e21: equal raw value, fresher timestamps -> higher decayed
    score; weight halves per half-life (exact at the e6 quantum)."""
    from pyspark.sql import functions as F

    from file_indexer_spark.operators import events as evo

    rows = [
        # user 1: one event at the anchor (weight 1.0)
        (1, "2024-03-08 00:00:00", 1, "view", 100.0),
        # user 2: same value exactly one half-life earlier (weight 0.5)
        (2, "2024-03-01 00:00:00", 2, "view", 100.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = {r["user_id"]: r for r in evo.decayed_engagement(ev).collect()}
    assert out[1]["decayed_count_e6"] == 1_000_000
    assert out[2]["decayed_count_e6"] == 500_000
    assert out[1]["decayed_value_e8"] == 2 * out[2]["decayed_value_e8"]


def test_decayed_engagement_quarter_staircase(spark):
    """e21's determinism contract: the decay is a quarter-half-life
    staircase built from exact powers of two and sqrt-composed
    fractional factors (never pow()).  An age of 0.3 half-lives floors
    to q=1 quarter (weight 2^-0.25); >= 21 whole half-lives is exactly
    zero micro-units."""
    import math

    from pyspark.sql import functions as F

    from file_indexer_spark.operators import events as evo

    rows = [
        (1, "2024-03-08 00:00:00", 1, "view", 100.0),   # anchor
        (2, "2024-03-05 21:36:00", 2, "view", 100.0),   # 2.1 d = 0.3 hl -> q=1
        (3, "2023-08-21 00:00:00", 3, "view", 100.0),   # 200 d = 28.5 hl -> 0
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = {r["user_id"]: r for r in evo.decayed_engagement(ev).collect()}
    assert out[2]["decayed_count_e6"] == round(math.sqrt(math.sqrt(0.5)) * 1e6)
    assert out[3]["decayed_count_e6"] == 0


def test_roc_auc_matches_pairwise_reference(spark):
    """inf3: the midrank rank-statistic equals the pairwise AUC
    definition (wins + half-ties over pos x neg pairs) exactly — tie
    groups, all-tied blocks, and skewed class balance included."""
    from fractions import Fraction

    from file_indexer_spark.operators.inference import _auc_from_scored

    cases = [
        [(5, 1), (3, 0), (5, 0), (1, 0), (7, 1), (5, 1), (3, 1), (3, 0)],
        [(2, 1), (2, 0), (2, 1), (2, 0)],          # everything tied
        [(1, 0), (2, 0), (3, 1)],                   # perfect separation
        [(9, 1), (8, 1), (1, 0), (0, 0), (9, 0)],
    ]
    for rows in cases:
        df = spark.createDataFrame(rows, "s long, pos long")
        got = _auc_from_scored(df).first()
        pos = [s for s, p in rows if p]
        neg = [s for s, p in rows if not p]
        want = sum(
            Fraction(1) if sp > sn else Fraction(1, 2) if sp == sn else 0
            for sp in pos
            for sn in neg
        ) / (len(pos) * len(neg))
        assert Fraction(got["auc_num"], got["auc_den"]) == want, rows
        assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)
        assert got["auc"] == round(float(want), 6)


def test_positional_upsert_updates_and_is_idempotent(spark, tmp_path):
    """t22: a batch that UPDATES an indexed doc displaces its stale
    position rows completely (the merged index answers phrases like a
    from-scratch build over the true corpus), and re-ingesting the
    same batch is a no-op."""
    from file_indexer_spark.operators import text as tx

    truth = spark.createDataFrame(
        [
            (1, "x table part y"),
            (2, "table part table part"),
            (3, "nothing here"),
        ],
        "doc_id long, text string",
    )
    # stored: doc 2 STALE (leading tokens shift every position), no doc 3
    stale = spark.createDataFrame(
        [(1, "x table part y"), (2, "pad pad table part table part")],
        "doc_id long, text string",
    )
    batch = truth.filter("doc_id IN (2, 3)")
    mats = tx.write_positional_index(
        spark, tx.positional_index_tables(stale), str(tmp_path / "idx")
    )
    merged = tx.positional_upsert(mats, batch)
    want = [tuple(r) for r in tx.phrase_search(truth).collect()]
    assert [tuple(r) for r in tx.phrase_search_from_index(merged).collect()] == want
    again = tx.positional_upsert(merged, batch)
    assert [tuple(r) for r in tx.phrase_search_from_index(again).collect()] == want
    # the displaced stale rows are really gone (counts match truth)
    assert merged["postings"].count() == sum(
        len(r["text"].split(" ")) for r in truth.collect()
    )


def test_lp_refresh_single_pass_edge_diff_catches_weight_changes(spark):
    """dd23's edge diff (round-12 optimization: one union+aggregate
    instead of two exceptAll legs) must flag an edge whose WEIGHT alone
    changed — the subtle symmetric-difference case — and must not flag
    identical rows. A reweighted edge redirects the propagation vote,
    so missing it would pass a stale community through."""
    from file_indexer_spark.operators import graph as gr

    knn_schema = "vec_id long, neighbor_id long, rank int, cosine double"
    # base: 0->1 (w .9), 2->3 (w .5); union: 0->1 REWEIGHTED to .2
    # (now losing to 4->1 at .8), 2->3 identical, 4->1 new
    knn_base = spark.createDataFrame(
        [(0, 1, 1, 0.9), (2, 3, 1, 0.5)], knn_schema
    )
    knn_union = spark.createDataFrame(
        [(0, 1, 1, 0.2), (2, 3, 1, 0.5), (4, 1, 1, 0.8)], knn_schema
    )
    corpus = spark.createDataFrame([(i,) for i in range(5)], "vec_id long")
    stored = gr.label_propagation(knn_base, spark.createDataFrame(
        [(i,) for i in range(4)], "vec_id long"
    ))
    refreshed = {
        r["vec_id"]: r["community"]
        for r in gr.label_propagation_refresh(
            knn_union, corpus, gr.lp_edges(knn_base), stored
        ).collect()
    }
    scratch = {
        r["vec_id"]: r["community"]
        for r in gr.label_propagation(knn_union, corpus).collect()
    }
    assert refreshed == scratch
