"""Registered queries — bounds companions + m7c/st11/w7b/w9-era gates (mechanical split of registry.py, round 8).

Definitions are verbatim from the original registry; shared DuckDB SQL
fragments are imported from the part that defines them (parts load in
order via the registry facade)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from file_indexer_spark.functions import hashing as H  # noqa: F401
from file_indexer_spark.landing import gate_workdir
from file_indexer_spark.operators import curation as cu  # noqa: F401
from file_indexer_spark.operators import dedup as dd  # noqa: F401
from file_indexer_spark.operators import duplicates as dup  # noqa: F401
from file_indexer_spark.operators import events as ev  # noqa: F401
from file_indexer_spark.operators import inference as inf  # noqa: F401
from file_indexer_spark.operators import multimodal as mm  # noqa: F401
from file_indexer_spark.operators import relational as rel  # noqa: F401
from file_indexer_spark.operators import sampling as sp  # noqa: F401
from file_indexer_spark.operators import search as srch  # noqa: F401
from file_indexer_spark.operators import similarity as sim  # noqa: F401
from file_indexer_spark.operators import stats as st  # noqa: F401
from file_indexer_spark.operators import text as tx  # noqa: F401
from file_indexer_spark.registry_core import (  # noqa: F401
    ORACLES,
    QUERIES,
    _events,
    _files,
    _land_arrivals,
    _table,
    register,
)
from file_indexer_spark.session import tune_session  # noqa: F401
from file_indexer_spark.tables import (  # noqa: F401
    events_df,
    files_df,
    load_table,
    with_files_cte,
)
from file_indexer_spark.queries.q08_round4plus import _M7_CTES, _M7_SAMPLE  # noqa: F401

# ------------------------------------- bounds companions (round 7)
#
# Driver-checkable tolerance contracts for the rows-only operators:
# each companion computes its operator's VIOLATION SET entirely in
# Spark (sketch/MLlib output joined against its exact deterministic
# twin) and gates it against an EMPTY oracle of the same schema
# (operators/bounds.py). err:"no_oracle" rows become hash-green rows;
# a contract break emits rows and fails the gate loudly. Tests in
# tests/test_bounds.py prove each companion is NON-vacuous (corrupted
# twins produce violations).

@register(
    "t6a_bounds",
    """
    -- t6a's rank-tolerance contract: expected-empty violation set
    -- (every percentile_approx value between the exact p+/-0.02
    -- percentiles; non-sketch columns exact). Computed in Spark;
    -- the contract is "no rows".
    SELECT CAST(NULL AS VARCHAR) AS scope, CAST(NULL AS VARCHAR) AS metric,
           CAST(NULL AS DOUBLE) AS observed, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi
    WHERE FALSE
    """,
)
def t6a_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6a-BOUNDS: the percentile_approx sketch vs its exact twin t6 —
    rank tolerance ±0.02 per group, exact equality on n_docs/mean/max;
    one key-aligned join over t6a's own plan + an O(groups) explode."""
    from file_indexer_spark.operators import bounds as bd

    docs = _table(spark, sf_dir, "documents")
    return bd.percentile_bounds(
        docs,
        tx.length_percentiles(docs),
        tx.length_percentiles_approx(docs),
        key="source",
        val="n_chars",
        pcols=[("p50_chars", 0.5), ("p90_chars", 0.9), ("p99_chars", 0.99)],
    )


@register(
    "e12a_bounds",
    """
    -- e12a's rank-tolerance contract (see t6a_bounds): expected empty.
    SELECT CAST(NULL AS VARCHAR) AS scope, CAST(NULL AS VARCHAR) AS metric,
           CAST(NULL AS DOUBLE) AS observed, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi
    WHERE FALSE
    """,
)
def e12a_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E12a-BOUNDS: inter-arrival gap percentile sketch vs exact e12 —
    rank tolerance ±0.02 per event type, n_gaps exact."""
    from file_indexer_spark.operators import bounds as bd

    events = _events(spark, sf_dir)
    gaps = ev._event_gaps(events)
    return bd.percentile_bounds(
        gaps,
        ev.gap_percentiles(events),
        ev.gap_percentiles_approx(events),
        key="event_type",
        val="gap_us",
        pcols=[("p50_us", 0.5), ("p90_us", 0.9), ("p99_us", 0.99)],
    )


@register(
    "e13a_bounds",
    """
    -- e13a's HLL++ error contract: |approx - exact| <= max(0.2*exact, 2)
    -- per day (4 sigma at rsd=0.05), n_events exact. Expected empty.
    SELECT CAST(NULL AS VARCHAR) AS scope, CAST(NULL AS VARCHAR) AS metric,
           CAST(NULL AS DOUBLE) AS observed, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi
    WHERE FALSE
    """,
)
def e13a_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13a-BOUNDS: the distinct-count sketch vs exact e13 per day."""
    from file_indexer_spark.operators import bounds as bd

    events = _events(spark, sf_dir)
    return bd.hll_bounds(ev.daily_uniques(events), ev.daily_uniques_approx(events))


@register(
    "st6_bounds",
    """
    -- st6's bit-identical twin contract: the streaming HLL merge must
    -- equal the batch sketch e13a EXACTLY (register merges are
    -- lossless). Expected empty.
    SELECT CAST(NULL AS VARCHAR) AS scope, CAST(NULL AS VARCHAR) AS metric,
           CAST(NULL AS DOUBLE) AS observed, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi
    WHERE FALSE
    """,
)
def st6_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6-BOUNDS: the real-stream HLL rollup (two micro-batches,
    availableNow) diffed against the batch e13a sketch column by
    column — sketch-merge losslessness as a driver-checkable gate."""
    from file_indexer_spark.operators import bounds as bd

    stream = QUERIES["st6_streaming_uniques"](spark, sf_dir)
    batch = ev.daily_uniques_approx(_events(spark, sf_dir))
    return bd.twin_mismatch(stream, batch, key="day")


@register(
    "dd6_bounds",
    """
    -- dd6's recall contract vs the deterministic expression-LSH twin
    -- dd3: recall >= 0.9 over >= 20 base pairs. Expected empty.
    SELECT CAST(NULL AS VARCHAR) AS scope, CAST(NULL AS VARCHAR) AS metric,
           CAST(NULL AS DOUBLE) AS observed, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi
    WHERE FALSE
    """,
)
def dd6_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD6-BOUNDS: MLlib MinHashLSH pair recall vs dd3 (both verify
    candidates with the same exact Jaccard, so disagreement beyond the
    floor means the ML path lost planted near-dups). Pair sets reduce
    to one stats row on the executors — nothing collects."""
    from file_indexer_spark.operators import bounds as bd
    from file_indexer_spark.operators import dedup as dd

    docs = _table(spark, sf_dir, "documents")
    return bd.recall_floor(
        dd.minhash_lsh_pairs(docs).select("doc_a", "doc_b"),
        dd.minhash_lsh_ml_pairs(docs).select("doc_a", "doc_b"),
        keys=["doc_a", "doc_b"],
        floor=0.9,
        min_base=20,
        metric="recall_vs_dd3",
    )


@register(
    "sim3_bounds",
    """
    -- sim3's recall contract vs exact sim1 top-k: recall >= 0.5 and
    -- exactly N_QUERIES*TOP_K emitted pairs. Expected empty.
    SELECT CAST(NULL AS VARCHAR) AS scope, CAST(NULL AS VARCHAR) AS metric,
           CAST(NULL AS DOUBLE) AS observed, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi
    WHERE FALSE
    """,
)
def sim3_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM3-BOUNDS: BRP-LSH neighbor recall vs sim1's exact cosine
    top-k (metrics differ — euclidean bucketing vs cosine ranking — so
    the pinned floor is the majority-overlap 0.5 the pytest gate has
    carried since round 2), plus the exact output-cardinality check."""
    from file_indexer_spark.operators import bounds as bd
    from file_indexer_spark.operators import similarity as sim

    emb = _table(spark, sf_dir, "embeddings")
    probe = sim.brp_lsh_neighbors(emb).select("query_id", "neighbor_id")
    n_expected = float(sim.N_QUERIES * sim.TOP_K)
    n_probe = probe.agg(F.count("*").cast("double").alias("n_probe"))
    return bd.recall_floor(
        sim.cosine_topk(emb).select("query_id", "neighbor_id"),
        probe,
        keys=["query_id", "neighbor_id"],
        floor=0.5,
        min_base=int(n_expected),
        metric="recall_vs_exact_topk",
        extra_checks=[
            (
                n_probe,
                (
                    F.col("n_probe") != n_expected,
                    F.lit("global"),
                    "approx_pair_count",
                    F.col("n_probe"),
                    F.lit(n_expected),
                    F.lit(n_expected),
                ),
            )
        ],
    )


@register(
    "sim8_bounds",
    """
    -- sim8's Lloyd invariants: exactly k non-empty clusters, total
    -- assignment, SSE <= one-shot IVF seeding's SSE (iterating only
    -- improves the objective). Expected empty.
    SELECT CAST(NULL AS VARCHAR) AS scope, CAST(NULL AS VARCHAR) AS metric,
           CAST(NULL AS DOUBLE) AS observed, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi
    WHERE FALSE
    """,
)
def sim8_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM8-BOUNDS: the kmeans|| invariants as a violation set, with
    both SSEs (Lloyd centers vs one-shot hash seeds) computed
    DISTRIBUTED — k centroids broadcast, per-vector min squared
    distance, one sum — so the gate itself is 100 TB-shaped."""
    from file_indexer_spark.operators import bounds as bd

    return bd.kmeans_bounds(_table(spark, sf_dir, "embeddings"))


@register(
    "st11_update_mode_counts",
    """
    -- st11: the update-mode output class — final state of the
    -- changelog (last emission per key) equals the batch windowed
    -- aggregate. Same rollup as st1's oracle.
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
           event_type,
           COUNT(*) AS n_events,
           round(SUM(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    ORDER BY 1, 3
    """,
)
def st11_update_mode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST11: UPDATE-mode streaming aggregation (the one output-mode
    class st1-st10 left unexercised at the driver): watermarked hourly
    counts drained via foreachBatch, each micro-batch emitting only the
    keys whose aggregate CHANGED — an upsert changelog. The gate
    reduces the changelog to its final state (last emission per key)
    and hash-matches the batch oracle.

    Arrivals are CHRONOLOGICAL halves (the st8 pattern) — update mode
    honors the watermark, so a time-interleaved split would legally
    drop the second batch's late rows; splitting on the midpoint
    timestamp keeps every arrival ahead of the watermark, making
    stream-equals-batch exact. The boundary hour spans both arrivals
    and re-emits with a grown count (intermediate re-emission is pinned
    in tests/test_streaming.py on a controlled fixture)."""
    import os

    from file_indexer_spark.streaming import windows as sw

    tune_session(spark)
    base, _ = gate_workdir("fis_st11")
    src = os.path.join(base, "src")
    out = os.path.join(base, "changelog")
    ev2 = events_df(spark, sf_dir)
    bounds = ev2.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    mid = bounds["lo"] + (bounds["hi"] - bounds["lo"]) / 2
    _land_arrivals(
        src,
        [ev2.filter(F.col("ts") <= F.lit(mid)), ev2.filter(F.col("ts") > F.lit(mid))],
    )
    stream = sw.read_events_stream(spark, src, max_files_per_trigger=1)
    sw.run_update_mode_to_parquet(sw.windowed_counts(stream), out)
    return sw.last_emission(
        spark, out, ["window_start", "window_end", "event_type"]
    ).orderBy("window_start", "event_type")


@register(
    "m7c_audio_dup_groups",
    f"""
    -- Perceptual audio duplicate groups: per-clip energy-envelope
    -- fingerprint (per-frame integer energy quantized to bit_length,
    -- '-'-joined in frame order) grouped J2-style. The oracle
    -- recomputes EVERY frame energy from the sample derivation;
    -- length(bin(E)) is bit_length for E > 0.
    WITH {_M7_CTES},
    env AS (
        SELECT doc_id,
               array_to_string(list_transform(energies, E ->
                   CAST((CASE WHEN E = 0 THEN 0
                              ELSE length(bin(E)) END) AS VARCHAR)), '-')
                   AS envelope
        FROM (
            SELECT doc_id,
                   list_transform(range(0, nf), f ->
                       CAST(list_sum(list_transform(
                           range(160 * f, 160 * f + 160),
                           i -> CAST(({_M7_SAMPLE}) AS BIGINT)
                                * CAST(({_M7_SAMPLE}) AS BIGINT))) AS BIGINT)
                   ) AS energies
            FROM base) t)
    SELECT envelope, CAST(COUNT(*) AS BIGINT) AS n_clips,
           MIN(doc_id) AS canonical_media_id
    FROM env GROUP BY envelope HAVING COUNT(*) >= 2
    ORDER BY envelope
    """,
)
def m7c_audio_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7c: audio perceptual duplicate groups (modality symmetry with
    m6d) — loudness-envelope fingerprint, decode partition-local, one
    hash-shuffle on the fingerprint key."""
    from file_indexer_spark.operators import multimodal as mm

    media = mm.pcm_media_from_docs(_table(spark, sf_dir, "documents"))
    return mm.audio_duplicate_groups(media)


@register(
    "sim9_pq_encode",
    f"""
    -- Product quantization: M=8 subspaces x K'=16 md5-sampled
    -- codewords; per subspace the argmin slice-L2 codeword (ties to
    -- the smaller code), '-'-joined codes + summed min d2. Same IEEE
    -- fold, same md5 seed order => bit-exact across engines.
    WITH seeds AS (
        SELECT embedding AS c_emb,
               row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
                   AS code
        FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id
        LIMIT {sim.PQ_CODEWORDS}),
    pairs AS (
        SELECT v.vec_id, m.m, s.code,
               list_reduce(list_transform(range(8 * m.m + 1, 8 * m.m + 9),
                   i -> (v.embedding[i]::DOUBLE - s.c_emb[i]::DOUBLE)
                      * (v.embedding[i]::DOUBLE - s.c_emb[i]::DOUBLE)),
                   (x, y) -> x + y) AS d2
        FROM embeddings v, range(0, {sim.PQ_SUBSPACES}) m(m), seeds s),
    best AS (
        SELECT vec_id, m, code, d2,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2, code) AS rn
        FROM pairs)
    SELECT vec_id,
           string_agg(code::VARCHAR, '-' ORDER BY m) AS pq_code,
           round(list_reduce(list(d2 ORDER BY m), (x, y) -> x + y), 6)
               AS recon_sse
    FROM best WHERE rn = 1
    GROUP BY vec_id ORDER BY vec_id
    """,
)
def sim9_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM9: product quantization — the 64x-compression storage form an
    IVF-PQ index scans at 100 TB (below sim7's 4x int8). One broadcast
    join against the 128-row codebook, map-side slice-L2, two narrow
    hash aggs; deterministic codebook => full hash gate on a quantizer."""
    return sim.pq_encode(_table(spark, sf_dir, "embeddings"))


