"""Document deduplication — exact and near-dup — over ``documents``.

The core LLM-training-data operators, each in its scalable Spark
formulation (never all-pairs):

  dd1 exact:     content-hash groupBy (one shuffle on the hash).
  dd2 n-gram Jaccard: inverted-index candidate generation — explode
       shingles, join docs that SHARE a shingle, count common shingles
       per pair. Document-frequency pruning bounds the blowup: shingles
       in > MAX_DF docs are dropped from every set (pruned-set Jaccard,
       the standard trade-off), singleton shingles skip the join (they
       cannot create a pair) but still count toward set sizes.
  dd3 MinHash-LSH: 32-perm signatures, 8 bands x 4 rows; candidates =
       docs sharing a band digest; candidates are then verified with
       exact set Jaccard. Cost is O(docs x shingles) map-side + a join
       keyed on band digests — at 100 TB the band buckets are the only
       shuffle, and bucket sizes stay small because digests are 128-bit.
  dd4 SimHash: 60-bit per-doc fingerprint; 15-bit band pigeonhole
       guarantees recall 1.0 for hamming distance <= 3; verification is
       a popcount on the XOR.

Everything is Catalyst expressions (lambda HOFs) — no Python UDFs; the
identical arithmetic runs in the DuckDB oracles (functions/hashing.py
is the single source of the constants and hash formulas).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from file_indexer_spark.functions import hashing as H
from file_indexer_spark.landing import land_tables

# Document-frequency cap for dd2 candidate generation. Pruned-set
# Jaccard drops shingles in > MAX_DF docs from every set: a shingle
# that common carries no near-dup signal but contributes O(df^2)
# candidate pairs. The synthetic corpus has a 31-word vocabulary, so
# shingles collide far more than natural text (median df ~ dozens) —
# 8 keeps the pair join ~200k rows at sf0.1; on natural corpora the
# typical cap is ~100+.
MAX_DF = 8
JACCARD_THRESHOLD = 0.8


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """dd1: documents with byte-identical text, grouped by md5."""
    return (
        docs.select("doc_id", F.md5(F.col("text")).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
            F.expr(
                "concat_ws(',', transform(array_sort(collect_list(doc_id)), x -> cast(x as string)))"
            ).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("content_hash")
    )


def _materialize(df: DataFrame) -> DataFrame:
    """Truncate lineage for a subtree consumed by several downstream
    branches: without this, every consumer re-runs the md5 shingle
    hashing (the dominant map cost). localCheckpoint stores the rows on
    executors once; on a cluster with unreliable executors, swap for
    ``checkpoint()`` against reliable storage."""
    return df.localCheckpoint(eager=False)


def _shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles) with shingles = distinct hash60 of word
    3-grams — computed map-side, never leaves the executor as text.

    Three measured performance rules shape this:
      * repartition first — the documents table often arrives as one
        input split, and shingle hashing is the dominant map cost;
        the explicit numbered repartition (which AQE honors) spreads it;
      * split(text) is hoisted into its own projection — inside the
        shingle lambda it would be re-evaluated once per shingle;
      * the result is checkpointed — every consumer explodes this
        array, and Spark fuses a Generate with its child projection,
        re-evaluating the (expensive) array expression inside the
        generator loop (~17x slower than exploding materialized rows).
    """
    par = docs.sparkSession.sparkContext.defaultParallelism
    return _materialize(
        docs.repartition(par, "doc_id")
        .select("doc_id", F.split("text", " ").alias("words"))
        .select("doc_id", F.expr(H.spark_shingle_hashes_from_words()).alias("shingles"))
    )


def _pair_overlap(docs: DataFrame, max_df: int) -> DataFrame:
    """Shared inverted-index overlap stage for dd2/dd14: (doc_a < doc_b,
    common_shingles, n_a, n_b) over the df-pruned shingle universe.
    One grouped pass over the posting lists; pairs generated map-side
    from each bounded (<= max_df) list."""
    sets = _shingle_sets(docs)
    exploded = sets.select("doc_id", F.explode("shingles").alias("h"))
    # one shuffle: group the inverted index by shingle, keeping the
    # (bounded, <= max_df) posting list per shingle. Replaces the
    # previous dfreq + join-back + self-join plan (3 shuffles of the
    # full posting stream) with a single grouped pass; pairs are then
    # generated MAP-SIDE from each posting list (<= C(max_df, 2) per
    # shingle, bounded by construction).
    grouped = _materialize(
        exploded.groupBy("h")
        .agg(F.expr("array_sort(collect_list(doc_id))").alias("ids"), F.count("*").alias("df"))
        .filter(F.col("df") <= max_df)
    )
    # pruned universe: shingles kept in every doc's set
    sizes = (
        grouped.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("set_size"))
    )
    # pair-generating shingles: df >= 2 (singletons cannot form a pair)
    pair_expr = (
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), y -> struct(x as a, y as b))))"
    )
    common = (
        grouped.filter(F.col("df") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count("*").alias("common_shingles"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("n_b"))
    return common.join(sa, "doc_a").join(sb, "doc_b")


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    max_df: int = MAX_DF,
) -> DataFrame:
    """dd2: all pairs with pruned-set Jaccard >= threshold, found via a
    shingle inverted index (exact w.r.t. the pruned sets).
    """
    overlap = _pair_overlap(docs, max_df)
    jac = F.col("common_shingles").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("common_shingles")
    ).cast("double")
    return (
        overlap.withColumn("jaccard", F.round(jac, 6))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", "common_shingles", "n_a", "n_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


CONTAIN_THRESHOLD = 0.9  # dd14: |A ∩ B| / |A| floor for "A inside B"


def containment_pairs(
    docs: DataFrame,
    threshold: float = CONTAIN_THRESHOLD,
    max_df: int = MAX_DF,
) -> DataFrame:
    """dd14: DIRECTED near-containment pairs — ``|A ∩ B| / |A| >=
    threshold`` flags doc A as (near-)contained in doc B. Catches the
    subset-duplication symmetric Jaccard misses: a paragraph quoted
    whole inside a much longer page has tiny Jaccard but containment
    ~1.0 (the quote/boilerplate/wrapper-page dedup rule).

    Same inverted-index overlap stage as dd2 (:func:`_pair_overlap` —
    one posting-list shuffle, pairs generated map-side from bounded
    lists, never all-pairs); each unordered overlap row then fans out
    map-side into its <= 2 qualifying directions. Output is directed:
    (contained, container, containment), ties possible in both
    directions when the sets are near-identical.
    """
    overlap = _pair_overlap(docs, max_df)
    directions = F.array(
        F.struct(
            F.col("doc_a").alias("contained"),
            F.col("doc_b").alias("container"),
            F.col("n_a").alias("n_contained"),
            F.col("n_b").alias("n_container"),
        ),
        F.struct(
            F.col("doc_b").alias("contained"),
            F.col("doc_a").alias("container"),
            F.col("n_b").alias("n_contained"),
            F.col("n_a").alias("n_container"),
        ),
    )
    cont = F.col("common_shingles").cast("double") / F.col("n_contained").cast(
        "double"
    )
    return (
        overlap.select("common_shingles", F.explode(directions).alias("d"))
        .select("common_shingles", "d.*")
        .filter(cont >= threshold)
        .select(
            "contained",
            "container",
            "common_shingles",
            "n_contained",
            "n_container",
            F.round(cont, 6).alias("containment"),
        )
        .orderBy("contained", "container")
    )


def _minhash_sigs(sets: DataFrame) -> DataFrame:
    """(doc_id, sig) minhash signatures: 32 min-aggregates over the
    exploded (doc_id, shingle-hash) stream (one codegen hash agg with
    map-side partials). Per-doc pure — a doc's signature is identical
    whether it is signed alone or with the whole corpus, which is what
    makes the dd12 incremental probe exact."""
    exploded = sets.select("doc_id", F.explode("shingles").alias("h")).select(
        "doc_id", (F.col("h") % H.MERSENNE_P).alias("hm")
    )
    sig_aggs = [
        F.expr(f"min(({a} * hm + {b}) % {H.MERSENNE_P})").alias(f"s{i}")
        for i, (a, b) in enumerate(zip(H.PERM_A, H.PERM_B))
    ]
    return (
        exploded.groupBy("doc_id")
        .agg(*sig_aggs)
        .select(
            "doc_id",
            F.array(*[F.col(f"s{i}") for i in range(H.NUM_PERM)]).alias("sig"),
        )
    )


def _minhash_bands(sets: DataFrame) -> DataFrame:
    """(doc_id, band, digest): :func:`_minhash_sigs` + per-band md5
    digests."""
    sigs = _minhash_sigs(sets)
    return sigs.select(
        "doc_id",
        F.posexplode(F.expr(H.spark_band_hashes("sig"))).alias("band", "digest"),
    )


def minhash_lsh_pairs(docs: DataFrame, threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """dd3: MinHash-LSH candidate pairs, verified with exact Jaccard.

    Banding: P(candidate) = 1 - (1 - s^4)^8 — ~0.97 at s = 0.8, ~0.03
    at s = 0.3 — the classic S-curve around the 0.8 threshold.

    The signature is computed as 32 ``min`` aggregates over the exploded
    (doc_id, shingle-hash) stream — a single whole-stage-codegen hash
    aggregation with map-side partials, rather than nested lambda
    expressions (which Catalyst interprets row-at-a-time, ~10x slower).
    """
    sets = _shingle_sets(docs)
    bands = _minhash_bands(sets)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.digest") == F.col("b.digest"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def lsh_index_tables(docs: DataFrame) -> dict[str, DataFrame]:
    """The materializable corpus LSH index behind dd12: the narrow
    (doc_id, band, digest) band table plus the (doc_id, shingles)
    verification sets. At 100 TB these are written once per corpus
    snapshot (bucketed by (band, digest) so the probe join is
    co-located) and every incremental batch probes them instead of
    re-signing the corpus — the x2 compute-once pattern applied to
    near-dup detection."""
    sets = _shingle_sets(docs)
    return {"bands": _minhash_bands(sets), "shingle_sets": sets}


def write_lsh_index(spark, docs: DataFrame, workdir: str) -> dict[str, DataFrame]:
    """Land :func:`lsh_index_tables` under ``workdir`` and return the
    re-reads. One table per write, bands first: both derive from one
    unmaterialized shingle checkpoint, which the first write
    materializes for the second."""
    mats: dict[str, DataFrame] = {}
    for name, df in lsh_index_tables(docs).items():
        mats |= land_tables(spark, {name: df}, workdir)
    return mats


def lsh_pairs_from_tables(
    tables: dict[str, DataFrame], threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """dd3's pair list derived from ALREADY-MATERIALIZED index tables
    (:func:`lsh_index_tables` frames or their parquet re-reads) instead
    of re-signing the corpus text — the round-12 optimization for the
    dd13/dd19 gate builds, which previously ran the shingle+minhash
    machinery a second time to get the very pair list the stored bands
    and shingle sets already determine.  Row-for-row equal to
    :func:`minhash_lsh_pairs` by construction: candidates are the band
    self-join over the stored band table, verification the exact
    Jaccard over the stored shingle sets."""
    bands = tables["bands"]
    sets = tables["shingle_sets"]
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.digest") == F.col("b.digest"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def incremental_lsh_pairs(
    index: dict[str, DataFrame],
    new_docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """dd12: near-dup pairs for a NEW batch against an EXISTING corpus
    without touching the corpus text — probe the materialized band
    table (:func:`lsh_index_tables`, live frames or parquet re-reads)
    with the batch's own band rows, plus the within-batch self-join.

    Exactness: per-doc signatures are corpus-independent
    (:func:`_minhash_bands`), so the emitted pair set is EXACTLY dd3's
    full-corpus output restricted to pairs with >= 1 new side — the
    registry gate oracles this equality. ``pair_class`` tags each pair
    ``new_base`` (one side in the index) or ``new_new`` (both in the
    batch); the two candidate legs are disjoint by construction.

    Scale shape: batch bands broadcast-join (or shuffle on the
    (band, digest) bucketing) against the index — work is
    O(batch x matching buckets), never O(corpus); the verification
    stage semi-joins the stored shingle-set table down to the docs
    that actually appear in a candidate pair before fetching arrays
    (broadcast semi-join on the small candidate-id set — at 100 TB
    with the sets table bucketed by doc_id this prunes to the matched
    buckets instead of scanning the full index).

    The index and batch slices are expected disjoint; if a batch
    re-delivers a doc_id already indexed (an at-least-once source),
    the batch's row is authoritative — stale index rows for those ids
    are dropped up front (broadcast anti-joins on the batch-id set)
    so re-delivery can never fan out duplicate or self pairs.
    """
    new_tables = lsh_index_tables(new_docs)
    new_ids = new_tables["shingle_sets"].select("doc_id")
    nb = new_tables["bands"]
    bb = index["bands"].join(F.broadcast(new_ids), "doc_id", "left_anti")
    cross = (
        nb.alias("n")
        .join(
            bb.alias("b"),
            (F.col("n.band") == F.col("b.band"))
            & (F.col("n.digest") == F.col("b.digest")),
        )
        .select(
            F.least("n.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("n.doc_id", "b.doc_id").alias("doc_b"),
            F.lit("new_base").alias("pair_class"),
        )
        .distinct()
    )
    within = (
        nb.alias("a")
        .join(
            nb.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.digest") == F.col("b.digest"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.lit("new_new").alias("pair_class"),
        )
        .distinct()
    )
    cand = _materialize(cross.unionByName(within))
    pair_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    base_sets = (
        index["shingle_sets"]
        .join(F.broadcast(new_ids), "doc_id", "left_anti")
        .join(F.broadcast(pair_ids), "doc_id", "left_semi")
    )
    sets = base_sets.unionByName(new_tables["shingle_sets"])
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", "jaccard", "pair_class")
        .orderBy("doc_a", "doc_b")
    )


def minhash_lsh_ml_pairs(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    num_hash_tables: int = H.LSH_BANDS,
) -> DataFrame:
    """dd6: MLlib-native MinHash-LSH near-dup pairs.

    The ``pyspark.ml.feature`` formulation of dd3: word 3-gram shingles
    → ``HashingTF`` (binary, fixed feature space — no vocabulary fit,
    so the pipeline is a single pass) → ``MinHashLSH`` with a fixed
    seed → ``approxSimilarityJoin`` at Jaccard distance
    ``1 - threshold``. MLlib's join is the same band-bucket-join shape
    as dd3 under the hood (OR-amplified across hash tables).

    Estimator internals (hash seeds, feature indices) aren't
    replicable in an external SQL engine, so this registers as a
    rows-only driver check; tests assert pair-set parity against the
    exactly-verified dd3 output instead. HashingTF collisions can
    slightly inflate the estimated similarity — pairs are re-verified
    with exact shingle-set Jaccard before emission, as dd3 does.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sets = _shingle_sets(docs)
    shingle_strs = sets.select(
        "doc_id",
        "shingles",
        F.expr("transform(shingles, h -> cast(h as string))").alias("tokens"),
    )
    tf = HashingTF(inputCol="tokens", outputCol="features", numFeatures=1 << 18, binary=True)
    featurized = tf.transform(shingle_strs)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=20240813)
    model = lsh.fit(featurized)
    joined = model.approxSimilarityJoin(
        featurized, featurized, 1.0 - threshold, distCol="jaccard_dist"
    )
    pairs = joined.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id")).select(
        F.col("datasetA.doc_id").alias("doc_a"),
        F.col("datasetB.doc_id").alias("doc_b"),
        F.col("datasetA.shingles").alias("sh_a"),
        F.col("datasetB.shingles").alias("sh_b"),
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def simhash_pairs(docs: DataFrame, max_hamming: int = H.HAMMING_MAX) -> DataFrame:
    """dd4: SimHash near-dup pairs with hamming distance <= max_hamming.

    With 4 bands of 15 bits, any pair within hamming 3 must agree on at
    least one full band (pigeonhole) — so the band join is exact, not
    approximate, for the default threshold.
    """
    # per-bit majority votes as 60 codegen'd SUM aggregates over the
    # exploded shingle-hash stream (map-side partials, one shuffle) —
    # the nested-lambda formulation is interpreted and ~10x slower
    exploded = _shingle_sets(docs).select("doc_id", F.explode("shingles").alias("h"))
    vote_aggs = [
        F.expr(f"sum(((h >> {b}) & 1) * 2 - 1)").alias(f"v{b}")
        for b in range(H.SIMHASH_BITS)
    ]
    pack = " + ".join(
        f"shiftleft(CASE WHEN v{b} > 0 THEN 1L ELSE 0L END, {b})" for b in range(H.SIMHASH_BITS)
    )
    fp = _materialize(
        exploded.groupBy("doc_id")
        .agg(*vote_aggs)
        .select("doc_id", F.expr(pack).alias("simhash"))
    )
    w = H.SIMHASH_BAND_WIDTH
    bands = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {H.SIMHASH_BANDS - 1}), "
                f"j -> (simhash >> (j * {w})) & {(1 << w) - 1})"
            )
        ).alias("band", "band_value"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_value") == F.col("b.band_value"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.expr("bit_count(sh_a ^ sh_b)")
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


DUP_SPAN_FLAG = 0.5


def duplicate_spans(docs: DataFrame, flag_threshold: float = DUP_SPAN_FLAG) -> DataFrame:
    """dd8: per-document duplicated-span profiling — for every document,
    the fraction of its distinct word 3-gram shingles that also occur in
    at least one OTHER document. This is the span-level complement of
    dd1-dd4's whole-document verdicts: a doc can be globally unique yet
    be 90 % recycled boilerplate, and span fraction is the signal
    C4-style pipelines threshold on before training ingestion.

    Shape: reuses the checkpointed shingle sets (hash60 of word
    3-grams, distinct per doc — ``_shingle_sets``), one COUNT window
    partitioned on the shingle hash (document frequency, no join-back
    — the window co-partitions exactly like the agg+join alternative
    but skips the extra exploded-side shuffle), then one agg on doc_id
    counting shared shingles. Two shuffles total, no joins on the
    corpus, no pair generation at all — cost is O(total shingles)
    regardless of how duplicated the corpus is (unlike pair-emitting
    dd2). Shingle-key skew is bounded: shingles are distinct per doc,
    so a shingle's partition holds at most n_docs rows, and COUNT
    windows stream without buffering.
    """
    from pyspark.sql.window import Window

    sets = _shingle_sets(docs)
    exploded = sets.select("doc_id", F.explode("shingles").alias("h"))
    df = F.count("*").over(Window.partitionBy("h"))
    per_doc = (
        exploded.withColumn("df", df)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum((F.col("df") >= 2).cast("long")).cast("long").alias("n_shared"),
        )
    )
    frac = F.col("n_shared").cast("double") / F.col("n_shingles").cast("double")
    return (
        per_doc.withColumn("shared_fraction", F.round(frac, 6))
        .withColumn("flagged", frac >= F.lit(flag_threshold))
        .select("doc_id", "n_shingles", "n_shared", "shared_fraction", "flagged")
        .orderBy("doc_id")
    )


def _connected_components(
    pairs: DataFrame, max_iter: int = 25, durable_checkpoint: bool = False
) -> tuple[DataFrame, int]:
    """Connected components over an undirected pair list by alternating
    large-star / small-star contractions (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): O(log n) rounds on
    ANY graph shape — a 10^6-node chain converges in ~20 rounds where
    min-label propagation needs 10^6.

    Each round is two grouped min-joins over the current edge set plus
    an exact convergence probe — no fingerprint shortcuts, so early
    exit can never mis-cluster. The probe is count-gated (round-12
    optimization, guide §2.4): both edge sets are DISTINCT by
    construction, so differing cardinalities prove non-convergence
    from the (already-materialized) checkpoint row counts alone, and
    the ``exceptAll`` set-difference scan runs only when the counts
    tie — with equal-size finite sets, one-sided emptiness is
    equality. Lineage is cut per round; with ``durable_checkpoint``
    the cut is a reliable-storage ``checkpoint()`` (caller must have set
    ``sparkContext.setCheckpointDir``) so a preempted executor replays
    from storage instead of recomputing the whole prefix.

    Returns ``(labels, rounds)`` where labels is (doc_id, label) for
    every node that appears in a pair (label = min doc_id of its
    component) and rounds is the number of star rounds executed.
    """

    def cut(df: DataFrame) -> DataFrame:
        if durable_checkpoint:
            return df.checkpoint(eager=False)
        return df.localCheckpoint(eager=False)

    # canonical directed form: every undirected edge as (src=hi, dst=lo)
    edges = cut(
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("src"),
            F.least("doc_a", "doc_b").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    n_edges = edges.count()
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # large-star: each node u connects its LARGER neighbors to
        # m = min(N(u) ∪ {u}); needs the symmetric neighbor view.
        sym = edges.select("src", "dst").unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        lmin = sym.groupBy("src").agg(F.min("dst").alias("mn"))
        # NOT distinct-ed: the small-star mins are duplicate-blind and
        # the round's final distinct dedups the output — dropping the
        # intermediate exchange+aggregate here saves one full shuffle
        # of the round's largest frame per round (round-12, guide §2.4)
        large = (
            sym.join(lmin, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(
                F.col("dst").alias("src"),
                F.least("src", "mn").alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
        )
        # small-star on the hi→lo edges: each node u connects its
        # smaller neighbors AND itself to m = min(N⁻(u) ∪ {u}).
        smin = large.groupBy("src").agg(F.min("dst").alias("mn"))
        j = large.join(smin, "src")
        small = cut(
            j.select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
            .unionByName(j.select("src", F.col("mn").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # count() doubles as the checkpoint materialization action;
        # the exceptAll scan only runs on a cardinality tie (both
        # sides are distinct sets, so |small| != |edges| alone proves
        # a change, and |small| == |edges| with small \ edges empty
        # proves set equality — one-sided difference suffices)
        n_small = small.count()
        changed = (
            n_small != n_edges
            or small.exceptAll(edges).limit(1).count() > 0
        )
        edges, n_edges = small, n_small
        if not changed:
            break
    # fixed point is a star forest: every non-center points straight at
    # its component min. groupBy-min is belt-and-braces for the
    # max_iter-exhausted case (still converging → best label so far).
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("label"))
        .select(F.col("src").alias("doc_id"), "label")
        .unionByName(
            # no pre-distinct: the final min-aggregate dedups centers
            edges.select(F.col("dst").alias("doc_id"), F.col("dst").alias("label"))
        )
        .groupBy("doc_id")
        .agg(F.min("label").alias("label"))
    )
    return labels, rounds


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    max_iter: int = 25,
    durable_checkpoint: bool = False,
) -> DataFrame:
    """Materialize near-dup PAIRS into cluster assignments: connected
    components via alternating large-star/small-star (O(log n) rounds,
    see ``_connected_components``), canonical doc = min doc_id per
    component (the row a training pipeline KEEPS).

    Scale shape: the iteration runs only over the near-dup subgraph
    (nodes that appear in a pair — a small fraction of the corpus);
    the full corpus joins back once at the end, so singleton docs never
    enter the loop. Set ``durable_checkpoint=True`` on a real cluster
    (with ``setCheckpointDir``) so per-round state survives executor
    preemption.
    """
    labels, _ = _connected_components(
        pairs, max_iter=max_iter, durable_checkpoint=durable_checkpoint
    )
    return (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .select("doc_id", F.coalesce("label", F.col("doc_id")).alias("cluster_id"))
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
        .orderBy("doc_id")
    )


def incremental_cluster_refresh(
    old_assign: DataFrame,
    new_pairs: DataFrame,
    new_docs: DataFrame,
    max_iter: int = 25,
) -> DataFrame:
    """dd13: maintain dd7's cluster assignment under a batch ingest —
    the companion to dd12's incremental pair detection. Inputs: the
    MATERIALIZED base assignment (dd7 on the old corpus), the dd12
    pairs (every near-dup pair with >= 1 new side), and the batch.

    Exactness: the full-corpus pair graph is (base-base pairs) ∪
    (new-side pairs). Each affected base cluster — one containing any
    endpoint of a new pair — is contracted to a STAR on its stored
    label (labels are min-ids, so the star reproduces the component's
    connectivity exactly); unaffected clusters cannot merge with
    anything (no new pair touches them) and pass through untouched.
    Components over (stars ∪ new pairs) therefore equal the full
    graph's components, member-for-member, and min-id labels agree —
    dd13's output provably equals dd7 recomputed from scratch, which
    is exactly what the registry gate oracles.

    Scale shape: the contraction loop runs over the TOUCHED subgraph
    only (O(new pairs + affected members)); the untouched corpus is one
    anti-join passthrough. A 100 TB corpus with a 1 GB ingest refreshes
    in batch-sized time.
    """
    # the pair list feeds FOUR consumers below (pair_ids, star edges via
    # the affected set, the contraction input, and — through sub_docs —
    # both the corpus join and the passthrough anti-join); without a cut
    # each consumer replays the dd12 probe lineage (band joins + exact
    # Jaccard verification) from scratch — guide §2.4/§5, round-12
    # optimization, same rule as pagerank_refresh's entry cut
    new_pairs = new_pairs.localCheckpoint(eager=False)
    pair_ids = (
        new_pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(new_pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    affected_labels = (
        old_assign.join(pair_ids, "doc_id", "left_semi")
        .select("cluster_id")
        .distinct()
    )
    # two consumers (star edges + sub_docs) — cut once or each replays
    # the two-semi-join affected-set derivation (guide §5, round-13)
    affected = old_assign.join(
        affected_labels, "cluster_id", "left_semi"
    ).localCheckpoint(eager=False)
    star_edges = affected.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.least("doc_id", "cluster_id").alias("doc_a"),
        F.greatest("doc_id", "cluster_id").alias("doc_b"),
    )
    # consumed by the contraction's corpus join AND the untouched
    # anti-join — cut once instead of replaying the affected-set joins
    sub_docs = (
        affected.select("doc_id")
        .unionByName(new_docs.select("doc_id"))
        .unionByName(pair_ids)
        .distinct()
        .localCheckpoint(eager=False)
    )
    sub_pairs = star_edges.unionByName(new_pairs.select("doc_a", "doc_b")).distinct()
    refreshed = dedup_clusters(sub_docs, sub_pairs, max_iter=max_iter).select(
        "doc_id", "cluster_id"
    )
    untouched = old_assign.join(sub_docs, "doc_id", "left_anti").select(
        "doc_id", "cluster_id"
    )
    return (
        untouched.unionByName(refreshed)
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
        .orderBy("doc_id")
    )


SPAN_N = H.SHINGLE_N  # tokens per span gram


def duplicate_span_extents(docs: DataFrame, n: int = SPAN_N) -> DataFrame:
    """dd9: exact-substring dedup EXTENTS — for every document, the
    merged token intervals covered by word n-grams that occur at least
    twice anywhere in the corpus (including self-repetition). This is
    the actionable output of Lee et al.-style exact-substring dedup:
    dd8 says HOW MUCH of a doc is duplicated; dd9 says exactly WHICH
    token ranges a strip pass should cut.

    Shape: positions explode map-side (one row per gram occurrence,
    keeping its token offset); occurrence counts come from one COUNT
    window on the gram hash (same trick as dd8 — no join back); the
    interval merge is gaps-and-islands per doc: sorted by position,
    a new island starts when the gap to the previous gram exceeds the
    gram width, islands are cumulative sums of those flags, and each
    island aggregates to (start, end, tokens). Shuffles: hash-window +
    doc window + island agg — all linear in total gram occurrences.
    """
    from pyspark.sql.window import Window

    par = docs.sparkSession.sparkContext.defaultParallelism
    shingle = f"array_join(slice(words, i, {n}), ' ')"
    grams = (
        docs.repartition(par, "doc_id")
        .select("doc_id", F.split("text", " ").alias("words"))
        .select(
            "doc_id",
            F.size("words").alias("n_tokens"),
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, greatest(size(words) - {n - 1}, 1)), "
                    f"i -> {H.spark_hash60(shingle)})"
                )
            ).alias("pos0", "h"),
        )
        .select("doc_id", "n_tokens", (F.col("pos0") + 1).alias("p"), "h")
    )
    occ = F.count("*").over(Window.partitionBy("h"))
    marked = (
        grams.withColumn("occ", occ)
        .filter(F.col("occ") >= 2)
        .select("doc_id", "n_tokens", "p")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("p")
    flagged = marked.withColumn(
        "new_island",
        (F.col("p") > F.coalesce(F.lag("p").over(wdoc), F.lit(-10)) + n).cast("long"),
    ).withColumn(
        "island",
        F.sum("new_island").over(wdoc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy("doc_id", "island")
        .agg(
            F.min("p").cast("long").alias("span_start"),
            # clamp to the document's token count: a doc shorter than
            # the gram width n uses the whole-doc fallback gram, whose
            # unclamped end (p + n - 1) would point past the last token
            F.least(F.max("p") + (n - 1), F.max("n_tokens")).cast("long").alias("span_end"),
        )
        .withColumn("span_tokens", F.col("span_end") - F.col("span_start") + 1)
        .select("doc_id", "span_start", "span_end", "span_tokens")
        .orderBy("doc_id", "span_start")
    )


def strip_duplicated_spans(docs: DataFrame, n: int = SPAN_N) -> DataFrame:
    """dd10: APPLY dd9's strip list — the pass that actually rewrites
    the corpus. Every token inside a dd9 extent is removed (Lee et
    al.-style ExactSubstr dedup strips every occurrence of a duplicated
    span, originals included — the paper's own semantics); the
    survivors rejoin into ``stripped_text``. Emits per-doc before/after
    token accounting, so the output is both the cleaned corpus and its
    audit trail.

    Shape: dd9's extents (zero joins, linear in gram occurrences)
    collect to one small span array per affected doc; a LEFT join back
    to the corpus on doc_id (most docs have no spans and pass through
    untouched); the strip itself is one map-side higher-order filter
    over (position, word) pairs — no explode of the corpus, no second
    shuffle beyond the span collection.
    """
    spans = (
        duplicate_span_extents(docs, n)
        .groupBy("doc_id")
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("spans")
        )
    )
    kept = F.expr(
        "filter(transform(sequence(1, size(words)), "
        "i -> struct(i as p, element_at(words, i) as w)), "
        "s -> spans IS NULL OR "
        "size(filter(spans, sp -> s.p >= sp.span_start AND s.p <= sp.span_end)) = 0)"
    )
    return (
        docs.select("doc_id", F.split("text", " ").alias("words"))
        .join(spans, "doc_id", "left")
        .withColumn("kept", kept)
        .select(
            "doc_id",
            F.array_join(F.col("kept.w"), " ").alias("stripped_text"),
            F.size("words").cast("long").alias("n_tokens_before"),
            F.size("kept").cast("long").alias("n_tokens_after"),
            (F.size("words") - F.size("kept")).cast("long").alias("n_removed"),
        )
        .orderBy("doc_id")
    )


def cluster_consolidation(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    """dd11: the SemDeDup consolidation report — per multi-document
    near-dup cluster: size, the kept canonical (= the cluster label,
    min doc_id), total chars, and chars SAVED by dropping the
    non-canonical members. The text-corpus rendition of the
    reference's wasted-space accounting (A13) applied to dd7's
    components — the number a curation run reports as its dedup win.

    Scale shape: one equi-join of the O(docs) assignment table with
    the pruned (doc_id, n_chars) projection, one hash agg on
    cluster_id. Everything upstream (pair generation, contraction) is
    dd3/dd7's bucketed machinery.
    """
    joined = clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
    return (
        joined.groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars_total"),
            F.sum(
                F.when(~F.col("is_canonical"), F.col("n_chars")).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("chars_saved"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("cluster_id")
    )


def quality_keeper(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    """dd15: QUALITY-AWARE canonical selection — per multi-document
    near-dup cluster, keep the highest-t2-quality member instead of
    dd7's min-doc_id convention (what a production curation pipeline
    actually does: near-dup groups often pair a clean original with a
    boilerplate-wrapped scrape, and min-id keeps the wrong one ~half
    the time). ``upgraded`` marks clusters where the quality choice
    differs from the min-id canonical.

    Scale shape: the t2 composite is a pure map-side expression (the
    shared :func:`~file_indexer_spark.operators.text.quality_signal_columns`
    definition, so a rule change cannot diverge this consumer); the
    assignment join is O(docs); both windows share the cluster_id
    partitioning, so the selection costs ONE shuffle beyond dd7's
    machinery. Determinism: the composite is +,*,/ double arithmetic
    (exact-rounded IEEE, engine-stable); ties break on doc_id.
    """
    from pyspark.sql import Window

    from file_indexer_spark.operators.text import (
        quality_composite,
        quality_signal_columns,
    )

    sig = quality_signal_columns()
    scored = docs.select(
        "doc_id", *[expr.alias(name) for name, expr in sig.items()]
    ).select("doc_id", quality_composite().alias("q"))
    joined = clusters.select("doc_id", "cluster_id").join(scored, "doc_id")
    w_rank = Window.partitionBy("cluster_id").orderBy(F.desc("q"), "doc_id")
    w_all = Window.partitionBy("cluster_id")
    return (
        joined.select(
            "cluster_id",
            "doc_id",
            "q",
            F.row_number().over(w_rank).alias("rn"),
            F.count("*").over(w_all).alias("n_docs"),
        )
        .filter((F.col("rn") == 1) & (F.col("n_docs") >= 2))
        .select(
            "cluster_id",
            F.col("doc_id").alias("keeper_doc_id"),
            F.round("q", 6).alias("keeper_quality"),
            F.col("n_docs").cast("long").alias("n_docs"),
            (F.col("doc_id") != F.col("cluster_id")).alias("upgraded"),
        )
        .orderBy("cluster_id")
    )


def split_contamination(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """dd16: the train/test LEAKAGE AUDIT — near-dup pairs whose
    members land on different sides of the content-hash split (sp1's
    md5 rule). Every such pair is an eval-set contamination: the model
    trains on a near-copy of a test document. This is the measurement
    that motivates sp10's cluster-level split.

    Scale shape: the split tag is a map-side md5 projection on each
    pair side (two narrow joins against the O(docs) tag table — at
    100 TB these are shuffle joins on doc_id, the pair table's natural
    key); the rollup is O(split-pair classes) = at most 3 rows.
    Pair direction is normalized with least/greatest so (train, test)
    and (test, train) count as one class.
    """
    from file_indexer_spark.operators.sampling import split_expr

    tags = docs.select("doc_id", split_expr(F.col("doc_id")).alias("split"))
    a = tags.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    b = tags.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .groupBy(
            F.least("split_a", "split_b").alias("split_lo"),
            F.greatest("split_a", "split_b").alias("split_hi"),
        )
        .agg(F.count("*").cast("long").alias("n_leaked_pairs"))
        .orderBy("split_lo", "split_hi")
    )


def minhash_calibration(docs: DataFrame) -> DataFrame:
    """dd17: the sketch-calibration harness — for every LSH CANDIDATE
    pair (band-matched, NOT threshold-filtered: calibration needs the
    sub-threshold population too), the signature-estimated Jaccard
    beside the exact shingle Jaccard and their error. sim15's
    "measure, don't guess" discipline applied to the dd-family: this
    is the evidence behind the 32-perm / 8×4-band choice dd3
    documents, as a gated operator instead of prose.

    Exactness/determinism: ALL integers. The estimate is
    ``matches × 31250`` (= matches/32 in 1e-6 units, exact because
    1e6/32 divides); the exact Jaccard is ``(inter × 1e6) DIV union``
    (BIGINT floor-division); the error is their absolute difference.
    No float ever accumulates, so the gate is bit-for-bit.

    Scale shape: dd3's machinery verbatim (one sig agg, band-bucketed
    candidate join, bounded posting lists); the signature comparison
    is a map-side zip_with over two 32-element arrays per candidate
    pair.
    """
    sets = _shingle_sets(docs)
    sigs = _minhash_sigs(sets)
    bands = _minhash_bands(sets)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.digest") == F.col("b.digest"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sig_a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sig_b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    set_a = sets.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    set_b = sets.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    matches = F.expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), m -> m))")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("long")
    union = (F.size("sh_a") + F.size("sh_b")).cast("long") - inter
    return (
        cand.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .join(set_a, "doc_a")
        .join(set_b, "doc_b")
        .withColumn("sig_matches", matches.cast("integer"))
        .withColumn("inter", inter)
        .withColumn("uni", union)
        .select(
            "doc_a",
            "doc_b",
            "sig_matches",
            (F.col("sig_matches").cast("long") * F.lit(1_000_000 // H.NUM_PERM)).alias(
                "est_e6"
            ),
            F.expr("(inter * 1000000) DIV uni").alias("exact_e6"),
        )
        .withColumn("abs_err_e6", F.abs(F.col("est_e6") - F.col("exact_e6")))
        .orderBy("doc_a", "doc_b")
    )
