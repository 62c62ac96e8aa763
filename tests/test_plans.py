"""Plan-shape assertions: the properties that matter at 100 TB.

Correct answers at sf0.01 are necessary, not sufficient — these tests
pin pushdown, pruning, forced-broadcast discipline and shuffle counts
so a regression shows up as a failing test, not a cluster incident."""

from __future__ import annotations

from pyspark.sql import functions as F

from file_indexer_spark.operators import duplicates as dup
from file_indexer_spark.tables import files_df, load_table
from tests import plan_inspect as pi


def test_files_derivation_prunes_text_column(spark, sf_smoke):
    """documents.text is wide; the files derivation must not read it."""
    cols = pi.scan_columns(files_df(spark, sf_smoke))
    assert "text" not in cols
    assert {"doc_id", "source", "lang", "n_chars"} <= cols


def test_search_filters_push_into_scan(spark, sf_smoke):
    df = load_table(spark, sf_smoke, "documents").filter(
        (F.col("n_chars") > 100) & (F.col("lang") == "en")
    ).select("doc_id")
    pushed = pi.pushed_filters(df)
    assert any("n_chars" in f for f in pushed), pushed
    assert any("lang" in f for f in pushed), pushed
    assert pi.scan_columns(df) == {"doc_id", "n_chars", "lang"}


def test_unbounded_duplicate_groups_has_no_forced_broadcast(spark, sf_smoke):
    """The J3 path (limit=None) must leave join strategy to AQE — a
    forced broadcast of an unbounded group set OOMs at scale."""
    files = files_df(spark, sf_smoke)
    unbounded = dup.duplicate_groups(files, min_group_size=2, filename_pattern="%.fr")
    assert not pi.has_broadcast_hint(unbounded)
    paged = dup.duplicate_groups(files, min_group_size=2, limit=100)
    assert pi.has_broadcast_hint(paged)


def test_duplicate_files_single_shuffle(spark, sf_smoke):
    """Window-count dedup needs exactly one hash exchange (on checksum)
    before the final sort — no self-join, no extra shuffles."""
    df = dup.duplicate_files(files_df(spark, sf_smoke))
    assert pi.count_exchanges(df) <= 2  # hash on checksum + range for sort


def test_codegen_covers_files_pipeline(spark, sf_smoke):
    df = files_df(spark, sf_smoke).filter(F.col("file_size") > 10)
    assert pi.codegen_stage_count(df) >= 1


# Queries whose physical plan legitimately contains a nested-loop join,
# with the reason each one is bounded (and therefore safe at 100 TB).
_NESTED_LOOP_OK = {
    # 1-row x 1-row cross of two global-aggregate CTEs (basic x dups).
    "a1_database_stats",
    # Brute-force scoring passes: the *query* side is a fixed, small,
    # broadcast set (N_QUERIES rows); the corpus side streams. Work is
    # O(corpus x queries) by design — the exact baseline the ANN
    # variants (sim3, dd3/dd6) exist to replace at scale.
    "sim1_cosine_topk",
    "sim2_ivf_ann",
    "sim4_filtered_ann",  # sim1's scoring shape over a filtered corpus
    "dd5_embedding_neardup",
    # sim6's two-level assignment crosses each row with the BROADCAST
    # coarse-centroid set (sqrt(k) rows) — the bounded scoring pass
    # that replaces the n x k flat cross; fine scoring joins on
    # coarse_id (a real hash join, pinned in its own plan test).
    "sim6_hier_ivf_assign",
    # sd1 = dd5's pair generation + a rollup; the nested loop is the
    # same bounded broadcast-centroid scoring pass as dd5/sim2.
    "sd1_semantic_dedup",
    # t10 crosses the O(vocab) rollup with a broadcast 1-row global
    # n_langs aggregate — bounded by construction (1 x vocab).
    "t10_distinctive_terms",
    # sim5 = dd5's bounded broadcast-centroid assignment pass feeding
    # the salted equi-join k-NN scoring — same shape as dd5/sim2.
    "sim5_knn_join",
    # h9 crosses every customer with the BROADCAST 1-row scalar
    # (total_pos_cents, n_pos) — the Q22 scalar-subquery shape; the
    # orders anti-join is a real hash join (LeftAnti pinned).
    "h9_idle_rich_customers",
    # t12 crosses the O(doc-terms) rollup with the broadcast 1-row
    # n_docs aggregate — t10's exact pattern, bounded 1 x rollup.
    "t12_doc_top_terms",
    # dd6/sim3 bounds companions: 1-row x 1-row crosses of two global
    # count aggregates (n_hit x n_base, bounds.py recall_floor) plus
    # the probe operators' own allow-listed MLlib/broadcast passes.
    "dd6_bounds",
    "sim3_bounds",
    # sim8 bounds companion: crosses four 1-row aggregate frames
    # (cluster stats x n_total x sse_lloyd x sse_seed) — each side is
    # a global aggregate, bounded by construction.
    "sim8_bounds",
    # sim9/sim10 cross every vector with the BROADCAST M x K' = 128-row
    # codebook (and sim10 with the per-query broadcast ADC tables) —
    # the bounded scoring pass of product quantization, same shape as
    # sim6's coarse-centroid assignment.
    "sim9_pq_encode",
    "sim10_ivfpq_topk",
    # sim11 is sim10's serving phase over the parquet-materialized
    # index: the same bounded broadcast crosses (query batch x 128-row
    # codebook, query batch x centroid frame); the code scan joins on
    # centroid_id (a real hash join).
    "sim11_ivfpq_materialized",
    # sim12 adds the batch-encode pass (batch x broadcast frozen
    # codebook / centroids) on top of sim11's serving crosses — all
    # broadcast-bounded; the merged-code scan joins on centroid_id.
    "sim12_ivfpq_append",
    # sim13 is sim11's serving phase over the streamed-in index state —
    # identical bounded broadcast crosses (query batch x 128-row
    # codebook / centroid frame); per-batch ingest work happened inside
    # foreachBatch and is sim12's allow-listed encode shape.
    "sim13_streaming_ann_ingest",
    # sim14 shares sim2's probe stage verbatim (_ivf_scored_candidates):
    # the only nested loop is the bounded broadcast centroid/probe
    # scoring cross; the threshold cut adds no join at all.
    "sim14_range_search",
    # t14 crosses the bigram stream with the BROADCAST 1-row V scalar
    # (distinct-continuation count) — h9's scalar-subquery shape; the
    # LM count joins are real hash/broadcast-hash equi-joins.
    "t14_bigram_surprisal",
    # sim15 composes sim1 + sim2 — both legs' bounded broadcast
    # scoring crosses (N_QUERIES rows x corpus / centroids) are
    # allow-listed above; the recall comparison itself is an equi-join.
    "sim15_recall_eval",
    # sp11 is sim2's broadcast-centroid assignment cross (corpus x
    # bounded centroid frame); the prototype rank adds windows only.
    "sp11_prototype_sample",
    # sim16's candidate stage IS sim1's bounded broadcast scoring
    # cross (N_QUERIES rows x corpus); the pairwise-sim and greedy
    # stages join on query_id (real hash joins over k^2-bounded rows).
    "sim16_mmr_rerank",
    # t15 crosses the (doc, term) tf rows with the broadcast 1-row
    # corpus scalars (N, total tokens) — t10/t12/t14's scalar-subquery
    # shape; df and dl attach via real equi-joins.
    "t15_bm25_topk",
    # e21 crosses every event with the BROADCAST 1-row max-ts anchor —
    # h9/t10's scalar-subquery shape; the aggregate is a real hash agg.
    "e21_decayed_engagement",
    # t16/t17 serve t15's scoring from the materialized index — the
    # same broadcast 1-row corpus-scalars cross (t17 adds the 1-row x
    # 1-row stored-scalars x batch-scalars merge); postings/doclen
    # attach via real equi-joins (term pushdown plan-pinned).
    "t16_bm25_materialized",
    "t17_bm25_append",
    # t17b/t18 are the same serve shape (broadcast 1-row scalar
    # crosses); t17b's displacement joins are broadcast anti/semi
    # equi-joins on doc_id, t18's compaction adds no join at all.
    "t17b_bm25_upsert",
    "t18_bm25_compaction",
    # dd20 builds its edge list with sim5's allow-listed bounded
    # broadcast-centroid scoring pass; the PPR iteration itself joins
    # on src/dst (real hash joins over the kNN subgraph).
    "dd20_personalized_pagerank",
    # dd22 rides the same sim5 kNN edge construction; the label
    # rounds themselves are src/dst equi-joins + (dst, label) aggs.
    "dd22_label_propagation",
    # t19 is t16's serve shape over the streamed-in state (broadcast
    # 1-row corpus-scalars cross; postings/doclen real equi-joins).
    "t19_streaming_lexical_ingest",
    # dd23 rides sim5's kNN edge construction TWICE (base + union);
    # the diff/component/propagation joins are all equi-joins.
    "dd23_lp_refresh",
    # sim17 = sim12's allow-listed batch-encode crosses (batch x
    # broadcast frozen codebook / centroids) + sim11's serving crosses;
    # the tombstone mask is a broadcast ANTI equi-join on vec_id and
    # the delta attaches by unionByName — no new nested loop.
    "sim17_ivfpq_upsert",
    # sim18 serves the compacted re-reads through sim11's exact shape
    # (the same bounded broadcast crosses); the compaction fold itself
    # is sim17's anti-join + union, then a layout write.
    "sim18_ivfpq_compaction",
    # sim19 composes sim10's allow-listed serving crosses + t15's
    # 1-row scalar cross, and adds ONE bounded broadcast cross of its
    # own (n_queries distinct ids x the k-row lexical top-k list);
    # the leg merge itself is a full-outer EQUI-join on
    # (query_id, doc_id) over two top-k-truncated inputs.
    "sim19_hybrid_rrf",
    # st19 serves sim11's exact shape over the mask-folded CDC state
    # (the same bounded broadcast crosses); per-batch ingest work ran
    # inside foreachBatch and is sim12's allow-listed encode shape;
    # the tombstone mask is a broadcast LEFT equi-join on vec_id.
    "st19_cdc_dense_ingest",
}


def test_no_accidental_cartesian_products(spark, sf_smoke, query_df):
    """Every registered query must plan without a CartesianProduct or an
    unlisted BroadcastNestedLoopJoin. A missing equi-join key silently
    degrades to a nested loop — correct at sf0.01, quadratic at scale —
    so any new occurrence must be added to the whitelist with a reason.

    Gate construction is shared with the oracle diff via the
    session-scoped ``query_df`` cache (round-13 suite-runtime fix) —
    this test previously re-constructed all 224 gates (including their
    parquet materializations) for 417 s of plan-only work."""
    from file_indexer_spark.registry import QUERIES

    offenders: dict[str, list[str]] = {}
    py_offenders: list[str] = []
    for name in QUERIES:
        plan = pi.simple_plan(query_df(name))
        hits = [t for t in ("CartesianProduct", "BroadcastNestedLoopJoin") if t in plan]
        if hits and name not in _NESTED_LOOP_OK:
            offenders[name] = hits
        # round 13: no registered query may cross the JVM↔Python
        # boundary (guide §4) — no whitelist, no exceptions
        if "EvalPython" in plan:
            py_offenders.append(name)
    assert not offenders, offenders
    assert not py_offenders, py_offenders


def test_sampling_operators_prune_text_and_stay_lean(spark, sf_smoke):
    """sp2 never needs document text: its scan must read only
    doc_id/source. sp3 reads text (token counts) but needs exactly one
    shuffle per packer window + the output sort — no hidden joins."""
    from file_indexer_spark.operators import sampling as sp
    from file_indexer_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    cols = pi.scan_columns(sp.source_cap_sample(docs, cap=20))
    assert "text" not in cols, cols
    assert {"doc_id", "source"} <= cols

    packed = sp.sequence_pack(docs)
    # window over packer (1 exchange); no join in the plan at all
    assert pi.count_exchanges(packed) == 1, pi.simple_plan(packed)
    assert "Join" not in pi.simple_plan(packed)


def test_dedup_clusters_iterates_only_over_pair_subgraph(spark):
    """The corpus side must not enter the propagation loop: labels are
    built from the edge list alone, so a corpus of N docs with 2 pairs
    iterates over <= 4 label rows."""
    from pyspark.sql import functions as F

    from file_indexer_spark.operators import dedup as dd

    docs = spark.range(0, 10_000).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "doc_a long, doc_b long")
    out = dd.dedup_clusters(docs, pairs)
    assert out.filter("doc_id != cluster_id").count() == 2  # 2 and 4
    assert out.count() == 10_000


def test_curation_operators_plan_shapes(spark, sf_smoke):
    """ch1 chunking must be shuffle-free up to its presentation sort
    (map-side Generate only, no join); ct2's compliance sweep is one
    scan + one rollup exchange; mx1 reads only doc_id/source."""
    from file_indexer_spark.operators import curation as cu
    from file_indexer_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")

    chunks = cu.token_chunking(docs)
    plan = pi.simple_plan(chunks)
    assert "Join" not in plan
    # only the final orderBy's range exchange — no hash shuffle
    assert pi.count_exchanges(chunks) <= 1, plan

    scrub = cu.pii_scrub(docs)
    assert "Join" not in pi.simple_plan(scrub)
    assert pi.count_exchanges(scrub) <= 2  # partial->final agg + sort

    mix = cu.mixture_resample(docs)
    assert "text" not in pi.scan_columns(mix)
    assert {"doc_id", "source"} <= pi.scan_columns(mix)


def test_relational_star_join_plan_shapes(spark, sf_smoke):
    """h1-h3: date predicates must reach the orders scan; h3's EXISTS
    must plan as a semi join; e7's as-of must contain NO join at all
    (the union-and-window formulation) and shuffle once on user_id
    plus its presentation sort."""
    from file_indexer_spark.operators import events as ev
    from file_indexer_spark.operators import relational as rel
    from file_indexer_spark.tables import events_df, load_table

    t = lambda n: load_table(spark, sf_smoke, n)  # noqa: E731

    h1 = rel.regional_revenue(
        t("customer"), t("orders"), t("lineitem"), t("supplier"), t("nation"), t("region")
    )
    assert any("o_orderdate" in f for f in pi.pushed_filters(h1))
    # lineitem scan reads only the 4 columns the query needs
    assert {"l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"} <= pi.scan_columns(h1)
    assert "l_quantity" not in pi.scan_columns(h1)

    h3 = rel.order_priority_counts(t("orders"), t("lineitem"))
    plan = pi.simple_plan(h3)
    # EXISTS must run as pre-agg + equi join, NOT a semi join that
    # hash-builds the lineitem side (measured 4.9x at 10x data)
    assert "LeftSemi" not in plan, plan
    assert any("l_shipdate" in f for f in pi.pushed_filters(h3)), pi.pushed_filters(h3)

    # h4: single scan reading only the 7 used columns, date pushed,
    # no join anywhere in the plan
    h4 = rel.pricing_summary(t("lineitem"))
    assert any("l_shipdate" in f for f in pi.pushed_filters(h4))
    assert "l_partkey" not in pi.scan_columns(h4)
    assert "Join" not in pi.simple_plan(h4)

    # h5: both date predicates and the segment filter reach their
    # scans; no forced broadcast (customer grows with SF)
    h5 = rel.shipping_priority(t("customer"), t("orders"), t("lineitem"))
    assert any("c_mktsegment" in f for f in pi.pushed_filters(h5))
    assert any("o_orderdate" in f for f in pi.pushed_filters(h5))
    assert any("l_shipdate" in f for f in pi.pushed_filters(h5))
    assert not pi.has_broadcast_hint(h5)
    assert "TakeOrdered" in pi.simple_plan(h5)

    e7 = ev.asof_last_match(events_df(spark, sf_smoke))
    plan = pi.simple_plan(e7)
    assert "Join" not in plan, plan
    assert pi.count_exchanges(e7) <= 2  # hash on user_id + range sort

    e8 = ev.rolling_daily_value(events_df(spark, sf_smoke))
    # daily partial agg -> window -> sort: no join anywhere
    assert "Join" not in pi.simple_plan(e8)


def test_inference_and_sharding_stay_jvm_side(spark, sf_smoke):
    """inf1/sp4 are scan-bound map-side programs: no Python UDF stage
    (BatchEvalPython/ArrowEvalPython) and no shuffle before the tiny
    rollup; t7's ROLLUP is one Expand + agg, not a union of queries."""
    from file_indexer_spark.operators import inference as inf
    from file_indexer_spark.operators import sampling as sp
    from file_indexer_spark.operators import text as tx
    from file_indexer_spark.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    docs = load_table(spark, sf_smoke, "documents")

    # (query, max exchanges): inf1 = agg + sort; sp4's COUNT(DISTINCT
    # source) legitimately needs the two-phase distinct agg's extra one
    for df, max_ex in (
        (inf.classifier_scores(emb), 2),
        (sp.shard_assignment(docs), 3),
    ):
        plan = pi.simple_plan(df)
        assert "EvalPython" not in plan, plan
        assert "Join" not in plan, plan
        assert pi.count_exchanges(df) <= max_ex, plan

    rollup = tx.rollup_token_totals(docs)
    plan = pi.simple_plan(rollup)
    assert "Expand" in plan, plan
    assert "Union" not in plan, plan


def test_round4_operator_plan_shapes(spark, sf_smoke):
    """Round-4 additions keep their 100 TB shapes: h6 pushes every
    predicate into the scan and reads only needed columns; dd8 plans no
    join at all (window df, not agg+join-back); ct5's two windows share
    one source shuffle; sp5/mx2 never window the corpus (only tiny
    per-stratum rollups)."""
    from file_indexer_spark.operators import curation as cu
    from file_indexer_spark.operators import dedup as dd
    from file_indexer_spark.operators import relational as rel
    from file_indexer_spark.operators import sampling as sp
    from file_indexer_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    lineitem = load_table(spark, sf_smoke, "lineitem")

    # h6 (Q6): all three predicates reach the parquet reader; the scan
    # reads only the four referenced columns; no join anywhere.
    h6 = rel.revenue_forecast(lineitem)
    pushed = pi.pushed_filters(h6)
    assert any("l_shipdate" in f for f in pushed), pushed
    assert any("l_quantity" in f for f in pushed), pushed
    assert pi.scan_columns(h6) == {
        "l_shipdate", "l_quantity", "l_discount", "l_extendedprice"
    }
    assert "Join" not in pi.simple_plan(h6)

    # dd8: window-based df — no join; shuffles = repartition(shingle
    # checkpoint) + window on h + agg on doc_id + presentation sort.
    dd8 = dd.duplicate_spans(docs)
    plan = pi.simple_plan(dd8)
    assert "Join" not in plan, plan
    assert pi.count_exchanges(dd8) <= 4, plan

    # ct5: the count window and the row_number window share one
    # exchange on source; + final rollup agg and sort.
    ct5 = cu.quality_rank_filter(docs)
    assert "EvalPython" not in pi.simple_plan(ct5)
    assert pi.count_exchanges(ct5) <= 3, pi.simple_plan(ct5)

    # sp5/mx2: no window function over corpus-sized input — windows (if
    # any) run over the O(strata)/O(sources) rollup only; no Python.
    for df in (sp.stratified_sample(docs), cu.temperature_mixture(docs)):
        assert "EvalPython" not in pi.simple_plan(df)


def test_dd9_and_e13_plan_shapes(spark, sf_smoke):
    """dd9 must plan with no join (window df + islands windows only);
    e13a must plan a single aggregation pass (HLL partials), while
    exact e13 legitimately needs the two-phase distinct expansion."""
    from file_indexer_spark.operators import dedup as dd
    from file_indexer_spark.operators import events as ev
    from file_indexer_spark.tables import events_df, load_table

    docs = load_table(spark, sf_smoke, "documents")
    dd9 = dd.duplicate_span_extents(docs)
    plan = pi.simple_plan(dd9)
    assert "Join" not in plan, plan
    assert "EvalPython" not in plan, plan

    evs = events_df(spark, sf_smoke)
    approx = ev.daily_uniques_approx(evs)
    # sketch path: one agg (partial+final) + sort — no Expand, no
    # second distinct-dedup exchange
    assert "Expand" not in pi.simple_plan(approx)
    assert pi.count_exchanges(approx) <= 2, pi.simple_plan(approx)


def test_hierarchical_ivf_plan_shape(spark, sf_smoke):
    """The two-level IVF assignment (n_centroids > _HIER_THRESHOLD)
    must stay JVM-side and join only broadcast-sized sides: no
    EvalPython, coarse routing and fine scoring both via broadcast —
    the vector stream is never hash-exchanged onto a centroid key."""
    from file_indexer_spark.operators import similarity as sm
    from file_indexer_spark.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    assign = sm.ivf_assignments(emb, n_centroids=sm._HIER_THRESHOLD + 72)
    plan = pi.simple_plan(assign)
    assert "EvalPython" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # flat path unchanged: small k still plans the single broadcast
    flat = sm.ivf_assignments(emb, n_centroids=8)
    assert "BroadcastNestedLoopJoin" in pi.simple_plan(flat) or "BroadcastHashJoin" in (
        pi.simple_plan(flat)
    ), pi.simple_plan(flat)


def test_round5_operator_plan_shapes(spark, sf_smoke):
    """dd10/sp6/sim7 stay JVM-side with the minimal shuffle budget:
    dd10 = dd9's windows + ONE join back (no cartesian), sp6 = sharded
    window (never a single global sort before the presentation
    orderBy), sim7 = map-side only (spread + presentation sort)."""
    from file_indexer_spark.operators import dedup as dd
    from file_indexer_spark.operators import sampling as sp
    from file_indexer_spark.operators import similarity as sm
    from file_indexer_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    emb = load_table(spark, sf_smoke, "embeddings")

    strip = pi.simple_plan(dd.strip_duplicated_spans(docs))
    assert "EvalPython" not in strip
    assert "CartesianProduct" not in strip and "BroadcastNestedLoopJoin" not in strip

    shuffle = pi.simple_plan(sp.epoch_shuffle(docs))
    assert "EvalPython" not in shuffle
    assert "Window" in shuffle  # sharded rank, not a global row_number

    quant = sm.quantize_embeddings(emb)
    plan = pi.simple_plan(quant)
    assert "EvalPython" not in plan
    assert "Join" not in plan and "Window" not in plan, plan
    # map-side work only: the spread repartition + presentation sort
    assert pi.count_exchanges(quant) <= 2, plan


def test_h7_single_lineitem_pass_and_topk(spark, sf_smoke):
    """h7 (Q18 shape): exactly one lineitem aggregation pass (the
    rewrite reuses the HAVING sum instead of re-joining lineitem), and
    the final order is TakeOrderedAndProject, never a global sort."""
    from file_indexer_spark.operators import relational as rel
    from file_indexer_spark.tables import load_table

    t = lambda n: load_table(spark, sf_smoke, n)  # noqa: E731
    h7 = rel.large_volume_customers(t("customer"), t("orders"), t("lineitem"))
    plan = pi.simple_plan(h7)
    assert "TakeOrderedAndProject" in plan, plan
    assert "EvalPython" not in plan
    # one scan per table (3 total) — the classic Q18 re-join would
    # show a fourth (second lineitem) scan
    assert plan.count("Scan parquet") == 3, plan


def test_round6_join_shapes(spark, sf_smoke):
    """h8/h9/h10 + e15: the round-6 join pack's 100 TB properties."""
    from file_indexer_spark.operators import relational as rel
    from file_indexer_spark.streaming import joins as sjoins
    from file_indexer_spark.tables import events_df, load_table

    t = lambda n: load_table(spark, sf_smoke, n)  # noqa: E731

    # h8 (Q13): the order-side exclusion must push into the scan
    # (applied pre-join), the join stays LeftOuter (zero bucket), and
    # no forced broadcast (both sides grow with SF)
    h8 = rel.order_count_distribution(t("customer"), t("orders"))
    assert any("o_orderpriority" in f for f in pi.pushed_filters(h8)), (
        pi.pushed_filters(h8)
    )
    assert "LeftOuter" in pi.simple_plan(h8)
    assert not pi.has_broadcast_hint(h8)
    # orders scan reads only the 3 needed columns
    assert "o_totalprice" not in pi.scan_columns(h8)

    # h9 (Q22): scalar aggregate broadcasts (1 row forever), the
    # no-orders test plans as LeftAnti, balances never float-sum
    h9 = rel.idle_rich_customers(t("customer"), t("orders"))
    plan = pi.simple_plan(h9)
    assert "LeftAnti" in plan, plan
    assert pi.has_broadcast_hint(h9)

    # h10 (Q7): nation joins broadcast (25 rows forever); lineitem scan
    # prunes to the 4 used columns; the pair filter is NOT a cartesian
    h10 = rel.nation_trade_volume(
        t("lineitem"), t("orders"), t("customer"), t("supplier"), t("nation")
    )
    assert pi.has_broadcast_hint(h10)
    assert "CartesianProduct" not in pi.simple_plan(h10)
    assert "l_quantity" not in pi.scan_columns(h10)
    assert {"l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"} <= (
        pi.scan_columns(h10)
    )

    # e15: both type filters push to the scans; the range predicate is
    # an equi-join on user_id with the interval as a post-condition,
    # never a cartesian
    e15 = sjoins.view_purchase_pairs(events_df(spark, sf_smoke))
    assert any("event_type" in f for f in pi.pushed_filters(e15))
    plan = pi.simple_plan(e15)
    assert "CartesianProduct" not in plan and "Join" in plan


def test_round6b_operator_plan_shapes(spark, sf_smoke):
    """t12/h11/m7: the second round-6 batch's scale properties."""
    from file_indexer_spark.operators import multimodal as mm
    from file_indexer_spark.operators import relational as rel
    from file_indexer_spark.operators import text as tx
    from file_indexer_spark.tables import load_table

    t = lambda n: load_table(spark, sf_smoke, n)  # noqa: E731

    # t12: words shuffle once; the tf rollup is checkpointed so the df
    # branch reads the pinned rollup, never a second corpus
    # explode+agg — the Generate must NOT appear once per branch
    # (uncheckpointed it shows 2-3 times; behind the checkpoint
    # boundary it shows 0)
    t12 = tx.doc_top_terms(t("documents"))
    plan = pi.simple_plan(t12)
    assert plan.count("Generate") <= 1, plan
    assert pi.has_broadcast_hint(t12)  # the 1-row n_docs scalar

    # h11: date window pushed into the lineitem scan; scalar max joins
    # back by equality, no cartesian blowup beyond the 1-row broadcast
    h11 = rel.top_revenue_suppliers(t("lineitem"), t("supplier"))
    assert any("l_shipdate" in f for f in pi.pushed_filters(h11))
    assert pi.has_broadcast_hint(h11)

    # m7: decode + frame analysis is ONE mapInPandas where blobs sit —
    # no exchange anywhere before the presentation sort
    media = mm.pcm_media_from_docs(t("documents"))
    m7 = mm.audio_frame_energy(media)
    assert pi.count_exchanges(m7) == 0, pi.simple_plan(m7)


def test_round7_operator_plan_shapes(spark, sf_smoke):
    """Round-7 scale properties: m7c's decode+fingerprint is
    zero-exchange up to one group shuffle; the recall companions never
    materialize pairs driver-side and carry no cartesian beyond 1-row
    scalar crosses; st11's final-state reduction is one window over the
    small changelog."""
    from file_indexer_spark.operators import bounds as bd
    from file_indexer_spark.operators import dedup as dd
    from file_indexer_spark.operators import multimodal as mm
    from file_indexer_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")

    # m7c: envelope fingerprint is partition-local mapInPandas (zero
    # exchanges); grouping adds exactly the one hash shuffle on the
    # fingerprint key (+ at most a range partition for the final sort)
    media = mm.pcm_media_from_docs(docs)
    env = mm.audio_envelope(media)
    assert pi.count_exchanges(env) == 0, pi.simple_plan(env)
    groups = mm.audio_duplicate_groups(media)
    assert pi.count_exchanges(groups) <= 2, pi.simple_plan(groups)

    # dd6_bounds shape: recall reduction = left-semi pair join + two
    # 1-row aggregates crossed; the ONLY join of unbounded inputs is
    # the semi join on the pair key (hash/sort-merge), and the crosses
    # are single-row — a real cartesian of corpus-sized sides would
    # show as a nested loop over non-aggregate children
    rf = bd.recall_floor(
        dd.minhash_lsh_pairs(docs).select("doc_a", "doc_b"),
        dd.minhash_lsh_pairs(docs).select("doc_a", "doc_b"),
        ["doc_a", "doc_b"], 0.9, 20, "recall",
    )
    plan = pi.simple_plan(rf)
    assert "LeftSemi" in plan, plan

    # percentile bounds: the rank pass is ONE aggregation over raw with
    # the approx rows broadcast — no corpus self-join
    from file_indexer_spark.operators import text as tx

    pb = bd.percentile_bounds(
        docs, tx.length_percentiles(docs), tx.length_percentiles_approx(docs),
        "source", "n_chars", [("p50_chars", 0.5)],
    )
    assert pi.has_broadcast_hint(pb)


def test_point_lookup_pushes_pk_filters_into_scan(spark, sf_smoke, tmp_path):
    """w12: the pruned point read must push BOTH PK literals into the
    single-dir parquet scan (row-group min/max skipping composes with
    the bucket pruning) — a post-scan filter would read the whole dir."""
    from file_indexer_spark.indexer.files_table import FilesTable
    from file_indexer_spark.tables import files_df

    t = FilesTable(spark, str(tmp_path / "db"), buckets=16)
    original = files_df(spark, sf_smoke)
    t.overwrite(original)
    key = original.orderBy("path", "filename").first()
    out = t.point_lookup(key["path"], key["filename"])
    pushed = " ".join(pi.pushed_filters(out))
    assert "path" in pushed and "filename" in pushed


def test_round9b_operator_plan_shapes(spark, sf_smoke):
    """Round-9b scale properties: sp8's repeat generation is pure
    map-side (the only exchange is the output sort's range partition);
    t13's scoring pass has no join at all (vocab inlined as a literal);
    sim14 shares sim2's probe stage and adds no window over the scored
    stream."""
    from file_indexer_spark.operators import sampling as sp
    from file_indexer_spark.operators import similarity as sim
    from file_indexer_spark.operators import text as tx
    from file_indexer_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    emb = load_table(spark, sf_smoke, "embeddings")

    # sp8: Generate (posexplode) directly over the scan; exactly one
    # exchange (the deterministic output sort), and the text column is
    # never read
    rep = sp.weighted_repeat(docs)
    plan = pi.simple_plan(rep)
    assert pi.count_exchanges(rep) == 1, plan
    assert "Generate" in plan, plan
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans and all("text" not in ln for ln in scans), plan

    # t13: the returned scoring frame joins nothing — the head vocab is
    # a literal IN-list, so the plan is scan -> project -> sort
    cov = tx.vocab_coverage(docs)
    plan = pi.simple_plan(cov)
    assert "Join" not in plan, plan

    # sim14: threshold cut instead of per-query top-k — the ONLY window
    # is the probe ranking over the bounded queries x centroids frame
    # (sim2's plan has a second one over the corpus-sized scored
    # stream); the probe set stays broadcast-joined to the corpus
    rng = sim.ivf_range_search(emb)
    plan = pi.simple_plan(rng)
    scored_windows = [
        ln
        for ln in plan.splitlines()
        if "row_number" in ln and "neighbor_id" in ln
    ]
    assert not scored_windows, plan
    assert "BroadcastExchange" in plan or "broadcast" in plan.lower(), plan

    # dd14: identical shuffle budget to dd2 (shared overlap stage);
    # the direction fan-out is a map-side Generate, not a join
    from file_indexer_spark.operators import dedup as dd

    dd2 = dd.ngram_jaccard_pairs(docs)
    dd14 = dd.containment_pairs(docs)
    assert pi.count_exchanges(dd14) == pi.count_exchanges(dd2), pi.simple_plan(dd14)
    assert "Generate" in pi.simple_plan(dd14)

    # e17: e1's one-key-shuffle discipline — no joins, window passes
    # share the (user, type) partitioning
    from file_indexer_spark.operators import events as evo
    from file_indexer_spark.tables import events_df

    deb = evo.debounce_events(events_df(spark, sf_smoke))
    plan = pi.simple_plan(deb)
    assert "Join" not in plan, plan
    assert pi.count_exchanges(deb) <= 3, plan

    # sp9: fully-kept quality groups pass via a semi-join (no ordering
    # work); the only DOC-level window partitions by q_milli (the one
    # boundary group) — a corpus-order cumsum would show as an
    # unpartitioned window over n_tokens
    sel = sp.budget_select(docs)
    plan = pi.simple_plan(sel)
    assert "LeftSemi" in plan, plan
    doc_windows = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "n_tokens" in ln
    ]
    assert doc_windows and all("q_milli" in ln for ln in doc_windows), plan


def test_round9c_tpch_shape_plans(spark, sf_smoke):
    """The round-9c TPC-H pack's 100 TB properties: predicates reach
    the scans, growing dims are never force-broadcast, and the
    decorrelated forms add no self-join of the fact table."""
    from file_indexer_spark.operators import relational as rel
    from file_indexer_spark.tables import load_table

    lineitem = load_table(spark, sf_smoke, "lineitem")
    part = load_table(spark, sf_smoke, "part")
    orders = load_table(spark, sf_smoke, "orders")
    supplier = load_table(spark, sf_smoke, "supplier")
    nation = load_table(spark, sf_smoke, "nation")
    region = load_table(spark, sf_smoke, "region")
    customer = load_table(spark, sf_smoke, "customer")

    # h12 (Q14): the month predicate reaches the fact scan; part joins
    # declaratively (no forced broadcast — it grows with SF); the part
    # scan reads only the two used columns
    h12 = rel.promo_revenue_share(lineitem, part)
    assert any("l_shipdate" in f for f in pi.pushed_filters(h12))
    assert not pi.has_broadcast_hint(h12)
    assert "p_retailprice" not in pi.scan_columns(h12)

    # h13 (Q17): brand+size push into the part scan; the correlated
    # average is ONE window over the qualifying slice — no join-back,
    # so exactly one Window and no second lineitem scan
    h13 = rel.small_quantity_revenue(lineitem, part)
    pushed = pi.pushed_filters(h13)
    assert any("p_brand" in f for f in pushed), pushed
    assert any("p_size" in f for f in pushed), pushed
    plan = pi.simple_plan(h13)
    assert plan.count("Window") == 1, plan
    lineitem_scans = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln and "l_partkey" in ln
    ]
    assert len(lineitem_scans) == 1, plan

    # h14 (Q19): the hand-stated relaxations of the cross-table
    # disjunction reach BOTH scans
    h14 = rel.disjunctive_band_revenue(lineitem, part)
    pushed = pi.pushed_filters(h14)
    assert any("l_quantity" in f for f in pushed), pushed
    assert any("p_brand" in f for f in pushed), pushed

    # h15 (Q21): the quantifiers collapse to counts — the fact table
    # appears in exactly ONE scan (no EXISTS self-joins), the status
    # predicate reaches the orders scan, and only the bounded nation
    # dim is broadcast by hint
    h15 = rel.waiting_suppliers(lineitem, orders, supplier, nation)
    plan = pi.simple_plan(h15)
    fact_scans = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln and "l_suppkey" in ln
    ]
    assert len(fact_scans) == 1, plan
    assert any("o_orderstatus" in f for f in pi.pushed_filters(h15))
    assert "CartesianProduct" not in plan

    # h16 (Q8): type + date predicates reach their scans; the bounded
    # nation⋈region dim is the only hinted broadcast
    h16 = rel.national_market_share(
        lineitem, orders, customer, supplier, nation, region, part
    )
    pushed = pi.pushed_filters(h16)
    assert any("p_type" in f for f in pushed), pushed
    assert any("o_orderdate" in f for f in pushed), pushed
    assert pi.has_broadcast_hint(h16)
    assert "CartesianProduct" not in pi.simple_plan(h16)


def test_round9c_pipeline_op_plan_shapes(spark, sf_smoke):
    """t14/dd15/sim15 scale properties: no cartesian anywhere; t14's
    LM joins stay on the aggregation keys (broadcast under AQE at
    smoke scale — shuffle joins on the same keys at 100 TB); dd15's
    selection adds only the cluster_id window shuffle."""
    from file_indexer_spark.operators import dedup as dd
    from file_indexer_spark.operators import similarity as sim
    from file_indexer_spark.operators import text as tx
    from file_indexer_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    t14 = tx.bigram_surprisal(docs)
    plan = pi.simple_plan(t14)
    assert "CartesianProduct" not in plan, plan
    # two count aggs + doc agg + output sort + the V scalar: bounded
    assert pi.count_exchanges(t14) <= 8, plan

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3)], "doc_id long, cluster_id long"
    )
    small_docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f"), (3, "g h i")], "doc_id long, text string"
    )
    dd15 = dd.quality_keeper(small_docs, clusters)
    plan = pi.simple_plan(dd15)
    # both windows share the cluster_id partitioning: ONE window
    # exchange beyond the join machinery
    assert plan.count("Window") <= 2, plan
    assert "CartesianProduct" not in plan

    sim15 = sim.recall_eval(load_table(spark, sf_smoke, "embeddings"))
    assert "CartesianProduct" not in pi.simple_plan(sim15)


def test_dd17_e18_plan_shapes(spark, sf_smoke):
    """dd17 adds only equi-joins over dd3's machinery; e18 is
    join-free — one user-key shuffle, map-side greedy match."""
    from file_indexer_spark.operators import dedup as dd
    from file_indexer_spark.operators import events as evo
    from file_indexer_spark.tables import events_df, load_table

    docs = load_table(spark, sf_smoke, "documents")
    cal = dd.minhash_calibration(docs)
    plan = pi.simple_plan(cal)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    fun = evo.deadline_funnel(events_df(spark, sf_smoke))
    plan = pi.simple_plan(fun)
    assert "Join" not in plan, plan
    # groupBy(user) + the 1-row global agg: two aggregation exchanges
    assert pi.count_exchanges(fun) <= 2, plan


def test_round10_ops_prune_and_stay_lean(spark, sf_smoke):
    """Round-10 scan discipline: ct6 reads only (doc_id, n_chars) —
    never text; sp13 only (doc_id, source); e20's candidate pass is
    join-free map-side work and the verify aggregate joins ONLY via
    the broadcast semi-join; e19 plans without nested loops."""
    from file_indexer_spark.operators import curation as cu
    from file_indexer_spark.operators import events as evo
    from file_indexer_spark.operators import sampling as sp
    from file_indexer_spark.tables import events_df, load_table

    docs = load_table(spark, sf_smoke, "documents")
    cols = pi.scan_columns(cu.distribution_drift(docs))
    assert "text" not in cols and {"doc_id", "n_chars"} <= cols, cols

    cols = pi.scan_columns(sp.source_interleave(docs))
    assert "text" not in cols and {"doc_id", "source"} <= cols, cols

    ev = events_df(spark, sf_smoke)
    hh = evo.heavy_hitters(ev)
    plan = pi.simple_plan(hh)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # candidate distinct + exact count + final sort
    assert pi.count_exchanges(hh) <= 3, plan

    att = evo.linear_attribution(ev)
    plan = pi.simple_plan(att)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_serve_pushes_terms_into_postings_scan(spark, sf_smoke, tmp_path):
    """t16: the serve path's query-term IN predicate must reach the
    postings parquet scan (row-group pruning over the term-clustered
    layout) with column pruning — a post-scan filter would read the
    whole index."""
    from file_indexer_spark.operators import text as tx
    from file_indexer_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    mats = {}
    for name, df in tx.bm25_index_tables(docs).items():
        p = str(tmp_path / name)
        if name == "postings":
            df = df.repartitionByRange(4, "term").sortWithinPartitions(
                "term", "doc_id"
            )
        df.write.parquet(p)
        mats[name] = spark.read.parquet(p)
    served = tx.bm25_topk_from_index(mats)
    pushed = " ".join(pi.pushed_filters(served))
    assert "In(term" in pushed, pushed
    cols = pi.scan_columns(served)
    assert "text" not in cols, cols  # never touches the corpus


def test_bm25_compaction_keeps_term_pushdown(spark, sf_smoke, tmp_path):
    """t18: after append-fragmentation AND compaction, the serve
    plan's query-term IN predicate still reaches the (rewritten)
    postings scan — compaction must not launder the layout the t16
    pin guarantees."""
    from file_indexer_spark.operators import text as tx
    from file_indexer_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    mats = tx.write_bm25_index(
        spark,
        tx.bm25_index_tables(docs.filter("doc_id % 2 = 0")),
        str(tmp_path / "base"),
    )
    mats = tx.bm25_append(mats, docs.filter("doc_id % 2 = 1"))
    compacted = tx.bm25_compact(spark, mats, str(tmp_path / "compact"))
    served = tx.bm25_topk_from_index(compacted)
    pushed = " ".join(pi.pushed_filters(served))
    assert "In(term" in pushed, pushed
    cols = pi.scan_columns(served)
    assert "text" not in cols, cols


def test_phrase_serve_term_pushdown(spark, sf_smoke, tmp_path):
    """t21: every phrase leg's term equality must reach the positional
    postings parquet scan (row-group pruning over the term-clustered
    layout) and never read the corpus text; the adjacency chain plans
    as equi-joins (no nested loop)."""
    from file_indexer_spark.operators import text as tx
    from file_indexer_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    mats = tx.write_positional_index(
        spark, tx.positional_index_tables(docs), str(tmp_path / "idx")
    )
    served = tx.phrase_search_from_index(mats)
    pushed = " ".join(pi.pushed_filters(served))
    for t in tx.PHRASE_TERMS:
        assert f"EqualTo(term {t})" in pushed or f"EqualTo(term,{t})" in pushed, pushed
    cols = pi.scan_columns(served)
    assert "text" not in cols, cols
    plan = pi.simple_plan(served)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_personalized_pagerank_weighted_seed_proximity(spark):
    """dd20 semantics: teleport mass lands only on seeds; a vertex fed
    by a heavier edge outranks one fed by a lighter edge from the same
    seed; unreached corpus vectors hold rank 0; non-positive-cosine
    edges carry no mass."""
    from pyspark.sql import functions as F

    from file_indexer_spark.operators import graph as gr

    # seed 0 -> 100 (cosine .9) and 0 -> 101 (cosine .1);
    # 200 is reached only through a NEGATIVE edge (must stay 0);
    # 999 is isolated corpus (rank 0); seed 1 has no edges (BASE only)
    knn = spark.createDataFrame(
        [
            (0, 100, 1, 0.9),
            (0, 101, 2, 0.1),
            (0, 200, 3, -0.5),
            (100, 0, 1, 0.9),
        ],
        "vec_id long, neighbor_id long, rank int, cosine double",
    )
    corpus = spark.range(0, 2).union(
        spark.createDataFrame([(100,), (101,), (200,), (999,)], "id long")
    ).select(F.col("id").alias("vec_id"))
    out = {r["vec_id"]: r["rank_e6"] for r in
           gr.personalized_pagerank(knn, corpus).collect()}
    assert out[999] == 0 and out[200] == 0       # unreached / negative edge
    assert out[100] > out[101] > 0               # weight-proportional inflow
    assert out[1] == gr.BASE_E6                  # edgeless seed: teleport only
    assert out[0] > gr.BASE_E6                   # seed with inflow from 100


def test_pagerank_iterates_only_over_pair_subgraph(spark):
    """dd18's iteration state must be the pair subgraph: a corpus of
    1000 docs with 2 pairs re-ranks <= 4 vertices; corpus rows join in
    once at the end (mirrors the dd7 contract test)."""
    from pyspark.sql import functions as F

    from file_indexer_spark.operators import graph as gr

    docs = spark.range(1000).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(1, 2), (500, 501)], "doc_a long, doc_b long"
    )
    out = gr.pagerank(docs, pairs)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["deg"] == 1 and rows[1]["rank_e6"] == 1_000_000
    assert rows[0]["rank_e6"] == gr.BASE_E6
    # the iteration's plan never references the corpus table: build the
    # rank frame alone (pre-final-join) and confirm its row count is
    # the subgraph, not the corpus
    edges = pairs.selectExpr("doc_a as src", "doc_b as dst").unionByName(
        pairs.selectExpr("doc_b as src", "doc_a as dst")
    )
    assert edges.select("src").distinct().count() == 4


def test_serving_plans_over_one_partition_snapshot_have_no_exchange(spark, sf_smoke):
    """SinglePartition satisfies every distribution an aggregate, window
    or sort requires, so over the service's one-partition snapshot the
    search page, duplicates page, chart tables and stats row plan no
    shuffle (AQE would run each exchange as a job of its own)."""
    from file_indexer_spark import serving as sv
    from file_indexer_spark.operators import search as srch
    from file_indexer_spark.operators import stats as st

    svc = sv.FileIndexService(files_df(spark, sf_smoke))
    snap = svc.files
    try:
        assert snap.rdd.getNumPartitions() == 1
        search_page, _ = sv.observed_page(
            srch.search_matches(snap, filename_pattern="doc_%", min_file_size=100),
            srch.search_order(), 10, 5, n=F.count(F.lit(1)))
        dup_page, _ = sv.observed_page(
            dup.group_duplicates(dup.scope_to_pattern(snap, path_pattern="/src1%")),
            dup.group_order(), 10, 5, n=F.count(F.lit(1)))
        for df in (search_page, dup_page, sv.chart_rows(snap), st.database_stats(snap)):
            assert pi.count_exchanges(df) == 0, pi.simple_plan(df)
    finally:
        svc.close()


def test_database_stats_plans_no_expand(spark, sf_smoke):
    """Two COUNT(DISTINCT)s in one aggregate plan an Expand, which drops
    the input's partitioning; the stats row counts its one distinct
    column in a frame of its own at any partitioning."""
    from file_indexer_spark.operators import stats as st

    files = files_df(spark, sf_smoke)
    for df in (files, files.coalesce(1), files.repartition(4)):
        assert "Expand" not in pi.simple_plan(st.database_stats(df))
