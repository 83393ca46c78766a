"""Physical-plan quality gates: the properties that make these queries
scale must be visible in the plan, not assumed.

- filter pushdown reaches the parquet scan (PushedFilters)
- column pruning reaches the scan (ReadSchema)
- dim joins broadcast (BroadcastHashJoin), never shuffle the fact side
- hot-path queries stay inside WholeStageCodegen (no Python UDFs)
- sort+limit compiles to TakeOrderedAndProject (no global sort)
- headline rows stay within a Spark job budget
"""

from __future__ import annotations

import pytest

from java_iceberg_table_spark.queries import load_all

REGISTRY = load_all()


def plan_of(spark, sf_dir, name: str, executed: bool = False) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    if executed:
        df.count()  # AQE: codegen ids appear only in the final plan
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_d1_filter_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "d1_tpch_q1", executed=True)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # only the 8 referenced columns are read, not all 11
    rs = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in rs and "l_partkey" not in rs
    assert "l_quantity" in rs and "l_shipdate" in rs
    assert "Batched: true" in plan  # vectorized parquet reader
    assert "partial_sum" in plan  # map-side partial aggregation before the shuffle


def test_a2_projection_pushdown(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "a2_projection_pushdown")
    rs = next(l for l in plan.splitlines() if "ReadSchema" in l)
    for col in ("l_quantity", "l_orderkey", "l_linenumber"):
        assert col in rs
    assert "l_shipdate" not in rs and "l_returnflag" not in rs


def test_c2_broadcast_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "c2_broadcast_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_c3_multiway_all_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "c3_multiway_join")
    assert plan.count("BroadcastHashJoin Inner") == 2  # tree section: both joins broadcast
    assert "SortMergeJoin" not in plan  # the fact table never shuffles for joins


def test_e1e_view_read_has_no_window_or_exchange(spark, sf_dir):
    # the maintained top-k view's whole point: the read must be a pure
    # scan + TakeOrdered — any Window or Exchange means the view is
    # re-paying the write-side sort on every read
    plan = plan_of(spark, sf_dir, "e1e_engine_topk_view")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "Exchange" not in plan
    assert "Scan parquet" in plan


def test_c3e_view_read_has_no_join_or_exchange(spark, sf_dir):
    # the maintained aggregate view must read O(result): no fact scan,
    # no joins, no aggregate, no shuffle
    plan = plan_of(spark, sf_dir, "c3e_engine_agg_view")
    for op in ("Join", "Exchange", "HashAggregate"):
        assert op not in plan, op
    assert "Scan parquet" in plan


def test_f2_topk_is_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "f2_topk")
    assert "TakeOrderedAndProject" in plan  # per-partition top-k, no global sort


def test_b2_predicates_pushed(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "b2_boolean_predicates")
    assert "PushedFilters" in plan and "GreaterThan(l_quantity,30.0)" in plan


def test_no_python_udf_in_hot_paths(spark, sf_dir):
    """Python only in the J-group (by design) and pandas-backed ops;
    core query groups must stay JVM-side."""
    for name in [
        "d1_tpch_q1",
        "c1_inner_equi_join",
        "e1_row_number_topk",
        "h3_top_tokens",
        "h7_cosine_pairs",
        "h6_jaccard_near_dup",
    ]:
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, f"{name} fell off the JVM path"
        assert "ArrowEvalPython" not in plan, f"{name} fell off the JVM path"


def test_q6_all_predicates_pushed(spark, sf_dir):
    """Q6 shape: every predicate reaches the scan; 4-column ReadSchema."""
    plan = plan_of(spark, sf_dir, "q6_revenue_forecast")
    pf = next(l for l in plan.splitlines() if "PushedFilters" in l)
    for frag in ("l_shipdate,1996-01-01", "l_discount,0.05", "LessThan(l_quantity,24.0)"):
        assert frag in pf
    rs = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in rs and "l_returnflag" not in rs


def test_q19_or_of_ands_derives_scan_filters(spark, sf_dir):
    """Catalyst must derive each side's implication of the cross-table
    disjunction and push it into BOTH parquet scans — at 100 TB this is
    the difference between scanning 3 brands and scanning every part."""
    plan = plan_of(spark, sf_dir, "q19_discounted_revenue")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_quantity,1.0" in l and "Or(" in l for l in pushed)  # lineitem side
    assert any("p_brand,Brand#12" in l and "Or(" in l for l in pushed)  # part side


def test_q4_exists_is_semi_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q4_order_priority")
    assert "LeftSemi" in plan
    # date range predicate pushed to the orders scan
    assert "GreaterThanOrEqual(o_orderdate,1996-01-01" in plan


def test_q21_semi_then_anti(spark, sf_dir):
    """EXISTS -> LeftSemi, NOT EXISTS -> LeftAnti, never a row-exploding
    inner join + distinct."""
    plan = plan_of(spark, sf_dir, "q21_waiting_supplier")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "o_orderstatus,F" in plan  # status filter pushed to orders scan


def test_q16_not_in_is_anti_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q16_supplier_part_count")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin LeftAnti" in plan


def test_q8_dim_filters_pushed_all_joins_broadcast(spark, sf_dir):
    """Q8's deep join tree: the selective dim filters (p_type, r_name)
    reach their scans, and at test scale every join broadcasts — the
    lineitem fact never shuffles for a join (only for the final
    group-by)."""
    plan = plan_of(spark, sf_dir, "q8_national_market_share")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("EqualTo(p_type,PROMO)" in l for l in pushed)
    assert any("EqualTo(r_name,AMERICA)" in l for l in pushed)
    assert any("o_orderdate,1995-01-01" in l for l in pushed)
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_h2x_text_ops_stay_jvm_side(spark, sf_dir):
    """The new text-pipeline ops (PII scrub, repetition quality, token
    counting) are regex/explode/agg expression pipelines — any Python
    eval node in their plans means the hot path fell off codegen."""
    for name in ("h20_pii_redaction", "h21_repetition_quality", "h23_token_counts"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, f"{name} fell off the JVM path"
        assert "ArrowEvalPython" not in plan, f"{name} fell off the JVM path"


def test_h21_partial_aggregation(spark, sf_dir):
    """Bigram counting must partial-aggregate map-side before the
    (doc_id, bg) shuffle — the difference between shuffling one row per
    bigram occurrence and one per distinct bigram."""
    plan = plan_of(spark, sf_dir, "h21_repetition_quality")
    assert "partial_count" in plan


def test_h22_bench_grams_broadcast(spark, sf_dir):
    """Decontamination joins the training explode against the benchmark
    gram set; the bench side must broadcast (it is orders of magnitude
    smaller than a training corpus) so the training side never
    shuffles for the join."""
    plan = plan_of(spark, sf_dir, "h22_ngram_decontamination")
    assert "BroadcastHashJoin" in plan


def test_h11_bucketed_candidates_no_cross_join(spark, sf_dir):
    """h11 must execute the LSH-bucket candidate path: every join is an
    equi-join on the bucket key (hash or sort-merge); an O(n²)
    cross/theta self-join anywhere in the plan is the 100 TB
    scale-killer this gate exists to catch."""
    plan = plan_of(spark, sf_dir, "h11_embedding_near_dup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the candidate generator itself: a join keyed on the bucket column
    assert "bucket" in plan


def test_a7_bucketed_join_no_shuffle(spark, sf_dir):
    """Both join inputs read pre-bucketed data: the SMJ consumes bucket
    i vs bucket i directly — no Exchange upstream of the join (the only
    Exchange is the final single-partition agg)."""
    plan = plan_of(spark, sf_dir, "a7_bucketed_colocated_join")
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2
    assert "SelectedBucketsCount: 8 out of 8" in plan
    assert "Exchange hashpartitioning" not in plan  # join inputs never shuffle


def test_h24_packing_uses_apply_in_pandas(spark, sf_dir):
    """The sequential greedy loop runs as one grouped-pandas op —
    exactly one Python crossing, partitioned by group."""
    plan = plan_of(spark, sf_dir, "h24_sequence_packing")
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_h25_url_dedup_no_join(spark, sf_dir):
    """Canonicalization + distinct is projection + aggregate only."""
    plan = plan_of(spark, sf_dir, "h25_url_canonical_dedup")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_h26_bloom_probe_is_projection(spark, sf_dir):
    """The Bloom probe must be a filter, not a join: the only joins in
    the plan are the broadcast exact-verify and the scalar-count
    combine — nothing shuffles both sides."""
    plan = plan_of(spark, sf_dir, "h26_bloom_decontamination")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_q9_dims_broadcast(spark, sf_dir):
    """Q9's part/supplier/nation dims all broadcast; only the
    lineitem-partsupp join may shuffle."""
    plan = plan_of(spark, sf_dir, "q9_product_profit")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_h31_tfidf_topk_window_group_limit(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "h31_tfidf_top_terms")
    # per-doc top-3 must run under WindowGroupLimit (rank pushdown),
    # and the idf side joins broadcast
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_h32_bm25_filter_before_shuffle_and_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "h32_bm25_topk")
    # the query-term IN filter must run BEFORE the tf aggregation
    # shuffle: in the formatted plan the Filter on term appears in the
    # same codegen stage as the scan, below the first Exchange
    assert "TakeOrderedAndProject" in plan  # top-10, no global sort
    filt = [l for l in plan.splitlines() if "Condition" in l and "term" in l]
    assert filt, "query-term filter missing from the plan"
    assert "BatchEvalPython" not in plan


def test_h36_jl_projection_is_map_only(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "h36_jl_projection")
    # the seeded projection matrix is compiled into the plan: no
    # shuffle except the final presentation sort, no join, no UDF
    assert "BroadcastHashJoin" not in plan and "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan
    # exactly one Exchange (the output orderBy's range partitioning)
    body = plan.split("===== Subqueries =====")[0]
    assert body.count("Exchange") <= 2  # rangepartitioning for sort only


def test_h6d_prefix_filter_broadcasts_stats_sides(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "h6d_prefix_filter_jaccard")
    # df/size sides are broadcast; no cartesian anywhere
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_h37_pipeline_single_plan_no_udf(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "h37_pipeline_composition")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # map-side partial aggregation feeds both rollups
    assert "partial_count" in plan or "partial_sum" in plan


def test_c15_band_join_is_equi_on_bucket(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "c15_banded_interval_join")
    # the band join must run as an equi join on the time bucket, never
    # as a nested-loop/cartesian over event pairs
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_h40_cms_probe_broadcasts_sketch(spark, sf_dir):
    """CMS point estimation: the d x w sketch side broadcasts; no
    sort-merge shuffle of the probes against the grid."""
    plan = plan_of(spark, sf_dir, "h40_cms_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "PythonUDF" not in plan


def test_h41_weighted_sample_window_group_limit(spark, sf_dir):
    """Exact-k weighted sampling: the per-stratum k filter runs below
    the sort (WindowGroupLimit), not as a full sort + filter."""
    plan = plan_of(spark, sf_dir, "h41_weighted_sample_topk")
    assert "WindowGroupLimit" in plan
    assert "PythonUDF" not in plan


def test_h38b_encode_is_one_broadcast_join(spark, sf_dir):
    """BPE encoding: the trained word-type table broadcasts; documents
    never shuffle for the lookup and no Python crosses the hot path."""
    from java_iceberg_table_spark.fixtures import load_table
    from java_iceberg_table_spark.operators.bpe import bpe_encode_tokens
    from java_iceberg_table_spark.queries.llm_ops import _bpe_trained

    _, syms, _ = _bpe_trained(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    enc = bpe_encode_tokens(docs, "text", syms)
    plan = enc._sc._jvm.PythonSQLUtils.explainString(
        enc._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "PythonUDF" not in plan


def test_h51_incremental_probe_no_cartesian(spark, sf_dir):
    """The batch-vs-corpus probe must be equi-joins end to end (fp
    match + band-bucket match + candidate verify) — never a cartesian
    between batch and corpus, at any corpus size."""
    plan = plan_of(spark, sf_dir, "h51_incremental_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_h52_pq_adc_broadcasts_tables_no_cartesian(spark, sf_dir):
    """ADC scoring is codes JOIN broadcast distance-table: the corpus
    codes never shuffle against queries pairwise. The only acceptable
    join strategies on the scoring path are broadcast/sort-merge
    equi-joins."""
    from java_iceberg_table_spark.operators.similarity import pq_build, pq_topk
    from java_iceberg_table_spark.fixtures import load_table as _lt
    import pyspark.sql.functions as F

    emb = _lt(spark, sf_dir, "embeddings")
    codes_df, books = pq_build(emb, m=4, n_codes=8, iters=1)
    q = emb.filter(F.col("vec_id") < 2)
    df = pq_topk(codes_df, books, q, k=3, rerank=2)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # the distance-table lookup side
    # top-k per query compiles to the rank-pushdown form, not a full sort
    assert "WindowGroupLimit" in plan


def test_h53_ivfpq_probe_gated_no_cartesian(spark, sf_dir):
    """IVF-PQ: the ADC scan joins the broadcast probe set on cluster
    and the broadcast distance tables on (query, sub, code) — the
    inverted file never cross-joins queries, and top-k compiles to the
    rank-pushdown form."""
    from java_iceberg_table_spark.operators.similarity import (
        ivfpq_build,
        ivfpq_topk,
    )
    from java_iceberg_table_spark.fixtures import load_table as _lt
    import pyspark.sql.functions as F

    emb = _lt(spark, sf_dir, "embeddings")
    index_df, cents, books = ivfpq_build(
        emb, n_centroids=4, m=4, n_codes=8, kmeans_iters=1, pq_iters=1
    )
    q = emb.filter(F.col("vec_id") < 2)
    df = ivfpq_topk(index_df, cents, books, q, k=3, nprobe=2, rerank=2)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan


def test_h50_span_shuffle_carries_hashes_not_strings(spark, sf_dir):
    """The duplicated-span aggregate must shuffle the 64-bit shingle
    hash, never the shingle text: no string shingle column survives
    into the exchange (the projection hashes before the explode)."""
    plan = plan_of(spark, sf_dir, "h50_duplicated_span_stats")
    assert "xxhash64" in plan  # hashing happens IN the scan projection
    assert "array_join" in plan  # ...of the joined k-token window
    # the aggregate keys are the hash column, present in the exchange
    assert "CartesianProduct" not in plan


def test_d1e_engine_q1_vectorized_no_python(spark, sf_dir):
    """Engine-storage Q1 (round 8): the prepared plan must aggregate
    int64 columns in the vectorized reader + whole-stage codegen with
    the shipdate filter pushed to the engine scan — no Python in the
    plan, partial aggregation before the exchange."""
    plan = plan_of(spark, sf_dir, "d1e_engine_q1_cents", executed=True)
    assert "Batched: true" in plan
    assert "partial_sum" in plan
    assert "PushedFilters" in plan and "l_shipdate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    rs = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "price_c" in rs and "qty_c" in rs


def test_e1_prefilter_equivalence(spark, sf_dir, monkeypatch):
    """e1's scale-gated threshold pre-filter (round 15): forcing the
    gate on at a small SF must leave values AND row order identical,
    and (when the sample holds 500 distinct custkeys) the custkey
    bound must reach the parquet scan as a pushed filter."""
    import java_iceberg_table_spark.queries.windows as W

    fn = REGISTRY["e1_row_number_topk"].fn
    base = [tuple(r) for r in fn(spark, sf_dir).collect()]
    monkeypatch.setattr(W, "_TOPK_PREFILTER_BYTES", 0)
    df = fn(spark, sf_dir)
    assert [tuple(r) for r in df.collect()] == base
    from java_iceberg_table_spark.fixtures import load_table

    n_distinct = (
        load_table(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    )
    if n_distinct >= 500:
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "LessThanOrEqual(o_custkey" in plan


# Spark jobs one warm build + collect may start. Under AQE every
# shuffle stage runs as a job of its own, so a new Exchange (or a
# listing or schema-inference job in the build) breaks the budget.
# Each is the row's measured warm count (4 vCPU, the sf0.001 fixtures).
# A prepared row (d1e, d1p) caches its Dataset, and collecting that
# again reuses its finished shuffle stages, so its plan is dropped
# first and the count covers a fresh Dataset, as bench.py times it.
JOB_BUDGETS = {
    "d1_tpch_q1": 2,
    "d1e_engine_q1_cents": 2,
    "d1p_prepared_tpch_q1": 2,
    "c3_multiway_join": 4,
    "e1_row_number_topk": 2,
    "h3_top_tokens": 2,
}


@pytest.mark.parametrize("name", sorted(JOB_BUDGETS))
def test_job_budget(spark, sf_dir, jobs_started, name):
    from java_iceberg_table_spark.queries.prepared import invalidate

    fn = REGISTRY[name].fn
    fn(spark, sf_dir).collect()  # warm: the fixture loads are cached per session

    def fresh():
        invalidate(spark, sf_dir, name)
        return fn(spark, sf_dir).collect()

    jobs, _ = jobs_started(fresh)
    assert jobs <= JOB_BUDGETS[name], f"{name} started {jobs} jobs"
