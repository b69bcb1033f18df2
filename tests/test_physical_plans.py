"""Physical-plan property tests (SURVEY §4): the optimizations the engine
relies on at 100 TB must be visible in the plan, not assumed — predicate
pushdown, column pruning, broadcast dimension joins, top-k without global
sort, map-side partial aggregation, and a JVM-only hot path.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


@pytest.fixture(scope="module")
def queries(spark):
    import __spark_entry__ as m

    return {**m.queries(), **m.production_queries()}


def test_q1_pushdown_and_pruning(spark, queries):
    plan = plan_of(queries["q1_pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the 4 untouched lineitem columns never leave the scan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    for col in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"):
        assert col not in read_schema
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_q3_topk_and_broadcast(spark, queries):
    plan = plan_of(queries["q3_shipping_priority"](spark, SF), "simple")
    assert "TakeOrderedAndProject" in plan  # no global sort materialization
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # segment filter pushed to the customer scan
    full = plan_of(queries["q3_shipping_priority"](spark, SF))
    assert "EqualTo(c_mktsegment,BUILDING)" in full


def test_dimension_joins_broadcast(spark, queries):
    plan = plan_of(queries["join_broadcast_dim"](spark, SF), "simple")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_semi_anti_never_cartesian(spark, queries):
    for name in ("join_semi", "join_anti"):
        plan = plan_of(queries[name](spark, SF), "simple")
        assert "CartesianProduct" not in plan
        assert "LeftSemi" in plan or "LeftAnti" in plan


def test_range_join_is_hash_not_bnlj(spark, queries):
    """The bucketed rewrite must turn the theta join into a hash join."""
    plan = plan_of(queries["join_range_bucketed"](spark, SF), "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_downsample_partial_aggregation(spark, queries):
    plan = plan_of(queries["pipe_downsample_level1"](spark, SF), "simple")
    assert "partial_avg" in plan  # combine before shuffle


def test_no_row_python_udf_anywhere(spark, queries):
    """Policy (SURVEY §2.11): no row-at-a-time Python UDF in ANY query.
    Arrow-vectorized exchanges (MapInPandas / ArrowEvalPython) are the
    only sanctioned Python crossings."""
    for name, fn in queries.items():
        if name.startswith("stream_"):
            continue  # streaming queries execute on construction
        plan = plan_of(fn(spark, SF), "simple")
        assert "BatchEvalPython" not in plan, f"{name} uses a row Python UDF"


def test_multimodal_uses_arrow_batches(spark, queries):
    plan = plan_of(queries["multimodal_binary_features"](spark, SF), "simple")
    assert "MapInPandas" in plan


def test_no_accidental_cartesian_anywhere(spark, queries):
    """Cross products only where the operator IS a cross product:
    join_cross (bounded candidate generation) and sim_cosine_topk (brute
    force against a broadcast query set — the exact-baseline by design)."""
    allowed_cartesian = {"join_cross"}
    # q11/q22 cross-join a BROADCAST ONE-ROW scalar aggregate (the
    # decorrelated scalar subquery): a 1×n nested loop is the correct
    # plan — the broadcast side can never grow with the data.
    allowed_bnlj = {
        # 3-row epoch frame broadcast onto the corpus (bounded fan-out
        # by construction, never fact×fact)
        "mix_epoch_shuffle",
        "sim_cosine_topk",
        # built on sim_cosine_topk's broadcast-queries scorer
        "rag_retrieve_assemble",
        "join_cross",
        "q11_important_parts",
        "q22_global_sales",
        # one-row corpus-count broadcast (the N in tf*N/df)
        "text_tfidf_topk",
        # one-row u_k (union-sketch k-th minimum) broadcast onto the
        # one-row distinct-count aggregate
        "agg_kmv_distinct",
        # one-row flagged-count broadcast onto the one-row funnel totals
        # (n_clean = n_dedup − |flagged|; replaces the corpus-sized
        # base⋈flagged left join)
        "corpus_prep_funnel",
        # one-row τ (threshold priority) broadcast onto the n-row sample
        "mix_priority_sample",
        # one-row global (min, max) bounds broadcast onto the distinct-value
        # relation (the r14 two-level cum-sum pre-bucketing; the heavy
        # stages — distinct agg, per-(flag,bucket) windows — stay equi-keyed)
        "pipe_voxel_stats",
        # one-row vocabulary-size broadcast (the V in add-one smoothing)
        "text_bigram_lm_score",
        # one-row token-total, (lo, hi) difficulty-range, and weight-total
        # broadcasts onto the k-row domain frame (bounded scalar
        # crossJoins — the heavy stage is the equi-join toks⋈ctf)
        "mix_doremi_weights",
        # one-row token-total and doc-total broadcasts (the N in N//freq
        # and the tercile denominators)
        "text_ccnet_buckets",
        # one-row grand-totals broadcast joined onto k-row stats (the
        # derived mixing thresholds / bucket scores)
        "mix_token_budget",
        "dsir_importance",
        # one-row total-token-count broadcast (the derived heavy-hitter
        # threshold total // 200)
        "text_heavy_hitters_cms",
        # one-row (min, max) range broadcast for integer bucket math
        "agg_histogram",
        # one-row n_users broadcast (the N in the quintile formula),
        # same pattern as text_tfidf_topk
        "events_rfm_segments",
        # one-row sqrt-weight total broadcast (the Σ n^τ denominator)
        "mix_temperature_weights",
        # one-row merge broadcast per BPE round, applied via the shared
        # _apply_merge kernel with session-cached literal merges
        "bpe_tokenize_corpus",
        # 5-row query-vector broadcast under a != predicate (the
        # self-exclusion non-equi join, same shape as sim_cosine_topk)
        "embed_matryoshka_recall",
        # one-row data-derived cutoff broadcast (the as-of timestamp)
        "feature_snapshot_asof",
    }
    assert allowed_bnlj <= queries.keys(), allowed_bnlj - queries.keys()
    for name, fn in queries.items():
        if name.startswith("stream_"):
            continue
        plan = plan_of(fn(spark, SF), "simple")
        if name not in allowed_cartesian:
            assert "CartesianProduct" not in plan, f"{name} has a cartesian product"
        # the list only shrinks with the code: an allowed name must
        # still plan the nested-loop join its comment bounds
        assert ("BroadcastNestedLoopJoin" in plan) == (name in allowed_bnlj), (
            f"{name}: nested-loop join planned = "
            f"{'BroadcastNestedLoopJoin' in plan}, allowed = {name in allowed_bnlj}"
        )


def test_ngram_jaccard_candidates_are_bounded(spark, queries):
    """Candidate generation must be the LSH ∪ rare-shingle union, never
    an uncapped posting-list self-join: the plan carries the constant
    rare-df Filter (df <= _RARE_DF_CAP — the 100-TB quadratic-blowup
    guard on the inverted-index channel), and no cartesian product.

    Pins the GENERATION subtree (`_pair_candidates` on fresh shingles):
    inside a query the session cache may legitimately replace it with a
    checkpoint scan, which would hide the filter from the query plan."""
    from aind_hcr_data_transformation_spark.operators.dedup import (
        _RARE_DF_CAP,
        _corpus_with_mutants,
        _pair_candidates,
        _shingles,
    )

    gen = _pair_candidates(_shingles(_corpus_with_mutants(spark, SF)))
    plan = plan_of(gen, "simple")
    assert f"<= {_RARE_DF_CAP}" in plan  # rare-channel df filter in physical
    assert "CartesianProduct" not in plan
    # the full query (cached or not) must still be cartesian-free
    qplan = plan_of(queries["dedup_ngram_jaccard"](spark, SF), "simple")
    assert "CartesianProduct" not in qplan


def test_null_safe_join_is_hash_not_bnlj(spark, queries):
    """eqNullSafe must plan as a broadcast HASH join (EqualNullSafe is a
    supported hash key) — never BroadcastNestedLoopJoin or cartesian."""
    plan = plan_of(queries["join_null_safe"](spark, SF), "simple")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
