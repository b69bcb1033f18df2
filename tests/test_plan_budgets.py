"""Shuffle-budget ceilings for headline queries (tools/plan_audit.py
census): an edit that sneaks an extra Exchange into a hot query fails
here, not at the next benchmark. Ceilings are the audited values at the
time of pinning — they may go DOWN freely; raising one requires the
commit to say why the extra stage is worth it.

Counts are from the pre-execution physical plan, deduplicated by
``[plan_id]`` (tools/plan_audit.py): each exchange OPERATOR counts once
even though persisted subplans print once per consumer. Ceilings pinned
before the dedup fix are loose; the three recalibrated entries
(dedup_semantic, rag_mmr_rerank, text_ccnet_buckets) state true
operator counts.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR
from tools.plan_audit import count_exchanges

#: query -> (max shuffle exchanges, min broadcast exchanges)
BUDGETS = {
    "q1_pricing_summary": (1, 0),  # one agg shuffle, nothing else
    "dedup_exact": (1, 0),  # one hash shuffle, min-id keeper
    "dedup_fingerprint": (1, 0),
    "q3_shipping_priority": (1, 2),  # dims broadcast, one agg shuffle
    "join_broadcast_dim": (1, 1),  # the dim must BROADCAST, never shuffle
    "sim_cosine_topk": (3, 1),  # queries broadcast; topk windows shuffle
    "text_token_count": (3, 0),  # spread exchange + per-source agg + orderBy
    "contamination": (5, 1),  # bench set must broadcast
    "contamination_bloom": (9, 1),  # filter words must broadcast
    "dedup_minhash_lsh": (16, 1),  # multi-consumer persist overcounts
    # batch set + seen set broadcast; archive side never shuffles
    # (its only exchange is the fixture spread)
    "dedup_incremental_batch": (7, 2),
    # xxhash64 twin mirrors the md5 pipeline's stage structure
    "dedup_minhash_fast": (16, 1),
    # steady-state read path (session codebook primed below): corpus
    # spread + within-cluster pair join + prune agg; literal-codebook
    # assignment adds no exchange
    "dedup_semantic": (6, 0),
    # stats pass + kept pass; rate table and totals must broadcast
    "mix_token_budget": (7, 2),
    # gram explode + two bucket aggregates + per-doc sum + top-k;
    # bucket scores must broadcast
    "dsir_importance": (8, 2),
    # explode + one per-doc agg + per-source agg + orderBy
    "quality_classifier": (4, 0),
    # chunk explode + distinct + df-cut + inverted-index join + pair agg
    # (persisted chunk relation overcounts across its 3 consumers)
    "dedup_cdc_chunks": (15, 0),
    # queries broadcast into the scorer; top-k + assembly shuffles
    "rag_retrieve_assemble": (3, 2),
    # unrolled greedy MMR (r8): pool/pairs/per-step selections are
    # localCheckpoint-ed constant-size frames, so the returned plan is a
    # pure LogicalRDD — the ~6 true shuffles run once at construction
    # (timed by the bench) instead of the 30 re-derived exchanges the
    # un-checkpointed loop planned
    "rag_mmr_rerank": (0, 0),
    # decorrelated WindowGroupLimit + broadcast nation dim
    "join_lateral": (1, 1),
    # one Expand + ONE hash-agg shuffle for all four grouping sets
    "agg_grouping_sets": (1, 0),
    # changelog window shuffle + key join; tombstone filter is free
    "cdc_apply_deletes": (2, 0),
    "scalar_variant_json": (1, 0),  # parse-once variant, one agg shuffle
    # steady-state read path (primed below by one call, mirroring
    # production where the corpus is encoded once per session): a
    # map-only projection over the checkpointed pq_codes relation —
    # no scan of the embeddings, no exchange of any kind
    "embed_pq_quantize": (0, 0),
    "udtf_doc_bigrams": (0, 0),  # pure generator, no exchange at all
    # tf + totals + doc-score + histogram stages over two persisted
    # relations (census overcounts); the cutoff histogram and totals
    # must broadcast — the doc-level relation never re-shuffles for
    # bucketing
    "text_ccnet_buckets": (8, 4),
    # two salted-key join inputs + one agg shuffle; dim replicated, NOT
    # broadcast (the point is exercising the shuffle path)
    "join_salted_skew": (3, 0),
    # grid-cell equi join (one side broadcast at fixture scale) + pair
    # agg + the keep-zero-matches left join
    "join_interval_overlap": (2, 1),
    # r12 plan: df aggregate + covered-position per-doc set + the final
    # doc-level join; the boilerplate set must broadcast back against
    # the gram stream (the r11 plan's token anti-join + collect_list
    # regroup — one more shuffle and one more broadcast — are gone)
    "boilerplate_strip": (3, 2),
    # ONE key-partitioned window shuffle builds the whole history
    "upsert_scd2": (1, 0),
    # history window + one key join (dimension side broadcastable at
    # fixture scale)
    "scd2_asof_lookup": (1, 1),
    # ONE hash shuffle each: (user, hour) agg / user-keyed fold / user
    # window — no window sort rides a second exchange
    "ts_resample_ohlc": (1, 0),
    "ts_ewma_fold": (1, 0),
    "ts_rolling_anomaly": (1, 0),
    # (user, hour) agg + spine⋈observed join; the per-user bounds frame
    # must broadcast onto the spine side
    "ts_gapfill_interp": (2, 1),
    # r13: the shared lineitem⋈orders⋈customer⋈supplier edge aggregate
    # runs at construction (one session-shared collect, 625 rows max —
    # a fixed nation-dimension bound); the declared plan is a nation
    # scan + literal CASE projection, so zero exchanges of any kind
    "graph_pagerank": (0, 0),
    "graph_bfs_hops": (0, 0),
    "graph_label_propagation": (0, 0),
    # vocabulary fold rounds stay lazy map-only over the persisted
    # (source, word) frame; explode + two aggs + final join remain
    "bpe_tokenize_corpus": (4, 1),
    # one corpus explode -> vocab count frame; ctf/total/rarity derive
    # from it and the k-row domain frame is checkpointed
    "mix_doremi_weights": (3, 1),
    # distinct + two-phase grouped rank + union-sketch top-k over the
    # persisted hash frame (census overcounts across the two branches)
    "agg_kmv_distinct": (12, 1),
    # tf + sketch aggregates over the persisted tf (census overcounts);
    # the 2048-cell sketch and one-row total must broadcast
    "text_heavy_hitters_cms": (6, 2),
    # filter-words agg + exact verify semi + final agg; the bloom words
    # must broadcast (3 probe joins share the broadcast)
    "join_bloom_semi": (4, 4),
    # single hash aggregate over the Morton key
    "layout_zorder": (1, 0),
    # purchases⋈touches user-keyed join + per-purchase window + channel
    # agg (touch side broadcasts at fixture scale — 0 min pins the
    # at-scale shuffle shape, not the small-side shortcut)
    "events_attribution": (3, 0),
    # ONE brand shuffle + in-partition window sort — no self-join (the
    # quadratic NOT EXISTS spec lives only in the oracle)
    "skyline_pareto": (1, 0),
    # steady-state read path (primed below by one call): the session
    # 80-row ADC LUT is INLINED as literal arrays over the checkpointed
    # pq_codes relation — map-only element_at projection + the
    # per-query top-k window exchange; no broadcasts at all
    "pq_adc_topk": (1, 0),
    # same read path over the checkpointed ivfpq_index (primed below):
    # the probe cells and ADC LUTs are inlined as one literal map, so
    # the top-k window is the one exchange — no probe broadcast
    "ivfpq_search": (1, 0),
    # ONE user shuffle: the partition-only min(ts) window and the moment
    # aggregate ride the same exchange
    "ts_linear_trend": (1, 0),
    # block-keyed self-join broadcasts at fixture scale; the Levenshtein
    # verify adds no exchange
    "entity_match_fuzzy": (0, 1),
    # two rollup shuffles on the SAME struct merge key — the full-outer
    # merge reuses their partitioning, no third exchange (struct key =
    # null-safe GROUP BY join semantics; eqNullSafe key pairs would
    # re-shuffle both rollups, measured 4 exchanges)
    "mv_incremental_refresh": (2, 0),
    # one conditional-moment aggregate; t folds from the single row
    "ab_welch_t": (1, 0),
    # (user, day) agg + user-window lag + moment agg (window rides the
    # narrower user partitioning via one exchange)
    "ts_autocorr": (2, 0),
    # range aggregate (broadcast back) + bucket aggregate
    "agg_histogram": (2, 1),
    # two hash aggregates: per-candidate counts, then the per-group
    # argmax over a bounded (|groups| x 12) input
    "agg_mode_argmax": (2, 0),
    # totals agg (broadcast back) + per-source window + bin agg
    "layout_compaction_plan": (2, 1),
    # the whole point: both bucketed fact inputs join with NO exchange —
    # only the final 5-group aggregate shuffles, nothing broadcasts
    "join_bucketed_colocated": (1, 0),
    # ONE exact-moment aggregate reprinted under the 3 union branches
    "stats_corr_matrix": (3, 0),
    # ONE user shuffle: both leads and the match count ride the same
    # window partitioning
    "events_pattern_match": (1, 0),
    # word build + per-type popcount sum — no raw-id shuffle anywhere
    "agg_bitmap_distinct": (2, 0),
    # one aggregate over the unioned text scans (schema explicit, no
    # inference job)
    "source_text_formats": (1, 0),
    # exact percentile aggregate: one group shuffle, sort inside groups
    "agg_exact_percentiles": (1, 0),
    # two median passes + final census; both per-type median frames
    # must broadcast back onto the stream
    "ts_mad_outliers": (4, 3),
    # ONE agg shuffle; the filtered calendar dim must broadcast (and
    # its dynamicpruningexpression reaches the partitioned scan)
    "join_dpp_partition_pruned": (1, 1),
    # distinct-days + island window ride one user shuffle; one more
    # (user, island) aggregate
    "events_streaks": (2, 0),
    # per-epoch rank window + checksum agg; the 3-row epoch frame and
    # the per-epoch checksums must broadcast
    "mix_epoch_shuffle": (2, 2),
    # one agg shuffle; the tolerance window rides the same user shuffle
    "join_asof_tolerance": (1, 0),
    # NULL bucket hashes like any value: dim broadcast, one agg shuffle
    "join_null_safe": (1, 1),
    # per-priority ntile + rollup ride ONE shuffle
    "win_ntile_buckets": (1, 0),
    # spread + ctf agg + token join + doc agg; corpus count broadcast-free
    "text_rarity_score": (4, 0),
    # k-row persisted aggregate + single-partition total; total broadcasts
    "mix_temperature_weights": (3, 1),
    # one agg shuffle each; URL parse and nth_value ride single exchanges
    "scalar_url_parse": (1, 0),
    "win_nth_value": (2, 0),
    # per-nation agg + region roster agg; region dim must broadcast
    "agg_string_concat": (2, 1),
    # NOTE: assoc_basket_rules / graph_triangle_count / rec_item_cosine /
    # graph_bfs_hops / embed_power_iteration / dedup_containment /
    # events_rfm_segments are audited in
    # PLAN_AUDIT.json but not pinned here: their nested persist_tracked
    # chains make treeString reprint cached build plans per consumer, so
    # the census number is a print artifact, not a stage count (runtime
    # shuffles ≈ 4 / 7 / 4 / 8 / 13).
}


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_shuffle_budget(spark, name):
    # another test's persist can leave a cached plan that CacheManager
    # substitutes into a matching subtree here, changing the census —
    # audit the uncached shape
    spark.catalog.clearCache()
    if name in (
        "embed_pq_quantize",
        "pq_adc_topk",
        "ivfpq_search",
        "dedup_semantic",
    ):
        # pin the steady-state plan: train- and encode-once-per-session
        # means the audited read path uses the session codebook and
        # codes, not the Lloyd chain or the encoding projection
        entrymod.queries()[name](spark, SF_DIR)
    max_shuffles, min_broadcasts = BUDGETS[name]
    registry = {**entrymod.queries(), **entrymod.production_queries()}
    census = count_exchanges(registry[name](spark, SF_DIR))
    assert census["shuffles"] <= max_shuffles, census
    assert census["broadcasts"] >= min_broadcasts, census


PKG = Path(entrymod.__file__).resolve().parent / "aind_hcr_data_transformation_spark"


def test_every_broadcast_hint_states_its_bound():
    """The planner's size estimates choose broadcasts; a hint stays only
    where it changes a plan, with a ``# bounded:`` comment on its line
    or the line above saying why its side stays small."""
    bare = []
    for path in sorted(PKG.rglob("*.py")):
        lines = path.read_text().splitlines()
        for i, line in enumerate(lines):
            if "F.broadcast(" in line and not any(
                "# bounded:" in near for near in lines[max(i - 1, 0) : i + 1]
            ):
                bare.append(f"{path.relative_to(PKG)}:{i + 1}")
    assert not bare, bare


def test_local_relations_come_from_local_frame():
    """``session.local_frame`` is the one ``createDataFrame`` caller: a
    list-built frame plans as ``Scan ExistingRDD``, which has no size
    statistic (so the planner never broadcasts it) and starts a Python
    worker per task."""
    callers = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        owner: dict[int, str] = {}
        for node in ast.walk(tree):  # breadth first: outermost def wins
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for sub in ast.walk(node):
                    owner.setdefault(id(sub), node.name)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                callers.append(f"{path.relative_to(PKG)}:{owner.get(id(node))}")
    assert callers == ["session.py:local_frame"], callers
