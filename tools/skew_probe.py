"""Planted-skew differential: null_probe's sibling for the hot-key axis.

100 TB corpora are never uniform: one user emits 30% of events, one
customer places 30% of orders, one language covers 90% of a crawl. The
salted queries (``join_salted_skew``, ``agg_salted_skew``) exist for
exactly this regime — this probe verifies the OTHER ~218 registry
entries survive it too, on both axes that matter:

1. **Correctness under skew** (the null_probe shape): copy a fixture
   dir, redirect a key column's rows onto one existing hot key, run the
   FULL registry differential against the mutated fixtures. Any query
   whose answer depends on arrival order, tie-breaks, or per-group
   assumptions that uniform fixtures masked fails the rows/hash compare
   here, before a driver or advisor sees it. Four stages, one hot axis
   each:

   - ``events_hot_user``   — 30% of events from one user_id;
   - ``orders_hot_cust``   — 30% of orders from one customer;
   - ``lineitem_hot_part`` — 30% of lineitems on one part;
   - ``docs_hot_lang``     — 90% of documents in one language.

   The hot key is the column's own first value, so referential
   integrity against dimension tables is preserved by construction.

2. **Walls under skew** (``--walls``): at sf0.1 build ONE fixture with
   all three fact-table hot keys planted and time the shuffle-heavy
   query set against it and against the pristine dir in the same
   session (pristine first — it absorbs the plan-JIT warm-up, biasing
   AGAINST false greens). A query whose runtime balloons when a single
   key owns 30% of its shuffle input has a hot-partition problem AQE
   didn't absorb; flagged at ratio > 3 AND delta > 2 s (the bench's
   noise floor on this host).

Usage::

    python tools/skew_probe.py [src_sf_dir] [--json SKEW_PROBE.json]
        [--walls /root/testdata/sf0.1]
"""

from __future__ import annotations

import json
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools.registry_run import (  # noqa: E402
    derive,
    each,
    fixture_sweep,
    noop_wall,
    opt,
    overwrite,
    session,
)

#: stage -> (table, key col used for the deterministic row mask,
#:           mutated col, percent of rows redirected to the hot key)
STAGES = {
    "events_hot_user": ("events", "event_id", "user_id", 30),
    "orders_hot_cust": ("orders", "o_orderkey", "o_custkey", 30),
    "lineitem_hot_part": ("lineitem", "l_orderkey", "l_partkey", 30),
    "docs_hot_lang": ("documents", "doc_id", "lang", 90),
}

#: the shuffle-heavy wall-guard set: every query whose plan carries a
#: key-partitioned shuffle a hot key could pile onto one task (joins,
#: groupBys, window partitions, candidate-pair generators)
WALL_QUERIES = [
    "q3_shipping_priority",
    "q9_product_profit",
    "join_shuffle_equi",
    "join_outer",
    "join_asof",
    "join_asof_nearest",
    "join_bloom_semi",
    "join_salted_skew",
    "agg_salted_skew",
    "agg_kmv_distinct",
    "agg_approx_quantiles",
    "events_rfm_segments",
    "evw_session",
    "udaf_user_median",
    "grouped_zscore",
    "win_running",
    "graph_triangle_count",
    "assoc_basket_rules",
    "rec_item_cosine",
    "dedup_exact",
    "dedup_minhash_fast",
    "text_tfidf_topk",
    "text_rarity_score",
    "ts_changepoint_cusum",
    "stream_user_totals",
    "stream_sessions",
]


def build_skew_fixture(
    src: str, dst: str, stages: list[str]
) -> dict[str, int]:
    """Copy ``src`` into ``dst`` with the named hot-key mutations applied
    (each stage on its own table). Returns stage -> redirected row
    count. The hot key is the column's first value: FK-safe."""
    edits = {}
    for s in stages:
        table, key, col, pct = STAGES[s]
        edits[table] = overwrite(
            key, lambda k, pct=pct: (k % 100) < pct, col, lambda c: c[0]
        )
    counts = derive(src, dst, edits)
    return {s: counts[STAGES[s][0]] for s in stages}


def run_wall_guard(walls_src: str) -> dict:
    """Time WALL_QUERIES against pristine-then-skewed sf0.1 fixtures in
    one session; flag hot-partition blowups (ratio > 3 AND delta > 2 s)."""
    out: dict[str, dict] = {}
    with tempfile.TemporaryDirectory(prefix="sfskew_walls_") as dst:
        counts = build_skew_fixture(
            walls_src,
            dst,
            ["events_hot_user", "orders_hot_cust", "lineitem_hot_part"],
        )
        print(f"[walls] skewed fixture: {dst} ({counts})", flush=True)
        spark = session("skew-probe")
        # pristine first: it pays the per-plan JIT warm-up, so a skewed
        # slowdown is understated rather than manufactured
        for tag, sf in [("base", walls_src), ("skew", dst)]:
            for name, wall, err in each(spark, sf, WALL_QUERIES, noop_wall):
                if err:
                    raise err
                out.setdefault(name, {})[tag] = wall
                print(f"[walls] {tag}:{name}: {wall}s", flush=True)
        spark.stop()
    flagged = []
    for name, w in out.items():
        ratio = w["skew"] / w["base"] if w["base"] else None
        w["ratio"] = round(ratio, 2) if ratio else None
        if ratio and ratio > 3 and (w["skew"] - w["base"]) > 2:
            flagged.append(name)
            w["flagged"] = True
    return {"fixture_counts": counts, "queries": out, "flagged": flagged}


def main() -> int:
    argv = sys.argv[1:]
    json_out = opt(argv, "--json", "SKEW_PROBE.json")
    walls_src = opt(argv, "--walls")
    src = argv[0] if argv else "/root/testdata/sf0.001"

    def build(stage):
        table, _key, col, pct = STAGES[stage]
        return lambda dst: {
            "mutation": f"{pct}% of {table}.{col} -> first value",
            "hot_rows": build_skew_fixture(src, dst, [stage])[stage],
        }

    doc: dict = {"src": src, "stages": {}}
    flagged = fixture_sweep(doc, json_out, {s: build(s) for s in STAGES})
    if walls_src:
        doc["walls"] = run_wall_guard(walls_src)
        Path(json_out).write_text(json.dumps(doc, indent=1))
        if doc["walls"]["flagged"]:
            flagged["walls"] = doc["walls"]["flagged"]
    print(f"wrote {json_out}; failures: {flagged or 'none'}")
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
