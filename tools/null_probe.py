"""NULL-injection differential: the advisor-findings class, automated.

Every latent cross-engine divergence the round-7/8 advisors found was
the same shape: a query/oracle twin that agrees on the shipped fixtures
but diverges the day a nullable column actually carries NULLs (r7:
``source_schema_evolution``'s parity-CASE vs coalesce; r8: a NULL lang
nulling Spark's whole concatenated URL in ``scalar_url_parse`` while
the oracle's independent string algebra kept host non-NULL).

This tool makes that class testable by construction instead of
advisor-audit luck: it copies a fixture dir, injects NULLs into a
nullable column (default: ``documents.lang``, every doc_id % 7 == 0 —
the column the schema declares nullable and real crawl corpora leave
unset), and runs the FULL registry differential against the mutated
fixtures. A query that treats NULLs differently from its oracle fails
the rows/hash compare right here, before any driver or advisor sees it.

Five mutations run, each against the full registry, every one of which
caught a real latent divergence on its first run:

1. ``documents.lang = NULL`` (und-tagged crawl shards) — caught
   ``scalar_url_parse``'s concat-null-propagation;
2. ``events.value = NULL`` (metric-less telemetry rows) — caught
   ``stream_user_totals``' stateful kernel int()-crashing on NaN;
3. ``events.event_type = NULL`` — caught ``mv_incremental_refresh``
   merging on plain equi-keys (NULL != NULL splits the NULL group the
   oracle's GROUP BY keeps whole);
4. ``events.props = NULL`` — clean on first run (variant/JSON paths
   already try_-guarded);
5. ``documents.text = ''`` (empty, NOT NULL — a NULL text is not a
   document, TESTDATA.md contract) — caught THREE: DuckDB's
   ``array_to_string([])`` being NULL vs Spark's ``array_join`` ''
   (shared dedup mutant corpus), the multimodal magic-u32 oracle
   faking 0x0 for <4-byte payloads, and the CSV roundtrip conflating
   '' with NULL under the default null token;
6. ``tiny`` — every table truncated to a degenerate slice (1-row
   groups, k>n top-k, sketch tie mass, near-empty LSH) — caught
   ``grouped_zscore`` returning 0 where stddev_samp is NULL/0 (SQL
   says NULL) and the quantile-sketch rank-error flags ignoring tie
   mass (a sketch answer's cumulative rank jumps in tie-count steps,
   which dominates the flat 5% at tiny n).

Usage::

    python tools/null_probe.py [src_sf_dir] [--json NULL_PROBE.json]
    python tools/null_probe.py [src_sf_dir] --only STAGE[,STAGE...]

``--only`` runs the named stages and merges them into the existing
JSON, keeping the other stages' records.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools.registry_run import derive, fixture_sweep, opt, overwrite  # noqa: E402


def build_fixture(src: str, dst: str, mutation: str) -> int:
    """Copy ``src`` fixtures into ``dst`` with one column nulled;
    returns the number of nulled rows."""
    table, key, col, mod, repl = MUTATIONS[mutation]
    edit = overwrite(key, lambda k: (k % mod) == 0, col, repl)
    return derive(src, dst, {table: edit})[table]


#: mutation -> (table, key col, mutated col, key modulus, replacement)
MUTATIONS = {
    "lang": ("documents", "doc_id", "lang", 7, None),
    "value": ("events", "event_id", "value", 11, None),
    "event_type": ("events", "event_id", "event_type", 17, None),
    "props": ("events", "event_id", "props", 13, None),
    # r9 advisor: the feed partitioner's `uid % nparts == pid` dropped
    # NULL-keyed rows (NaN == pid is false for every partition) while
    # the file source and oracle kept them — same class as the
    # agg_kmv_distinct NULL-group bug; this stage keeps the column hot
    "user_id": ("events", "event_id", "user_id", 23, None),
    "empty_text": ("documents", "doc_id", "text", 19, ""),
}

#: the degenerate-cardinality stage: tiny slices stress k>n top-k,
#: 1-row groups (stddev_samp NULL), sketch tie mass, near-empty LSH —
#: its first run caught grouped_zscore returning 0 where SQL says NULL
#: and the quantile-sketch flag bound ignoring tie mass
TINY_ROWS = {
    "region": 5, "nation": 25, "customer": 20, "supplier": 5,
    "part": 25, "orders": 40, "lineitem": 120, "events": 60,
    "documents": 12, "embeddings": 18,
}


def build_tiny_fixture(src: str, dst: str) -> int:
    edits = {
        t: lambda tab, n=n: (tab.slice(0, n), min(n, tab.num_rows))
        for t, n in TINY_ROWS.items()
    }
    return sum(derive(src, dst, edits).values())


def main() -> int:
    argv = sys.argv[1:]
    json_out = opt(argv, "--json", "NULL_PROBE.json")
    only = opt(argv, "--only")
    only = set(only.split(",")) if only else None
    src = argv[0] if argv else "/root/testdata/sf0.001"

    stages = (
        json.loads(Path(json_out).read_text())["stages"]
        if only and Path(json_out).exists()
        else {}
    )
    descs = {
        m: f"{t}.{c} = {v!r} where {k} % {mod} = 0"
        for m, (t, k, c, mod, v) in MUTATIONS.items()
    }
    descs["tiny"] = "truncate every table to TINY_ROWS slices"

    def build(mutation):
        def fields(dst):
            if mutation == "tiny":
                nulled = build_tiny_fixture(src, dst)
            else:
                nulled = build_fixture(src, dst, mutation)
            return {"mutation": descs[mutation], "nulled_rows": nulled}

        return fields

    flagged = fixture_sweep(
        {"src": src, "stages": stages},
        json_out,
        {m: build(m) for m in descs if not only or m in only},
    )
    print(f"wrote {json_out}; failures: {flagged or 'none'}")
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
