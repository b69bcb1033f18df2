"""Measured scale-up evidence: per-query shuffle-byte growth between two
scale factors.

The design claims ("df caps bound the pair join", "banding beats
all-pairs", "one shuffle per logical step") predict that shuffle volume
grows roughly LINEARLY with input size.  This tool turns that prediction
into a recorded number: every probed query runs at two scale factors
(default sf0.01 and sf0.1, a 10x data growth) inside a session with the
standard Spark event log enabled; the log's public JSON schema
(SparkListenerJobStart's job-group property + SparkListenerTaskEnd's
Task Metrics) attributes shuffle-write / shuffle-read / input bytes to
each query, and the growth ratio is classified:

- ``sublinear``    ratio <  0.7 x data growth
- ``linear``       ratio <= 1.5 x data growth
- ``superlinear``  anything above — the would-not-survive-100x flag

Candidate-pair generators (Jaccard, containment) were rebuilt in round
6 on a shared candidate-generate → exact-verify index (banded minhash
LSH ∪ constant-df rare-shingle channel, ``dedup._pair_candidates``):
LSH pair volume tracks genuinely-similar pairs and the rare channel's
per-shingle fan-out is bounded by the constant cap² — both classify
linear/sublinear in this window.  (``dedup_cdc_chunks`` still uses the
sublinear ``clamp(isqrt(n), 20, 10k)`` df cut on chunk hashes; round
5's linear cap ``n/25`` measured 17-20x at 10x data before these
fixes.)

Usage::

    python tools/scale_probe.py [--json SCALE_PROBE.json] [--full] [query ...]
    python tools/scale_probe.py --small /root/testdata/sf0.1 \
        --big .sfscale/sf1 --growth 10 --json SCALE_PROBE_SF1.json [query ...]

``--full`` probes the ENTIRE registry (queries() + production twins)
instead of the headline DEFAULT_QUERIES sample. ``--small``/``--big``/
``--growth`` probe a different decade of the growth curve (VERDICT r8
task 2: sf0.1 → a derived sf1, built by tools/make_sf_scale.py).

Writes one JSON object keyed by query name with bytes at each SF, the
growth ratios, and the classification.  No Spark UI, no REST — only the
event log, which works headless.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_SMALL = "/root/testdata/sf0.01"
SF_BIG = "/root/testdata/sf0.1"
DATA_GROWTH = 10.0

#: headline scale-sensitive queries: every candidate-pair generator, the
#: iterative ops, one rep per join/agg/window family
DEFAULT_QUERIES = [
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_minhash_lsh",
    "dedup_minhash_fast",
    "dedup_components",
    "dedup_embedding_cosine",
    "dedup_exact",
    "ivf_kmeans_ann",
    "sim_ann_signlsh",
    "text_rarity_score",
    "text_tfidf_topk",
    "q3_shipping_priority",
    "q9_product_profit",
    "join_shuffle_equi",
    "join_asof",
    "agg_approx_quantiles",
    "events_rfm_segments",
    "evw_session",
    # round-5 additions with interesting scale shapes: the BPE loop's
    # vocabulary-sized rounds, the single-shuffle bidirectional as-of,
    # the Pregel-family LPA, and the census-collect CUSUM argmax
    "bpe_learn_merges",
    # round-6: the tokenizer APPLY stage (vocabulary-sized merge rounds
    # + one corpus-instance multiply-join)
    "bpe_tokenize_corpus",
    "join_asof_nearest",
    "graph_label_propagation",
    "ts_changepoint_cusum",
    # round-6: the expensive bench tail (VERDICT r5 task 4) — every
    # query >2 s at sf0.1 gets a MEASURED growth class, not an argued one
    "ivfpq_search",
    "dedup_canonical_pick",
    "dedup_semantic",
    "graph_bfs_hops",
    "pq_adc_topk",
    "boilerplate_strip",
    # assoc runs FIRST of the two shared-basket consumers so the
    # (linear) basket/pair build lands in its measurement; the
    # triangle row then measures the bounded-graph residual.  The
    # other order flagged assoc superlinear on an accounting
    # artifact: its residual is a countDistinct + marginals whose
    # small-SF bytes are deflated by AQE partition coalescing.
    "assoc_basket_rules",
    "graph_triangle_count",
    "embed_pq_quantize",
    "grouped_zscore",
    "embed_power_iteration",
    "udaf_user_median",
    "dedup_minhash_incremental",
    "join_bloom_semi",
    "scalar_try_funcs",
    "contamination_bloom",
    "stream_stream_join",
    "rag_mmr_rerank",
    "text_ccnet_buckets",
    "rec_item_cosine",
    # round-7 additions: the KMV bottom-k sketch (grouped two-phase
    # rank) and the priority sample (TakeOrdered + 1-row τ broadcast)
    "agg_kmv_distinct",
    "mix_priority_sample",
    # round-7 (VERDICT r6 task 7): the full stream_* family.  Their
    # micro-batch jobs run on Structured Streaming's own threads, so the
    # thread-local job group never tags them — the event-log accounting
    # saw zero bytes ("no_shuffle" blind spot).  The probe now ALSO
    # attributes ungrouped task events by wall-clock interval (queries
    # run strictly serially), which gives every streaming query a real
    # measured growth class.
    "stream_tumbling_counts",
    "stream_user_totals",
    "stream_dedup",
    "stream_static_join",
    "stream_sessions",
    "stream_foreach_upsert",
    "stream_static_anti_join",
    "stream_quality_filter",
    "stream_ohlc",
    "stream_png_decode",
    "stream_pattern_match",
    "stream_asof_enrich",
    "stream_cusum_drift",
]


def parse_event_log(
    log_dir: Path, intervals: list | None = None
) -> dict[str, dict[str, int]]:
    """Sum task metrics per job group across every app log in the dir.

    ``intervals`` is an optional list of ``(group, start_ms, end_ms)``
    wall-clock windows: tasks whose stage carries NO job group (jobs
    launched from Structured Streaming's micro-batch threads never
    inherit the driver thread's group) are attributed to the window
    containing their finish time.  The probe runs queries strictly
    serially, so interval attribution is exact."""
    agg: dict[str, dict[str, int]] = defaultdict(
        lambda: {"shuffle_write": 0, "shuffle_read": 0, "input": 0}
    )
    # Spark 4 rolling logs: eventlog_v2_<app>/ dirs holding events_* files
    logs = [
        p
        for p in sorted(log_dir.rglob("*"))
        if p.is_file() and not p.name.startswith((".", "appstatus"))
    ]
    # stage IDs restart per APPLICATION: group files by app (the
    # eventlog_v2_<app> dir for rolling logs, the file itself otherwise)
    # so app B's stage 1 never inherits app A's job group
    by_app: dict = defaultdict(list)
    for log in logs:
        app = (
            log.parent
            if log.parent.name.startswith("eventlog_v2")
            else log
        )
        by_app[app].append(log)
    for app_logs in by_app.values():
        stage_group: dict[int, str] = {}
        for log in app_logs:
            _parse_one(log, stage_group, agg, intervals or [])
    return agg


#: wall-clock fallback slack (ms): a task can report a Finish Time a
#: beat after the driver-side save() returned; credit it to the query
#: whose window just closed rather than dropping it.
_WINDOW_PAD_MS = 500


def _group_for_time(intervals: list, t_ms) -> str | None:
    """Wall-clock-interval fallback attribution.

    LOCAL-MODE ASSUMPTION: compares the driver's time.time() windows
    against executor-reported task Finish Times, which is only exact
    when driver and executors share a clock — true for the local[N]
    probe runs this tool performs, NOT for a distributed cluster (there
    you would derive windows from driver-side JobStart/JobEnd listener
    events instead). Queries run strictly serially, and windows are
    checked in order with first-match-wins, so the ``_WINDOW_PAD_MS``
    slack on each window end credits a task finishing just after
    save() returned to the query that spawned it, never to the next
    query's window.
    """
    if t_ms is None:
        return None
    # strict containment first: the pad exists ONLY to recover tasks
    # finishing just after save() returned, and must never steal a task
    # that strictly belongs to the NEXT query's window (a padded-first
    # scan mis-flagged two stream_* queries as superlinear by crediting
    # their early small-SF shuffle writes to the preceding query)
    for group, start, end in intervals:
        if start <= t_ms <= end:
            return group
    for group, start, end in intervals:
        if start <= t_ms <= end + _WINDOW_PAD_MS:
            return group
    return None


def _parse_one(log: Path, stage_group: dict, agg: dict, intervals: list) -> None:
    """Fold one event-log file into ``agg`` using the app's stage map."""
    with open(log, encoding="utf-8") as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:  # partial final line
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id"
                )
                if group:
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                if not group or not group.startswith(("small:", "big:")):
                    # not one of the probe's own groups: Structured
                    # Streaming's micro-batch thread sets its OWN job
                    # group (the query runId), so streaming tasks are
                    # mis-grouped rather than ungrouped — fall back to
                    # the wall-clock window of the serially-running query
                    group = _group_for_time(
                        intervals, (ev.get("Task Info") or {}).get("Finish Time")
                    )
                if not group:
                    continue
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                im = m.get("Input Metrics") or {}
                a = agg[group]
                a["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                a["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                a["input"] += im.get("Bytes Read", 0)


def classify(ratio: float, growth: float = DATA_GROWTH) -> str:
    if ratio < 0.7 * growth:
        return "sublinear"
    if ratio <= 1.5 * growth:
        return "linear"
    return "superlinear"


def main() -> int:
    from tools.registry_run import each, flag, noop_wall, opt, pick, registry, session

    argv = sys.argv[1:]
    json_out = opt(argv, "--json", "SCALE_PROBE.json")
    sf_small = opt(argv, "--small", SF_SMALL)
    sf_big = opt(argv, "--big", SF_BIG)
    growth = float(opt(argv, "--growth", DATA_GROWTH))
    # --conf k=v (repeatable): pin a plan choice across both SFs — e.g.
    # spark.sql.autoBroadcastJoinThreshold=-1 isolates a BHJ→SMJ
    # threshold step from genuine growth (r10: the rec_item_cosine
    # sf3→sf10 flag was exactly such a step; explicit broadcast() hints
    # still apply, so vocabulary-sized dims stay broadcast)
    extra_conf: dict[str, str] = {}
    while (kv := opt(argv, "--conf")) is not None:
        k, _, v = kv.partition("=")
        extra_conf[k] = v
    # --full: the whole registry — makes "zero superlinear" a census
    # claim, not a 26%-sample claim (VERDICT r7 task 2)
    full = flag(argv, "--full")
    queries = registry()
    names = pick([] if full else argv or DEFAULT_QUERIES, queries)

    log_dir = Path(tempfile.mkdtemp(prefix="spark_scale_probe_"))
    spark = session(
        "scale-probe",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            **extra_conf,
        },
    )

    intervals: list[tuple[str, float, float]] = []

    def traced(name, build):
        group = f"{tag}:{name}"
        spark.sparkContext.setJobGroup(group, group)
        t0_ms = time.time() * 1000
        wall = noop_wall(name, build)
        intervals.append((group, t0_ms, time.time() * 1000))
        spark.sparkContext.setJobGroup("", "")
        return wall

    for sf_dir, tag in [(sf_small, "small"), (sf_big, "big")]:
        for name, wall, err in each(spark, sf_dir, names, traced):
            if err:
                raise err
            # walls are printed as progress only, NOT recorded: the
            # small-SF pass absorbs per-plan JIT/warm-up, so its wall
            # routinely exceeds the 10×-data wall and any recorded
            # ratio would mislead (VERDICT r6 "what's wrong" #3).  The
            # recorded signal is shuffle-byte growth, which warm-up
            # does not touch.
            print(f"ran {tag}:{name}: {wall} s (progress only)", flush=True)
    spark.stop()  # flush the event log

    agg = parse_event_log(log_dir, intervals)
    # a --full probe's event log is ~0.5 GB; don't let per-round runs
    # accumulate gigabytes of dead logs in /tmp
    shutil.rmtree(log_dir, ignore_errors=True)
    out = {}
    flagged = []
    for name in names:
        small = agg.get(f"small:{name}", {})
        big = agg.get(f"big:{name}", {})
        sw_s, sw_b = small.get("shuffle_write", 0), big.get("shuffle_write", 0)
        ratio = (sw_b / sw_s) if sw_s else None
        if sw_s:
            cls = classify(ratio, growth)
        elif sw_b >= 1 << 20:
            # 0 -> N: a broadcast/local plan at the small SF fell back to
            # a real shuffle at the big SF — the worst scaling shape, not
            # a shuffle-free one
            cls = "superlinear"
        elif sw_b:
            # 0 -> a few KB (e.g. sort_topk's AQE detail at the derived
            # sf1: 888 bytes): a sub-MiB absolute cannot be "the worst
            # scaling shape" — record it without crying wolf
            cls = "negligible_shuffle"
        else:
            cls = "no_shuffle"
        if cls == "superlinear":
            flagged.append(name)
        out[name] = {
            "shuffle_write_small": sw_s,
            "shuffle_write_big": sw_b,
            "shuffle_read_small": small.get("shuffle_read", 0),
            "shuffle_read_big": big.get("shuffle_read", 0),
            "input_small": small.get("input", 0),
            "input_big": big.get("input", 0),
            "shuffle_growth": round(ratio, 2) if ratio is not None else None,
            "class": cls,
        }
    doc = {
        "data_growth": growth,
        "sf_small": sf_small,
        "sf_big": sf_big,
        "queries": out,
        "superlinear": flagged,
    }
    Path(json_out).write_text(json.dumps(doc, indent=1))
    print(f"wrote {json_out}; superlinear: {flagged or 'none'}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
