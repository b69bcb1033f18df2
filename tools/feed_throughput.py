"""Sustained-throughput probe for the broker-shaped feed source
(VERDICT r11 task 5): chaos + admission-control evidence proves the
feed CORRECT; this measures how fast it moves events, because a
broker-shaped source at 100x is throughput-bound before it is
correctness-bound.

Method: replay the events topic through ``run_feed_bounded`` under the
production continuous trigger (processingTime=0) at a LADDER of batch
sizes (``feed_target_batches`` from many-small to few-large), a
passthrough projection into the memory sink — no state, no shuffle —
so the measured ceiling is the source + trigger machinery itself, plus
one stateful windowed config (the registry query's shape) for the
end-to-end number. Each config gets ``--samples`` runs (median
quoted); every run uses a fresh consumer group + checkpoint, so runs
never resume each other.

What to expect and why it matters: per-micro-batch overhead (trigger
planning + DataSource runner round-trip + state commit) is the floor
at small batches; events/s should rise roughly linearly with batch
size until the per-row Arrow transfer cost dominates. A regression in
either regime (a new per-batch driver round-trip, a per-row Python
crossing) shows up as a flattened or shifted curve — which is exactly
what ``tests/test_feed_source.py::test_feed_throughput_floor`` pins
with a conservative floor.

Usage::

    python tools/feed_throughput.py [sf_dir] [--json FEED_THROUGHPUT.json]
                                    [--samples N]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import uuid
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools.registry_run import opt  # noqa: E402

BATCH_LADDER = (24, 12, 6, 3)  # feed_target_batches, small -> large batches

from bench import _median  # noqa: E402  (one shared helper, not a fork)


def run_config(
    spark, sf_dir: str, target_batches: int, stateful: bool
) -> dict:
    """One bounded replay; returns rows, wall, events/s."""
    from pyspark.sql import functions as F

    from aind_hcr_data_transformation_spark.streaming.feed import (
        read_feed,
        run_feed_bounded,
    )

    group = tempfile.mkdtemp(prefix="feed_tput_grp_")
    try:
        feed = read_feed(
            spark,
            sf_dir,
            feed_target_batches=target_batches,
            progress_dir=group,
        )
        if stateful:
            df = (
                feed.withWatermark("ts", "1 hour")
                .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
                .agg(F.count(F.lit(1)).alias("n"))
            )
        else:
            df = feed.select("event_id", "ts", "event_type")
        t0 = time.perf_counter()
        # stateless configs run the r13 low-latency path (async progress
        # tracking — offset WALs off the critical path); Spark restricts
        # async progress to stateless queries, so the stateful config
        # keeps synchronous commits
        out = run_feed_bounded(
            df,
            f"tput_{uuid.uuid4().hex[:6]}",
            "append",
            timeout_s=300.0,
            async_progress=not stateful,
        )
        wall = time.perf_counter() - t0
        rows = out.count()
        return {"rows": rows, "wall_s": round(wall, 2)}
    finally:
        shutil.rmtree(group, ignore_errors=True)


def main() -> int:
    argv = sys.argv[1:]
    json_out = opt(argv, "--json", "FEED_THROUGHPUT.json")
    samples = int(opt(argv, "--samples", "3"))
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"

    import duckdb

    n_events = duckdb.sql(
        f"select count(*) from '{sf_dir}/events.parquet'"
    ).fetchone()[0]

    from aind_hcr_data_transformation_spark.session import get_spark

    spark = get_spark(
        "feed-throughput",
        extra_conf={"spark.sql.shuffle.partitions": "4"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warm the DataSource streaming runtime the way bench.py does, so
    # config 1 doesn't carry the ~8 s one-time runner spin-up
    run_config(spark, sf_dir, BATCH_LADDER[0], stateful=False)

    configs = []
    for nb in BATCH_LADDER:
        walls, rows = [], None
        for _ in range(samples):
            r = run_config(spark, sf_dir, nb, stateful=False)
            walls.append(r["wall_s"])
            rows = r["rows"]
        wall = _median(walls)
        configs.append(
            {
                "feed_target_batches": nb,
                "batch_rows": n_events // nb,
                "rows": rows,
                "wall_s_samples": walls,
                "wall_s_median": round(wall, 2),
                "events_per_s": round(rows / wall, 1),
            }
        )
        print(f"passthrough nb={nb}: {configs[-1]}", flush=True)

    stateful_walls = []
    for _ in range(samples):
        r = run_config(spark, sf_dir, 6, stateful=True)
        stateful_walls.append(r["wall_s"])
    swall = _median(stateful_walls)
    stateful = {
        "feed_target_batches": 6,
        "events_ingested": n_events,
        "wall_s_samples": stateful_walls,
        "wall_s_median": round(swall, 2),
        "events_per_s": round(n_events / swall, 1),
    }
    print(f"stateful windowed: {stateful}", flush=True)

    # attribution control (r13): the per-batch floor is pyspark's OWN
    # python-task job overhead, not the feed reader — a trivial warm
    # 4-task mapInArrow job over the same row count measures it. The
    # per-batch cost a zero-cost source cannot avoid is this number;
    # events/s at nb batches is bounded by n_events / (nb * floor).
    def _ident(it):
        for b in it:
            yield b

    probe_df = spark.range(n_events // BATCH_LADDER[0], numPartitions=4)
    floors = []
    for _ in range(max(3, samples)):
        t0 = time.perf_counter()
        probe_df.mapInArrow(_ident, "id long").write.format("noop").mode(
            "overwrite"
        ).save()
        floors.append(time.perf_counter() - t0)
    job_floor_ms = round(_median(floors) * 1000, 1)

    peak = max(c["events_per_s"] for c in configs)
    out = {
        "sf_dir": sf_dir,
        "n_events": n_events,
        "samples_per_config": samples,
        "passthrough": configs,
        "stateful_windowed": stateful,
        "peak_events_per_s": peak,
        "python_job_floor_ms": job_floor_ms,
        "job_floor_ceiling_events_per_s": {
            str(nb): round(n_events / (nb * job_floor_ms / 1000), 1)
            for nb in BATCH_LADDER
        },
        "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
    }
    (REPO / json_out).write_text(json.dumps(out, indent=1))
    print(
        f"feed throughput: peak {peak} ev/s "
        f"(stateful {stateful['events_per_s']} ev/s) -> {json_out}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
