"""The broker-shaped event feed (streaming/feed.py): offset semantics,
time-aligned admission control, consumer-group commit/resume, and
checkpointed exactly-once recovery through a restart — the contract a
Kafka-class source integration must honor, proven without a broker.
"""

from __future__ import annotations

import json
import os
import time

from aind_hcr_data_transformation_spark.streaming.feed import (
    _MIN_CUT,
    EventFeedStreamReader,
    _feed_plan,
    read_feed,
    stream_feed_windowed,
)
from tests.conftest import SF_DIR

EVENTS = f"{SF_DIR}/events.parquet"


def _reader(tmp_path, **opts) -> EventFeedStreamReader:
    options = {
        "path": EVENTS,
        "feed_partitions": "4",
        "feed_target_batches": "5",
        "progress_dir": str(tmp_path / "prog"),
    }
    options.update({k: str(v) for k, v in opts.items()})
    return EventFeedStreamReader(options)


# ---------------------------------------------------------------------------
# replay plan: time-aligned cutoffs
# ---------------------------------------------------------------------------


def test_plan_cutoffs_monotone_and_cover_everything():
    cuts = _feed_plan(EVENTS, 5)
    assert cuts == sorted(set(cuts)), "cutoffs must be strictly increasing"
    import pyarrow.parquet as pq

    ts = (
        pq.read_table(EVENTS, columns=["ts"])
        .column("ts")
        .cast("timestamp[us]")
        .cast("int64")
        .to_numpy(zero_copy_only=False)
    )
    assert cuts[-1] == int(ts.max()), "final cutoff must close the topic"
    assert len(cuts) <= 5


def test_plan_single_batch_degenerates_cleanly():
    cuts = _feed_plan(EVENTS, 1)
    assert len(cuts) == 1


# ---------------------------------------------------------------------------
# offsets / partitions
# ---------------------------------------------------------------------------


def test_latest_offset_walks_the_cutoff_ladder(tmp_path):
    r = _reader(tmp_path)
    assert r.initialOffset() == {"cut": _MIN_CUT}
    seen = []
    for _ in range(len(r._cuts) + 2):
        seen.append(r.latestOffset()["cut"])
    assert seen[: len(r._cuts)] == r._cuts, "one cutoff per trigger"
    assert seen[-1] == r._cuts[-1], "drained feed stays at the final cutoff"


def test_partitions_empty_when_range_is_empty(tmp_path):
    r = _reader(tmp_path)
    assert r.partitions({"cut": 5}, {"cut": 5}) == []
    # inverted range (restart with stale reader cursor): empty, never
    # wrong data — and the cursor syncs FORWARD to Spark's start
    assert r.partitions({"cut": 9}, {"cut": 5}) == []
    assert r._cur >= 9


def test_partition_parallel_read_covers_each_batch_exactly(tmp_path):
    """Rows served for (start, end] across all feed partitions are
    exactly the events with start < ts <= end, each exactly once —
    offsets are values, so any range is exactly replayable."""
    import pyarrow as pa

    r = _reader(tmp_path)
    lo, hi = _MIN_CUT, r._cuts[1]
    got = []
    for part in r.partitions({"cut": lo}, {"cut": hi}):
        for batch in r.read(part):
            got.append(pa.Table.from_batches([batch]))
    tbl = pa.concat_tables(got)
    import pyarrow.parquet as pq

    full = pq.read_table(EVENTS, columns=["event_id", "ts"])
    ts = full.column("ts").cast("timestamp[us]").cast("int64").to_numpy(
        zero_copy_only=False
    )
    want = sorted(
        int(e)
        for e, t in zip(
            full.column("event_id").to_numpy(zero_copy_only=False), ts
        )
        if lo < t <= hi
    )
    assert sorted(tbl.column("event_id").to_pylist()) == want


def test_time_aligned_batches_never_produce_late_rows(tmp_path):
    """The watermark-exactness guarantee: every row in batch k+1 has
    ts strictly greater than every row in batches <= k, so a replay can
    never drop a row as late regardless of watermark delay."""
    import pyarrow as pa

    r = _reader(tmp_path)
    prev_max = None
    lo = _MIN_CUT
    for hi in r._cuts:
        ts_vals = []
        for part in r.partitions({"cut": lo}, {"cut": hi}):
            for batch in r.read(part):
                ts_vals.extend(
                    pa.Table.from_batches([batch])
                    .column("ts")
                    .cast(pa.int64())
                    .to_pylist()
                )
        if ts_vals and prev_max is not None:
            assert min(ts_vals) > prev_max
        if ts_vals:
            prev_max = max(ts_vals)
        lo = hi


# ---------------------------------------------------------------------------
# consumer-group commit / resume
# ---------------------------------------------------------------------------


def test_commit_persists_and_new_reader_resumes(tmp_path):
    r1 = _reader(tmp_path)
    first = r1.latestOffset()
    r1.commit(first)
    committed = json.load(
        open(os.path.join(str(tmp_path / "prog"), "committed.json"))
    )
    assert committed["cut"] == first["cut"]
    # a NEW reader (restarted consumer) resumes past the committed cut
    r2 = _reader(tmp_path)
    assert r2.latestOffset()["cut"] > first["cut"]


# ---------------------------------------------------------------------------
# end-to-end: continuous trigger, multi-batch accumulation, recovery
# ---------------------------------------------------------------------------


def test_feed_windowed_matches_file_source_answer(spark):
    """The same watermarked aggregate through the broker feed (several
    time-aligned micro-batches, continuous trigger) and through the file
    source (availableNow, one batch) must agree row-for-row."""
    from aind_hcr_data_transformation_spark.streaming.events import (
        stream_tumbling_counts,
    )

    feed_rows = {
        (r["window_start"], r["event_type"], r["n_events"], r["sum_value"])
        for r in stream_feed_windowed(spark, SF_DIR).collect()
    }
    file_rows = {
        (r["window_start"], r["event_type"], r["n_events"], r["sum_value"])
        for r in stream_tumbling_counts(spark, SF_DIR).collect()
    }
    assert feed_rows == file_rows


def test_feed_runs_multiple_microbatches(spark, tmp_path):
    """The continuous run genuinely consumes the topic in several
    micro-batches (admission control), not one availableNow gulp."""
    n_total = spark.read.parquet(EVENTS).count()
    feed = read_feed(
        spark,
        SF_DIR,
        feed_partitions=4,
        feed_target_batches=5,
        progress_dir=str(tmp_path / "prog"),
    )
    sink = "feed_batches_probe"
    q = (
        feed.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            data_batches = [
                p for p in q.recentProgress if p["numInputRows"] > 0
            ]
            if sum(p["numInputRows"] for p in data_batches) >= n_total:
                break
            time.sleep(0.2)
    finally:
        q.stop()
        q.awaitTermination(30)
    assert len(data_batches) >= 4, [p["numInputRows"] for p in data_batches]
    assert spark.table(sink).count() == n_total


def test_feed_restart_is_exactly_once(spark, tmp_path):
    """Kill the consumer mid-topic, restart on the SAME checkpoint and
    progress dir: the parquet sink ends with every event exactly once —
    Spark's offset log drives replanning, the progress store restores
    the reader's admission cursor, and value-offsets make the replayed
    ranges identical."""
    out, ck, prog = tmp_path / "out", tmp_path / "ck", tmp_path / "prog"
    n_total = spark.read.parquet(EVENTS).count()

    def start(trigger_kwargs):
        feed = read_feed(
            spark,
            SF_DIR,
            feed_partitions=4,
            feed_target_batches=5,
            progress_dir=str(prog),
        )
        return (
            feed.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ck))
            .trigger(**trigger_kwargs)
            .start()
        )

    # run 1: let at least one data batch commit, then "crash"
    q1 = start({"processingTime": "120 seconds"})
    try:
        deadline = time.time() + 60
        done = 0
        while time.time() < deadline:
            done = sum(p["numInputRows"] for p in q1.recentProgress)
            if done:
                break
            time.sleep(0.2)
        assert done, "first micro-batch never committed"
    finally:
        q1.stop()
    q1.awaitTermination(30)

    n_mid = spark.read.parquet(str(out)).count()
    assert 0 < n_mid < n_total, "stop did not land mid-topic"

    # run 2: drain under the continuous trigger
    q2 = start({"processingTime": "0 seconds"})
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            st = q2.status
            if not st["isDataAvailable"] and not st["isTriggerActive"]:
                total = spark.read.parquet(str(out)).count()
                if total >= n_total:
                    break
            time.sleep(0.2)
    finally:
        q2.stop()
    q2.awaitTermination(30)

    got = spark.read.parquet(str(out))
    assert got.count() == n_total  # no holes
    assert got.select("event_id").distinct().count() == n_total  # no dupes
    # content equality against the batch read of the same table
    batch = spark.read.parquet(EVENTS).select(
        "event_id", "user_id", "event_type"
    )
    assert (
        got.select("event_id", "user_id", "event_type")
        .exceptAll(batch)
        .count()
        == 0
    )


def test_rate_source_unbounded_windows_smoke(spark, tmp_path):
    """Spark's built-in ``rate`` source is a genuinely UNBOUNDED
    continuous source (rows manufactured per wall-clock second, no
    backlog to drain): the windowed-aggregation operators must run on it
    unmodified — the engine-side proof that the stream_* surface is not
    specialized to bounded replays. Update mode (append would wait out
    the watermark on a source that never ends)."""
    from pyspark.sql import functions as F

    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "200")
        .load()
    )  # schema: (timestamp, value)
    windowed = (
        rate.withWatermark("timestamp", "2 seconds")
        .groupBy(
            F.window("timestamp", "1 second").alias("w"),
            (F.col("value") % 4).alias("lane"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sink = "rate_windows_smoke"
    q = (
        windowed.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        got = 0
        while time.time() < deadline:
            got = spark.table(sink).count()
            if got >= 8:  # a few windows x 4 lanes have been emitted
                break
            time.sleep(0.2)
    finally:
        q.stop()
        q.awaitTermination(30)
    assert got >= 8
    lanes = {r["lane"] for r in spark.table(sink).collect()}
    assert lanes <= {0, 1, 2, 3} and lanes


def test_null_user_id_rows_are_not_dropped(tmp_path):
    """r9 advisor finding: `uid % nparts == pid` silently dropped
    NULL-keyed rows (NaN == pid is false for every pid). A keyed
    producer with no key still publishes the record — NULL keys land
    on a fixed partition and every row survives the partitioner."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from aind_hcr_data_transformation_spark.streaming.feed import (
        _pid_table,
    )

    src = pq.read_table(EVENTS).slice(0, 500)
    eid = src.column("event_id").to_numpy(zero_copy_only=False)
    mask = pa.array(eid % 23 == 0)
    n_null = int(pc.sum(mask).as_py())
    assert n_null > 0
    idx = src.schema.get_field_index("user_id")
    src = src.set_column(
        idx,
        "user_id",
        pc.if_else(mask, pa.scalar(None, pa.int64()), src.column("user_id")),
    )
    path = str(tmp_path / "events_nullkey.parquet")
    pq.write_table(src, path)

    nparts = 4
    total = sum(
        _pid_table(path, nparts, pid).num_rows for pid in range(nparts)
    )
    assert total == src.num_rows, (
        f"feed partitioner lost {src.num_rows - total} NULL-keyed rows"
    )
    # and the NULL-keyed rows all landed on the fixed partition 0
    p0 = _pid_table(path, nparts, 0)
    assert p0.column("user_id").null_count == n_null


def test_default_progress_dir_is_process_stable():
    """r9 advisor finding: the default progress dir hashed the path
    with str hash(), which PYTHONHASHSEED randomizes per process — a
    restarted driver would compute a different dir and the documented
    consumer-group resume would never find its committed cutoff. The
    dir must be a pure function of (path, feed_partitions)."""
    import subprocess
    import sys

    prog = """
from aind_hcr_data_transformation_spark.streaming.feed import (
    EventFeedStreamReader,
)
r = EventFeedStreamReader(
    {"path": %r, "feed_partitions": "4", "feed_target_batches": "2"}
)
print(r._progress)
""" % (EVENTS,)
    dirs = set()
    for seed in ("1", "2"):
        env = dict(os.environ, PYTHONHASHSEED=seed)
        out = subprocess.run(
            [sys.executable, "-c", prog],
            capture_output=True,
            text=True,
            env=env,
            check=True,
        )
        dirs.add(out.stdout.strip())
    assert len(dirs) == 1, f"progress dir varies across processes: {dirs}"


def test_table_cache_evicts_stale_generations(tmp_path):
    """r10 advisor finding: _TABLE_CACHE kept every (path, mtime)
    generation forever (plus the per-pid slices), roughly doubling
    memory per feed file and growing unboundedly across rewrites in
    long-lived workers. A new mtime for the same path must supersede
    the old table AND its sorted slices."""
    import os
    import time

    import pyarrow.parquet as pq

    from aind_hcr_data_transformation_spark.streaming import feed

    src = pq.read_table(EVENTS).slice(0, 200)
    path = str(tmp_path / "events_gen.parquet")
    pq.write_table(src, path)
    feed._pid_table(path, 4, 0)
    feed._pid_table(path, 4, 1)
    gen1_tables = [k for k in feed._TABLE_CACHE if k[0] == path]
    gen1_slices = [k for k in feed._SLICE_CACHE if k[0] == path]
    assert len(gen1_tables) == 1 and len(gen1_slices) == 2

    # rewrite the file (force a different mtime even on coarse clocks)
    pq.write_table(src.slice(0, 150), path)
    mt = os.path.getmtime(path)
    os.utime(path, (mt + 2, mt + 2))
    feed._pid_table(path, 4, 0)
    tables = [k for k in feed._TABLE_CACHE if k[0] == path]
    slices = [k for k in feed._SLICE_CACHE if k[0] == path]
    assert len(tables) == 1 and tables[0][1] == os.path.getmtime(path), (
        "stale table generation retained"
    )
    assert len(slices) == 1 and slices[0][1] == os.path.getmtime(path), (
        f"stale slices retained: {slices}"
    )


def test_bounded_drain_times_out_instead_of_hanging(spark):
    """r10 advisor finding: run_feed_bounded moved the drain onto
    q.processAllAvailable(), which blocks forever on a hung micro-batch
    — the timeout_s deadline must still surface as TimeoutError (the
    watchdog thread), not an indefinite hang."""
    import pytest

    from aind_hcr_data_transformation_spark.streaming.feed import (
        read_feed,
        run_feed_bounded,
    )

    sf_dir = os.path.dirname(EVENTS)
    df = read_feed(
        spark, sf_dir, feed_partitions=2, feed_target_batches=3
    )
    # a python UDF-side stall: every batch sleeps far past the deadline
    import pyspark.sql.functions as F

    @F.udf("long")
    def stall(x):
        import time as _t

        _t.sleep(30)
        return x

    slow = df.withColumn("slow", stall(F.col("event_id")))
    t0 = time.time()
    with pytest.raises(TimeoutError, match="did not drain"):
        run_feed_bounded(slow, "stall_probe", "append", timeout_s=8.0)
    assert time.time() - t0 < 25, "watchdog did not bound the drain"


def test_feed_throughput_floor(spark):
    """r12 (VERDICT r11 task 5): the feed's sustained throughput is a
    tracked property, not a hope — ``tools/feed_throughput.py`` records
    the events/s-vs-batch-size curve into FEED_THROUGHPUT.json, and
    this floor pins the regression class that would flatten it (a new
    per-ROW Python crossing or a per-batch driver round-trip in the
    hot path costs 10-100x, far below this conservative gate even on a
    cold, loaded CI host)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import feed_throughput as ft

    sf_dir = os.path.dirname(EVENTS)
    ft.run_config(spark, sf_dir, 3, stateful=False)  # runtime warm-up
    t0 = time.time()
    res = ft.run_config(spark, sf_dir, 3, stateful=False)
    wall = time.time() - t0
    assert res["rows"] == 1000  # every event exactly once
    # floor raised r13 (async progress + tmpfs checkpoint landed; the
    # sf0.001 fixture is fixed-cost-dominated, so the gate stays far
    # under the ~1400 ev/s this config measures warm)
    assert res["rows"] / res["wall_s"] > 250, (res, wall)


def test_empty_topic_gives_the_oracles_empty_result(spark, tmp_path):
    """An events table with no rows plans no cutoff, keeps the offset at
    its start and returns the oracle's empty result with the query's
    columns."""
    import pyarrow.parquet as pq

    empty = pq.read_table(EVENTS).slice(0, 0)
    pq.write_table(empty, str(tmp_path / "events.parquet"))
    assert _feed_plan(str(tmp_path / "events.parquet"), 3) == []
    reader = EventFeedStreamReader(
        {"path": str(tmp_path / "events.parquet"), "progress_dir": str(tmp_path / "prog")}
    )
    assert reader.latestOffset() == reader.initialOffset() == {"cut": _MIN_CUT}
    got = stream_feed_windowed(spark, str(tmp_path))
    assert got.columns == ["window_start", "event_type", "n_events", "sum_value", "avg_value"]
    assert got.collect() == []
