"""Fault-injection differential (VERDICT r9 task 1): the exactly-once /
idempotent-retry claims, demonstrated under REAL mid-flight failure
instead of clean restart.

Every 100 TB scale argument this engine makes ultimately leans on two
properties that only matter when something dies:

- **task-retry idempotence** — a Spark task killed after PARTIAL side
  effects (some zarr chunk files written, some not) must leave output a
  retry silently repairs, because at 1000 executors preemptions and
  OOM-kills are routine, not exceptional;
- **exactly-once streaming** — a micro-batch killed between "data
  read/applied" and "progress committed" must not double- or drop-count
  on restart, because that window is where every crash lands
  eventually.

Until r10 both were tested only under clean conditions
(``tests/test_streaming_recovery.py`` checkpoint restarts,
``test_pipeline.py`` resume). This probe injects the failures the
advisor/verdict named and diffs the recovered output against a clean
run:

The four zarr stages run ``pipeline._convert_pyramid`` — the fused
writer behind every converter — through its ``fault`` hook. Each
records its injected failures (one marker file per killed first
attempt) and passes only when at least one fired AND the recovered
tree is byte-identical to a clean run's (chunks, ``.zarray``, manifest
shards).

1. ``zarr_task_retry`` — level-0 writer tasks throw on their first
   attempt AFTER writing a region (partial chunk-file output on
   disk); the job must succeed via Spark task retry (``local[8,3]``)
   and the final chunk TREE must be byte-identical to a clean run's.
2. ``pyramid_task_retry`` — same kill across the fused multi-level
   chain with two stacks: first attempts of even partitions die after
   a region write at every level whose stage gives them one; retried
   output tree must hash-equal the clean run.
3. ``feed_read_retry`` — the broker-shaped feed's ``read()`` dies
   mid-iteration on its first attempt for partition 0 of every
   micro-batch; the parquet sink must end with every event exactly
   once.
4. ``feed_commit_kill`` — the feed's consumer-group ``commit()`` dies
   after a batch is fully processed (the read-applied/not-committed
   window); the restarted query must resume from Spark's checkpoint
   and the sink must hold every event exactly once.
5. ``foreach_swap_kill`` — the ``foreachBatch`` MERGE dies right AFTER
   its atomic store swap but BEFORE Spark's commit log records the
   batch; the restart REPLAYS the applied batch, so the merge must be
   replay-idempotent (latest-batch-wins). A control run with the
   pre-r10 ADDITIVE merge must FAIL here — the probe proving it can
   see the bug it was built for (``streaming/events.py``
   ``make_upsert_merger`` docstring).
6. ``foreach_between_renames_kill`` — the same MERGE dies inside the
   two-rename swap window (store absent, ``_old`` present); the
   recovery preamble must restore and replay.
7. ``driver_kill_upsert`` (r11) — stages 5/6 kill the merge with an
   exception the SAME driver process survives; this one runs the
   upsert in a SUBPROCESS whose driver calls ``os._exit(137)`` right
   after the store swap (before Spark's commit log records the
   batch), then restarts a FRESH driver process from the same
   checkpoint. The store must oracle-match; the pre-r10 additive
   merge under the identical kill must diverge (sensitivity control).
8. ``driver_kill_feed`` (r11) — a subprocess driver consuming the
   broker-shaped feed is hard-killed (``os._exit(137)`` on the driver
   listener thread) right after its FIRST data micro-batch reports
   progress, mid-stream with batches still unread; a fresh driver
   process resumes from the checkpoint and the parquet sink's
   committed view must hold every event exactly once. Controls: (A) a
   fresh-checkpoint/fresh-consumer-group rerun into the SAME sink
   replays the topic from zero and the file sink's batch-id log must
   swallow it (committed view unchanged); (B) the duplicate detector
   must FIRE on a forged physical duplicate read through the
   metadata-blind glob a naive consumer would use.

9. ``worker_death_retry`` (r12) — a python WORKER PROCESS hard-dies
   (``os._exit(137)``) mid-Arrow-batch inside the fused write kernel
   after partial chunk writes — the no-exception, no-cleanup failure
   the task-kill stages can't produce. Spark task retry must repair to
   a byte-equal tree.
10. ``worker_death_manifest_gap`` (r13) — the worker dies at the
    ``pre_shard`` hook: chunks durable, checksum shard not yet written.
    Retry must complete the manifest (byte-equal tree, green scrub);
    a forged copy with one shard deleted must fail the scrub.

Each stage records ok/fail + detail; the probe exits 1 on any failure.

Usage::

    python tools/chaos_probe.py [sf_dir] [--json CHAOS_PROBE.json]
    python tools/chaos_probe.py [sf_dir] --only STAGE[,STAGE...]
    python tools/chaos_probe.py --child MODE BASE SF_DIR   # internal

``--only`` runs the named stages and merges their results into the
existing JSON, keeping the other stages' records.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
import uuid
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools.registry_run import opt  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.datasource import DataSource  # noqa: E402


# ---------------------------------------------------------------------------
# fault injectors (module-level: pickled into task closures)
# ---------------------------------------------------------------------------


def _first_attempt_of_even_partition(args):
    """The task context when the hook call ``args`` (see
    ``pipeline._convert_pyramid``: ``(n_written,)`` after each region
    write) should fire: a FIRST attempt of an even-numbered partition
    (mixing killed and clean tasks in one stage) with at least one
    region write done. Named hook points (``"pre_shard"``) never fire
    here."""
    from pyspark import TaskContext

    if not args or isinstance(args[0], str) or args[0] < 1:
        return None
    tc = TaskContext.get()
    if tc is None or tc.attemptNumber() != 0 or tc.partitionId() % 2:
        return None
    return tc


def _mark(marker_dir: str, prefix: str, tc, text: str) -> None:
    """One marker file per injected failure, named by stage and
    partition: the failure leaves no in-process trace to assert on."""
    name = f"{prefix}_s{tc.stageId()}_p{tc.partitionId()}"
    with open(os.path.join(marker_dir, name), "w") as f:
        f.write(text)


class KillFirstTaskAttempt:
    """Raise on a task's FIRST attempt after its first region write,
    for even-numbered partitions; subsequent attempts run clean — pure
    ``TaskContext.attemptNumber()`` logic, no shared state. A marker
    file records each kill."""

    def __init__(self, marker_dir: str):
        self.marker_dir = marker_dir

    def __call__(self, *args) -> None:
        tc = _first_attempt_of_even_partition(args)
        if tc is None:
            return
        _mark(self.marker_dir, "killed", tc, str(args[0]))
        raise RuntimeError(
            f"chaos: killing attempt 0 of partition "
            f"{tc.partitionId()} after {args[0]} region writes"
        )


class HardKillWorkerFirstAttempt:
    """``os._exit(137)`` the PYTHON WORKER PROCESS on a task's first
    attempt after its first region write, for even-numbered
    partitions — the failure class task-kill exceptions can't reach: no
    exception propagates, no finally blocks run, the Arrow stream just
    severs mid-batch (what an OOM-killed or preempted worker looks
    like to the JVM). A marker file per kill proves the path actually
    fired."""

    def __init__(self, marker_dir: str):
        self.marker_dir = marker_dir

    def __call__(self, *args) -> None:
        tc = _first_attempt_of_even_partition(args)
        if tc is None:
            return
        _mark(self.marker_dir, "killed", tc, str(os.getpid()))
        os._exit(137)


class HardKillWorkerAtManifestGap:
    """``os._exit(137)`` the python worker at the ``pre_shard`` hook —
    AFTER a task's last chunk write, BEFORE its checksum-shard PUT (the
    one window where chunks exist durably with no manifest coverage).
    Fires only on first attempts of even-numbered partitions that wrote
    at least one chunk (a task with no writes has no gap). The marker
    file records how many region writes the task completed, proving
    the kill's TIMING: chunks were already durable when the process
    died."""

    def __init__(self, marker_dir: str):
        self.marker_dir = marker_dir

    def __call__(self, *args) -> None:
        if not args or args[0] != "pre_shard":
            return
        tc = _first_attempt_of_even_partition(args[1:])
        if tc is None:
            return
        _mark(self.marker_dir, "gapkill", tc, str(args[1]))
        os._exit(137)


class RaiseOncePerPoint:
    """foreachBatch fault: raise the first time ``point`` is hit on the
    given batch; a marker file remembers the kill across the query
    restart (driver-side, same process)."""

    def __init__(self, marker_dir: str, point: str, batch_id: int):
        self.marker_dir, self.point, self.batch_id = (
            marker_dir,
            point,
            batch_id,
        )
        self.armed_batch = None  # set per merge invocation

    def __call__(self, point: str) -> None:
        if point != self.point or self.armed_batch != self.batch_id:
            return
        marker = os.path.join(self.marker_dir, f"kill_{point}")
        if not os.path.exists(marker):
            open(marker, "w").close()
            raise RuntimeError(f"chaos: died at {point}")


# ---------------------------------------------------------------------------
# chaos feed source (subclasses the shipped reader; by-value pickled)
# ---------------------------------------------------------------------------


def _chaos_feed_classes():
    """Build the chaos DataSource subclasses lazily (after sys.path is
    set) so the module also imports under pytest collection."""
    from aind_hcr_data_transformation_spark.streaming.feed import (
        _FEED_SCHEMA,
        EventFeedStreamReader,
    )

    class ChaosReadReader(EventFeedStreamReader):
        """``read()`` dies mid-iteration on its FIRST attempt for feed
        partition 0 of every batch; a marker file (visible across local
        worker processes) flips the retry clean."""

        def __init__(self, options):
            super().__init__(options)
            self._chaos_dir = options.get("chaos_marker_dir")

        def read(self, partition):
            it = super().read(partition)
            if self._chaos_dir and partition.pid == 0:
                m = os.path.join(
                    self._chaos_dir,
                    f"read_{partition.lo}_{partition.hi}_{partition.pid}",
                )
                if not os.path.exists(m):
                    open(m, "w").close()
                    emitted = False
                    for batch in it:
                        if emitted:
                            raise RuntimeError(
                                "chaos: task killed mid-read after one "
                                "Arrow batch"
                            )
                        emitted = True
                        yield batch
                    raise RuntimeError("chaos: task killed at end of read")
            yield from it

    class ChaosCommitReader(EventFeedStreamReader):
        """``commit()`` dies once, AFTER the batch is fully processed —
        the applied/not-consumer-committed window."""

        def __init__(self, options):
            super().__init__(options)
            self._chaos_dir = options.get("chaos_marker_dir")

        def commit(self, end):
            m = os.path.join(self._chaos_dir, "commit_killed")
            if not os.path.exists(m):
                open(m, "w").close()
                raise RuntimeError(
                    "chaos: driver died inside consumer-group commit"
                )
            super().commit(end)

    class ChaosReadFeed(DataSource):
        @classmethod
        def name(cls):
            return "event_feed_chaos_read"

        def schema(self):
            return _FEED_SCHEMA

        def streamReader(self, schema):
            return ChaosReadReader(self.options)

    class ChaosCommitFeed(DataSource):
        @classmethod
        def name(cls):
            return "event_feed_chaos_commit"

        def schema(self):
            return _FEED_SCHEMA

        def streamReader(self, schema):
            return ChaosCommitReader(self.options)

    return ChaosReadFeed, ChaosCommitFeed


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def tree_hash(root: str) -> str:
    """Order-independent digest of a directory tree's (relpath, bytes)."""
    h = hashlib.sha256()
    for p in sorted(Path(root).rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def _drain_to_parquet(df, sink: str, ckpt: str, timeout_s: float = 120.0):
    """Run a stream into a parquet file sink under a continuous trigger
    until drained (same observed-drain loop as feed.run_feed_bounded),
    then stop. Returns normally on drain; lets stream failures raise."""
    q = (
        df.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + timeout_s
    idle = 0
    try:
        while time.time() < deadline:
            if not q.isActive:
                q.awaitTermination()  # surface the error
                raise RuntimeError("stream terminated before draining")
            st = q.status
            if (
                not st["isDataAvailable"]
                and not st["isTriggerActive"]
                and q.lastProgress is not None
            ):
                idle += 1
                if idle >= 3:
                    break
            else:
                idle = 0
            time.sleep(0.1)
        else:
            raise TimeoutError(f"stream did not drain in {timeout_s}s")
    finally:
        if q.isActive:
            q.stop()
    q.awaitTermination()


def _exactly_once_check(spark, sink: str, events_path: str) -> dict:
    """sink (streaming parquet dir, read back THROUGH the commit log)
    must hold each event_id exactly once and all of them."""
    import pyarrow.parquet as pq

    expected = pq.read_metadata(events_path).num_rows
    got = spark.read.parquet(sink)
    total = got.count()
    dupes = (
        got.groupBy("event_id").count().where(F.col("count") > 1).count()
    )
    return {
        "expected_rows": expected,
        "sink_rows": total,
        "duplicated_event_ids": dupes,
        "ok": total == expected and dupes == 0,
    }


# ---------------------------------------------------------------------------
# stages
# ---------------------------------------------------------------------------


def _convert_clean_and_chaos(
    spark, base: str, stacks: dict, levels: int, fault
) -> dict:
    """Run ``pipeline._convert_pyramid`` — the writer every converter
    runs — twice over ``stacks`` (base chunk 16×32×32): once clean, once
    with ``fault`` hooked in; returns each run's output directory, its
    tree hash and the chunks its manifests verify (all levels)."""
    from aind_hcr_data_transformation_spark.config import (
        ZarrConversionSettings,
    )
    from aind_hcr_data_transformation_spark.pipeline import _convert_pyramid
    from aind_hcr_data_transformation_spark.sinks.zarr_sink import scrub_group

    out = {}
    for mode, f in (("clean", None), ("chaos", fault)):
        settings = ZarrConversionSettings(
            output_directory=os.path.join(base, mode),
            chunk_size=(16, 32, 32),
            scale_factor=(2, 2, 2),
            downsample_levels=levels,
        )
        groups = _convert_pyramid(spark, settings, stacks, "uint16", fault=f)
        out[mode] = {
            "dir": settings.output_directory,
            "hash": tree_hash(settings.output_directory),
            "chunks": sum(
                sum(scrub_group(g).values()) for g in groups.values()
            ),
        }
    return out


def _retry_result(run: dict, markers: str) -> dict:
    """Shared verdict of the retry stages: the chaos tree must be
    byte-equal to the clean one, its manifests must verify every chunk,
    and at least one first attempt must really have died (a byte-equal
    result with no kill proves nothing)."""
    kills = sorted(os.listdir(markers))
    return {
        "chunks_verified": [run["clean"]["chunks"], run["chaos"]["chunks"]],
        "killed_attempts": kills,
        "hash_clean": run["clean"]["hash"],
        "hash_chaos": run["chaos"]["hash"],
        "ok": len(kills) >= 1
        and run["clean"]["chunks"] == run["chaos"]["chunks"] > 0
        and run["clean"]["hash"] == run["chaos"]["hash"],
    }


def _markers(base: str) -> str:
    markers = os.path.join(base, "markers")
    os.makedirs(markers)
    return markers


def stage_zarr_task_retry(spark, sf_dir: str) -> dict:
    """Level-0 writer tasks (one pyramid level) throw on their first
    attempt after a region write — partial chunk-file output on disk;
    Spark task retry must repair to a byte-equal tree."""
    base = tempfile.mkdtemp(prefix="chaos_zarr_")
    try:
        markers = _markers(base)
        run = _convert_clean_and_chaos(
            spark, base, {"chaos_stack": (48, 64, 64)}, 1,
            KillFirstTaskAttempt(markers),
        )
        return _retry_result(run, markers)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def stage_worker_death_retry(spark, sf_dir: str) -> dict:
    """A python worker PROCESS dying mid-Arrow-batch (``os._exit(137)``
    inside the fused write kernel after partial chunk writes: no
    exception, no cleanup, the worker socket just drops, which is what
    an OOM-kill or node preemption looks like). Spark must fail the
    task, fork a fresh worker, and the retried output tree must be
    BYTE-EQUAL to a clean run's. Control: kill marker files prove the
    first attempts actually died (otherwise a byte-equal result could
    mean the kill path never fired)."""
    base = tempfile.mkdtemp(prefix="chaos_wdeath_")
    try:
        markers = _markers(base)
        run = _convert_clean_and_chaos(
            spark, base, {"chaos_wd": (48, 64, 64)}, 2,
            HardKillWorkerFirstAttempt(markers),
        )
        return _retry_result(run, markers)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def stage_worker_death_manifest_gap(spark, sf_dir: str) -> dict:
    """The checksum manifest is written one shard per (task, array)
    AFTER that task's chunk writes — a worker death in the window
    between the last chunk write and the shard PUT leaves durable
    chunks with NO manifest coverage. Spark task retry must re-run the
    whole task (chunks re-written byte-identical, shard completed),
    leaving the tree byte-equal to a clean run's and the scrub green.
    Controls: (1) kill markers record the per-task write count at
    death — a positive count proves the kill fired after chunks were
    durable, i.e. the gap state really existed; (2) the scrub must FIRE
    on the un-repaired gap state, forged by deleting a level-0 manifest
    shard from a copy of the clean tree."""
    from aind_hcr_data_transformation_spark.sinks.zarr_sink import (
        CHECKSUM_DIR,
        verify_array_checksums,
    )

    base = tempfile.mkdtemp(prefix="chaos_gap_")
    try:
        markers = _markers(base)
        run = _convert_clean_and_chaos(
            spark, base, {"chaos_gap": (48, 64, 64)}, 2,
            HardKillWorkerAtManifestGap(markers),
        )
        res = _retry_result(run, markers)
        writes_at_death = [
            int(Path(markers, k).read_text()) for k in res["killed_attempts"]
        ]
        # control: forge the un-repaired gap state (chunks present,
        # one shard missing) and prove the scrub catches it
        forged = os.path.join(base, "forged")
        shutil.copytree(run["clean"]["dir"], forged)
        level0 = os.path.join(forged, "chaos_gap.zarr", "0")
        next(Path(level0, CHECKSUM_DIR).glob("*.json")).unlink()
        try:
            verify_array_checksums(level0)
            control_fired = False
        except ValueError:
            control_fired = True
        res["writes_at_death"] = writes_at_death
        res["control_scrub_fires_on_gap"] = control_fired
        res["ok"] = (
            res["ok"] and all(w >= 1 for w in writes_at_death) and control_fired
        )
        return res
    finally:
        shutil.rmtree(base, ignore_errors=True)


def stage_pyramid_task_retry(spark, sf_dir: str) -> dict:
    """The same task kill across ``_convert_pyramid``'s fused
    multi-level chain with two stacks: first attempts of even
    partitions die after a region write at every level whose stage
    gives them one; the retried tree must hash-equal the clean run."""
    base = tempfile.mkdtemp(prefix="chaos_pyr_")
    try:
        markers = _markers(base)
        run = _convert_clean_and_chaos(
            spark, base, {"stack_a": (32, 64, 64), "stack_b": (16, 32, 32)}, 3,
            KillFirstTaskAttempt(markers),
        )
        res = _retry_result(run, markers)
        res["stages_with_kills"] = len(
            {k.split("_")[1] for k in res["killed_attempts"]}
        )
        return res
    finally:
        shutil.rmtree(base, ignore_errors=True)


def stage_feed_read_retry(spark, sf_dir: str) -> dict:
    ChaosReadFeed, _ = _chaos_feed_classes()
    spark.dataSource.register(ChaosReadFeed)
    base = tempfile.mkdtemp(prefix="chaos_feedread_")
    marker = os.path.join(base, "markers")
    os.makedirs(marker)
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    events = f"{sf_dir}/events.parquet"
    try:
        df = (
            spark.readStream.format("event_feed_chaos_read")
            .option("path", events)
            .option("feed_partitions", "4")
            .option("feed_target_batches", "4")
            .option("progress_dir", os.path.join(base, "prog"))
            .option("chaos_marker_dir", marker)
            .load()
        )
        _drain_to_parquet(df, sink, ckpt)
        res = _exactly_once_check(spark, sink, events)
        res["killed_attempts"] = len(os.listdir(marker))
        res["ok"] = res["ok"] and res["killed_attempts"] >= 4
        return res
    finally:
        shutil.rmtree(base, ignore_errors=True)


def stage_feed_commit_kill(spark, sf_dir: str) -> dict:
    _, ChaosCommitFeed = _chaos_feed_classes()
    spark.dataSource.register(ChaosCommitFeed)
    base = tempfile.mkdtemp(prefix="chaos_feedcommit_")
    marker = os.path.join(base, "markers")
    os.makedirs(marker)
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    events = f"{sf_dir}/events.parquet"

    def open_feed():
        return (
            spark.readStream.format("event_feed_chaos_commit")
            .option("path", events)
            .option("feed_partitions", "4")
            .option("feed_target_batches", "4")
            .option("progress_dir", os.path.join(base, "prog"))
            .option("chaos_marker_dir", marker)
            .load()
        )

    try:
        died = False
        try:
            _drain_to_parquet(open_feed(), sink, ckpt)
        except Exception as exc:  # the injected commit death
            died = "chaos" in str(exc) or "commit" in str(exc).lower()
            if not died:
                raise
        # restart from Spark's checkpoint — the consumer-group progress
        # file was never written for the killed batch; partitions()'s
        # forward-sync must keep the replay from rewinding
        _drain_to_parquet(open_feed(), sink, ckpt)
        res = _exactly_once_check(spark, sink, events)
        res["query_died_on_commit"] = died
        res["ok"] = res["ok"] and died
        return res
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _split_events(spark, sf_dir: str, base: str, nfiles: int = 3) -> str:
    """Copy the events table into ``nfiles`` parquet files so the file
    stream (maxFilesPerTrigger=1) yields a REAL multi-batch run."""
    import pyarrow.parquet as pq

    src = pq.read_table(f"{sf_dir}/events.parquet")
    out = os.path.join(base, "events_split")
    os.makedirs(out)
    step = -(-src.num_rows // nfiles)
    for i in range(nfiles):
        pq.write_table(
            src.slice(i * step, step), os.path.join(out, f"part_{i}.parquet")
        )
    return out


def _run_upsert(spark, split_dir: str, store_dir: str, ckpt: str, merger):
    schema = spark.read.parquet(split_dir).schema
    counts = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(split_dir)
        .groupBy("user_id")
        .count()
    )
    q = (
        counts.writeStream.foreachBatch(merger)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _foreach_kill_stage(spark, sf_dir: str, point: str) -> dict:
    from aind_hcr_data_transformation_spark.streaming.events import (
        make_upsert_merger,
    )

    base = tempfile.mkdtemp(prefix=f"chaos_upsert_{point}_")
    split = _split_events(spark, sf_dir, base)
    oracle = [
        (r["user_id"], r["n_events"])
        for r in spark.read.parquet(split)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id")
        .collect()
    ]

    def run(store, ckpt, merge_fn):
        """availableNow run; on the injected death, restart once."""
        died = False
        try:
            _run_upsert(spark, split, store, ckpt, merge_fn)
        except Exception as exc:
            if "chaos" not in str(exc):
                raise
            died = True
            _run_upsert(spark, split, store, ckpt, merge_fn)  # restart
        rows = [
            (r["user_id"], r["n_events"])
            for r in spark.read.parquet(store).orderBy("user_id").collect()
        ]
        return died, rows

    try:
        # shipped merger under the kill: must die once, then match
        store, ckpt = os.path.join(base, "store"), os.path.join(base, "ck")
        fault = RaiseOncePerPoint(base, point, batch_id=1)
        shipped = make_upsert_merger(store, fault=fault)

        def merge_with_arm(batch_df, batch_id):
            fault.armed_batch = batch_id
            shipped(batch_df, batch_id)

        died, rows = run(store, ckpt, merge_with_arm)

        # control (swap-kill only): the pre-r10 ADDITIVE merge under the
        # same replayed batch must DIVERGE — the probe can see the bug
        control_diverged = None
        if point == "after_swap":
            store2, ckpt2 = os.path.join(base, "s2"), os.path.join(base, "k2")
            fault2 = RaiseOncePerPoint(
                os.path.join(base, "m2"), point, batch_id=1
            )
            os.makedirs(os.path.join(base, "m2"))

            def additive_merge(batch_df, batch_id):
                fault2.armed_batch = batch_id
                sess = batch_df.sparkSession
                new = batch_df.withColumnRenamed("count", "n_new")
                if os.path.isdir(store2):
                    cur = sess.read.parquet(store2).withColumnRenamed(
                        "n_events", "n_old"
                    )
                    merged = cur.join(new, "user_id", "full_outer").select(
                        "user_id",
                        (
                            F.coalesce("n_old", F.lit(0))
                            + F.coalesce("n_new", F.lit(0))
                        ).alias("n_events"),
                    )
                else:
                    merged = new.select(
                        "user_id", F.col("n_new").alias("n_events")
                    )
                tmp = store2 + f"_b{batch_id}"
                merged.write.mode("overwrite").parquet(tmp)
                old = store2 + "_old"
                # (not in the pre-r10 code: clear a leftover _old so the
                # control COMPLETES and demonstrates the double-count
                # divergence instead of crashing on the rename)
                shutil.rmtree(old, ignore_errors=True)
                if os.path.isdir(store2):
                    os.rename(store2, old)
                os.rename(tmp, store2)
                fault2("after_swap")
                shutil.rmtree(old, ignore_errors=True)

            _, control_rows = run(store2, ckpt2, additive_merge)
            control_diverged = control_rows != oracle

        ok = died and rows == oracle
        if control_diverged is not None:
            ok = ok and control_diverged
        return {
            "query_died": died,
            "rows_match_oracle": rows == oracle,
            "n_keys": len(rows),
            "control_additive_diverged": control_diverged,
            "ok": ok,
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)


def stage_foreach_swap_kill(spark, sf_dir: str) -> dict:
    return _foreach_kill_stage(spark, sf_dir, "after_swap")


def stage_foreach_between_renames_kill(spark, sf_dir: str) -> dict:
    return _foreach_kill_stage(spark, sf_dir, "between_renames")


# ---------------------------------------------------------------------------
# driver-kill stages (r11): the fault is a SIGKILL-equivalent of the
# whole driver process, not an exception — recovery must come from a
# fresh process reading the on-disk checkpoint, never from in-memory
# state that survived the failure.
# ---------------------------------------------------------------------------


class _ExitOnceAfterSwap:
    """fault hook for make_upsert_merger: hard-kill the DRIVER PROCESS
    (``os._exit(137)``, no interpreter cleanup — the closest in-process
    stand-in for SIGKILL) at ``after_swap`` of batch 1, once per marker
    file (the marker lives on disk, so the restarted process runs
    clean)."""

    def __init__(self, marker: str):
        self.marker = marker
        self.armed_batch = None

    def __call__(self, point: str) -> None:
        if point != "after_swap" or self.armed_batch != 1:
            return
        if not os.path.exists(self.marker):
            open(self.marker, "w").close()
            sys.stdout.flush()
            os._exit(137)


def _additive_merge_fn(store: str, fault):
    """The pre-r10 ADDITIVE merge (control twin of the shipped
    latest-batch-wins merger) with the same crash-safe swap + recovery
    preamble, so the only difference under replay is the arithmetic."""

    def merge(batch_df, batch_id):
        fault.armed_batch = batch_id
        sess = batch_df.sparkSession
        old = store + "_old"
        if os.path.isdir(old):
            if not os.path.isdir(store):
                os.rename(old, store)
            else:
                shutil.rmtree(old)
        new = batch_df.withColumnRenamed("count", "n_new")
        if os.path.isdir(store):
            cur = sess.read.parquet(store).withColumnRenamed(
                "n_events", "n_old"
            )
            merged = cur.join(new, "user_id", "full_outer").select(
                "user_id",
                (
                    F.coalesce("n_old", F.lit(0))
                    + F.coalesce("n_new", F.lit(0))
                ).alias("n_events"),
            )
        else:
            merged = new.select("user_id", F.col("n_new").alias("n_events"))
        tmp = store + f"_b{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(store):
            os.rename(store, old)
        os.rename(tmp, store)
        fault("after_swap")
        shutil.rmtree(old, ignore_errors=True)

    return merge


def _kill_on_first_progress_listener(marker: str):
    """Driver-side StreamingQueryListener that hard-kills THIS process
    (``os._exit(137)``) right after the first data-carrying
    micro-batch reports progress — mid-stream, with the sink partially
    filled and more feed batches still unread. (The feed source's own
    ``commit()`` runs in the Python DataSource runner process, not the
    driver, so an exit there would only sever the source — the
    listener bus is the in-driver hook.) The marker survives on disk,
    so the restarted process runs clean."""
    from pyspark.sql.streaming import StreamingQueryListener

    class KillOnFirstProgress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            if event.progress.numInputRows > 0 and not os.path.exists(
                marker
            ):
                open(marker, "w").close()
                sys.stdout.flush()
                os._exit(137)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return KillOnFirstProgress()


def _child_main(mode: str, base: str, sf_dir: str) -> int:
    """The subprocess 'driver' the driver-kill stages murder. Builds
    its OWN SparkSession; any state that matters for recovery must
    therefore live in the on-disk checkpoint/store, which is the
    property under test."""
    from aind_hcr_data_transformation_spark.session import get_spark

    spark = get_spark(
        f"chaos-child-{mode}",
        extra_conf={"spark.sql.shuffle.partitions": "4"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    if mode in ("upsert", "upsert_additive"):
        split = os.path.join(base, "events_split")
        suffix = "_add" if mode == "upsert_additive" else ""
        store = os.path.join(base, "store" + suffix)
        ckpt = os.path.join(base, "ckpt" + suffix)
        exiter = _ExitOnceAfterSwap(os.path.join(base, "killed" + suffix))
        if mode == "upsert":
            from aind_hcr_data_transformation_spark.streaming.events import (
                make_upsert_merger,
            )

            shipped = make_upsert_merger(store, fault=exiter)

            def merge(batch_df, batch_id):
                exiter.armed_batch = batch_id
                shipped(batch_df, batch_id)

        else:
            merge = _additive_merge_fn(store, exiter)
        _run_upsert(spark, split, store, ckpt, merge)
        return 0
    if mode in ("feed", "feed_fresh"):
        from aind_hcr_data_transformation_spark.streaming.feed import (
            EventFeedDataSource,
        )

        spark.dataSource.register(EventFeedDataSource)
        events = os.path.join(sf_dir, "events.parquet")
        sink = os.path.join(base, "sink")
        if mode == "feed":
            ckpt = os.path.join(base, "ckpt")
            progress = os.path.join(base, "progress")
            spark.streams.addListener(
                _kill_on_first_progress_listener(
                    os.path.join(base, "driver_killed")
                )
            )
        else:
            # control: fresh checkpoint AND fresh consumer group into
            # the SAME sink — must double every already-sunk event
            tag = uuid.uuid4().hex[:6]
            ckpt = os.path.join(base, f"ckpt_fresh_{tag}")
            progress = os.path.join(base, f"progress_fresh_{tag}")
        df = (
            spark.readStream.format("event_feed")
            .option("path", events)
            .option("feed_partitions", "4")
            .option("feed_target_batches", "4")
            .option("progress_dir", progress)
            .load()
        )
        _drain_to_parquet(df, sink, ckpt)
        return 0
    raise SystemExit(f"unknown child mode {mode!r}")


def _run_child(mode: str, base: str, sf_dir: str) -> int:
    import subprocess

    proc = subprocess.run(
        [sys.executable, str(Path(__file__).resolve()),
         "--child", mode, base, sf_dir],
        capture_output=True,
        text=True,
        timeout=600,
    )
    if proc.returncode not in (0, 137):
        raise RuntimeError(
            f"child {mode} rc={proc.returncode}:\n"
            f"{proc.stdout[-1500:]}\n{proc.stderr[-1500:]}"
        )
    return proc.returncode


def stage_driver_kill_upsert(spark, sf_dir: str) -> dict:
    base = tempfile.mkdtemp(prefix="chaos_driver_upsert_")
    try:
        split = _split_events(spark, sf_dir, base)
        oracle = [
            (r["user_id"], r["n_events"])
            for r in spark.read.parquet(split)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .orderBy("user_id")
            .collect()
        ]

        def run_twice(mode, store):
            rc1 = _run_child(mode, base, sf_dir)
            rc2 = _run_child(mode, base, sf_dir) if rc1 == 137 else None
            rows = [
                (r["user_id"], r["n_events"])
                for r in spark.read.parquet(store).orderBy("user_id").collect()
            ]
            return rc1, rc2, rows

        rc1, rc2, rows = run_twice("upsert", os.path.join(base, "store"))
        crc1, crc2, crows = run_twice(
            "upsert_additive", os.path.join(base, "store_add")
        )
        control_diverged = crows != oracle
        ok = (
            rc1 == 137 and rc2 == 0 and rows == oracle
            and crc1 == 137 and crc2 == 0 and control_diverged
        )
        return {
            "first_run_rc": rc1,
            "restart_rc": rc2,
            "rows_match_oracle": rows == oracle,
            "n_keys": len(rows),
            "control_first_rc": crc1,
            "control_restart_rc": crc2,
            "control_additive_diverged": control_diverged,
            "ok": ok,
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)


def stage_driver_kill_feed(spark, sf_dir: str) -> dict:
    base = tempfile.mkdtemp(prefix="chaos_driver_feed_")
    try:
        events = os.path.join(sf_dir, "events.parquet")
        sink = os.path.join(base, "sink")
        rc1 = _run_child("feed", base, sf_dir)
        rc2 = _run_child("feed", base, sf_dir) if rc1 == 137 else None
        check = _exactly_once_check(spark, sink, events)
        # control A (sink replay idempotence): a FRESH query — fresh
        # checkpoint, fresh consumer group — into the SAME sink re-reads
        # the topic from offset zero, but the file sink's batch-id
        # commit log must swallow the replay: the committed view stays
        # exactly-once. (This is the property that makes the restart
        # above safe no matter where the kill lands.)
        rc3 = _run_child("feed_fresh", base, sf_dir)
        recheck = _exactly_once_check(spark, sink, events)
        # control B (detector sensitivity): the exactly-once check must
        # FIRE when duplicates really exist — forge one by physically
        # duplicating a committed part file in a copy of the sink and
        # reading RAW (the metadata-blind glob a naive downstream
        # consumer would use).
        forged = os.path.join(base, "forged")
        shutil.copytree(sink, forged)
        part = next(
            p for p in sorted(Path(forged).glob("part-*.parquet"))
        )
        shutil.copy(part, part.with_name("part-forged-dup.parquet"))
        raw = spark.read.parquet(*[
            str(p) for p in Path(forged).glob("part-*.parquet")
        ])
        forged_dupes = (
            raw.groupBy("event_id").count().where(F.col("count") > 1).count()
        )
        ok = (
            rc1 == 137 and rc2 == 0 and check["ok"]
            and rc3 == 0 and recheck["ok"]
            and forged_dupes > 0
        )
        return {
            "first_run_rc": rc1,
            "restart_rc": rc2,
            **{k: v for k, v in check.items() if k != "ok"},
            "exactly_once": check["ok"],
            "control_fresh_rerun_rc": rc3,
            "control_replay_still_exactly_once": recheck["ok"],
            "control_forged_duplicates_detected": int(forged_dupes),
            "ok": ok,
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _run_stage(fn, spark, sf_dir: str, tmp_root: str, namespace: str) -> dict:
    """One stage attempt inside its own tempdir namespace: every
    ``tempfile.mkdtemp`` the stage (and its child drivers, via the
    inherited ``TMPDIR``) performs lands under ``tmp_root/namespace``."""
    stage_tmp = os.path.join(tmp_root, namespace)
    os.makedirs(stage_tmp, exist_ok=True)
    tempfile.tempdir = stage_tmp
    os.environ["TMPDIR"] = stage_tmp  # child driver processes inherit
    try:
        return fn(spark, sf_dir)
    except Exception:
        return {"ok": False, "error": traceback.format_exc(limit=8)}


#: error signatures of infrastructure-class aborts — failures of the
#: read/shuffle machinery on files NO stage corrupts (the probe's kills
#: can leave a sibling task holding a half-written temp parquet in
#: view under full-suite load; r12's one flaky judge run was exactly a
#: footer abort that passed clean in isolation). Assertion-class
#: failures (exactly-once violated, rows diverged) never match these.
_INFRA_SIGNATURES = (
    "Could not read footer",
    "is not a Parquet file",
    "ParquetFileFormat",
    "FileNotFoundException",
    "EOFException",
    "Connection reset",
    "FetchFailed",
    "java.io.IOException",
)


def _infra_class_abort(res: dict) -> bool:
    err = str(res.get("error", ""))
    return bool(err) and any(sig in err for sig in _INFRA_SIGNATURES)


STAGES = {
    "zarr_task_retry": stage_zarr_task_retry,
    "worker_death_retry": stage_worker_death_retry,
    "worker_death_manifest_gap": stage_worker_death_manifest_gap,
    "pyramid_task_retry": stage_pyramid_task_retry,
    "feed_read_retry": stage_feed_read_retry,
    "feed_commit_kill": stage_feed_commit_kill,
    "foreach_swap_kill": stage_foreach_swap_kill,
    "foreach_between_renames_kill": stage_foreach_between_renames_kill,
    "driver_kill_upsert": stage_driver_kill_upsert,
    "driver_kill_feed": stage_driver_kill_feed,
}


def main() -> int:
    argv = sys.argv[1:]
    if argv[:1] == ["--child"]:
        return _child_main(argv[1], argv[2], argv[3])
    json_out = opt(argv, "--json", "CHAOS_PROBE.json")
    only = opt(argv, "--only")
    only = set(only.split(",")) if only else None
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"

    from aind_hcr_data_transformation_spark.session import get_spark

    # local[8,3]: 8 threads, THREE task attempts — the probe's whole
    # point is that first attempts die and retries repair
    spark = get_spark(
        "chaos-probe",
        master="local[8,3]",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # per-stage tmp namespace (VERDICT r12 task 1a): every stage's
    # tempfile.mkdtemp trees land under its OWN subdirectory, so a
    # zombie task from an earlier stage (the probe kills workers and
    # drivers mid-write by design) can never leave a half-written file
    # in a path a later stage globs. The namespace is also what makes
    # the infra-retry below sound: attempt 2 runs in a fresh subtree.
    tmp_root = tempfile.mkdtemp(prefix="chaos_probe_tmp_")

    results, any_fail = {}, False
    for name, fn in STAGES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        res = _run_stage(fn, spark, sf_dir, tmp_root, name)
        if not res["ok"] and _infra_class_abort(res):
            # VERDICT r12 task 1c: a Parquet-footer / IO abort on a
            # file no stage corrupts is collateral of the injected
            # kills under full-suite load, not a verdict on the
            # exactly-once property. ONE retry in a fresh namespace;
            # the first error is kept for the record. A stage that
            # fails its own assertions (ok=False without an infra
            # error signature) is never retried.
            first_tail = str(res.get("error", ""))[-600:]
            print(f"[{name}] infra-class abort, retrying once:\n"
                  f"{first_tail}", flush=True)
            res = _run_stage(fn, spark, sf_dir, tmp_root, name + "_retry")
            res["infra_retried"] = True
            res["first_attempt_error_tail"] = first_tail
        res["sec"] = round(time.time() - t0, 2)
        results[name] = res
        any_fail = any_fail or not res["ok"]
        print(f"[{name}] {'PASS' if res['ok'] else 'FAIL'} "
              f"({res['sec']}s)", flush=True)
        if not res["ok"]:
            print(json.dumps(res, indent=2, default=str), flush=True)
    tempfile.tempdir = None
    shutil.rmtree(tmp_root, ignore_errors=True)

    path = REPO / json_out
    if only and path.exists():
        results = {**json.loads(path.read_text())["stages"], **results}
    out = {
        "sf_dir": sf_dir,
        "task_max_failures": 3,
        "stages": results,
        "ok": all(r["ok"] for r in results.values()),
    }
    with open(path, "w") as fh:
        json.dump(out, fh, indent=2, default=str)
    print(f"chaos probe: {'OK' if not any_fail else 'FAILURES'} -> {json_out}")
    return 1 if any_fail else 0


if __name__ == "__main__":
    sys.exit(main())
