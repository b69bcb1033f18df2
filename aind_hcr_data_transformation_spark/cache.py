"""Tracked ``persist()`` registry (ADVICE r3: persisted intermediates in a
shared long-lived session accumulate for the session's lifetime, adding
memory/disk pressure and LRU churn at larger scale factors), and the
:func:`shared` cache of build-once/probe-many session artifacts.

Query builders that materialize a multi-consumer intermediate call
:func:`persist_tracked` instead of bare ``DataFrame.persist()``; drivers
that run many queries through one session (``bench.py``,
``tools/oracle_check.py``) call :func:`release_persists` after each
query's result is materialized.  A single-query caller that never
releases behaves exactly as before (the persist simply lives until the
session ends), so this is strictly an improvement for batch drivers.
"""

from __future__ import annotations

import os
import time
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

_LIVE: list[DataFrame] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """``df.persist()`` + register for later release."""
    df.persist()
    _LIVE.append(df)
    return df


def release_persists() -> int:
    """Unpersist (non-blocking) every tracked intermediate; returns the
    number released.  Safe to call at any time — the cached plans stay
    valid, later actions just recompute instead of reading cache."""
    n = 0
    while _LIVE:
        _LIVE.pop().unpersist(blocking=False)
        n += 1
    return n


_SHARED: dict[tuple[str, str, str], tuple[Any, Any]] = {}
_BUILDS: list[tuple[str, str, float, str | None]] = []


def _stamp(sf_dir: str):
    """Sorted (name, st_mtime_ns, st_size) of ``sf_dir``'s entries, None
    if unlistable.  Not the inode or ctime: hard-linked copies share
    inodes, and ``os.link`` bumps the source's ctime."""
    try:
        with os.scandir(sf_dir) as it:
            stats = [(e.name, e.stat()) for e in it]
    except OSError:
        return None
    return sorted((n, s.st_mtime_ns, s.st_size) for n, s in stats)


def shared(key: str, spark: SparkSession, sf_dir: str, build: Callable) -> Any:
    """``build(spark, sf_dir)``, once per (key, session, sf_dir) until a
    file in ``sf_dir`` changes: a changed :func:`_stamp` rebuilds and
    replaces the entry.  The path stays in the key, so a hard-linked
    copy of a dir is an input of its own.

    Values must outlive :func:`release_persists`: a ``localCheckpoint``-ed
    frame or collected driver values, never a persist.  The build runs
    under the job description ``shared:<key>`` (the job group is left
    alone) and is recorded in :func:`shared_builds`; it may call
    :func:`shared` itself (no lock is held), and if it raises nothing
    is stored."""
    sc = spark.sparkContext
    entry_key = (key, sc.applicationId, sf_dir)
    stamp = _stamp(sf_dir)
    hit = _SHARED.get(entry_key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    prev = sc.getLocalProperty("spark.job.description")
    group = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobDescription(f"shared:{key}")
    t0 = time.perf_counter()
    try:
        value = build(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.job.description", prev)
    _BUILDS.append((key, sf_dir, time.perf_counter() - t0, group))
    _SHARED[entry_key] = (stamp, value)
    return value


def shared_builds() -> list[tuple[str, str, float, str | None]]:
    """(key, sf_dir, seconds, job group) of each build since :func:`clear`."""
    return list(_BUILDS)


def clear() -> None:
    """Drop every shared entry and build record."""
    _SHARED.clear()
    _BUILDS.clear()
