"""Chunked --duckdb-strict sweep (VERDICT r5 task 7, hardened).

Running the strict probe over the whole registry in ONE process proved
fragile: the Spark JVM and DuckDB share the host's memory, the buffer
pool degrades over ~200 heavy unrolled-CTE oracles, and a single DuckDB
std::bad_alloc can segfault the process and lose every record (observed
twice in round 6 — exit 139 mid-sweep, artifact never written).

This wrapper runs ``tools/oracle_check.py --duckdb-strict`` over the
DRIVER-SAMPLED query set (the keys of every CORRECTNESS_r*.json) through
``registry_run.differential``: chunks of ``--chunk`` queries, each in a
fresh process, and a query whose chunk crashed retried alone. A strict
divergence is the finding, so failed queries are not retried.

Usage:
    python tools/strict_sweep.py [sf_dir] [--sample CORRECTNESS.json]
                                 [--out STRICT_ORACLE.json] [--chunk N]
                                 [--full]

``--full`` switches from the strict TRY_CAST probe to the plain
differential over the ENTIRE registry (every ``queries()`` entry): the
crash-proof way to produce full-registry evidence (a single-process
run died once at ``ivfpq_search`` and lost the whole artifact).
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.registry_run import (  # noqa: E402
    differential,
    failed,
    flag,
    opt,
    oracle_chunk,
)


def main() -> int:
    argv = sys.argv[1:]
    # default sample = the UNION of every driver CORRECTNESS_r*.json in
    # the repo (VERDICT r6 task 8: each round's driver sample rotates,
    # so the strict population should accumulate across rounds).
    # ``--sample`` accepts a comma-separated list of files to override.
    default_samples = ",".join(
        sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))
    )
    full = flag(argv, "--full")
    sample = opt(argv, "--sample", default_samples)
    out_path = opt(
        argv,
        "--out",
        os.path.join(
            REPO, "FULL_ORACLE.json" if full else "STRICT_ORACLE.json"
        ),
    )
    chunk = int(opt(argv, "--chunk", "12"))
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"

    import __spark_entry__ as entrymod  # registry names only; no session

    live = set(entrymod.queries())
    if full:
        sampled = list(entrymod.queries())
    else:
        seen: set[str] = set()
        sampled = []
        for path in sample.split(","):
            with open(path) as fh:
                for k in json.load(fh):
                    if k != "_meta" and k not in seen:
                        seen.add(k)
                        sampled.append(k)
    names = [n for n in sampled if n in live]
    retired = [n for n in sampled if n not in live]
    if retired:
        # e.g. the rows-only sketch twins the r5 verdict had moved out of
        # the driver-visible registry — sampled then, gone now
        print(f"skipping retired sample names: {retired}")
    print(f"strict sweep: {len(names)} driver-sampled queries, chunks of {chunk}")

    merged, _ = differential(
        names,
        oracle_chunk(sf_dir, *([] if full else ["--duckdb-strict"])),
        chunk,
        retry_failed=False,
    )

    n_fail = sum(map(failed, merged.values()))
    merged_out = {
        "_meta": {
            "tool": (
                "tools/strict_sweep.py (chunked full differential)"
                if full
                else "tools/strict_sweep.py (chunked --duckdb-strict)"
            ),
            "sf_dir": sf_dir,
            "sample": (
                "full registry"
                if full
                else [os.path.basename(x) for x in sample.split(",")]
            ),
            "retired_sample_names": retired,
            "n_queries": len(merged),
            "n_failures": n_fail,
            "ts": datetime.datetime.now().isoformat(timespec="seconds"),
        },
        **merged,
    }
    with open(out_path, "w") as fh:
        json.dump(merged_out, fh, indent=1)
    print(f"\n{n_fail} failures / {len(merged)} queries -> {out_path}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
