"""Rewrite ``goldens.json``: each benchmark query's row count and content
hash on the generated tables, for both benchmark sizes.

    python3 perfbench/goldens.py

Every query runs twice, in two different orders, in one session; the
script refuses to write goldens that depend on the order. Cross-check
the tables themselves against the DuckDB oracle with
``tools/oracle_check.py <tables dir> <query ...>`` on the same
``datagen.write_tables`` output.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import run


def main() -> int:
    run.require_program()
    run_dir = tempfile.mkdtemp(prefix=run.RUN_PREFIX, dir=run.ROOT)
    try:
        run.isolate(run_dir)
        import workloads as wl
        from probes import Tracer
        from aind_hcr_data_transformation_spark.session import get_spark

        spark = get_spark("perfbench-goldens", extra_conf=run.session_conf(run_dir, False))
        out: dict[str, dict] = {}
        try:
            for size in ("full", "tiny"):
                out[size] = {}
                for names in (wl.TPCH, wl.LLM_PREP):
                    seen = []
                    for seed in (1, 2):
                        work = wl.QueryWorkload(names, seed, size, os.path.join(run_dir, size), Tracer(False))
                        if seed == 1:
                            work.make_inputs()
                        work.goldens = None  # record, do not compare
                        work.run_pass(spark, f"{size}-{seed}", False)
                        seen.append(work.fingerprints)
                    if seen[0] != seen[1]:
                        sys.exit(f"order-dependent fingerprints: {seen}")
                    out[size].update(seen[0])
        finally:
            run.stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(os.path.join(run.HERE, "goldens.json"), "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
