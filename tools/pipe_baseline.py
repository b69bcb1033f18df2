"""Isolated pipe_e2e_convert baseline (VERDICT r10 task 5).

``pipe_e2e_convert`` (the bench's pipeline sidecar) is heap-sensitive:
measured at the END of a 226-query sweep it has read 191-284 MiB/s on
the same code that does 430-470 MiB/s in a controlled session
(``PIPE_DIP_PROBE.json``, r9/r10). This tool records the CONTROLLED
floor — a fresh SparkSession whose only work is the conversion, ≥4
samples — so future in-sweep dips are adjudicated against an isolated
number instead of mixed-session samples: re-run THIS harness first;
only a dip that reproduces here is a regression.

Writes the result into ``BASELINE.json`` under
``pipe_e2e_convert_isolated`` (bench.py's prior-loading ignores
unknown keys) and prints it.

Usage::

    python tools/pipe_baseline.py [--samples 4]
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools.registry_run import opt  # noqa: E402


def main() -> int:
    argv = sys.argv[1:]
    samples = int(opt(argv, "--samples", "4"))

    import bench
    from aind_hcr_data_transformation_spark.session import get_spark

    spark = get_spark("pipe-baseline")
    spark.sparkContext.setLogLevel("ERROR")

    # discard one full harness call first: the cold JVM + codegen +
    # page-cache ramp costs a 5-10x slowdown on the first conversions
    # (observed 92 -> 560 MiB/s within one session) and belongs to
    # session bring-up, not the steady-state floor being recorded
    warm = bench._bench_pipeline(spark)
    print(f"warm-up (discarded): {warm['mib_per_s_median']} MiB/s",
          flush=True)
    rates = []
    for i in range(samples):
        res = bench._bench_pipeline(spark)
        rates.append(res["mib_per_s_median"])
        print(f"sample {i}: {res['mib_per_s_median']} MiB/s "
              f"(samples {res['samples']})", flush=True)

    doc = {
        "mib_per_s_median": statistics.median(rates),
        "mib_per_s_min": min(rates),
        "mib_per_s_max": max(rates),
        "samples": rates,
        "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
    }
    baseline_path = REPO / "BASELINE.json"
    base = json.loads(baseline_path.read_text()) if baseline_path.exists() \
        else {}
    base["pipe_e2e_convert_isolated"] = doc
    baseline_path.write_text(json.dumps(base, indent=1))
    print(json.dumps(doc))
    return 0


if __name__ == "__main__":
    sys.exit(main())
