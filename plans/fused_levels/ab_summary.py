"""Summarize an interleaved A/B written by ``ab.sh``.

    python plans/fused_levels/ab_summary.py BENCH.jsonl

For each end-to-end metric: the parent's and the change's medians, the
parent's interquartile range, and in how many seed pairs the change read
lower (every metric here is lower-is-better).
"""

import json
import statistics
import sys

runs = [json.loads(line) for line in open(sys.argv[1])]
by = {(r["side"], r["seed"]): r["out"] for r in runs}
seeds = sorted({s for _, s in by if ("parent", s) in by and ("change", s) in by})
print(f"pairs: {len(seeds)}; all correct: {all(o['correct'] for o in by.values())}; "
      f"failed ops: {sum(o['failed'] for o in by.values())}")
for m in by["parent", seeds[0]]["metrics"]:
    p = [by["parent", s]["metrics"][m]["value"] for s in seeds]
    c = [by["change", s]["metrics"][m]["value"] for s in seeds]
    q = statistics.quantiles(p, n=4)
    wins = sum(cv < pv for pv, cv in zip(p, c))
    print(f"{m:12s} parent {statistics.median(p):7.3f}  change {statistics.median(c):7.3f}  "
          f"parent IQR {q[2] - q[0]:.3f}  change lower {wins}/{len(seeds)}")
