"""Wall-clock scale evidence (VERDICT r10 task 6): measured wall-time
growth sf0.1 → sf1 for the heaviest bench queries.

``tools/scale_probe.py`` proves per-query SHUFFLE-BYTE growth is
linear; this probe adds the judge-requested wall-clock axis for the
top-N most expensive queries in the latest bench detail. Shuffle bytes
are deterministic; wall-clock is not — so each (query, sf) cell is a
multi-sample median on a warm session, and the gate allows host
tolerance on top of the data growth:

    ok  ⟺  median(sf1) ≤ median(sf0.1) · K · TOL

with K = the fixture replication factor (10) and TOL = 1.5. Queries
whose sf0.1 median sits under 1 s get an absolute floor added (the
session's fixed per-job scheduling latency would otherwise dominate
the ratio): ok if median(sf1) ≤ max(gate, floor_s).

The sf1 fixture is the deterministic 10× replication of the shipped
sf0.1 (``tools/make_sf_scale.py`` — disjoint keys per replica, salted
doc text, rolled embeddings), so "data growth = 10×" holds for every
table a query touches.

Coverage (r12, VERDICT r11 task 4): the measured set is the UNION of
the top-``--top`` heaviest bench queries and every query whose latest
bench time is at least ``--min-sec`` (default 1.5 s) — wall-clock is
the user-visible metric, so every query that matters at sf0.1 gets an
sf1 wall recording, not just the top ten.

Usage::

    python tools/wall_probe.py [--top 10] [--min-sec 1.5] [--samples 3]
        [--sf01 /root/testdata/sf0.1] [--sf1 .sfscale/sf1]
        [--json SCALE_PROBE_WALL.json]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools.registry_run import each, noop_wall, registry, session  # noqa: E402
from tools.registry_run import opt as _opt  # noqa: E402

K_DATA = 10.0
TOL = 1.5
ABS_FLOOR_S = 6.0  # sub-second sf0.1 queries: scheduling floor absorbs K


def main() -> int:
    argv = sys.argv[1:]
    top_n = int(_opt(argv, "--top", "10"))
    min_sec = float(_opt(argv, "--min-sec", "1.5"))
    samples = int(_opt(argv, "--samples", "3"))
    sf01 = _opt(argv, "--sf01", "/root/testdata/sf0.1")
    sf1 = _opt(argv, "--sf1", str(REPO / ".sfscale" / "sf1"))
    json_out = _opt(argv, "--json", "SCALE_PROBE_WALL.json")

    if not os.path.isdir(sf1):
        print(f"sf1 fixture missing at {sf1}; derive it first:\n"
              f"  python tools/make_sf_scale.py --dst {sf1} --k 10")
        return 2

    detail = json.loads((REPO / "BENCH_DETAIL.json").read_text())
    ranked = sorted(detail["queries"].items(), key=lambda kv: -kv[1])
    names = [
        q
        for i, (q, t) in enumerate(ranked)
        if i < top_n or t >= min_sec
    ]
    print(
        f"top-{top_n} ∪ (>= {min_sec}s) by last bench: "
        f"{len(names)} queries: {names}"
    )

    spark = session("wall-probe")
    queries = registry()

    def walls(names: list[str], sf_dir: str) -> list[float]:
        out = []
        for _name, wall, err in each(spark, sf_dir, names, noop_wall):
            if err:
                raise err
            out.append(wall)
        return out

    # warm both fixtures' scan paths + python workers
    walls(["q1_pricing_summary"], sf01)
    walls(["q1_pricing_summary"], sf1)

    results: dict[str, dict] = {}
    flags: list[str] = []
    for name in names:
        if name not in queries:
            continue
        m01 = statistics.median(walls([name] * samples, sf01))
        m1 = statistics.median(walls([name] * samples, sf1))
        gate = max(m01 * K_DATA * TOL, ABS_FLOOR_S)
        growth = round(m1 / m01, 2) if m01 > 0 else None
        ok = m1 <= gate
        results[name] = {
            "sf01_median": round(m01, 3),
            "sf1_median": round(m1, 3),
            "wall_growth": growth,
            "gate_s": round(gate, 2),
            "ok": ok,
        }
        if not ok:
            flags.append(name)
        print(f"{name}: {m01}s -> {m1}s (x{growth}, gate {gate:.1f}s) "
              f"{'OK' if ok else 'FLAG'}", flush=True)

    doc = {
        "k_data": K_DATA,
        "tolerance": TOL,
        "min_sec": min_sec,
        "abs_floor_s": ABS_FLOOR_S,
        "samples_per_cell": samples,
        "sf01": sf01,
        "sf1": sf1,
        "queries": results,
        "flags": flags,
        "ok": not flags,
        "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
    }
    (REPO / json_out).write_text(json.dumps(doc, indent=1))
    print(f"wall probe: {'OK' if not flags else 'FLAGS ' + str(flags)} "
          f"-> {json_out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
