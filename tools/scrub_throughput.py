"""Measured scrub_group throughput (VERDICT r12 task 6).

The ``.zchecksums`` manifest makes a 100-TB post-transfer scrub
*possible*; this probe makes its cost a recorded number instead of a
guess. It converts a multi-GiB synthetic pyramid, then times

- ``scrub_group`` (serial, driver-side) on ONE stack — the per-stack
  operator an operator runs ad hoc, and
- ``scrub_group_spark`` (distributed) across EVERY stack — the fleet
  path, where executor parallelism must beat the serial rate.

Rates are reported two ways: ``stored_mib_per_s`` (compressed bytes
actually read + re-hashed — the number that scales with transfer
volume) and ``voxel_mib_per_s`` (level-0 voxel equivalent — the
capacity-planning number comparable to ``pipe_e2e_convert``).

Writes ``SCRUB_THROUGHPUT.json`` and records the headline under
``scrub_group`` in ``BASELINE.json``.

Usage::

    python tools/scrub_throughput.py [--gb 2] [--samples 2]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools.registry_run import opt  # noqa: E402


def _tree_bytes(root: str) -> int:
    total = 0
    for p in Path(root).rglob("*"):
        if p.is_file():
            total += p.stat().st_size
    return total


def main() -> int:
    argv = sys.argv[1:]
    gb = float(opt(argv, "--gb", "2.0"))
    samples = int(opt(argv, "--samples", "2"))

    from aind_hcr_data_transformation_spark.config import (
        ZarrConversionSettings,
    )
    from aind_hcr_data_transformation_spark.pipeline import (
        convert_synthetic_stacks,
    )
    from aind_hcr_data_transformation_spark.session import get_spark
    from aind_hcr_data_transformation_spark.sinks.zarr_sink import (
        scrub_group,
        scrub_groups_spark,
    )

    spark = get_spark("scrub-throughput")
    spark.sparkContext.setLogLevel("ERROR")

    side = 512
    n_stacks = max(1, round(gb * 4))  # 0.25 GiB level-0 voxels per stack
    stacks = {f"scrub_s{i:02d}": (side, side, side) for i in range(n_stacks)}
    out = tempfile.mkdtemp(prefix="scrub_probe_")
    try:
        settings = ZarrConversionSettings(
            output_directory=out,
            chunk_size=(128, 128, 128),
            scale_factor=(2, 2, 2),
            downsample_levels=3,
        )
        t0 = time.perf_counter()
        convert_synthetic_stacks(spark, settings, stacks)
        build_sec = time.perf_counter() - t0
        groups = sorted(
            str(p) for p in Path(out).iterdir() if p.is_dir()
        )
        voxel_bytes_per_stack = side**3 * 2
        stored_per_stack = _tree_bytes(groups[0])

        # serial: one stack, best-of-N
        serial_secs = []
        for _ in range(samples):
            t0 = time.perf_counter()
            per_level = scrub_group(groups[0])
            serial_secs.append(time.perf_counter() - t0)
        serial_sec = min(serial_secs)
        n_chunks_stack = sum(per_level.values())

        # distributed: every stack in ONE Spark job (the fleet shape —
        # per-job overhead amortizes across the whole transfer)
        dist_secs = []
        for _ in range(samples):
            t0 = time.perf_counter()
            per_group = scrub_groups_spark(spark, groups)
            dist_secs.append(time.perf_counter() - t0)
        counts = [
            sum(levels.values()) for levels in per_group.values()
        ]
        dist_sec = min(dist_secs)
        total_stored = stored_per_stack * n_stacks
        total_voxels = voxel_bytes_per_stack * n_stacks

        doc = {
            "gib_level0_voxels": round(total_voxels / 2**30, 3),
            "gib_stored": round(total_stored / 2**30, 3),
            "n_stacks": n_stacks,
            "chunks_per_stack": n_chunks_stack,
            "build_sec": round(build_sec, 2),
            "serial": {
                "sec_per_stack": round(serial_sec, 3),
                "samples": [round(s, 3) for s in serial_secs],
                "stored_mib_per_s": round(
                    stored_per_stack / 2**20 / serial_sec, 1
                ),
                "voxel_mib_per_s": round(
                    voxel_bytes_per_stack / 2**20 / serial_sec, 1
                ),
            },
            "distributed": {
                "sec_all_stacks": round(dist_sec, 3),
                "samples": [round(s, 3) for s in dist_secs],
                "chunks_verified": sum(counts),
                "stored_mib_per_s": round(total_stored / 2**20 / dist_sec, 1),
                "voxel_mib_per_s": round(total_voxels / 2**20 / dist_sec, 1),
            },
            "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
        }
        (REPO / "SCRUB_THROUGHPUT.json").write_text(json.dumps(doc, indent=1))

        base_path = REPO / "BASELINE.json"
        base = (
            json.loads(base_path.read_text()) if base_path.exists() else {}
        )
        base["scrub_group"] = {
            "serial_voxel_mib_per_s": doc["serial"]["voxel_mib_per_s"],
            "distributed_voxel_mib_per_s": doc["distributed"][
                "voxel_mib_per_s"
            ],
            "ts": doc["ts"],
        }
        base_path.write_text(json.dumps(base, indent=1))
        print(json.dumps(doc, indent=1))
        return 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
