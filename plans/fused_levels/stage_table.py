"""Per-stage timeline of the ingest benchmark's convert + scrub pass.

    python plans/fused_levels/stage_table.py CHECKOUT WORK_DIR [PASSES]

Writes the benchmark fleet (4 CZI stacks of 96×256×256, seed 901) under
WORK_DIR, starts one ``get_spark`` session on ``local[2]`` from
CHECKOUT's package, runs one untimed warm-up pass and then PASSES timed
passes (default 3), each operation under its own job group, and prints
one JSON line per pass: the wall time of each operation and, for every
stage it ran, its tasks, its span from submission to completion, its
executor CPU, its shuffle write and whether its tasks ran a Python
``MapInArrow`` (a node name in the stage's RDD scopes).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

checkout, work = sys.argv[1], sys.argv[2]
passes = int(sys.argv[3]) if len(sys.argv) > 3 else 3
sys.path[:0] = [checkout, os.path.join(checkout, "perfbench")]
os.chdir(checkout)

import datagen  # noqa: E402
from workloads import FACTORS, INGEST, LEVELS  # noqa: E402

from aind_hcr_data_transformation_spark.config import ZarrConversionSettings  # noqa: E402
from aind_hcr_data_transformation_spark.pipeline import convert_czi_stacks  # noqa: E402
from aind_hcr_data_transformation_spark.session import get_spark  # noqa: E402
from aind_hcr_data_transformation_spark.sinks.zarr_sink import scrub_groups_spark  # noqa: E402

shape = INGEST["full"]
paths = datagen.write_fleet(os.path.join(work, "czi"), 901, shape.n_stacks, shape.stack)
out = os.path.join(work, "zarr")
spark = get_spark(
    "stage-table",
    master="local[2]",
    extra_conf={"spark.ui.retainedStages": "1000", "spark.ui.retainedJobs": "1000"},
)
sc = spark.sparkContext
store = sc._jsc.sc().statusStore()


def scope_names(cluster) -> list[str]:
    """Names of a stage's RDD scope clusters (plan nodes), nested."""
    kids = cluster.childClusters()
    return [cluster.name()] + [n for i in range(kids.size()) for n in scope_names(kids.apply(i))]


def stages_of(group: str) -> list[dict]:
    rows = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        for sid in sorted(sc.statusTracker().getJobInfo(jid).stageIds):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:
                continue
            if st.status().toString() != "COMPLETE":
                continue
            scopes = scope_names(store.operationGraphForStage(sid).rootCluster())
            rows.append(
                {
                    "job": jid,
                    "stage": sid,
                    "tasks": st.numCompleteTasks(),
                    "span_s": round(
                        (st.completionTime().get().getTime() - st.submissionTime().get().getTime()) / 1e3, 3
                    ),
                    "cpu_s": round(st.executorCpuTime() / 1e9, 3),
                    "shuffle_write_bytes": st.shuffleWriteBytes(),
                    "python": "MapInArrow" in scopes,
                }
            )
    return rows


for k in range(passes + 1):
    shutil.rmtree(out, ignore_errors=True)
    rec = {"pass": k if k else "warmup"}
    groups = {}
    for op in ("convert", "scrub"):
        sc.setJobGroup(f"p{k}/{op}", op)
        t0 = time.perf_counter()
        if op == "convert":
            settings = ZarrConversionSettings(
                output_directory=out, chunk_size=shape.chunk,
                scale_factor=FACTORS, downsample_levels=LEVELS,
            )
            groups = convert_czi_stacks(spark, settings, paths)
        else:
            scrub_groups_spark(spark, list(groups.values()))
        rec[f"{op}_s"] = round(time.perf_counter() - t0, 3)
        rec[f"{op}_stages"] = stages_of(f"p{k}/{op}")
    rec["python_tasks"] = sum(
        s["tasks"] for op in ("convert", "scrub") for s in rec[f"{op}_stages"] if s["python"]
    )
    print(json.dumps(rec), flush=True)
spark.stop()
