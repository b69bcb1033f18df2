"""Synthetic-input conversion timings of one checkout, in one fresh
``get_spark`` session; prints one JSON line.

Run from the checkout's root:

    python <this file> LABEL          # three synthetic fleets, 1 warm-up + 3 timed runs each
    python <this file> LABEL e2e      # bench.py's pipe_e2e_convert, 1 warm-up + 2 samples

The fleets (chunk 128³, 3 levels): ``bench_1gib`` four 512³ stacks,
``one_slab`` one 128×1024×1024 stack (one slab, 64 tiles), ``thin_pair``
two 128×512×512 stacks (two slabs, 32 tiles).
"""

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.getcwd())

from aind_hcr_data_transformation_spark.config import ZarrConversionSettings  # noqa: E402
from aind_hcr_data_transformation_spark.pipeline import convert_synthetic_stacks  # noqa: E402
from aind_hcr_data_transformation_spark.session import get_spark  # noqa: E402

GEOMS = {
    "bench_1gib": {f"bench_s{i:02d}": (512, 512, 512) for i in range(4)},
    "one_slab": {"thin": (128, 1024, 1024)},
    "thin_pair": {f"t{i}": (128, 512, 512) for i in range(2)},
}


def fleets() -> dict:
    out = {}
    for geom, stacks in GEOMS.items():
        ts = []
        for _ in range(4):
            d = tempfile.mkdtemp(prefix="pipe_time_")
            settings = ZarrConversionSettings(
                output_directory=d,
                chunk_size=(128, 128, 128),
                scale_factor=(2, 2, 2),
                downsample_levels=3,
            )
            t0 = time.perf_counter()
            convert_synthetic_stacks(spark, settings, stacks)
            ts.append(time.perf_counter() - t0)
            shutil.rmtree(d)
        nbytes = sum(z * y * x * 2 for z, y, x in stacks.values())
        out[geom] = {
            "s": [round(t, 3) for t in ts[1:]],
            "mib_s_median": round(nbytes / 2**20 / statistics.median(ts[1:]), 1),
        }
    return out


def e2e() -> dict:
    import bench

    bench._bench_pipeline(spark)  # warm-up, discarded
    return {"mib_per_s_median": [bench._bench_pipeline(spark)["mib_per_s_median"] for _ in range(2)]}


spark = get_spark("pipe-time")
spark.sparkContext.setLogLevel("ERROR")
res = e2e() if sys.argv[2:] == ["e2e"] else fleets()
print(json.dumps({"variant": sys.argv[1], **res}), flush=True)
spark.stop()
