"""Cold and warm passes of the benchmark's llm_prep trio, with counters.

    python plans/cold_builds/cold_pass_probe.py <checkout> <sf_dir> <rounds> <scratch_dir>

Starts one ``get_spark`` session (``local[2]``) from ``<checkout>`` and,
for each round, hard-links ``<sf_dir>`` into a fresh directory under
``<scratch_dir>`` (an input the session has not seen, as the
benchmark's cold passes use), then runs ``dedup_components``,
``embed_pq_quantize`` and ``ivfpq_search`` into the noop sink twice: a
cold pass that builds every shared entry, then a warm pass that reads
them. Prints one JSON line per pass:

* ``wall``: seconds of the pass;
* ``compiles``: generated classes Janino compiled during the pass
  (``CodegenMetrics.METRIC_COMPILATION_TIME`` count);
* ``per``: query -> [seconds, builder jobs, action jobs], jobs counted
  per job group with ``statusTracker().getJobIdsForGroup``;
* ``builds``: ``cache.shared_builds()`` of the pass, [key, seconds]; a
  nested build's seconds include the builds it calls.
"""

import json
import os
import shutil
import sys
import time

checkout, src, rounds, root = sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4]
sys.path.insert(0, checkout)
os.chdir(checkout)

import __spark_entry__ as m  # noqa: E402
from aind_hcr_data_transformation_spark import cache  # noqa: E402
from aind_hcr_data_transformation_spark.session import get_spark  # noqa: E402

NAMES = ("dedup_components", "embed_pq_quantize", "ivfpq_search")

spark = get_spark(master="local[2]")
spark.sparkContext.setLogLevel("ERROR")
sc = spark.sparkContext
codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
queries = m.queries()


def jobs(group):
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


shutil.rmtree(root, ignore_errors=True)
group = 0
for r in range(rounds):
    copy = os.path.join(root, f"c{r}")
    shutil.copytree(src, copy, copy_function=os.link)
    for kind in ("cold", "warm"):
        c0 = codegen.METRIC_COMPILATION_TIME().getCount()
        n0 = len(cache.shared_builds())
        t0 = time.perf_counter()
        per = {}
        for name in NAMES:
            group += 1
            q0 = time.perf_counter()
            sc.setJobGroup(f"b{group}", name)
            df = queries[name](spark, copy)
            sc.setJobGroup(f"x{group}", name)
            df.write.format("noop").mode("overwrite").save()
            wall = round(time.perf_counter() - q0, 3)
            per[name] = [wall, jobs(f"b{group}"), jobs(f"x{group}")]
            cache.release_persists()
        rec = {
            "round": r,
            "kind": kind,
            "wall": round(time.perf_counter() - t0, 3),
            "compiles": codegen.METRIC_COMPILATION_TIME().getCount() - c0,
            "per": per,
            "builds": [[k, round(s, 3)] for k, _, s, _ in cache.shared_builds()[n0:]],
        }
        print(json.dumps(rec), flush=True)
spark.stop()
shutil.rmtree(root, ignore_errors=True)
