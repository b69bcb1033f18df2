"""Benchmark entry point: one workload, one fresh process, one JSON line.

    python3 perfbench/run.py --workload {ingest,tpch,llm_prep} --seed N \
        --seconds S --trace {0,1} [--size {full,tiny}]

Steps of a run:

1. inputs   generated from the seed into a private run directory (timed
            and printed, not a metric);
2. setup    start the session on ``local[SLOTS]`` and warm it up with
            the workload's ``warmup_passes`` passes over a copy of the
            real inputs that no later pass reads: JIT, codegen and Python
            workers are warm, the session caches, keyed by input path,
            hold nothing for the measured copies (``setup_s``);
3. rounds   the workload's ``rounds`` rounds, and more until ``--seconds``
            have passed: one cold pass over a copy of the real inputs this
            session has not seen (the session caches are keyed by input
            path), then the workload's ``warm_per_round`` warm passes over
            the same copy;
4. checks   untimed output checks (ingest only; query outputs are checked
            inside every pass, see ``workloads.fingerprint_exprs``).

Wall times are net of host steal (``workloads.net_s``): an operation's
wall time less the host steal over it spread across the ``SLOTS`` busy
task threads. ``setup_s`` is the setup's net wall time; ``cold_pass_s``
and ``warm_pass_s`` are the sums over a pass's operations of each
operation's median net wall time, over the cold and over the warm passes
of the run; ``cold_cpu_s`` and ``warm_cpu_s`` are medians of the passes'
host busy CPU. Every pass line prints the raw wall times and the steal.

The load is a closed loop: one client runs one operation at a time.
``--trace 1`` runs the same steps with spans and job-group counters on,
alternates traced and untraced warm passes, and prints the per-layer
metrics instead of the end-to-end ones. Every pass prints its wall time,
host busy CPU and host steal, so runs a noisy neighbour hit are visible.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TRACE_DIR = os.path.join(ROOT, ".perfbench-traces")
RUN_PREFIX = ".perfbench-run-"

#: task slots: every Python-worker task keeps a JVM task thread and a
#: worker process busy, so half the cores keeps busy threads at or below
#: nproc; on a 4-vCPU host it ran ingest as fast as local[4] on a fifth
#: less CPU
SLOTS = max(1, len(os.sched_getaffinity(0)) // 2)
#: worker BLAS pools: one thread per task slot, never slots × BLAS threads
_THREAD_ENV = ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")
#: fits next to the OS and the Python workers on a 15 GiB host with no swap
DRIVER_MEM = "4g"
#: input copies made up front; the loop stops there at the latest
MAX_ROUNDS = 12

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "cold_cpu_s": "s",
    "warm_cpu_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.jvm_peak_rss_mib": "MiB",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.slot_busy": "ratio",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "cache.shared_build_s": "s",
    "cache.shared_build_jobs": "count",
    "cache.persists": "count",
    "pipeline.convert_s": "s",
    "pipeline.jobs": "count",
    "pipeline.tasks": "count",
    "pipeline.task_cpu_s": "s",
    "pipeline.shuffle_bytes": "bytes",
    "sources.decode_s_per_gib": "s/GiB",
    "blockwise.pool_s_per_gib": "s/GiB",
    "sinks.compress_s_per_gib": "s/GiB",
    "sinks.write_s_per_gib": "s/GiB",
    "sinks.digest_s_per_gib": "s/GiB",
    "sinks.scrub_s": "s",
    "sinks.stored_per_input_byte": "ratio",
    "host.steal_s": "s",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "tpch", "llm_prep"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def require_program() -> None:
    """Fail fast, before any input is made, when the checkout does not
    hold the program the benchmark drives."""
    for rel in ("__spark_entry__.py", "aind_hcr_data_transformation_spark/__init__.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            sys.exit(f"perfbench: {rel} not found under {ROOT}; nothing to benchmark")


def isolate(run_dir: str) -> None:
    """Point every temporary and spill location of this process, the JVM
    and the Python workers it forks at the private run directory."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    for var in _THREAD_ENV:
        os.environ[var] = "1"
    sys.path[:0] = [ROOT, HERE]


def session_conf(run_dir: str, traced: bool) -> dict[str, str]:
    conf = {
        # no hsperfdata file in /tmp, JVM temp files in the run directory
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
        ),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if traced:
        # the session keeps 50 stages; one query alone can run more
        conf.update({"spark.ui.retainedStages": "100000", "spark.ui.retainedJobs": "100000"})
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def print_pass(p) -> None:
    failed = sum(not o.ok for o in p.ops)
    print(
        f"pass {p.label}{' traced' if p.traced else ''}: wall_s={p.wall_s:.4f} "
        f"busy_cpu_s={p.busy_cpu_s:.3f} host.steal_s={p.steal_s:.3f} "
        f"ops={len(p.ops)} failed={failed} "
        # each operation as name=wall_s/host.steal_s
        + " ".join(f"{o.name}={o.wall_s:.3f}/{o.steal_s:.2f}" for o in p.ops),
        flush=True,
    )


def run(args, run_dir: str) -> dict:
    import workloads as wl
    from probes import Tracer, peak_rss_mib, window

    traced = bool(args.trace)
    tracer = Tracer(enabled=traced)
    if args.workload == "ingest":
        work = wl.IngestWorkload(args.seed, args.size, run_dir, tracer)
    else:
        names = wl.TPCH if args.workload == "tpch" else wl.LLM_PREP
        work = wl.QueryWorkload(names, args.seed, args.size, run_dir, tracer)

    t = time.perf_counter()
    work.make_inputs(MAX_ROUNDS + 1)
    print(f"inputs: gen_s={time.perf_counter() - t:.3f} (not a metric)", flush=True)
    print(f"order: {' '.join(work.order)}", flush=True)

    with tracer.span("run", workload=args.workload, seed=args.seed):
        with window() as setup:
            with tracer.span("setup"):
                t0 = time.perf_counter()
                from aind_hcr_data_transformation_spark.session import get_spark

                spark = get_spark(
                    f"perfbench-{args.workload}",
                    master=f"local[{SLOTS}]",
                    extra_conf=session_conf(run_dir, traced),
                )
                start_s = time.perf_counter() - t0
                # the copy after the measured ones, seen by no later pass
                warmup = [
                    work.run_pass(spark, f"warmup{k + 1}", False, MAX_ROUNDS)
                    for k in range(work.warmup_passes)
                ]
                warmup_s = time.perf_counter() - t0 - start_s
        print(
            f"setup: setup_s={setup.wall_s:.4f} session.start_s={start_s:.3f} "
            f"session.warmup_s={warmup_s:.3f} "
            f"warmup_passes_s={[round(sum(o.wall_s for o in p.ops), 3) for p in warmup]} "
            f"busy_cpu_s={setup.busy_cpu_s:.3f} "
            f"host.steal_s={setup.steal_s:.3f}",
            flush=True,
        )
        try:
            cold, warm = [], []

            def one_pass(label, trace_it, copy):
                with window() as w, tracer.span("pass", label=label):
                    p = work.run_pass(spark, label, trace_it, copy)
                p.wall_s, p.busy_cpu_s, p.steal_s = w.wall_s, w.busy_cpu_s, w.steal_s
                print_pass(p)
                return p

            t_rounds = time.perf_counter()
            for r in range(MAX_ROUNDS):
                cold.append(one_pass(f"cold{r + 1}", traced, r))
                for j in range(work.warm_per_round):
                    # traced runs alternate traced and untraced warm
                    # passes (tracing overhead)
                    trace_it = traced and len(warm) % 2 == 0
                    warm.append(one_pass(f"warm{r + 1}.{j + 1}", trace_it, r))
                # the JIT keeps compiling through the first rounds (cold
                # CPU falls round after round), so a fixed round count
                # keeps the medians at one place on that trend; --seconds
                # is a floor, below what the rounds take
                if r + 1 >= work.rounds and time.perf_counter() - t_rounds >= args.seconds:
                    break
            passes = cold + warm
            checks = work.final_checks(spark)
            layers = {}
            if traced:
                layers = layer_metrics(work, spark, cold, warm)
                layers["session.start_s"] = start_s
                layers["session.warmup_s"] = warmup_s
                from pyspark import SparkContext

                layers["session.jvm_peak_rss_mib"] = peak_rss_mib(SparkContext._gateway.proc.pid)
                layers["host.steal_s"] = setup.steal_s + sum(p.steal_s for p in passes)
        finally:
            stop_spark(spark)

    ops = [o for p in warmup + passes for o in p.ops] + checks
    failed = sum(not o.ok for o in ops)
    if traced:
        os.makedirs(TRACE_DIR, exist_ok=True)
        path = os.path.join(TRACE_DIR, f"{args.workload}-seed{args.seed}.json")
        tracer.write(path)
        print(f"trace: {len(tracer.spans)} spans -> {os.path.relpath(path, ROOT)}", flush=True)
        values = {k: layers.get(k, 0.0) for k in PER_LAYER}
        units = PER_LAYER
    else:
        values = {
            "setup_s": wl.net_s(setup.wall_s, setup.steal_s, SLOTS),
            "cold_pass_s": wl.median_pass_s(cold, SLOTS),
            "warm_pass_s": wl.median_pass_s(warm, SLOTS),
            "cold_cpu_s": wl.median([p.busy_cpu_s for p in cold]),
            "warm_cpu_s": wl.median([p.busy_cpu_s for p in warm]),
        }
        units = END_TO_END
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }


def layer_metrics(work, spark, cold, warm) -> dict[str, float]:
    """Per-layer numbers of a traced run. Builder and shared-cache costs
    are medians over the cold passes; execution, planning and pipeline
    costs are medians over the traced warm passes."""
    from workloads import IngestWorkload, median

    traced = [p for p in warm if p.traced]
    untraced = [p for p in warm if not p.traced]
    cores = spark.sparkContext.defaultParallelism
    out = {
        "trace.overhead_s": median([p.wall_s for p in traced]) - median([p.wall_s for p in untraced]),
    }
    if isinstance(work, IngestWorkload):
        out.update(work.layer_probes())
        conv = [p.op("convert") for p in traced]
        out["pipeline.convert_s"] = median([o.wall_s for o in conv])
        for k in ("jobs", "tasks", "task_cpu_s", "shuffle_bytes"):
            out[f"pipeline.{k}"] = median([o.layers[f"exec.{k}"] for o in conv])
        out["sinks.scrub_s"] = median([p.op("scrub").wall_s for p in traced])
        out["sinks.stored_per_input_byte"] = work.stored_per_input_byte()
        return out
    out["operators.build_s"] = median([p.layer_sum("build_s") for p in cold])
    out["operators.build_jobs"] = median([p.layer_sum("build_jobs") for p in cold])
    out["cache.persists"] = median([p.layer_sum("persists") for p in cold])
    out["catalyst.plan_s"] = median([p.layer_sum("plan_s") for p in traced])
    for k in ("jobs", "stages", "tasks", "task_cpu_s", "gc_s", "shuffle_bytes", "spill_bytes"):
        out[f"exec.{k}"] = median([p.layer_sum(f"exec.{k}") for p in traced])
    out["exec.run_s"] = median([p.layer_sum("exec_s") for p in traced])
    busy = median([p.layer_sum("exec.task_run_s") for p in traced])
    out["exec.slot_busy"] = busy / (out["exec.run_s"] * cores) if out["exec.run_s"] else 0.0

    def jobs(o):
        return o.layers.get("build_jobs", 0) + o.layers.get("exec.jobs", 0)

    build_s, shared_jobs = [], []
    for c in cold:
        build_s.append(0.0)
        shared_jobs.append(0.0)
        for o in c.ops:
            w = [p.op(o.name) for p in traced]
            build_s[-1] += max(0.0, o.wall_s - median([x.wall_s for x in w]))
            shared_jobs[-1] += max(0.0, jobs(o) - median([jobs(x) for x in w]))
    out["cache.shared_build_s"] = median(build_s)
    out["cache.shared_build_jobs"] = median(shared_jobs)
    return out


def leftovers(before: set[str], run_dir: str) -> list[str]:
    """Entries this run added to the checkout outside its run directory
    and the trace directory."""
    allowed = {os.path.basename(run_dir), os.path.basename(TRACE_DIR)}
    return sorted(set(os.listdir(ROOT)) - before - allowed)


def main(argv=None) -> int:
    args = parse_args(argv)
    require_program()
    # a killed run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    before = set(os.listdir(ROOT))
    run_dir = tempfile.mkdtemp(prefix=RUN_PREFIX, dir=ROOT)
    try:
        isolate(run_dir)
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    stray = leftovers(before, run_dir)
    if stray:
        print(f"FAILED hygiene: the run left {stray} in the checkout", flush=True)
        result["failed"] += 1
        result["attempted"] += 1
        result["correct"] = False
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
