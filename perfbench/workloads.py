"""The three benchmark workloads and the pass each one repeats.

A workload makes its inputs and copies of them under other paths, runs
passes over them, and checks outputs. Every call into the
program goes through its public functions; counters are read from
Spark's status store by job group (traced passes only).

- ``tpch``: TPC-H queries from ``relational`` and ``tpch`` through the
  noop sink. Scan, join, shuffle and Catalyst paths; no Python workers
  and almost no session caches.
- ``llm_prep``: LLM-data-prep queries. Eager builder-side jobs (the
  Lloyd trainer, the connected-components fixed point) and module-level
  session caches, which the cold pass builds and the warm passes read.
- ``ingest``: CZI fleet → 3-level OME-Zarr, then a distributed scrub.
  Sources, blockwise pooling, sinks and the pipeline; almost no
  Catalyst.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import datagen
from probes import Tracer, group_counters, host_cpu

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDENS = os.path.join(HERE, "goldens.json")

#: the tables are the same for every run; the seed only orders a pass
TABLE_SEED = 20231
#: table scale per benchmark size
TABLE_SF = {"full": 0.01, "tiny": 0.001}

# A pass holds a subset of each registry family: a run (JVM start, warm-up,
# a cold pass, five warm passes) has to fit in about 40 s on a 4-vCPU host,
# and per-query cost at this scale is mostly fixed overhead (planning, job
# scheduling, codegen), so the subset is chosen by what it exercises.
TPCH = (
    "q1_pricing_summary",  # scan + wide aggregate
    "q5_region_revenue",  # 6-way join
    "q13_customer_distribution",  # left outer join + two-level aggregate
    "q17_small_qty_revenue",  # broadcast hint on a fact-scaled relation
    "q18_large_orders",  # semi-join on an aggregated fact
    "q21_waiting_suppliers",  # exists / not-exists
)

# Each of these builds or reads one of the module-level session caches,
# so the cold pass pays the shared builds and the warm passes read them.
LLM_PREP = (
    "dedup_components",  # connected-components labels cache, ~35 jobs cold
    "embed_pq_quantize",  # Lloyd trainer, PQ codebook cache
    "ivfpq_search",  # reads the PQ codebooks another query trained
)


@dataclass
class OpResult:
    name: str
    wall_s: float = 0.0
    #: host steal over the operation, all vCPUs together
    steal_s: float = 0.0
    ok: bool = True
    layers: dict[str, float] = field(default_factory=dict)


@dataclass
class Pass:
    label: str
    traced: bool
    ops: list[OpResult] = field(default_factory=list)
    wall_s: float = 0.0
    busy_cpu_s: float = 0.0
    steal_s: float = 0.0

    def layer_sum(self, key: str) -> float:
        return sum(o.layers.get(key, 0.0) for o in self.ops)

    def op(self, name: str) -> OpResult:
        return next(o for o in self.ops if o.name == name)


def _fail(what: str) -> None:
    print(f"FAILED {what}", flush=True)
    traceback.print_exc()


def fingerprint_exprs(schema):
    """Row count and an order-insensitive content hash (sum of row
    hashes) of a query's output, evaluated by ``observe`` while the
    noop sink runs the query. Maps are hashed through JSON, because
    Spark refuses to hash map columns."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = [
        F.to_json(F.col(f.name)) if isinstance(f.dataType, T.MapType) else F.col(f.name)
        for f in schema.fields
    ]
    return (
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.hash(*cols).cast("long")).alias("hash"),
    )


def load_goldens(size: str) -> dict[str, list]:
    """Expected fingerprints; none at all (every query fails its check)
    when the file is missing."""
    if not os.path.exists(GOLDENS):
        return {}
    with open(GOLDENS, encoding="utf-8") as fh:
        return json.load(fh)[size]


def link_copies(src: str, dst_root: str, copies: int) -> list[str]:
    """``copies`` paths holding the files of ``src``: ``src`` itself and
    hard-linked copies (plain copies where links fail) under
    ``dst_root``. The session caches are keyed by input path, so to the
    program each copy is an input it has not seen."""
    out = [src]
    for k in range(1, copies):
        dst = os.path.join(dst_root, f"copy{k}")
        shutil.copytree(src, dst, copy_function=_link_or_copy)
        out.append(dst)
    return out


def _link_or_copy(src: str, dst: str) -> None:
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


class QueryWorkload:
    """A pass runs every query of ``names`` once, in a seeded order,
    through the noop sink, and checks each query's row count and
    content hash against the goldens."""

    #: a cold pass costs four warm ones; a warm pass is mostly job
    #: scheduling, so noisy: two warm samples for every cold one. Warm
    #: passes sped up by a third over the first three, so the warm-up
    #: runs the warm path twice after its cold pass
    warmup_passes = 3
    rounds = 3
    warm_per_round = 2

    def __init__(self, names, seed: int, size: str, run_dir: str, tracer: Tracer):
        self.names = names
        self.order = list(names)
        np.random.default_rng(seed).shuffle(self.order)
        self.size = size
        self.run_dir = run_dir
        self.tracer = tracer
        self.real_dir = os.path.join(run_dir, "tables")
        self.real_dirs = [self.real_dir]
        #: None records fingerprints without checking them (goldens.py)
        self.goldens = load_goldens(size)
        self.fingerprints: dict[str, list] = {}
        self.pass_no = 0

    def make_inputs(self, copies: int = 1) -> None:
        datagen.write_tables(self.real_dir, TABLE_SF[self.size], TABLE_SEED)
        self.real_dirs = link_copies(self.real_dir, self.real_dir + "_copies", copies)

    def run_pass(self, spark, label: str, traced: bool, copy: int = 0) -> Pass:
        import __spark_entry__
        from pyspark.sql import Observation

        from aind_hcr_data_transformation_spark.cache import release_persists

        registry = __spark_entry__.queries()
        sc = spark.sparkContext
        real_dir = self.real_dirs[copy]
        self.pass_no += 1
        p = Pass(label, traced)
        span = self.tracer.span if traced else _null_span
        for name in self.order:
            res = OpResult(name)
            steal0 = host_cpu()[1]
            t0 = time.perf_counter()
            try:
                with span(name):
                    group = f"p{self.pass_no}/{name}"
                    if traced:
                        sc.setJobGroup(group + "/build", name)
                    tb = time.perf_counter()
                    with span("build"):
                        df = registry[name](spark, real_dir)
                    res.layers["build_s"] = time.perf_counter() - tb
                    obs = Observation(name)
                    df = df.observe(obs, *fingerprint_exprs(df.schema))
                    if traced:
                        tp = time.perf_counter()
                        with span("plan"):
                            df._jdf.queryExecution().executedPlan()
                        res.layers["plan_s"] = time.perf_counter() - tp
                        sc.setJobGroup(group + "/exec", name)
                    te = time.perf_counter()
                    with span("exec"):
                        df.write.format("noop").mode("overwrite").save()
                    res.layers["exec_s"] = time.perf_counter() - te
                    res.layers["persists"] = release_persists()
                    got = obs.get
                    fp = [got["rows"], got["hash"]]
            except Exception:
                _fail(f"{label} {name}")
                res.ok = False
                fp = None
            res.wall_s = time.perf_counter() - t0
            res.steal_s = host_cpu()[1] - steal0
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                build = group_counters(spark, group + "/build")
                res.layers["build_jobs"] = build["jobs"]
                for k, v in group_counters(spark, group + "/exec").items():
                    res.layers[f"exec.{k}"] = v
            if fp is not None:
                self.fingerprints.setdefault(name, fp)
                if self.goldens is not None and self.goldens.get(name) != fp:
                    print(f"FAILED {label} {name}: fingerprint {fp} != golden", flush=True)
                    res.ok = False
            p.ops.append(res)
        return p

    def final_checks(self, spark) -> list[OpResult]:
        return []


def _null_span(name, **attrs):
    return contextlib.nullcontext(attrs)


@dataclass
class IngestShape:
    n_stacks: int
    stack: tuple[int, int, int]
    chunk: tuple[int, int, int]


#: fleet geometry per benchmark size
INGEST = {
    "full": IngestShape(4, (96, 256, 256), (64, 128, 128)),
    "tiny": IngestShape(1, (32, 64, 64), (16, 32, 32)),
}
LEVELS = 3
FACTORS = (2, 2, 2)


class IngestWorkload:
    """A pass converts the whole CZI fleet to a 3-level OME-Zarr with
    ``convert_czi_stacks`` and verifies it with ``scrub_groups_spark``:
    convert-then-verify, the operator's job."""

    order = ("convert", "scrub")
    #: a pass is mostly compute and no input-keyed cache tells cold from
    #: warm, so one warm sample for every cold one
    warmup_passes = 1
    rounds = 3
    warm_per_round = 1

    def __init__(self, seed: int, size: str, run_dir: str, tracer: Tracer):
        self.seed = seed
        self.real = INGEST[size]
        self.run_dir = run_dir
        self.tracer = tracer
        self.paths: dict[str, str] = {}
        self.fleets: list[dict[str, str]] = []

    def make_inputs(self, copies: int = 1) -> None:
        czi = os.path.join(self.run_dir, "czi")
        self.paths = datagen.write_fleet(czi, self.seed, self.real.n_stacks, self.real.stack)
        self.fleets = [
            {name: os.path.join(d, os.path.basename(p)) for name, p in self.paths.items()}
            for d in link_copies(czi, czi + "_copies", copies)
        ]

    def _settings(self, shape: IngestShape, out: str):
        from aind_hcr_data_transformation_spark.config import ZarrConversionSettings

        return ZarrConversionSettings(
            output_directory=out,
            chunk_size=shape.chunk,
            scale_factor=FACTORS,
            downsample_levels=LEVELS,
        )

    @property
    def out_dir(self) -> str:
        return os.path.join(self.run_dir, "zarr")

    def run_pass(self, spark, label: str, traced: bool, copy: int = 0) -> Pass:
        from aind_hcr_data_transformation_spark.pipeline import convert_czi_stacks
        from aind_hcr_data_transformation_spark.sinks.zarr_sink import scrub_groups_spark

        sc = spark.sparkContext
        span = self.tracer.span if traced else _null_span
        shutil.rmtree(self.out_dir, ignore_errors=True)
        p = Pass(label, traced)
        groups: dict[str, str] = {}
        for name in self.order:
            res = OpResult(name)
            group = f"{label}/{name}"
            if traced:
                sc.setJobGroup(group, name)
            steal0 = host_cpu()[1]
            t0 = time.perf_counter()
            try:
                with span(name):
                    if name == "convert":
                        groups = convert_czi_stacks(
                            spark, self._settings(self.real, self.out_dir), self.fleets[copy]
                        )
                    else:
                        scrub_groups_spark(spark, list(groups.values()))
            except Exception:
                _fail(f"{label} {name}")
                res.ok = False
            res.wall_s = time.perf_counter() - t0
            res.steal_s = host_cpu()[1] - steal0
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                for k, v in group_counters(spark, group).items():
                    res.layers[f"exec.{k}"] = v
            p.ops.append(res)
        return p

    def final_checks(self, spark) -> list[OpResult]:
        """Read level 0 of one seeded stack back and compare it voxel for
        voxel with the generated volume; check level 1 is the 2×2×2
        windowed mean of level 0."""
        from aind_hcr_data_transformation_spark.operators.blockwise import windowed_mean_nd
        from aind_hcr_data_transformation_spark.sinks.zarr_sink import read_array

        k = self.seed % self.real.n_stacks
        group = os.path.join(self.out_dir, f"stack{k}.zarr")
        out = []
        for name in ("level0_roundtrip", "level1_pooling"):
            res = OpResult(name)
            t0 = time.perf_counter()
            try:
                lvl0 = read_array(os.path.join(group, "0"))[0, 0]
                if name == "level0_roundtrip":
                    want = datagen.fleet_stack(self.seed, k, self.real.stack)
                else:
                    want = windowed_mean_nd(lvl0, FACTORS)
                    lvl0 = read_array(os.path.join(group, "1"))[0, 0]
                if lvl0.shape != want.shape or not np.array_equal(lvl0, want):
                    print(f"FAILED check {name} on stack{k}", flush=True)
                    res.ok = False
            except Exception:
                _fail(f"check {name}")
                res.ok = False
            res.wall_s = time.perf_counter() - t0
            out.append(res)
        return out

    def layer_probes(self) -> dict[str, float]:
        """Driver-side per-GiB costs of the ingest layers, measured on the
        tiles of one stack of this run's own fleet (each normalised to
        GiB of raw level-0 voxels)."""
        from aind_hcr_data_transformation_spark.operators.blockwise import windowed_mean_nd
        from aind_hcr_data_transformation_spark.sinks import codecs
        from aind_hcr_data_transformation_spark.sinks.zarr_sink import (
            chunk_digest,
            init_array,
            write_region,
        )
        from aind_hcr_data_transformation_spark.sources.zisraw import MiniCziFile

        path = self.paths["stack0"]
        t0 = time.perf_counter()
        with MiniCziFile(path) as czi:
            planes = {
                sb.start[czi.axes.index("Z")]: np.squeeze(sb.data_segment().data())
                for sb in czi.filtered_subblock_directory
            }
        decode = time.perf_counter() - t0
        vol = np.stack([planes[z] for z in sorted(planes)])
        gib = vol.nbytes / 2**30
        cz, cy, cx = self.real.chunk
        tiles = [
            (z, y, x, np.ascontiguousarray(vol[z : z + cz, y : y + cy, x : x + cx]))
            for z in range(0, vol.shape[0], cz)
            for y in range(0, vol.shape[1], cy)
            for x in range(0, vol.shape[2], cx)
        ]
        url = os.path.join(self.run_dir, "probe.zarr")
        meta = init_array(url, (1, 1, *vol.shape), (1, 1, cz, cy, cx), vol.dtype, "zstd", {"level": 3})
        t = {"pool": 0.0, "compress": 0.0, "write": 0.0, "digest": 0.0}
        for z, y, x, tile in tiles:
            a = time.perf_counter()
            windowed_mean_nd(tile, FACTORS)
            b = time.perf_counter()
            raw = codecs.compress(tile.tobytes(), meta["compressor"])
            c = time.perf_counter()
            chunk_digest(raw)
            d = time.perf_counter()
            write_region(url, (0, 0, z, y, x), tile[None, None], meta=meta)
            e = time.perf_counter()
            t["pool"] += b - a
            t["compress"] += c - b
            t["digest"] += d - c
            t["write"] += e - d
        shutil.rmtree(url, ignore_errors=True)
        return {
            "sources.decode_s_per_gib": decode / gib,
            "blockwise.pool_s_per_gib": t["pool"] / gib,
            "sinks.compress_s_per_gib": t["compress"] / gib,
            "sinks.write_s_per_gib": t["write"] / gib,
            "sinks.digest_s_per_gib": t["digest"] / gib,
        }

    def stored_per_input_byte(self) -> float:
        stored = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(self.out_dir)
            for f in files
        )
        voxels = self.real.n_stacks * int(np.prod(self.real.stack)) * 2
        return stored / voxels


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def net_s(wall_s: float, steal_s: float, slots: int) -> float:
    """Wall time net of host steal: less the steal spread over the
    ``slots`` busy task threads, an estimate of the wall time on an
    unshared host. Never below half the wall time."""
    return max(wall_s - steal_s / slots, wall_s / 2)


def median_pass_s(passes: list[Pass], slots: int) -> float:
    """Net wall time of a median pass: the sum over the operations of a
    pass of each one's median ``net_s`` over ``passes``."""
    return sum(
        median([net_s(p.op(o.name).wall_s, p.op(o.name).steal_s, slots) for p in passes])
        for o in passes[0].ops
    )
