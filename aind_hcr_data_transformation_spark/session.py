"""SparkSession construction with scale-aware defaults.

Replaces the reference's hand-rolled execution substrate (SLURM array jobs +
static round-robin partitioning + dask threaded scheduler,
``zeiss_job.py:29-60,218-220``, ``scripts/submit_job.sh:3-21``): Spark's
scheduler does dynamic placement, AQE re-plans shuffles at runtime, and the
same session config scales from ``local[32]`` to a 1000-executor cluster.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Defaults chosen for the local[32] test harness; on a real cluster the same
# settings hold except parallelism-derived ones, which scale with cores.
_DEFAULT_CONFS: dict[str, str] = {
    # Adaptive Query Execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and dynamic broadcast demotion — the engine's first line of
    # defense at 100 TB where static planning guesses wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Broadcast threshold: size estimates choose every broadcast (small
    # local relations come from local_frame, which carries its size); AQE
    # upgrades sort-merge → broadcast when a side turns out small at run
    # time. A hint stays only where it changes the plan (`# bounded:`).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for every pandas_udf / mapInPandas / toPandas crossing.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Deterministic timestamp semantics for the DuckDB differential oracle.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet carries TIMESTAMP(NANOS); read as long + convert
    # (see tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet: zstd mirrors the reference's Blosc-zstd-3 choice
    # (models.py:52-56) for the tabular layer.
    "spark.sql.parquet.compression.codec": "zstd",
    # Partition sizing: 128 MB splits keep scan tasks balanced; at 100 TB
    # that is ~800k tasks, well within scheduler capacity.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # In-memory columnar cache compression.
    "spark.sql.inMemoryColumnarStorage.compressed": "true",
    "spark.sql.shuffle.partitions": "32",
    # Generated classes kept for reuse, keyed by their source. One
    # llm_prep pass compiles ~110 distinct classes; with Spark's default
    # 100 entries every cold pass evicts classes the next one needs and
    # recompiles 75-118 of them, with 1000 none. One registry sweep at
    # sf0.01 compiles 2,675 distinct classes: 3,494 compiles with 100
    # entries, 2,773 with 1000. Static: a driver-provided session keeps
    # 100 (SCALING.md).
    "spark.sql.codegen.cache.maxEntries": "1000",
    # Off-heap friendly UI noise reduction for bench runs.
    "spark.ui.showConsoleProgress": "false",
    # Headless engine: no UI server, and tight listener retention. The
    # app-status and SQL listeners otherwise retain ~1000 executions'
    # plan strings and per-task metrics; over a 114-query sweep that is
    # hundreds of MB of driver heap and a growing listener-bus backlog
    # that progressively slows late queries.
    "spark.ui.enabled": "false",
    "spark.sql.ui.retainedExecutions": "10",
    "spark.ui.retainedJobs": "50",
    "spark.ui.retainedStages": "50",
    "spark.ui.retainedTasks": "500",
    # Python workers fork from this daemon: PySpark's stock one, except that
    # the per-task importlib.invalidate_caches() skips re-reading zip
    # archives that have not changed (pyspark.zip, the spark-core jar: a
    # re-read costs 0.12-0.25 s of CPU per task). Static: a driver-provided
    # session keeps the stock daemon.
    "spark.python.daemon.module": "aind_hcr_data_transformation_spark.pydaemon",
}


def cpu_parallelism() -> int:
    """Worker-thread count for local mode (driver override via env)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _defaults_conf_value(key: str) -> str | None:
    """Value for ``key`` from ``spark-defaults.conf`` (``$SPARK_CONF_DIR``
    or ``$SPARK_HOME/conf``), if the file exists and sets it.  The builder
    API cannot see these before the JVM launches, so merging deployment
    JVM flags (GC tuning, ``-D`` props) requires reading the file."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or (
        os.path.join(os.environ["SPARK_HOME"], "conf")
        if os.environ.get("SPARK_HOME")
        else None
    )
    if not conf_dir:
        return None
    path = os.path.join(conf_dir, "spark-defaults.conf")
    try:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line or line.startswith("#"):
                    continue
                parts = line.split(None, 1)
                if len(parts) == 2 and parts[0] == key:
                    return parts[1].strip()
    except OSError:
        return None
    return None


# Long sessions compile hundreds of distinct wholestage-codegen classes
# (one registry sweep = ~127 queries); the JVM's default 240 MB reserved
# code cache fills, JIT compilation stops, and every later CPU-bound
# query runs interpreted at 5-15x cost. Reserve a real code cache and
# let the sweeper reclaim cold compiled methods.
_CODE_CACHE_FLAGS = "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing"


def _merged_java_options(role: str, extra_conf: dict[str, str] | None) -> str:
    """Code-cache flags PLUS any deployment-supplied extraJavaOptions
    (spark-defaults.conf or the caller's ``extra_conf``), never clobbering
    them.  Deployment flags come LAST: for repeated ``-XX`` flags the JVM
    honors the final occurrence, so operator GC tuning wins over our
    defaults while the code-cache reserve still applies when unset."""
    key = f"spark.{role}.extraJavaOptions"
    existing = []
    from_defaults = _defaults_conf_value(key)
    if from_defaults:
        existing.append(from_defaults)
    if extra_conf and extra_conf.get(key):
        existing.append(extra_conf[key])
    return " ".join([_CODE_CACHE_FLAGS, *existing])


# Directory holding this package. Workers start in the driver's cwd, so
# without it on their path neither the daemon module nor a ``mapInArrow``
# of a package function imports when the driver runs outside the checkout.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _merged_worker_pythonpath(extra_conf: dict[str, str] | None) -> str:
    """Deployment-supplied ``spark.executorEnv.PYTHONPATH`` (spark-defaults.conf,
    then the caller's ``extra_conf``) followed by the package root."""
    key = "spark.executorEnv.PYTHONPATH"
    parts = [_defaults_conf_value(key), (extra_conf or {}).get(key), _PACKAGE_ROOT]
    return os.pathsep.join(p for p in parts if p)


_MAX_DRIVER_MIB = 24 << 10


def _default_driver_memory(phys_bytes: int | None = None) -> str:
    """``spark.driver.memory`` when ``SPARK_GRAFT_DRIVER_MEM`` is unset:
    24g, capped at half the host's physical memory (``os.sysconf``) so
    that two sessions side by side on a 16 GiB host cannot grow past
    it.  Falls back to 24g where the page counts are unavailable."""
    if phys_bytes is None:
        try:
            phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        except (ValueError, OSError):
            phys_bytes = 0
    if phys_bytes <= 0:
        return f"{_MAX_DRIVER_MIB}m"
    return f"{min(_MAX_DRIVER_MIB, phys_bytes // 2 >> 20)}m"


def get_spark(
    app_name: str = "aind-hcr-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    ``master=None`` honors an externally-configured cluster (spark-submit)
    and falls back to ``local[$SPARK_GRAFT_CPUS]``.
    """
    builder = SparkSession.builder.appName(app_name)
    # local mode: the driver JVM hosts all executor threads — give it a
    # real heap (binary block payloads are MBs each; the 1g default OOMs).
    # Static conf: only applies to sessions this function creates.
    builder = builder.config(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
    )
    # Driver + executor JVMs both JIT the generated classes; merge the
    # code-cache flags with (never clobber) deployment-supplied options.
    builder = builder.config(
        "spark.driver.extraJavaOptions",
        _merged_java_options("driver", extra_conf),
    )
    builder = builder.config(
        "spark.executor.extraJavaOptions",
        _merged_java_options("executor", extra_conf),
    )
    builder = builder.config(
        "spark.executorEnv.PYTHONPATH", _merged_worker_pythonpath(extra_conf)
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER_URL"):
        builder = builder.master(f"local[{cpu_parallelism()}]")
    confs = dict(_DEFAULT_CONFS)
    if extra_conf:
        confs.update(extra_conf)
    for k, v in confs.items():
        if k.endswith(".extraJavaOptions") or k == "spark.executorEnv.PYTHONPATH":
            continue  # already merged above
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark


def apply_session_confs(spark: SparkSession) -> list[str]:
    """Apply the engine's runtime-settable confs to an existing session.

    The driver hands us a pre-built SparkSession in ``entry()``; static
    confs (memory, master, the codegen cache size, the worker daemon)
    are fixed by then, but SQL confs are runtime-settable and needed for
    oracle agreement (UTC) and performance (AQE).

    Returns the engine defaults whose live value still differs (static
    confs the session was built without), sorted, and logs one warning
    naming them; ``[]`` when the session runs with every default."""
    missed = []
    for k, v in _DEFAULT_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # static conf on a live session — keep going
            pass
        if spark.conf.get(k, None) != v:
            missed.append(k)
    if missed:
        logging.getLogger(__name__).warning(
            "session built without engine defaults it cannot take live: %s",
            ", ".join(sorted(missed)),
        )
    return sorted(missed)


def local_frame(spark: SparkSession, rows: list[tuple], schema: str | T.StructType) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` for a small in-process
    list, sent as one Arrow table so it plans as a JVM-only sized
    ``LocalTableScan`` — a Python list plans as a Python-deserialised RDD
    with no size statistic whose every task starts a Python worker."""
    import pyarrow as pa

    struct = schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
    cols = list(zip(*rows)) or [()] * len(struct.fields)
    table = pa.table({n: list(c) for n, c in zip(struct.names, cols)})
    return spark.createDataFrame(table, struct)
