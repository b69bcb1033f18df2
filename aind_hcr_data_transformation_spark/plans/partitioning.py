"""Deterministic work partitioning.

The reference statically splits the sorted stack list round-robin across
SLURM array tasks (``partition_list``, ``zeiss_job.py:29-40``;
``models.py:35-45``; ``scripts/submit_job.sh:17-21``) with zero inter-node
communication. In Spark the *scheduler* owns placement, so the only thing
worth preserving is the reproducible assignment itself — used for output
layout, resumability, and parity tests against the reference's invariants
(``tests/test_zeiss_job.py:43-57``: partition count and multiset equality).
"""

from __future__ import annotations

from typing import Sequence, TypeVar

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame

T = TypeVar("T")


def partition_list(items: Sequence[T], n_partitions: int) -> list[list[T]]:
    """Round-robin deal of ``items`` into ``n_partitions`` sublists
    (pure twin of ``zeiss_job.py:29-40``): item *i* → partition
    ``i % n_partitions``. Preserves the multiset and per-partition order."""
    if n_partitions <= 0:
        raise ValueError(f"n_partitions must be positive, got {n_partitions}")
    out: list[list[T]] = [[] for _ in range(n_partitions)]
    for i, item in enumerate(items):
        out[i % n_partitions].append(item)
    return out


def assign_round_robin(
    df: DataFrame, n_partitions: int, order_by: str = "path", small: bool = False
) -> DataFrame:
    """Distributed twin: adds ``partition_id`` from the global rank of
    ``order_by`` — the explicit total order makes the assignment
    reproducible across runs and clusters, unlike
    ``monotonically_increasing_id`` (SURVEY §7 hard-part 5).

    TWO-PHASE global ordinal (the ``zipWithIndex`` shape), NOT
    ``row_number() over (order by ...)``: a global window funnels every
    row through ONE task — fine for a 10k-stack catalog, a serialized
    job on a 100 TB fact table. Instead:

    1. range-shuffle on the key (``repartitionByRange`` → ordered,
       non-overlapping partitions; Spark's RangePartitioner samples
       bounds) and sort within each partition — a fully parallel sort;
    2. per-partition ``row_number`` (window PARTITIONED by the physical
       partition id — no single-reducer stage, no Spark
       "No Partition Defined" warning);
    3. per-partition row counts — #shuffle-partitions rows — come back
       to the driver (the one legitimately tiny collect) and prefix-sum
       into offsets, which broadcast back via a small join;
    4. global ordinal = offset[pid] + local row_number − 1.

    Equal keys land in one range partition (RangePartitioner splits on
    key boundaries), so the result is identical to the single-sort
    formulation, including tie behavior.

    ``small=True`` is the caller's assertion that ``df`` is
    metadata-scale (a stack catalog, a source list — thousands of rows,
    not a fact table): it takes the single global-window formulation,
    which is one job instead of the two-phase plan's three (range-bound
    sampling, count collect, ordinal join) and therefore faster below
    ~1e6 rows, at the cost of funneling rows through one task — never
    pass it for data-scale inputs.
    """
    if n_partitions <= 0:
        raise ValueError(f"n_partitions must be positive, got {n_partitions}")
    key = F.col(order_by)
    if small:
        return df.withColumn(
            "partition_id",
            ((F.row_number().over(Window.orderBy(key)) - 1) % n_partitions).cast(
                "int"
            ),
        )
    ranged = df.repartitionByRange(key).sortWithinPartitions(key)
    local = ranged.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_rn", F.row_number().over(Window.partitionBy("_pid").orderBy(key))
    )
    from ..cache import persist_tracked

    local = persist_tracked(local)
    counts = sorted(
        (r["_pid"], r["n"])
        for r in local.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    spark = df.sparkSession
    off_df = local_frame(spark, offsets or [(0, 0)], "_pid int, _off long")
    return (
        local.join(off_df, "_pid")
        .withColumn(
            "partition_id",
            ((F.col("_off") + F.col("_rn") - 1) % n_partitions).cast("int"),
        )
        .drop("_pid", "_rn", "_off")
    )


def grouped_row_number(
    df: DataFrame, group_col: str, order_col: str, out: str = "rn"
) -> DataFrame:
    """Per-group rank (``row_number() over (partition by g order by v)``)
    WITHOUT per-group single-reducer sorts.

    A window partitioned by a low-cardinality group funnels each group
    through one task — 3 groups on a fact table = 3 tasks sorting
    everything. Instead, the same two-phase shape as
    :func:`assign_round_robin`: range-shuffle on (group, value) — a
    fully parallel sort whose range boundaries keep equal keys in one
    partition — then per-(physical partition, group) local ranks, a tiny
    (n_partitions x n_groups) census collected and prefix-summed into
    offsets, broadcast back. Ties within equal values order arbitrarily,
    exactly like the window formulation."""
    gk, ok = F.col(group_col), F.col(order_col)
    ranged = df.repartitionByRange(gk, ok).sortWithinPartitions(gk, ok)
    local = ranged.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_lrn",
        F.row_number().over(
            Window.partitionBy("_pid", group_col).orderBy(ok)
        ),
    )
    from ..cache import persist_tracked

    local = persist_tracked(local)
    # NULL group values rank like any other group (the window formulation
    # ranks them); sort key and join below must both be null-safe
    rows = sorted(
        (
            (r["_pid"], r[group_col], r["n"])
            for r in local.groupBy("_pid", group_col)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ),
        key=lambda t: (t[0], t[1] is not None, t[1]),
    )
    acc: dict = {}
    offsets = []
    for pid, g, n in rows:  # pid ascending => prefix sum per group
        offsets.append((pid, g, acc.get(g, 0)))
        acc[g] = acc.get(g, 0) + n
    if not offsets:  # empty input: nothing to offset
        return local.withColumn(out, F.col("_lrn")).drop("_pid", "_lrn")
    spark = df.sparkSession
    # explicit schema, NOT inference: the _og column takes its type from
    # the input schema, so an all-NULL group column (or one whose Python
    # values infer differently than Spark's type, e.g. Decimal) builds a
    # valid frame instead of failing with "Some of types cannot be
    # determined" — the docstring's NULL-groups promise depends on this
    from pyspark.sql import types as T

    off_schema = T.StructType(
        [
            T.StructField("_opid", T.IntegerType(), False),
            T.StructField("_og", df.schema[group_col].dataType, True),
            T.StructField("_off", T.LongType(), False),
        ]
    )
    off_df = local_frame(
        spark, [(int(pid), g, int(off)) for pid, g, off in offsets], off_schema
    )
    joined = local.join(
        off_df,
        (F.col("_pid") == F.col("_opid"))
        & F.col(group_col).eqNullSafe(F.col("_og")),
    )
    return (
        joined.withColumn(out, (F.col("_off") + F.col("_lrn")).cast("int"))
        .drop("_pid", "_lrn", "_off", "_opid", "_og")
    )
