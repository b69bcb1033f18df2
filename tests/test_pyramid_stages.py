"""Stage shape of the fused pyramid conversion: one ``mapInArrow`` per
level, index and scrub relations as JVM-only local scans, and chunk
re-tiling that does not depend on where Arrow batches split.

Every Python runner a task starts costs ~0.2 s of CPU before it does any
work, so the plan shape below pins the Python-worker launch count with a
counter the host cannot move: the node names of the executed plan."""

from __future__ import annotations

import os
import re
from contextlib import contextmanager
from decimal import Decimal

import numpy as np
import pyarrow as pa

from aind_hcr_data_transformation_spark.config import ZarrConversionSettings
from aind_hcr_data_transformation_spark.operators.blockwise import (
    _BLOCK_ARROW,
    assemble_chunks,
    block_tiles,
    windowed_mean_nd,
)
from aind_hcr_data_transformation_spark.pipeline import (
    convert_czi_stacks,
    convert_synthetic_stacks,
)
from aind_hcr_data_transformation_spark.sinks.zarr_sink import (
    read_array,
    scrub_groups_spark,
)
from aind_hcr_data_transformation_spark.sources.czi import synthetic_ramp_block
from aind_hcr_data_transformation_spark.sources.zisraw import write_czi
from tools.plan_audit import executions

#: 2 stacks, 3 levels, odd edge extents on every axis
STACKS = {"a": (40, 48, 36), "b": (33, 32, 50)}
CHUNK = (16, 16, 16)


def _settings(out: str) -> ZarrConversionSettings:
    return ZarrConversionSettings(
        output_directory=out,
        chunk_size=CHUNK,
        scale_factor=(2, 2, 2),
        downsample_levels=3,
    )


@contextmanager
def _confs(spark, **confs):
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _tree(root: str) -> dict[str, bytes]:
    return {
        os.path.relpath(os.path.join(d, f), root): open(os.path.join(d, f), "rb").read()
        for d, _, files in os.walk(root)
        for f in files
    }


def _plans_of(spark, run) -> list[str]:
    """Final physical plan trees of the SQL executions ``run()`` starts."""
    seen = {e.executionId() for e in executions(spark)}
    run()
    return [
        # the tree ends at the first blank line; the final (adaptive)
        # plan comes before the initial one
        e.physicalPlanDescription().split("\n\n")[0].split("== Initial Plan ==")[0]
        for e in executions(spark)
        if e.executionId() not in seen
    ]


def _scans(tree: str) -> set[str]:
    return set(re.findall(r"\b(\w*Scan(?: \w+)?)", tree))


def _batches(rows: list[dict], size: int) -> list[pa.RecordBatch]:
    return pa.Table.from_pylist(rows, schema=_BLOCK_ARROW).to_batches(max_chunksize=size)


def test_assemble_chunks_carries_open_chunk_across_batches():
    """Sub-blocks of one chunk split over batches of every size assemble
    into the same chunks; two stacks that share chunk coordinates stay
    two chunks."""
    rows = []
    for name in ("a", "b"):
        vol = np.arange(8 * 2 * 3, dtype=np.uint16).reshape(8, 2, 3) + ord(name)
        for z0 in range(0, 8, 2):
            sub = vol[z0 : z0 + 2]
            rows.append(
                {
                    "stack_name": name, "t": 0, "c": 0,
                    "z0": z0, "z1": z0 + 2, "y0": 0, "y1": 2, "x0": 0, "x1": 3,
                    "shape": [1, 1, *sub.shape], "dtype": "uint16",
                    "block": sub.tobytes(),
                }
            )
    want = [
        (name, 0, 0, (tz, 0, 0), (np.arange(48, dtype=np.uint16).reshape(8, 2, 3) + ord(name))[tz : tz + 4])
        for name in ("a", "b")
        for tz in (0, 4)
    ]
    for size in (1, 3, len(rows)):
        got = list(assemble_chunks(block_tiles(_batches(rows, size)), (4, 2, 3)))
        assert [g[:4] for g in got] == [w[:4] for w in want]
        for g, w in zip(got, want):
            assert g[4].shape == (1, 1, *w[4].shape)
            np.testing.assert_array_equal(g[4][0, 0], w[4])


def test_batch_boundaries_do_not_change_the_tree(spark, tmp_path):
    """One Arrow record per batch splits every chunk's sub-blocks across
    batches; the chunk tree, manifest shards included, is byte-identical
    to the default batching, and both read back voxel-exact.  One shuffle
    partition puts the chunks of both stacks into one level task."""
    trees = []
    for run, per_batch in (("one", "1"), ("default", "10000")):
        out = str(tmp_path / run)
        with _confs(
            spark,
            **{
                "spark.sql.execution.arrow.maxRecordsPerBatch": per_batch,
                "spark.sql.shuffle.partitions": "1",
            },
        ):
            groups = convert_synthetic_stacks(spark, _settings(out), STACKS)
        trees.append(_tree(out))
        for name, (z, y, x) in STACKS.items():
            want = synthetic_ramp_block(0, z, 0, y, 0, x)
            for lvl in range(3):
                np.testing.assert_array_equal(
                    read_array(os.path.join(groups[name], str(lvl)))[0, 0], want
                )
                want = windowed_mean_nd(want, (2, 2, 2))
    assert any("/1/.zchecksums/" in k for k in trees[0])
    assert trees[0] == trees[1]


def test_conversion_plan_has_one_map_in_arrow_per_level(spark, tmp_path):
    """The whole CZI pyramid is one SQL execution whose plan reads a
    LocalTableScan (no Python-deserialised RDD), runs exactly one
    MapInArrow per level, and no grouped-Arrow or pandas map stage."""
    rng = np.random.default_rng(7)
    paths = {}
    for name, (z, y, x) in STACKS.items():
        paths[name] = str(tmp_path / f"{name}.czi")
        write_czi(
            paths[name],
            {k: rng.integers(0, 4000, (y, x), dtype=np.uint16) for k in range(z)},
        )
    (tree,) = _plans_of(
        spark,
        lambda: convert_czi_stacks(spark, _settings(str(tmp_path / "zarr")), paths),
    )
    assert len(re.findall(r"\bMapInArrow\b", tree)) == 3
    for stage in ("FlatMapGroupsInArrow", "MapInPandas", "ExistingRDD"):
        assert stage not in tree
    assert _scans(tree) == {"LocalTableScan"}


def test_scrub_reads_a_local_table_scan(spark, tmp_path):
    """The scrub work list is a JVM-only local scan feeding one
    MapInArrow."""
    groups = convert_synthetic_stacks(spark, _settings(str(tmp_path)), STACKS)
    (tree,) = _plans_of(spark, lambda: scrub_groups_spark(spark, list(groups.values())))
    assert len(re.findall(r"\bMapInArrow\b", tree)) == 1
    assert "ExistingRDD" not in tree
    assert _scans(tree) == {"LocalTableScan"}


def test_local_frame_types_rows_and_empty(spark):
    """``local_frame`` keeps the DDL types and the rows of the list form
    of ``createDataFrame``, takes zero rows, and plans as a local scan."""
    from aind_hcr_data_transformation_spark.session import local_frame

    ddl = "name string, n int, size long"
    rows = [("a", 1, 2**40), ("b", -2, 0)]
    df = local_frame(spark, rows, ddl)
    assert df.schema == spark.createDataFrame(rows, ddl).schema
    assert [tuple(r) for r in df.collect()] == rows
    (tree,) = _plans_of(spark, df.collect)
    assert _scans(tree) == {"LocalTableScan"}
    empty = local_frame(spark, [], ddl)
    assert empty.schema == df.schema and empty.count() == 0

    # a run-time StructType (grouped offsets), a NULL key in a string
    # column (a label dim with a NULL member) and an array<double>
    # column (a codebook) keep the list form's schema and rows too
    from pyspark.sql import types as T

    struct = T.StructType(
        [
            T.StructField("_opid", T.IntegerType(), False),
            T.StructField("_og", T.DecimalType(12, 2), True),
        ]
    )
    cases = [
        ([(0, Decimal("1.50")), (1, None)], struct),
        ([("1-URGENT", "expedite"), (None, "unclassified")], "k string, tier string"),
        ([(0, [0.25, -1.5]), (1, [])], "cluster bigint, cemb array<double>"),
    ]
    for rows, schema in cases:
        df = local_frame(spark, rows, schema)
        want = spark.createDataFrame(rows, schema)
        assert df.schema == want.schema
        assert [tuple(r) for r in df.collect()] == rows
        (tree,) = _plans_of(spark, df.collect)
        assert _scans(tree) == {"LocalTableScan"}
