"""Stage shape of the fused pyramid conversion: one ``mapInArrow`` for
the levels a region's task writes plus one per tail level, index and
scrub relations as JVM-only local scans, output bytes equal to the
per-level writer's, and chunk re-tiling that does not depend on where
Arrow batches split.

Every Python runner a task starts costs ~0.2 s of CPU before it does any
work, so the plan shape below pins the Python-worker launch count with a
counter the host cannot move: the node names of the executed plan."""

from __future__ import annotations

import hashlib
import json
import os
import re
from contextlib import contextmanager
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pytest

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
    fusion_depth,
    fusion_groups,
    place_groups,
    pyramid_depth,
)
from aind_hcr_data_transformation_spark.sinks.zarr_sink import (
    CHECKSUM_DIR,
    read_array,
    read_checksums,
    scrub_groups_spark,
)
from aind_hcr_data_transformation_spark.sources.czi import synthetic_ramp_block
from aind_hcr_data_transformation_spark.sources.zisraw import write_czi
from tools.plan_audit import executions

#: 2 stacks, 3 levels, odd edge extents on every axis; on the test
#: session's 4 partitions the first stage writes 2 levels, the tail 1
STACKS = {"a": (40, 48, 36), "b": (33, 32, 50)}
CHUNK = (16, 16, 16)

#: the benchmark fleet's shape (4 stacks of 1.5 slabs, 3 levels) at a
#: 4×-smaller plane: one z-group per stack writes every level
FLEET = {f"stack{k}": (24, 64, 64) for k in range(4)}
FLEET_CHUNK = (16, 32, 32)

#: per-stack depths 4 and 2: the one stage writes all 4 levels of
#: "deep" and stops "flat" after 2
MIXED = {"deep": (128, 32, 32), "flat": (40, 2, 48)}

#: sha256 of every file the per-level writer (one stage per level)
#: wrote for these geometries, and of each array's merged manifest
DIGESTS = json.loads(
    open(os.path.join(os.path.dirname(__file__), "pyramid_digests.json")).read()
)

#: the test session's ``local[4]`` gives the converter 4 partitions
N_PART = 4


def _settings(out: str, chunk=CHUNK, levels: int = 3) -> ZarrConversionSettings:
    return ZarrConversionSettings(
        output_directory=out,
        chunk_size=chunk,
        scale_factor=(2, 2, 2),
        downsample_levels=levels,
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


def _plans_of(spark, run, details: bool = False) -> list[str]:
    """Final physical plan trees of the SQL executions ``run()`` starts,
    each followed by its nodes' details when ``details`` is set."""
    seen = {e.executionId() for e in executions(spark)}
    run()
    out = []
    for e in executions(spark):
        if e.executionId() in seen:
            continue
        # the tree ends at the first blank line; the final (adaptive)
        # plan comes before the initial one
        tree, rest = e.physicalPlanDescription().split("\n\n", 1)
        final = tree.split("== Initial Plan ==")[0]
        if details:
            ids = set(re.findall(r"\((\d+)\)", final))
            final += "".join(
                "\n\n" + d
                for d in rest.split("\n\n")
                if re.match(r"\((\d+)\)", d) and re.match(r"\((\d+)\)", d).group(1) in ids
            )
        out.append(final)
    return out


def _scans(tree: str) -> set[str]:
    return set(re.findall(r"\b(\w*Scan(?: \w+)?)", tree))


def _write_czis(root, stacks: dict, seed: int) -> dict[str, str]:
    rng = np.random.default_rng(seed)
    paths = {}
    for name, (z, y, x) in stacks.items():
        paths[name] = str(root / f"{name}.czi")
        write_czi(
            paths[name],
            {k: rng.integers(0, 4000, (y, x), dtype=np.uint16) for k in range(z)},
        )
    return paths


def _digests(root: str) -> dict[str, str]:
    """sha256 of every file under ``root`` except the manifest shards,
    whose split follows the task layout, plus one per array of its
    merged manifest (keyed ``<array>/.zchecksums``)."""
    out = {}
    for d, dirs, files in os.walk(root):
        if os.path.basename(d) == CHECKSUM_DIR:
            continue
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = hashlib.sha256(open(p, "rb").read()).hexdigest()
        if CHECKSUM_DIR in dirs:
            merged = json.dumps(read_checksums(d), sort_keys=True).encode()
            out[os.path.join(os.path.relpath(d, root), CHECKSUM_DIR)] = hashlib.sha256(
                merged
            ).hexdigest()
    return out


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


def test_conversion_plan_has_one_map_in_arrow_per_stage(spark, tmp_path):
    """The whole CZI pyramid is one SQL execution whose plan reads a
    LocalTableScan (no Python-deserialised RDD) and runs one MapInArrow
    for the fused levels plus one per tail level, and no grouped-Arrow or
    pandas map stage.  When the fused stage writes every level, the one
    Exchange moves the z-group index: no block payload is shuffled."""
    for stacks, chunk, fused in ((STACKS, CHUNK, 2), (FLEET, FLEET_CHUNK, 3)):
        assert fusion_depth(stacks, chunk, (2, 2, 2), 3, N_PART, stacks) == fused
        paths = _write_czis(tmp_path, stacks, 7)
        settings = _settings(str(tmp_path / f"zarr{fused}"), chunk)
        (plan,) = _plans_of(
            spark, lambda: convert_czi_stacks(spark, settings, paths), details=True
        )
        tree = plan.split("\n\n")[0]
        assert len(re.findall(r"\bMapInArrow\b", tree)) == 1 + 3 - fused
        for stage in ("FlatMapGroupsInArrow", "MapInPandas", "ExistingRDD"):
            assert stage not in tree
        assert _scans(tree) == {"LocalTableScan"}
        exchanged = [
            re.search(r"\nInput \[\d+\]: \[(.*)\]", d).group(1).split(", ")
            for d in plan.split("\n\n")
            if re.match(r"\(\d+\) Exchange\n", d)
        ]
        if fused == 3:
            assert [[c.split("#")[0] for c in cols] for cols in exchanged] == [
                ["stack_name", "z0", "z1", "y0", "y1", "x0", "x1", "pid"]
            ]
        else:
            assert any(c.startswith("block#") for cols in exchanged for c in cols)


@pytest.mark.parametrize("geometry", ["fused", "tail", "mixed"])
def test_output_bytes_equal_the_per_level_writer(spark, tmp_path, geometry):
    """Every chunk file, ``.zarray``, ``.zattrs`` and merged manifest is
    byte-identical to what the per-level writer (one stage per level)
    wrote, whether the first stage writes every level (``fused``), the
    tail writes the last one (``tail``), or stacks of depths 4 and 2
    share the one stage (``mixed``)."""
    out = str(tmp_path / "zarr")
    if geometry == "fused":
        assert fusion_depth(FLEET, FLEET_CHUNK, (2, 2, 2), 3, N_PART, FLEET) == 3
        paths = _write_czis(tmp_path, FLEET, 5)
        convert_czi_stacks(spark, _settings(out, FLEET_CHUNK), paths)
    elif geometry == "tail":
        assert fusion_depth(STACKS, CHUNK, (2, 2, 2), 3, N_PART) == 2
        convert_synthetic_stacks(spark, _settings(out), STACKS)
    else:
        assert [pyramid_depth(s, (2, 2, 2), 4) for s in MIXED.values()] == [4, 2]
        assert fusion_depth(MIXED, CHUNK, (2, 2, 2), 4, N_PART) == 4
        convert_synthetic_stacks(spark, _settings(out, levels=4), MIXED)
    assert _digests(out) == DIGESTS[geometry]


def test_largest_first_placement_bounds_every_partition():
    """No partition gets more than its fair share plus its largest
    group, for the benchmark fleet, ragged fleets (CZI and synthetic)
    and random weights; the benchmark fleet's four groups land on four
    partitions."""
    rng = np.random.default_rng(11)
    bench = {f"s{k}": (96, 256, 256) for k in range(4)}
    ragged = {f"s{k}": (int(z), 64, 64) for k, z in enumerate(rng.integers(1, 300, 9))}
    fleets = [
        (bench, (64, 128, 128), 3, bench),
        (STACKS, CHUNK, 3, ()),
        (STACKS, CHUNK, 3, STACKS),
        (MIXED, CHUNK, 4, ()),
        (ragged, (16, 32, 32), 3, ()),
        (ragged, (16, 32, 32), 3, ragged),
    ]
    cases = []
    for stacks, chunk, levels, planes in fleets:
        depths = {n: pyramid_depth(s, (2, 2, 2), levels) for n, s in stacks.items()}
        fused = fusion_depth(stacks, chunk, (2, 2, 2), levels, N_PART, planes)
        groups = fusion_groups(stacks, depths, chunk, (2, 2, 2), fused, planes)
        weights = [(z1 - z0) * (y1 - y0) * (x1 - x0) for _, z0, z1, y0, y1, x0, x1 in groups]
        assert sum(weights) == sum(z * y * x for z, y, x in stacks.values())
        cases.append((weights, min(N_PART, len(groups))))
    assert sorted(place_groups(cases[0][0], cases[0][1])) == [0, 1, 2, 3]
    cases += [([int(w) for w in rng.integers(1, 1000, k)], n) for k, n in ((7, 3), (40, 8), (5, 5))]
    for weights, n in cases:
        pids = place_groups(weights, n)
        assert set(pids) <= set(range(n))
        fair = sum(weights) / n
        for p in range(n):
            mine = [w for w, q in zip(weights, pids) if q == p]
            assert sum(mine) <= fair + max(mine, default=0)


def test_fusion_depth_keeps_level0_parallelism_and_memory():
    """The fused depth keeps at least min(partitions, level-0 regions)
    regions — slabs of a CZI stack, tiles of a synthetic one — and holds
    at most one decoded slab of pooled tiles per task."""
    fleet = {f"s{k}": (96, 256, 256) for k in range(4)}
    # 8 slabs: 4 partitions allow one group per stack, 8 allow no fusion
    assert fusion_depth(fleet, (64, 128, 128), (2, 2, 2), 3, 4, fleet) == 3
    assert fusion_depth(fleet, (64, 128, 128), (2, 2, 2), 3, 8, fleet) == 1
    # a plane that never shrinks holds a whole slab per fused level
    assert fusion_depth({"s": (64, 32, 32)}, (8, 32, 32), (2, 1, 1), 3, 1) == 2
    # one CZI stack of one slab: every level it has, whatever the
    # partitions; synthetic, its 4 tiles stay 4 level-0 tasks
    one = {"s": (16, 64, 64)}
    assert fusion_depth(one, (16, 32, 32), (2, 2, 2), 3, 64, one) == 3
    assert fusion_depth(one, (16, 32, 32), (2, 2, 2), 3, 64) == 1
    depths = {"s": 3}
    assert len(fusion_groups(one, depths, (16, 32, 32), (2, 2, 2), 1)) == 4
    # a one-slab synthetic stack of 16 tiles on 4 partitions: 4 regions
    # of 2×2 level-1 chunks each, level 2 in the tail
    thin = {"s": (128, 512, 512)}
    assert fusion_depth(thin, (128, 128, 128), (2, 2, 2), 3, 4) == 2
    assert fusion_groups(thin, depths, (128, 128, 128), (2, 2, 2), 2) == [
        ("s", 0, 128, y0, y0 + 256, x0, x0 + 256) for y0 in (0, 256) for x0 in (0, 256)
    ]


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
