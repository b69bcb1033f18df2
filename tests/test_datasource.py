"""Custom Python Data Source: stack blocks via ``spark.read.format``."""

from __future__ import annotations

import numpy as np

from aind_hcr_data_transformation_spark.sources.czi import synthetic_ramp_block
from aind_hcr_data_transformation_spark.sources.datasource import (
    StackBlockDataSource,
)


def test_datasource_reads_tiles(spark):
    spark.dataSource.register(StackBlockDataSource)
    df = (
        spark.read.format("stack_blocks")
        .option("stacks", "a,b")
        .option("z", 40)
        .option("y", 32)
        .option("x", 32)
        .option("block_z", 16)
        .option("block_y", 16)
        .option("block_x", 16)
        .load()
    )
    rows = df.collect()
    # 2 stacks × 3 z-tiles × 2 y-tiles × 2 x-tiles
    assert len(rows) == 2 * 3 * 2 * 2
    # reassemble stack "a" and compare to the golden ramp
    got = np.zeros((40, 32, 32), dtype=np.uint16)
    for r in rows:
        if r.stack_name != "a":
            continue
        arr = np.frombuffer(r.block, dtype=np.dtype(r.dtype)).reshape(r.shape[-3:])
        got[r.z0 : r.z1, r.y0 : r.y1, r.x0 : r.x1] = arr
    np.testing.assert_array_equal(got, synthetic_ramp_block(0, 40, 0, 32, 0, 32))


def test_datasource_filter_pushes_to_spark(spark):
    spark.dataSource.register(StackBlockDataSource)
    df = (
        spark.read.format("stack_blocks")
        .option("stacks", "a")
        .option("z", 32)
        .option("y", 32)
        .option("x", 32)
        .option("block_z", 16)
        .option("block_y", 32)
        .option("block_x", 32)
        .load()
        .filter("z0 >= 16")
        .select("z0", "z1")
    )
    rows = df.collect()
    assert [(r.z0, r.z1) for r in rows] == [(16, 32)]


def test_datasource_czi_backend(spark, tmp_path):
    """reader='czi': real ZISRAW binaries through spark.read.format,
    one z-slab partition per decode, voxel-exact reassembly."""
    from aind_hcr_data_transformation_spark.sources.zisraw import write_czi

    nz, y, x = 12, 16, 10
    for name in ("s1", "s2"):
        write_czi(
            str(tmp_path / f"{name}.czi"),
            {z: synthetic_ramp_block(z, z + 1, 0, y, 0, x)[0] for z in range(nz)},
        )
    spark.dataSource.register(StackBlockDataSource)
    df = (
        spark.read.format("stack_blocks")
        .option("reader", "czi")
        .option("input_dir", str(tmp_path))
        .option("block_z", 5)
        .load()
    )
    rows = df.collect()
    # 2 stacks × 3 z-slabs (5+5+2), full y/x per slab
    assert len(rows) == 2 * 3
    got = np.zeros((nz, y, x), dtype=np.uint16)
    for r in rows:
        if r.stack_name != "s2":
            continue
        arr = np.frombuffer(r.block, dtype=np.dtype(r.dtype)).reshape(r.shape[-3:])
        assert (r.y0, r.y1, r.x0, r.x1) == (0, y, 0, x)
        got[r.z0 : r.z1] = arr
    np.testing.assert_array_equal(got, synthetic_ramp_block(0, nz, 0, y, 0, x))


def test_datasource_stream_matches_batch(spark, tmp_path):
    """readStream over the data source must deliver EXACTLY the batch
    reader's tile rows, across multiple micro-batches, voxel-exact."""
    import hashlib

    spark.dataSource.register(StackBlockDataSource)
    opts = {
        "stacks": "a,b",
        "z": 40,
        "y": 32,
        "x": 32,
        "block_z": 16,
        "block_y": 16,
        "block_x": 16,
        "stream_batch_tiles": 5,
    }

    def keyed(rows):
        return {
            (r.stack_name, r.z0, r.y0, r.x0): hashlib.md5(bytes(r.block)).hexdigest()
            for r in rows
        }

    batch_reader = spark.read.format("stack_blocks")
    for k, v in opts.items():
        batch_reader = batch_reader.option(k, v)
    expected = keyed(batch_reader.load().collect())

    stream_reader = spark.readStream.format("stack_blocks")
    for k, v in opts.items():
        stream_reader = stream_reader.option(k, v)
    # default trigger (back-to-back micro-batches): a Simple stream
    # reader has no end-of-data marker, so poll until every tile arrived
    q = (
        stream_reader.load()
        .writeStream.format("memory")
        .queryName("stack_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    import time

    try:
        deadline = time.time() + 120
        while (
            spark.table("stack_stream").count() < len(expected)
            and time.time() < deadline
        ):
            time.sleep(0.3)
        got = keyed(spark.table("stack_stream").collect())
    finally:
        q.stop()
    assert got == expected
    # 24 tiles at 5/micro-batch -> multiple batches actually happened
    n_batches = len([p for p in q.recentProgress if p["numInputRows"]])
    assert n_batches >= 2
