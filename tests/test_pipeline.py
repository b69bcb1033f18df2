"""End-to-end conversion test: synthetic stack → multiscale OME-Zarr via
Spark stages, verified voxel-by-voxel against numpy goldens — the real
integration coverage the reference mocks out (``tests/test_integration.py``
patches ``run_job``; SURVEY §5)."""

from __future__ import annotations

import json

import numpy as np
import pytest

from aind_hcr_data_transformation_spark.config import ZarrConversionSettings
from aind_hcr_data_transformation_spark.operators.blockwise import windowed_mean_nd
from aind_hcr_data_transformation_spark.pipeline import (
    convert_synthetic_stack,
    dtype_minmax,
)
from aind_hcr_data_transformation_spark.sinks.zarr_sink import read_array
from aind_hcr_data_transformation_spark.sources.czi import synthetic_ramp_block


def test_dtype_minmax():
    assert dtype_minmax("uint16") == (0.0, 65535.0)
    assert dtype_minmax("uint8") == (0.0, 255.0)
    lo, hi = dtype_minmax("float32")
    assert lo < 0 < hi


def test_settings_validation():
    with pytest.raises(ValueError):
        ZarrConversionSettings(chunk_size=(0, 1, 1))
    with pytest.raises(ValueError):
        ZarrConversionSettings(scale_factor=(1, 2, 2))
    with pytest.raises(ValueError):
        ZarrConversionSettings(compressor_name="lz77")
    with pytest.raises(ValueError):
        ZarrConversionSettings.from_dict({"nope": 1})
    s = ZarrConversionSettings.from_dict(
        {"chunk_size": [16, 16, 16], "downsample_levels": 3}
    )
    assert s.chunk_size == (16, 16, 16)


def test_full_conversion(spark, tmp_path):
    """FIXTURES.md B4 geometry: 40×32×32 ramp, chunk 16³, 3 levels."""
    settings = ZarrConversionSettings(
        output_directory=str(tmp_path),
        chunk_size=(16, 16, 16),
        scale_factor=(2, 2, 2),
        downsample_levels=3,
    )
    group = convert_synthetic_stack(
        spark, settings, "stackA", z_extent=40, y=32, x=32,
        voxel_size=(1.0, 0.748, 0.748), origin=(0.0, 0.0, 0.0),
    )

    # metadata document
    attrs = json.load(open(f"{group}/.zattrs"))
    assert attrs["omero"]["name"] == "stackA"
    assert attrs["omero"]["channels"][0]["window"]["max"] == 65535.0
    datasets = attrs["multiscales"][0]["datasets"]
    assert [d["path"] for d in datasets] == ["0", "1", "2"]
    lvl1_scale = datasets[1]["coordinateTransformations"][0]["scale"]
    assert lvl1_scale == [1.0, 1.0, 2.0, 1.496, 1.496]

    # level 0 bytes: exact ramp
    golden0 = synthetic_ramp_block(0, 40, 0, 32, 0, 32)
    out0 = read_array(f"{group}/0")
    assert out0.shape == (1, 1, 40, 32, 32)
    np.testing.assert_array_equal(out0[0, 0], golden0)

    # pyramid levels: cascaded windowed means, crop-trim edges + truncation
    golden1 = windowed_mean_nd(golden0, (2, 2, 2))
    out1 = read_array(f"{group}/1")
    assert out1.shape == (1, 1, 20, 16, 16)
    np.testing.assert_array_equal(out1[0, 0], golden1)

    golden2 = windowed_mean_nd(golden1, (2, 2, 2))
    out2 = read_array(f"{group}/2")
    assert out2.shape == (1, 1, 10, 8, 8)
    np.testing.assert_array_equal(out2[0, 0], golden2)
    # chunks do NOT halve with the pyramid: constant base chunk (16^3)
    # clamped to the level shape, as the reference's create_dataset does
    assert json.load(open(f"{group}/1/.zarray"))["chunks"] == [1, 1, 16, 16, 16]
    assert json.load(open(f"{group}/2/.zarray"))["chunks"] == [1, 1, 10, 8, 8]


def test_conversion_partial_last_slab(spark, tmp_path):
    """z_extent not divisible by chunk nor factor: 23 planes, chunk 8."""
    settings = ZarrConversionSettings(
        output_directory=str(tmp_path),
        chunk_size=(8, 16, 16),
        scale_factor=(2, 2, 2),
        downsample_levels=2,
    )
    group = convert_synthetic_stack(
        spark, settings, "odd", z_extent=23, y=16, x=16
    )
    golden0 = synthetic_ramp_block(0, 23, 0, 16, 0, 16)
    np.testing.assert_array_equal(read_array(f"{group}/0")[0, 0], golden0)
    golden1 = windowed_mean_nd(golden0, (2, 2, 2))
    out1 = read_array(f"{group}/1")
    # crop semantics: floor(23/2)=11 planes (xarray_multiscale 1.1.0 trim),
    # NOT ceil — the 23rd plane is dropped, matching the reference's output
    assert out1.shape == (1, 1, 11, 8, 8)
    assert golden1.shape == (11, 8, 8)
    np.testing.assert_array_equal(out1[0, 0], golden1)
    # constant base chunk at every level, clamped to the level shape
    zarray1 = json.load(open(f"{group}/1/.zarray"))
    assert zarray1["chunks"] == [1, 1, 8, 8, 8]


def test_multi_stack_single_job(spark, tmp_path):
    """Two stacks of different geometry converted by ONE job per level;
    both voxel-exact."""
    from aind_hcr_data_transformation_spark.pipeline import (
        convert_synthetic_stacks,
    )

    settings = ZarrConversionSettings(
        output_directory=str(tmp_path),
        chunk_size=(16, 16, 16),
        scale_factor=(2, 2, 2),
        downsample_levels=2,
    )
    groups = convert_synthetic_stacks(
        spark, settings, {"sA": (40, 32, 32), "sB": (23, 16, 16)}
    )
    for name, (z, y, x) in {"sA": (40, 32, 32), "sB": (23, 16, 16)}.items():
        golden0 = synthetic_ramp_block(0, z, 0, y, 0, x)
        np.testing.assert_array_equal(
            read_array(f"{groups[name]}/0")[0, 0], golden0
        )
        np.testing.assert_array_equal(
            read_array(f"{groups[name]}/1")[0, 0],
            windowed_mean_nd(golden0, (2, 2, 2)),
        )


def test_resume_skips_complete_stacks_and_reconverts_partial(
    spark, tmp_path
):
    """Job-restart semantics: sentinel-carrying stacks are untouched by a
    resume (no rewrite — pinned by chunk mtime), sentinel-less stacks are
    reconverted from scratch and end voxel-exact."""
    import os

    from aind_hcr_data_transformation_spark.pipeline import (
        SUCCESS_MARKER,
        convert_synthetic_stacks,
        stack_is_complete,
    )

    settings = ZarrConversionSettings(
        output_directory=str(tmp_path),
        chunk_size=(16, 16, 16),
        scale_factor=(2, 2, 2),
        downsample_levels=2,
    )
    shapes = {"sA": (32, 32, 32), "sB": (32, 16, 16)}
    groups = convert_synthetic_stacks(spark, settings, shapes)
    assert all(stack_is_complete(g) for g in groups.values())

    # simulate a crash mid-sB: drop its sentinel and corrupt a chunk
    os.remove(os.path.join(groups["sB"], SUCCESS_MARKER))
    victim = os.path.join(groups["sB"], "0", "0", "0", "0", "0", "0")
    os.remove(victim)
    untouched_chunk = os.path.join(
        groups["sA"], "0", "0", "0", "0", "0", "0"
    )
    mtime_before = os.path.getmtime(untouched_chunk)

    groups2 = convert_synthetic_stacks(spark, settings, shapes, resume=True)
    assert groups2 == groups
    assert os.path.getmtime(untouched_chunk) == mtime_before  # sA skipped
    assert stack_is_complete(groups["sB"])
    golden = synthetic_ramp_block(0, 32, 0, 16, 0, 16)
    np.testing.assert_array_equal(
        read_array(f"{groups['sB']}/0")[0, 0], golden
    )
    np.testing.assert_array_equal(
        read_array(f"{groups['sB']}/1")[0, 0],
        windowed_mean_nd(golden, (2, 2, 2)),
    )


def test_metadata_matches_written_levels_when_pyramid_bottoms_out(
    spark, tmp_path
):
    """Requesting more levels than the floor pyramid supports must clamp
    the multiscales metadata to the levels actually written — otherwise
    .zattrs references datasets that do not exist (dangling metadata)."""
    import os

    from aind_hcr_data_transformation_spark.pipeline import pyramid_depth

    assert pyramid_depth((4, 16, 16), (2, 2, 2), 4) == 3
    assert pyramid_depth((40, 32, 32), (2, 2, 2), 3) == 3
    assert pyramid_depth((1, 8, 8), (2, 2, 2), 5) == 1

    settings = ZarrConversionSettings(
        output_directory=str(tmp_path),
        chunk_size=(4, 8, 8),
        scale_factor=(2, 2, 2),
        downsample_levels=4,  # z: 4 → 2 → 1 → 0: only 3 levels writable
    )
    group = convert_synthetic_stack(
        spark, settings, "shallow", z_extent=4, y=16, x=16
    )
    attrs = json.load(open(f"{group}/.zattrs"))
    datasets = attrs["multiscales"][0]["datasets"]
    written = sorted(
        d
            for d in os.listdir(group)
            if os.path.isdir(os.path.join(group, d))
    )
    assert [ds["path"] for ds in datasets] == written == ["0", "1", "2"]
    # every advertised level is readable
    for lvl, shape in zip(written, [(4, 16, 16), (2, 8, 8), (1, 4, 4)]):
        assert read_array(f"{group}/{lvl}").shape == (1, 1, *shape)


def test_multi_stack_per_stack_metadata_clamp(spark, tmp_path):
    """In the multi-stack job, each stack's .zattrs lists only ITS OWN
    reachable levels: a shallow stack clamps while a deep one keeps all
    requested levels."""
    import os

    from aind_hcr_data_transformation_spark.pipeline import (
        convert_synthetic_stacks,
    )

    settings = ZarrConversionSettings(
        output_directory=str(tmp_path),
        chunk_size=(4, 8, 8),
        scale_factor=(2, 2, 2),
        downsample_levels=3,
    )
    paths = convert_synthetic_stacks(
        spark, settings, {"deep": (16, 16, 16), "shallow": (2, 16, 16)}
    )
    for name, lvls in (("deep", ["0", "1", "2"]), ("shallow", ["0", "1"])):
        attrs = json.load(open(f"{paths[name]}/.zattrs"))
        datasets = attrs["multiscales"][0]["datasets"]
        written = sorted(
            d
                for d in os.listdir(paths[name])
                if os.path.isdir(os.path.join(paths[name], d))
        )
        assert [ds["path"] for ds in datasets] == written == lvls


def test_settings_reject_chunk_not_divisible_by_factor():
    """A 3-z chunk with a 2x factor drops a plane at every tile seam —
    rejected at settings time, not as a mid-job region-extent error."""
    import pytest

    from aind_hcr_data_transformation_spark.config import (
        ZarrConversionSettings,
    )

    with pytest.raises(ValueError, match="divisible"):
        ZarrConversionSettings(chunk_size=(3, 8, 8), scale_factor=(2, 2, 2))
    # single level: no pooling, any chunk is fine
    ZarrConversionSettings(
        chunk_size=(3, 8, 8), scale_factor=(2, 2, 2), downsample_levels=1
    )


def test_voxel_stats_two_level_cum_matches_flat_window(spark):
    """The r14 bucketed cumulative sum in pipe_voxel_stats must produce
    the same (cum, n) per distinct value as the flat per-flag window it
    replaced — pinned on a deliberately skewed value set (empty buckets,
    duplicate counts, one hot value)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [("A", float(v), c) for v, c in
            [(1, 5), (2, 1), (3, 1), (1000, 7), (1001, 1)]] + [
           ("B", 42.0, 3)]
    dist = spark.createDataFrame(rows, "flag string, v double, cnt long")

    flat = dist.select(
        "flag", "v",
        F.sum("cnt").over(Window.partitionBy("flag").orderBy("v")).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("flag")).alias("n"),
    )

    n_buckets = 12
    bounds = dist.groupBy("flag").agg(
        F.min("v").alias("_vmin"), F.max("v").alias("_vmax"))
    width = (F.col("_vmax") - F.col("_vmin")) / F.lit(float(n_buckets))
    bucketed = dist.join(F.broadcast(bounds), "flag").withColumn(
        "bkt",
        F.when(F.col("_vmax") <= F.col("_vmin"), F.lit(0))
        .otherwise(F.least(F.lit(n_buckets - 1),
                           F.floor((F.col("v") - F.col("_vmin")) / width)))
        .cast("int"),
    )
    local = bucketed.select(
        "flag", "bkt", "v", "cnt",
        F.sum("cnt").over(
            Window.partitionBy("flag", "bkt").orderBy("v")).alias("lcum"),
    )
    btot = bucketed.groupBy("flag", "bkt").agg(F.sum("cnt").alias("bcnt"))
    offsets = btot.select(
        "flag", "bkt",
        (F.sum("bcnt").over(Window.partitionBy("flag").orderBy("bkt"))
         - F.col("bcnt")).alias("off"),
        F.sum("bcnt").over(Window.partitionBy("flag")).alias("n"),
    )
    two_level = local.join(F.broadcast(offsets), ["flag", "bkt"]).select(
        "flag", "v", (F.col("lcum") + F.col("off")).alias("cum"), "n")

    assert {tuple(r) for r in flat.collect()} == {
        tuple(r) for r in two_level.collect()}
