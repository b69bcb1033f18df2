"""Windowed-mean multiscale downsampling — the reference's one true
aggregation (SURVEY §2.5 A1/A2).

Reference: ``compute_pyramid`` (``czi_to_zarr.py:410-454``) calls
``xarray_multiscale.multiscale(reduction=windowed_mean, scale_factors,
preserve_dtype=True)``: each pyramid level is the mean over non-overlapping
``sz×sy×sx`` windows of the previous level, cast back to the source dtype
(truncating, for integer dtypes). ``xarray_multiscale==1.1.0`` (the pinned
build) CROPS each dim to ``(s // f) * f`` before its windowed reshape, so
level shapes are ``floor(shape/factor)`` and trailing partial windows are
dropped — the ``extents`` argument reproduces that trim here.  (The
reference's metadata chunk recurrence uses ceil, ``czi_to_zarr.py:185-187``
— metadata only, mirrored in ``ome.py``.)

Two Spark forms, both provided:

* :func:`downsample_relational` — ``groupBy(floor(z/s), …).avg()`` — the
  correctness reference; a plain partial+final hash aggregate, shuffles one
  row per output voxel, no halo constraints, works for any factor/extent.
* the dense-array fast path — ``blockwise.pool_tiles``, a numpy reduce
  per tile inside the writing tasks of ``pipeline._convert_pyramid``
  (``tests/test_downsample.py`` pins the converter's level 1 to the
  relational form).

The multi-level cascade (level k+1 from level k, never from level 0 —
``czi_to_zarr.py:623-653``) is :func:`pyramid_relational`, a driver loop
exactly mirroring the reference's per-level read-back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Column names of a long-form voxel DataFrame.
VOXEL_COLS = ("z", "y", "x", "v")


def downsample_relational(
    voxels: DataFrame,
    scale_factor: tuple[int, int, int] = (2, 2, 2),
    preserve_dtype: bool = True,
    extra_keys: tuple[str, ...] = (),
    extents: tuple[int, int, int] | None = None,
) -> DataFrame:
    """One pyramid level: non-overlapping windowed mean over (z, y, x).

    ``preserve_dtype=True`` truncates the mean back to integer — matching
    ``xarray_multiscale``'s ``astype`` semantics for non-negative voxels
    (``czi_to_zarr.py:446-452``; SURVEY §7 hard-part 2).

    ``extents`` = (Z, Y, X) of the input level: voxels at or beyond
    ``(E // s) * s`` on any axis are dropped BEFORE grouping — the crop
    xarray_multiscale 1.1.0 applies ahead of its windowed reshape, so the
    output covers ``floor(E/s)`` positions per axis with every window
    full. Without ``extents`` no trim is applied (only sound when every
    extent divides evenly; partial edge windows would otherwise average
    short). The filter sits on the grouping columns' source, so it pushes
    into the scan.

    ``extra_keys`` carries identity columns (stack, t, c) through the
    aggregation, so one call downsamples every stack in a catalog at once.
    """
    sz, sy, sx = scale_factor
    if extents is not None:
        for name, s, e in (("z", sz, extents[0]), ("y", sy, extents[1]), ("x", sx, extents[2])):
            voxels = voxels.filter(F.col(name) < F.lit((e // s) * s))
    keys = [*extra_keys]
    for name, s in (("z", sz), ("y", sy), ("x", sx)):
        keys.append((F.col(name) / F.lit(s)).cast("int").alias(name))
    agg = F.avg("v")
    if preserve_dtype:
        agg = F.floor(agg).cast("int")
    return voxels.groupBy(*keys).agg(agg.alias("v"))


def pyramid_relational(
    voxels: DataFrame,
    n_levels: int,
    scale_factor: tuple[int, int, int] = (2, 2, 2),
    preserve_dtype: bool = True,
    extra_keys: tuple[str, ...] = (),
    checkpoint_dir: str | None = None,
    extents: tuple[int, int, int] | None = None,
) -> list[DataFrame]:
    """Full pyramid: levels ``0..n_levels-1``, level k+1 computed from
    level k (cascade, ``czi_to_zarr.py:623-653``) — never recomputed from
    level 0, so total work is a geometric series ~1.14× level-1 cost.
    ``extents`` (level-0 Z/Y/X) follows the ``floor`` recurrence per level
    for the crop trim; the cascade stops early if a dim bottoms out.

    When ``checkpoint_dir`` is given each level is written to parquet and
    read back before deriving the next — the Spark analog of the
    reference's write-then-``da.from_zarr`` read-back (lineage truncation;
    SURVEY §4 X7). Without it the lazy plans nest, which is fine for the
    few levels a pyramid has.
    """
    levels = [voxels]
    current = voxels
    ext = extents
    for lvl in range(1, n_levels):
        if ext is not None and min(e // s for e, s in zip(ext, scale_factor)) < 1:
            break  # xarray_multiscale depth limit
        current = downsample_relational(
            current, scale_factor, preserve_dtype, extra_keys, extents=ext
        )
        if ext is not None:
            ext = tuple(e // s for e, s in zip(ext, scale_factor))
        if checkpoint_dir is not None:
            path = f"{checkpoint_dir}/level={lvl}"
            current.write.mode("overwrite").parquet(path)
            current = current.sparkSession.read.parquet(path)
        levels.append(current)
    return levels
