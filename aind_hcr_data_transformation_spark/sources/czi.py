"""CZI stack source: stack listing → block-index DataFrame → slab
decodes inside the tasks that consume them (SURVEY §2.1 S1-S7, §3.2
restatement).

The reference reads a CZI stack as sequential z-slabs on one node
(``czi_block_generator`` ``utils/utils.py:462-526``; threaded subblock
assembly ``read_slices_czi`` ``utils/utils.py:284-395``). Here the *block
index* is data (one row per tile), Spark schedules tiles across
executors, and each task keeps the reference's in-task thread pool for
I/O-bound subblock reads (SURVEY §4 X5 — threads inside the task are not
Spark's job).

Tiles are born where they are used: ``pipeline._convert_pyramid`` decodes
each level-0 tile (:func:`_read_slab_czifile` — the ``czifile`` package
when installed, else the vendored pure-Python ZISRAW reader
:mod:`.zisraw`) or generates the deterministic voxel ramp of FIXTURES.md
B2 (:func:`synthetic_ramp_block`) in the task that writes it. A
block-row DataFrame of ``BLOCK_SCHEMA`` comes from
``spark.read.format("stack_blocks")`` (:mod:`.datasource`).
"""

from __future__ import annotations

import os
from typing import Any

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: one row per z-slab block; payload is raw C-order bytes + shape/dtype tag
#: (BinaryType + tag instead of ArrayType: Spark SQL has no unsigned types,
#: SURVEY §1.3 / §7 hard-part 1)
BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("stack_name", T.StringType()),
        T.StructField("t", T.IntegerType()),
        T.StructField("c", T.IntegerType()),
        T.StructField("z0", T.IntegerType()),
        T.StructField("z1", T.IntegerType()),
        T.StructField("y0", T.IntegerType()),
        T.StructField("y1", T.IntegerType()),
        T.StructField("x0", T.IntegerType()),
        T.StructField("x1", T.IntegerType()),
        T.StructField("shape", T.ArrayType(T.IntegerType())),
        T.StructField("dtype", T.StringType()),
        T.StructField("block", T.BinaryType()),
    ]
)


def _block_arrow_schema():
    """Arrow twin of BLOCK_SCHEMA for the mapInArrow stages
    (Spark IntegerType ↔ int32, ArrayType(int) ↔ list<int32>)."""
    import pyarrow as pa

    return pa.schema(
        [
            ("stack_name", pa.string()),
            ("t", pa.int32()),
            ("c", pa.int32()),
            ("z0", pa.int32()),
            ("z1", pa.int32()),
            ("y0", pa.int32()),
            ("y1", pa.int32()),
            ("x0", pa.int32()),
            ("x1", pa.int32()),
            ("shape", pa.list_(pa.int32())),
            ("dtype", pa.string()),
            ("block", pa.binary()),
        ]
    )


def list_stacks(input_dir: str, suffix: str = ".czi") -> dict[str, str]:
    """Stack name → path for the regular files under ``input_dir``
    ending in ``suffix``, in lexicographic path order — the reference's
    ``_get_partitioned_list_of_stack_paths`` glob+filter+sort
    (``zeiss_job.py:42-60``), which prefers the acquisition's ``SPIM/``
    subdirectory when it exists.

    A driver-side listing (one directory, thousands of stacks): the CLI
    and ``StackBlockDataSource`` both use it, so they find identical
    stacks for one root."""
    root = os.path.join(input_dir, "SPIM")
    search_dir = root if os.path.isdir(root) else input_dir
    return {
        os.path.splitext(name)[0]: os.path.join(search_dir, name)
        for name in sorted(os.listdir(search_dir))
        if name.endswith(suffix) and os.path.isfile(os.path.join(search_dir, name))
    }


def block_index(
    stacks: DataFrame, block_shape: tuple[int, int, int] = (128, 128, 128)
) -> DataFrame:
    """3-D block-index DataFrame: stacks × (z, y, x) tile bounds — the
    distributed twin of ``gen_slices`` (``zarr_writer.py:129-186``) +
    ``generate_jumps`` (``utils/utils.py:398-415``) as ``sequence`` +
    ``explode``. ``stacks`` must carry ``z_extent``/``y_extent``/
    ``x_extent``.

    Tiling all three axes (the reference slabs only z) is what gives a
    512³ stack 64 four-MB tasks instead of 4 sixty-four-MB ones — and at
    real microscope geometry (thin z, huge y×x planes) it is the only
    shape that parallelizes at all."""
    bz, by, bx = block_shape
    out = stacks
    for name, extent, b in (("z", "z_extent", bz), ("y", "y_extent", by), ("x", "x_extent", bx)):
        out = out.select(
            "*",
            F.explode(
                F.sequence(F.lit(0), F.col(extent) - 1, F.lit(b))
            ).alias(f"{name}0"),
        ).withColumn(f"{name}1", F.least(F.col(f"{name}0") + b, F.col(extent)))
    return out


def synthetic_ramp_block(
    z0: int, z1: int, y0: int, y1: int, x0: int, x1: int, dtype: str = "uint16"
) -> np.ndarray:
    """Deterministic voxel ramp v(z,y,x) = (z*1000 + y*10 + x) % 65536
    (FIXTURES.md B2) for the ``[z0, z1) × [y0, y1) × [x0, x1)`` tile —
    closed-form goldens for every test."""
    # broadcasting, not meshgrid: meshgrid materializes three full-size
    # int64 grids (24 bytes/voxel of throwaway) and dominated read time
    z = (np.arange(z0, z1, dtype=np.int64) * 1000)[:, None, None]
    y = (np.arange(y0, y1, dtype=np.int64) * 10)[None, :, None]
    x = np.arange(x0, x1, dtype=np.int64)[None, None, :]
    return ((z + y + x) % 65536).astype(dtype)


def _read_slab_czifile(path: str, z0: int, z1: int) -> np.ndarray:
    """Production slab read (S5/S6): open the CZI, assemble subblocks
    ``[z0, z1)`` concurrently (thread pool inside the task —
    ``utils/utils.py:358-379``).

    Backend selection: the ``czifile`` package when installed (full codec
    support, compressed stacks); otherwise the vendored pure-Python
    ZISRAW reader (:mod:`.zisraw`, uncompressed + zstd subblocks) — both
    expose the same subblock-directory surface, so the slab logic
    (z-window filter, scrambled-directory sort, squeeze/stack) below is
    backend-agnostic. ``tests/test_zisraw.py`` decodes real spec-format
    binaries through this exact function; ``tests/test_czifile_reader.py``
    additionally pins the czifile call surface with a monkeypatched
    module (this environment cannot install the real codec package)."""
    try:
        import czifile

        open_czi = czifile.CziFile
    except ImportError:
        from .zisraw import MiniCziFile as open_czi
    from concurrent.futures import ThreadPoolExecutor

    with open_czi(path) as czi:
        zi = czi.axes.index("Z")
        yi = czi.axes.index("Y")
        xi = czi.axes.index("X")
        subblocks = [
            sb
            for sb in czi.filtered_subblock_directory
            if z0 <= sb.start[zi] < z1
        ]
        # mosaic-aware assembly (``utils/utils.py:284-395`` scatter-places
        # subblocks by offset): a plane may arrive as MANY y/x-offset
        # tiles; each is placed at its directory start, never
        # last-writer-wins by z
        tiles: dict[tuple[int, int, int], np.ndarray] = {}

        def fetch(sb: Any) -> None:
            tiles[(sb.start[zi], sb.start[yi], sb.start[xi])] = np.squeeze(
                sb.data_segment().data()
            )

        workers = max(1, min((os.cpu_count() or 2) // 2, len(subblocks)))
        with ThreadPoolExecutor(workers) as pool:
            list(pool.map(fetch, subblocks))
        if not tiles:
            raise ValueError(f"{path}: no subblocks in z-window [{z0}, {z1})")
        y_ext = max(ys + t.shape[-2] for (_, ys, _), t in tiles.items())
        x_ext = max(xs + t.shape[-1] for (_, _, xs), t in tiles.items())
        first = next(iter(tiles.values()))
        out = np.zeros((z1 - z0, y_ext, x_ext), dtype=first.dtype)
        for (z, ys, xs), t in tiles.items():
            out[z - z0, ys : ys + t.shape[-2], xs : xs + t.shape[-1]] = t
        return out
