"""Blockwise (dense-array) windowed-mean downsampling — the Arrow fast
path of SURVEY §2.5 A1 form (2), complementing the relational form in
``operators/downsample.py`` (which is the correctness reference).

Because block z-offsets are chunk-aligned and the chunk is divisible by
the scale factor (128 = 2⁷ — the same alignment the reference relies on,
SURVEY §7 hard-part 4), every input block downsamples independently: a
pure ``mapInArrow`` with zero shuffle. Edge blocks with odd extents are
TRIMMED to an even multiple of the factor before the windowed reshape —
the crop semantics of the reference's pinned ``xarray_multiscale==1.1.0``
(its ``downscale`` slices each dim to ``(s // f) * f`` because the
reshape-based ``windowed_mean`` requires exact divisibility), so level
shapes follow ``floor(shape/factor)`` and edge voxels beyond the last
full window are dropped, exactly as the reference writes them.  (The
reference's *metadata* chunk recurrence uses ``np.ceil``,
``czi_to_zarr.py:185-187`` — a reference-internal inconsistency mirrored
faithfully in ``ome.py``, which keeps the ceil clamp.)

Because block offsets are multiples of the base chunk (divisible by the
factor), per-block trimming of the final edge block equals the global
trim — no halo exchange needed.

Arrow-native levels: the conversion pyramid
(``pipeline._convert_pyramid``, the one caller of these kernels) writes
the first levels of each region inside ONE ``mapInArrow`` task: it
pools each tile (:func:`pool_tiles`), holds one target chunk row at a
time (:func:`row_sorted`) and stitches it into chunks
(:func:`assemble_chunks`) for the next level.  Levels past those, if
any, re-tile with no Python runner of their own: :func:`chunk_sorted`
exchanges and sorts the emitted tiles in the JVM and the next stage's
task reads them zero-copy (:func:`block_tiles`) and stitches them with
the same :func:`assemble_chunks`; tiles leave a task as record batches
under a 128 MiB flush budget (:func:`tile_batches`; Arrow binary columns
carry a 2 GiB offset cap).  Each runner costs ~0.2 s of CPU to start
(SCALING.md, "Known bounded worst cases").
"""

from __future__ import annotations

import itertools
from collections.abc import Iterable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.czi import _block_arrow_schema

#: Arrow twin of BLOCK_SCHEMA for the mapInArrow paths.
_BLOCK_ARROW = _block_arrow_schema()

#: one block: ``(stack_name, t, c, (z0, y0, x0), ndarray)``
Tile = tuple[str, int, int, tuple[int, int, int], np.ndarray]

#: output batches flush at this payload size: Arrow binary columns use
#: 32-bit offsets (2 GiB hard cap per array) and bounded batches keep
#: peak memory flat however many blocks one task sees
FLUSH_BYTES = 128 * 2**20


def windowed_mean_nd(
    arr: np.ndarray,
    factors: tuple[int, ...],
    preserve_dtype: bool = True,
) -> np.ndarray:
    """Non-overlapping windowed mean with crop semantics: each dim is
    trimmed to ``(s // f) * f`` before the windowed reshape, so the output
    shape is ``floor(shape/factor)`` and voxels beyond the last full
    window are dropped — matching ``xarray_multiscale==1.1.0``'s
    ``downscale`` (reference ``czi_to_zarr.py:446-452``).  Integer dtypes
    truncate on the way back (``preserve_dtype=True`` ≙ the ``astype``
    cast).  A dim smaller than its factor crops to zero — callers drop
    such empty outputs (the pyramid has bottomed out on that dim)."""
    if arr.ndim != len(factors):
        raise ValueError(f"rank mismatch: {arr.shape} vs factors {factors}")
    out_shape = tuple(s // f for s, f in zip(arr.shape, factors))
    n = int(np.prod(factors))
    if arr.dtype.kind in "iu" and arr.dtype.itemsize <= 4 and n <= 2**21:
        # integer window sums of strided slices, exact in int64: the
        # float64 sum the reshape path below computes is exact too for
        # these inputs (|sum| < 2**53), so dividing gives the very same
        # mean ~8x faster (no reshape copy, no per-element float cast)
        acc = np.zeros(out_shape, dtype=np.int64)
        for off in itertools.product(*(range(f) for f in factors)):
            acc += arr[
                tuple(
                    slice(o, o + m * f, f)
                    for o, m, f in zip(off, out_shape, factors)
                )
            ]
        mean = acc / n
    else:
        trimmed = arr[tuple(slice(0, m * f) for m, f in zip(out_shape, factors))]
        newshape = []
        for m, f in zip(out_shape, factors):
            newshape.extend([m, f])
        # accumulate in float64 WITHOUT materializing a float64 copy of
        # the whole block first (dtype= casts per element during the
        # reduction — arithmetic identical to astype(float64).mean())
        mean = np.ascontiguousarray(trimmed).reshape(newshape).mean(
            axis=tuple(range(1, 2 * arr.ndim, 2)), dtype=np.float64
        )
    if preserve_dtype:
        return mean.astype(arr.dtype)
    return mean


def block_tiles(batches: Iterable[pa.RecordBatch]) -> Iterator[Tile]:
    """Block rows (``BLOCK_SCHEMA``) as tiles, each ``block`` read
    zero-copy from the Arrow binary buffer (no pandas bytes object per
    payload); a view keeps its batch's buffer alive."""
    for batch in batches:
        cols = {
            k: batch.column(k).to_pylist()
            for k in ("stack_name", "t", "c", "z0", "y0", "x0", "shape", "dtype")
        }
        block_col = batch.column("block")
        for i in range(batch.num_rows):
            arr = np.frombuffer(
                block_col[i].as_buffer(), dtype=np.dtype(cols["dtype"][i])
            ).reshape(cols["shape"][i])
            origin = (cols["z0"][i], cols["y0"][i], cols["x0"][i])
            yield cols["stack_name"][i], cols["t"][i], cols["c"][i], origin, arr


def pool_tiles(tiles: Iterable[Tile], factors: tuple[int, int, int]) -> Iterator[Tile]:
    """Windowed-mean pool each tile onto the next level's grid.  A tile
    thinner than its factor on some axis crops away entirely (global
    ``floor(shape/f)`` excludes it)."""
    for name, t, c, origin, arr in tiles:
        red = windowed_mean_nd(arr.reshape(arr.shape[-3:]), factors)
        if red.size:
            yield name, t, c, tuple(o // f for o, f in zip(origin, factors)), red[None, None]


def tile_batches(tiles: Iterable[Tile]) -> Iterator[pa.RecordBatch]:
    """Tiles as ``BLOCK_SCHEMA`` record batches, flushed at
    :data:`FLUSH_BYTES`."""
    out: dict[str, list] = {k: [] for k in _BLOCK_ARROW.names}
    pending = 0
    for name, t, c, (z0, y0, x0), arr in tiles:
        shape = arr.shape[-3:]
        row = {
            "stack_name": name, "t": t, "c": c,
            "z0": z0, "z1": z0 + shape[0],
            "y0": y0, "y1": y0 + shape[1],
            "x0": x0, "x1": x0 + shape[2],
            "shape": [1, 1, *shape],
            "dtype": str(arr.dtype),
            "block": arr.tobytes(),
        }
        for k, v in row.items():
            out[k].append(v)
        pending += arr.nbytes
        if pending >= FLUSH_BYTES:
            yield pa.RecordBatch.from_pydict(out, schema=_BLOCK_ARROW)
            out = {k: [] for k in out}
            pending = 0
    if out["block"]:
        yield pa.RecordBatch.from_pydict(out, schema=_BLOCK_ARROW)


def _chunk_origin(origin: tuple[int, ...], chunk: tuple[int, ...]) -> tuple:
    return tuple(o - o % n for o, n in zip(origin, chunk))


def chunk_sorted(blocks: DataFrame, chunk: tuple[int, int, int]) -> DataFrame:
    """Lay block rows out for re-tiling onto a ``chunk``-aligned grid:
    hash-partition and sort them (in the JVM) by (stack, t, c, target
    chunk origin), so each target chunk's sub-blocks reach one task
    consecutively, for :func:`assemble_chunks`.  The reference writes
    EVERY level with the constant base chunk (``czi_to_zarr.py:630-640``);
    without re-tiling, chunk shape would halve per level (a small-file
    explosion at production scale).  The exchange moves only the
    downsampled level.  Input offsets must align to a divisor of
    ``chunk`` (true for factor-downsampled chunk-aligned blocks)."""
    keys = [
        "stack_name", "t", "c",
        *_chunk_origin((F.col("z0"), F.col("y0"), F.col("x0")), chunk),
    ]
    return blocks.repartition(*keys).sortWithinPartitions(*keys)


def row_sorted(tiles: Iterable[Tile], chunk: tuple[int, int, int]) -> Iterator[Tile]:
    """In-task twin of :func:`chunk_sorted` for tiles that arrive in z
    order: hold each run of tiles of one (stack, t, c, target chunk
    z-row) and release it sorted by target chunk, for
    :func:`assemble_chunks`.  A run is one chunk deep on the target
    grid and at most one y×x plane wide, so at most one such row is
    held."""
    for _, run in itertools.groupby(
        tiles, key=lambda e: (*e[:3], e[3][0] - e[3][0] % chunk[0])
    ):
        yield from sorted(run, key=lambda e: (_chunk_origin(e[3], chunk), e[3]))


def assemble_chunks(
    tiles: Iterable[Tile], chunk: tuple[int, int, int]
) -> Iterator[Tile]:
    """Task side of :func:`chunk_sorted`: fold each run of consecutive
    tiles of one (stack, t, c, target chunk) into one chunk tile shaped
    ``(1, 1, z, y, x)``.  A run may span Arrow batches — the open
    chunk's sub-blocks stay views into their batches until it closes."""
    key, parts = None, []

    def close():
        base = key[3]
        ext = [max(o[d] + a.shape[d] for o, a in parts) - base[d] for d in range(3)]
        out = np.zeros((1, 1, *ext), dtype=parts[0][1].dtype)
        for o, a in parts:
            out[(0, 0, *(slice(p - b, p - b + n) for p, b, n in zip(o, base, a.shape)))] = a
        return (*key, out)

    for name, t, c, origin, arr in tiles:
        k = (name, t, c, _chunk_origin(origin, chunk))
        if k != key:
            if parts:
                yield close()
            key, parts = k, []
        parts.append((origin, arr.reshape(arr.shape[-3:])))
    if parts:
        yield close()
