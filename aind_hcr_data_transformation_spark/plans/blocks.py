"""Block/chunk geometry planning.

Re-expresses (not copies) the reference planners:

* ``generate_jumps`` — ``utils/utils.py:398-415``
* ``BlockedArrayWriter.gen_slices`` — ``compress/zarr_writer.py:129-186``
* ``BlockedArrayWriter._get_size`` / ``_closer_to_target`` /
  ``expand_chunks`` / ``get_block_shape`` — ``compress/zarr_writer.py:15-120,215-247``

These govern Spark-side physics: Arrow batch sizing and the
chunk-aligned regions the zarr sink writes.
"""

from __future__ import annotations

import itertools
import math
from collections.abc import Iterator


def generate_jumps(extent: int, jump_size: int) -> list[int]:
    """Start offsets every ``jump_size`` along one axis
    (``utils/utils.py:398-415``)."""
    if extent <= 0 or jump_size <= 0:
        raise ValueError(f"extent and jump_size must be positive, got {extent}, {jump_size}")
    return list(range(0, extent, jump_size))


def gen_slices(
    arr_shape: tuple[int, ...], block_shape: tuple[int, ...]
) -> Iterator[tuple[slice, ...]]:
    """Row-major tiling of an N-D shape by a block shape; the trailing
    block per dimension is truncated to the array bound
    (``zarr_writer.py:129-186`` — iterative product instead of the
    reference's recursion, same tiles in the same order)."""
    if len(arr_shape) != len(block_shape):
        raise ValueError(f"rank mismatch: {arr_shape} vs {block_shape}")
    if any(b <= 0 for b in block_shape) or any(s <= 0 for s in arr_shape):
        raise ValueError(f"shapes must be positive: {arr_shape}, {block_shape}")
    per_dim = [
        [(start, min(start + b, s)) for start in range(0, s, b)]
        for s, b in zip(arr_shape, block_shape)
    ]
    for bounds in itertools.product(*per_dim):
        yield tuple(slice(lo, hi) for lo, hi in bounds)


def byte_size(shape: tuple[int, ...], itemsize: int) -> int:
    """Bytes occupied by a dense array of ``shape``
    (``zarr_writer.py:15-26``)."""
    if any(s <= 0 for s in shape):
        raise ValueError(f"all dimensions must be positive, got {shape}")
    return math.prod(shape) * itemsize


def _closer_to_target(
    shape_a: tuple[int, ...],
    shape_b: tuple[int, ...],
    target_bytes: int,
    itemsize: int,
) -> tuple[int, ...]:
    """Whichever shape's byte size is nearer the target
    (``zarr_writer.py:29-48``)."""
    da = abs(byte_size(shape_a, itemsize) - target_bytes)
    db = abs(byte_size(shape_b, itemsize) - target_bytes)
    return shape_a if da <= db else shape_b


def expand_chunks(
    chunks: tuple[int, int, int],
    data_shape: tuple[int, int, int],
    target_bytes: int,
    itemsize: int,
    mode: str = "iso",
) -> tuple[int, int, int]:
    """Grow a base chunk shape toward ``target_bytes``
    (``zarr_writer.py:51-120``).

    * ``iso``: scale all dims by the same integer multiple.
    * ``cycle``: double one dimension at a time, round-robin Z→Y→X.

    The candidate nearest the target wins; results are clamped to the
    array shape. Raises on non-positive inputs or chunks exceeding shape
    (mirroring the reference's validation, pinned by its own tests
    ``tests/test_compress/test_zarr_writer.py:29-38``).
    """
    if any(c < 1 for c in chunks) or any(s < 1 for s in data_shape):
        raise ValueError(f"chunks {chunks} and shape {data_shape} must be >= 1")
    if any(c > s for c, s in zip(chunks, data_shape)):
        raise ValueError(f"chunks {chunks} must not exceed shape {data_shape}")
    if target_bytes <= 0:
        raise ValueError(f"target size must be positive, got {target_bytes}")
    if mode not in ("iso", "cycle"):
        raise ValueError(f"unknown mode {mode!r}")

    def clamp(c: tuple[int, ...]) -> tuple[int, int, int]:
        return tuple(min(ci, si) for ci, si in zip(c, data_shape))  # type: ignore[return-value]

    if mode == "iso":
        best = clamp(chunks)
        i = 1
        while True:
            i += 1
            cand = clamp(tuple(c * i for c in chunks))
            if cand == best:  # fully clamped, no further growth
                break
            best_next = _closer_to_target(best, cand, target_bytes, itemsize)
            if best_next == best and byte_size(cand, itemsize) >= target_bytes:
                break
            best = best_next
            if byte_size(best, itemsize) >= target_bytes:
                break
        return best

    # cycle: double Z, then Y, then X, repeatedly
    current = clamp(chunks)
    dim = 0
    while byte_size(current, itemsize) < target_bytes:
        cand = list(current)
        cand[dim] = min(cand[dim] * 2, data_shape[dim])
        dim = (dim + 1) % 3
        cand_t = tuple(cand)
        if cand_t == current:
            if all(c == s for c, s in zip(current, data_shape)):
                break  # cannot grow further
            continue
        nxt = clamp(cand_t)
        if byte_size(nxt, itemsize) >= target_bytes:
            return _closer_to_target(current, nxt, target_bytes, itemsize)
        current = nxt
    return current


def get_block_shape(
    arr_shape: tuple[int, ...],
    itemsize: int,
    target_size_mb: int = 409_600,
    mode: str = "cycle",
    chunks: tuple[int, int, int] = (128, 128, 128),
) -> tuple[int, int, int]:
    """Block shape for bulk reads/writes, ≈ ``target_size_mb``
    (``zarr_writer.py:215-247``; job default 19,200 MB
    ``models.py:77-81``). Operates on the trailing (Z, Y, X) dims of a
    5-D shape."""
    zyx = tuple(arr_shape[-3:])
    base = tuple(min(c, s) for c, s in zip(chunks, zyx))
    return expand_chunks(base, zyx, target_size_mb * 1024 * 1024, itemsize, mode)
