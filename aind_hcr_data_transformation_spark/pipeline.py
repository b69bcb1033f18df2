"""End-to-end stack → multiscale OME-Zarr conversion — the engine twin of
``ZeissCompressionJob.run_job`` + ``czi_stack_zarr_writer``
(``zeiss_job.py:207-226``, ``czi_to_zarr.py:457-653``), orchestrated as
Spark stages instead of SLURM partitions:

stage 0   region index (all stacks at once — the scheduler replaces
          ``num_of_partitions``/``partition_to_process``): one row per
          region whose chunks of the first ``D`` levels all lie inside
          it (:func:`fusion_groups`, :func:`fusion_depth`) — whole-plane
          z-groups for CZI stacks, y×x-tiled blocks for synthetic ones —
          built on the driver as an Arrow ``LocalTableScan`` and placed
          with ``repartitionById`` on a largest-first partition id
          (:func:`place_groups`); only these INDEX rows are exchanged
stage 1   one ``mapInArrow`` whose task, per region, BIRTHS each
          level-0 tile (codec slab read or synthetic ramp) in z, y, x
          order, writes it and pools it, then stitches the pooled tiles
          into the next level's chunks in the task
          (``blockwise.row_sorted`` + ``assemble_chunks``), writes and
          pools again, through level ``D−1``; it emits level-``D``
          tiles only for stacks deeper than ``D``
stage k   (tail, only then) pooled tiles exchange and sort by target
          base chunk in the JVM (``blockwise.chunk_sorted``); one
          ``mapInArrow`` per level stitches, writes and emits the next —
          the same stage function writing one level
finally   OME-NGFF group metadata (omero + multiscales, driver-side)

The whole pyramid is ONE Spark job driven by one action, replacing the
reference's per-level write-then-read-back (``czi_to_zarr.py:623-635``,
SURVEY §4 X7).  Full-resolution voxels NEVER cross the Python↔JVM Arrow
boundary (measured ~55 MiB/s per direction for multi-MB binary rows; a
separate read stage feeding the write stage paid it twice and capped the
2 GiB local benchmark at ~30 MiB/s), and the levels a region's task
writes never leave its Python worker at all: at the benchmark geometry
(4 stacks of 96×256×256, chunk 64×128×128, 3 levels) ``D`` is the whole
pyramid, the conversion is one ``mapInArrow`` over four z-groups, and
the only shuffle is the index (a few hundred bytes).  Each Python
runner costs ~0.2 s of CPU to start (SCALING.md, "Known bounded worst
cases"), so no stage starts one it could leave to the JVM or to a task
already running.
"""

from __future__ import annotations

import os
from collections.abc import Collection
from urllib.parse import urlparse

import numpy as np
from pyspark.sql import SparkSession

from .config import ZarrConversionSettings
from .ome import build_multiscales, build_omero, validate_multiscales
from .session import local_frame
from .sinks.store import sync_dir
from .sinks.zarr_sink import init_group, write_attrs


def pyramid_depth(
    shape_zyx: tuple[int, int, int],
    factors: tuple[int, int, int],
    n_lvls: int,
) -> int:
    """Number of pyramid levels actually writable before a dim bottoms
    out under the floor recurrence (xarray_multiscale depth limit).

    The multiscales metadata is written UP FRONT with one dataset entry
    per level, so ``n_lvls`` must be clamped to this depth — otherwise
    the group's ``.zattrs`` would reference level arrays that are never
    created and OME-NGFF readers hit missing datasets."""
    depth = 1
    z, y, x = shape_zyx
    fz, fy, fx = factors
    while depth < n_lvls:
        z, y, x = z // fz, y // fy, x // fx
        if min(z, y, x) < 1:
            break
        depth += 1
    return depth


def upload_derivatives(
    input_source: str, dest_url: str, partition: int = 0
) -> int:
    """Upload ``input_source/derivatives`` to ``dest_url/derivatives``
    through the store layer — the reference's partition-0-only side
    effect (``zeiss_job.py:187-205``, gate at 215-216: exactly one of
    the N array jobs performs the upload).

    In the Spark restatement the driver IS the exactly-once context, so
    call this once before/after the conversion job; the ``partition``
    argument preserves the reference's gate semantics for callers that
    still carry a partition id (non-zero partitions no-op, returning 0).

    Raises ``FileNotFoundError`` when the derivatives folder is absent,
    like the reference. Returns the number of files uploaded."""
    if partition != 0:
        return 0
    src = os.path.join(input_source, "derivatives")
    if not os.path.isdir(src):
        raise FileNotFoundError(f"{src} does not exist.")
    return sync_dir(src, dest_url.rstrip("/") + "/derivatives")


def dtype_minmax(dtype: str) -> tuple[float, float]:
    """Channel display range from dtype (``czi_to_zarr.py:535-549``):
    integer dtypes use the type's range; floats use finfo."""
    d = np.dtype(dtype)
    if np.issubdtype(d, np.integer):
        info = np.iinfo(d)
        return float(info.min), float(info.max)
    finfo = np.finfo(d)
    return float(finfo.min), float(finfo.max)


def fusion_groups(
    stacks: dict[str, tuple[int, int, int]],
    depths: dict[str, int],
    chunk: tuple[int, int, int],
    factors: tuple[int, int, int],
    fused: int,
    planes: Collection[str] = (),
) -> list[tuple[str, int, int, int, int, int, int]]:
    """``(stack, z0, z1, y0, y1, x0, x1)`` regions on the grid of
    level-``m−1`` chunks, ``m = min(fused, stack depth)``: every chunk
    of levels ``< m`` lies inside one region, so one task can write
    those levels alone.  At ``m = 1`` a region is one level-0 tile.
    Stacks in ``planes`` (decoded slab by slab) take whole y×x planes,
    so each of their regions is a z-group whose slabs are decoded once."""
    out = []
    for name, shape in stacks.items():
        step = [c * f ** (min(fused, depths[name]) - 1) for c, f in zip(chunk, factors)]
        if name in planes:
            step[1:] = shape[1:]
        z, y, x = shape
        out += [
            (name, z0, min(z0 + step[0], z), y0, min(y0 + step[1], y), x0, min(x0 + step[2], x))
            for z0 in range(0, z, step[0])
            for y0 in range(0, y, step[1])
            for x0 in range(0, x, step[2])
        ]
    return out


def fusion_depth(
    stacks: dict[str, tuple[int, int, int]],
    chunk: tuple[int, int, int],
    factors: tuple[int, int, int],
    n_lvls: int,
    n_part: int,
    planes: Collection[str] = (),
) -> int:
    """Levels the level-0 task writes before its tiles leave it: the
    deepest ``D`` (at most the deepest stack's pyramid) whose regions
    (:func:`fusion_groups`)

    - still number at least ``min(n_part, level-0 regions)`` — slabs
      for stacks in ``planes``, tiles for the others — so fusing never
      takes level-0 parallelism the unfused stage had; and
    - keep a task's held pooled tiles within one decoded slab: at level
      ``j`` a task holds at most one chunk row of a plane, ``cz × Y_j ×
      X_j`` voxels (:func:`~.operators.blockwise.row_sorted`), so a
      stack needs ``Σ_{j=1}^{D−1} Y_j·X_j ≤ Y·X``.

    Derived from the geometry alone; no knob sets it."""
    _, fy, fx = factors
    depths = {n: pyramid_depth(s, factors, n_lvls) for n, s in stacks.items()}

    def n_groups(d: int) -> int:
        return len(fusion_groups(stacks, depths, chunk, factors, d, planes))

    def held_fits(d: int) -> bool:
        return all(
            sum((y // fy**j) * (x // fx**j) for j in range(1, min(d, depths[n])))
            <= y * x
            for n, (_, y, x) in stacks.items()
        )

    need = min(n_part, n_groups(1))
    d = 1
    while d < max(depths.values(), default=1) and n_groups(d + 1) >= need and held_fits(d + 1):
        d += 1
    return d


def place_groups(weights: list[int], n: int) -> list[int]:
    """Partition id per group, largest first: each group in turn goes to
    the least-loaded of ``n`` partitions (lowest id on ties), so no
    partition exceeds its fair share by more than one group."""
    loads = [0] * n
    pids = [0] * len(weights)
    for i in sorted(range(len(weights)), key=lambda i: -weights[i]):
        pids[i] = min(range(n), key=loads.__getitem__)
        loads[pids[i]] += weights[i]
    return pids


def _convert_pyramid(
    spark: SparkSession,
    settings: ZarrConversionSettings,
    stacks: dict[str, tuple[int, int, int]],
    dtype: str,
    paths: dict[str, str] | None = None,
    fault=None,
) -> dict[str, str]:
    """Fused pyramid write (the engine core behind every converter): one
    Spark job, one action.  The first stage writes levels ``0 … D−1``
    (:func:`fusion_depth`) of each region in the task that decodes it;
    each later stage writes one level of the stacks that go deeper.

    ``fault`` (None in production) is the chaos hook behind
    ``tools/chaos_probe.py``: called as ``fault(n, level)`` after each
    region write inside a task (``n`` = the task's region writes so far,
    ``level`` = the level just written) and as ``fault("pre_shard", n)``
    after its last chunk write, before its checksum shards — so the
    probe can kill first task attempts mid-write or in the
    chunks-durable / manifest-absent window and assert the retried
    job's trees are byte-equal to a clean run's (the idempotence
    contract the paragraph below claims).

    Group nodes and ``.zattrs`` must already exist; level arrays are
    initialized here (driver) and their metas ship to tasks via the
    closure — workers do zero ``.zarray`` GETs.

    Writes are chunk-aligned and byte-deterministic, so task retries /
    speculative duplicates are idempotent.

    ``paths`` maps stack names to CZI files: those stacks' level-0 tiles
    are born by the codec slab read (``sources.czi._read_slab_czifile``
    — czifile when installed, the vendored ZISRAW reader otherwise)
    instead of the synthetic ramp.  Their regions are whole-plane
    z-groups: a task walks each slab by slab, so every slab is decoded
    exactly once and all its tiles are cut from it — a y×x tile grid
    over per-plane subblocks would otherwise re-decode every plane once
    per tile (ruinous on mosaic-scale planes).  Synthetic tiles cost
    nothing to birth twice, so synthetic regions also split in y and x,
    down to one tile each when nothing is fused."""
    from .operators.blockwise import (
        assemble_chunks,
        block_tiles,
        chunk_sorted,
        pool_tiles,
        row_sorted,
        tile_batches,
    )
    from .sinks.zarr_sink import init_array, write_checksum_shard, write_region
    from .sources.czi import BLOCK_SCHEMA, _read_slab_czifile, synthetic_ramp_block

    base_chunk = cz, cy, cx = settings.chunk_size
    factors = fz, fy, fx = settings.scale_factor
    out_dir = settings.output_directory
    czi_paths = paths or {}

    depths = {
        n: pyramid_depth(s, factors, settings.downsample_levels)
        for n, s in stacks.items()
    }
    metas = {}
    for name, (z, y, x) in stacks.items():
        for lvl in range(depths[name]):
            metas[name, lvl] = init_array(
                os.path.join(out_dir, f"{name}.zarr", str(lvl)),
                (1, 1, z, y, x),
                (1, 1, min(cz, z), min(cy, y), min(cx, x)),
                dtype,
                settings.compressor_name,
                settings.compressor_kwargs,
            )
            z, y, x = z // fz, y // fy, x // fx

    n_part = min(64, max(4, spark.sparkContext.defaultParallelism))
    fused = fusion_depth(
        stacks, base_chunk, factors, settings.downsample_levels, n_part, czi_paths
    )
    groups = fusion_groups(stacks, depths, base_chunk, factors, fused, czi_paths)
    n_tasks = min(n_part, len(groups))
    pids = place_groups(
        [(z1 - z0) * (y1 - y0) * (x1 - x0) for _, z0, z1, y0, y1, x0, x1 in groups],
        n_tasks,
    )
    # only INDEX rows (one per region) enter the exchange: full-resolution
    # voxels are born in the task that writes them and never cross the
    # Python↔JVM Arrow boundary (~55 MiB/s per direction for multi-MB
    # binary rows — a gen→Arrow→write chain paid it twice)
    blocks = local_frame(
        spark,
        [(*g, pid) for g, pid in zip(groups, pids)],
        "stack_name string, z0 int, z1 int, y0 int, y1 int, x0 int, x1 int, pid int",
    ).repartitionById(n_tasks, "pid")

    def births(batches):
        """Level 0: BIRTH each tile of the task's regions (codec slab
        read or synthetic ramp) in z, y, x order."""
        for batch in batches:
            for row in batch.to_pylist():
                name = row["stack_name"]
                for z0 in range(row["z0"], row["z1"], cz):
                    z1 = min(z0 + cz, row["z1"])
                    slab = (
                        _read_slab_czifile(czi_paths[name], z0, z1)
                        if name in czi_paths
                        else None
                    )
                    for y0 in range(row["y0"], row["y1"], cy):
                        for x0 in range(row["x0"], row["x1"], cx):
                            y1, x1 = min(y0 + cy, row["y1"]), min(x0 + cx, row["x1"])
                            if slab is None:
                                core = synthetic_ramp_block(z0, z1, y0, y1, x0, x1, dtype)
                            else:
                                core = slab[:, y0:y1, x0:x1].astype(dtype, copy=False)
                            yield name, 0, 0, (z0, y0, x0), core[None, None]

    first, depth = 0, fused
    while True:

        def stage(batches, _first=first, _depth=depth):
            """Birth (level 0) or assemble (later levels) the task's
            tiles, then write levels ``_first … _first+_depth−1``,
            stitching each pooled level into chunks inside the task;
            emit the pooled tiles of the stacks that go deeper."""
            # chunk digests per array, flushed as ONE manifest shard per
            # (task, array) after all of this task's chunks are durable
            digests: dict[str, dict[str, str]] = {}
            n_written = 0

            def written(tiles, lvl):
                nonlocal n_written
                for name, t, c, origin, arr in tiles:
                    url = os.path.join(out_dir, f"{name}.zarr", str(lvl))
                    write_region(
                        url,
                        (t, c, *origin),
                        arr,
                        meta=metas[name, lvl],
                        record=digests.setdefault(url, {}),
                    )
                    n_written += 1
                    if fault is not None:
                        fault(n_written, lvl)
                    if lvl + 1 < depths[name]:
                        yield name, t, c, origin, arr

            tiles = (
                births(batches)
                if _first == 0
                else assemble_chunks(block_tiles(batches), base_chunk)
            )
            for lvl in range(_first, _first + _depth):
                tiles = pool_tiles(written(tiles, lvl), factors)
                if lvl + 1 < _first + _depth:
                    tiles = assemble_chunks(row_sorted(tiles, base_chunk), base_chunk)
            yield from tile_batches(tiles)
            if fault is not None:
                fault("pre_shard", n_written)
            for url, rec in digests.items():
                write_checksum_shard(url, rec)

        pooled = blocks.mapInArrow(stage, BLOCK_SCHEMA)
        first += depth
        if first >= max(depths.values()):
            # ONE action executes the whole chain (every level's writes);
            # the last stage emits no tile, so collecting it adds no
            # exchange or task after the writes
            pooled.collect()
            break
        # the level-`first` tiles of the deeper stacks exchange onto the
        # base chunk grid; each later stage writes one level
        blocks, depth = chunk_sorted(pooled, base_chunk), 1
    return {n: os.path.join(out_dir, f"{n}.zarr") for n in stacks}


def convert_czi_stack(
    spark: SparkSession,
    settings: ZarrConversionSettings,
    path: str,
    stack_name: str | None = None,
    voxel_size: tuple[float, float, float] = (1.0, 1.0, 1.0),
    origin: tuple[float, float, float] | None = None,
) -> str:
    """Convert one real CZI file to a multiscale OME-Zarr group — the
    reference's core capability (``czi_to_zarr.py:457-653``) end to end
    on actual ZISRAW binary input. Extents and dtype come from the
    file's subblock directory; level-0 tiles are decoded by czifile when
    installed, else the vendored ZISRAW reader (uncompressed stacks).
    Returns the group path."""
    from .sources.zisraw import stack_info

    name = stack_name or os.path.splitext(os.path.basename(path))[0]
    shape, dtype = stack_info(path)
    return _convert_stacks(
        spark, settings, {name: shape}, dtype, voxel_size, False,
        paths={name: path}, origin=origin,
    )[name]


def convert_synthetic_stack(
    spark: SparkSession,
    settings: ZarrConversionSettings,
    stack_name: str,
    z_extent: int,
    y: int,
    x: int,
    voxel_size: tuple[float, float, float] = (1.0, 1.0, 1.0),
    origin: tuple[float, float, float] | None = None,
    dtype: str = "uint16",
) -> str:
    """Convert one deterministic-ramp stack to a multiscale OME-Zarr
    group and return the group path."""
    return _convert_stacks(
        spark, settings, {stack_name: (z_extent, y, x)}, dtype, voxel_size,
        False, paths=None, origin=origin,
    )[stack_name]


#: stack-completion sentinel (the Hadoop ``_SUCCESS`` convention): written
#: into the group directory after every pyramid level of that stack is
#: durable. Zarr readers ignore unknown keys.
SUCCESS_MARKER = "_SUCCESS"


def stack_is_complete(group_url: str) -> bool:
    """True when ``group_url`` carries the completion sentinel."""
    from .sinks.store import resolve

    store, path = resolve(group_url)
    return store.exists(store.join(path, SUCCESS_MARKER))


def _mark_complete(group_url: str) -> None:
    from .sinks.store import resolve

    store, path = resolve(group_url)
    store.write_bytes(store.join(path, SUCCESS_MARKER), b"")


def convert_synthetic_stacks(
    spark: SparkSession,
    settings: ZarrConversionSettings,
    stacks: dict[str, tuple[int, int, int]],
    voxel_size: tuple[float, float, float] = (1.0, 1.0, 1.0),
    dtype: str = "uint16",
    resume: bool = False,
) -> dict[str, str]:
    """Convert MANY stacks in ONE Spark job — the Spark-first
    restatement of the reference's outer loop.

    The reference converts stacks sequentially per SLURM node
    (``zeiss_job.py:133-157``: ``for stack: czi_stack_zarr_writer``),
    so a node with one big stack straggles while others idle. Here the
    regions of every stack concatenate into one index, placed
    largest-first across all partitions — work balances at region
    granularity, not stack granularity.

    ``stacks`` maps stack_name → (z, y, x) extents. Returns name → group
    path. Per-stack array routing happens inside the sink task (the
    array path derives from ``stack_name``).

    Restart semantics, the 100-TB operational story:

    - WITHIN a job, chunk writes are chunk-aligned and byte-deterministic,
      so Spark task retries and speculative duplicates are idempotent.
    - ACROSS jobs, each stack's group gets a ``_SUCCESS`` sentinel after
      all its levels are durable; ``resume=True`` skips sentinel-carrying
      stacks entirely (no metadata rewrite, no voxel rewrite) and
      reconverts only the rest — a killed 10,000-stack conversion restarts
      at the granularity the reference's per-stack outer loop would,
      without its per-node bookkeeping. A stack with partial data but no
      sentinel is reconverted from scratch, which the deterministic chunk
      writes make safe.
    """
    return _convert_stacks(
        spark, settings, stacks, dtype, voxel_size, resume, paths=None
    )


def convert_czi_stacks(
    spark: SparkSession,
    settings: ZarrConversionSettings,
    paths: dict[str, str],
    voxel_size: tuple[float, float, float] = (1.0, 1.0, 1.0),
    resume: bool = False,
) -> dict[str, str]:
    """Convert MANY real CZI files in ONE fused Spark job —
    :func:`convert_synthetic_stacks`' scheduling story (z-groups of
    every stack spread across all partitions; the reference's per-node
    stack loop straggles on its largest stack) applied to actual ZISRAW
    input, with the same ``_SUCCESS``/``resume`` restart semantics.

    ``paths`` maps stack_name → CZI file. Extents and dtype come from
    each file's subblock directory; one acquisition = one dtype (mixed
    dtypes raise — the level arrays of a fused job share a type)."""
    from .sources.zisraw import stack_info

    stacks: dict[str, tuple[int, int, int]] = {}
    dtypes: dict[str, str] = {}
    for name, path in paths.items():
        stacks[name], dtypes[name] = stack_info(path)
    if len(set(dtypes.values())) > 1:
        raise ValueError(f"mixed stack dtypes in one conversion: {dtypes}")
    dtype = next(iter(dtypes.values())) if dtypes else "uint16"
    return _convert_stacks(
        spark, settings, stacks, dtype, voxel_size, resume, paths=paths
    )


def _convert_stacks(
    spark: SparkSession,
    settings: ZarrConversionSettings,
    stacks: dict[str, tuple[int, int, int]],
    dtype: str,
    voxel_size: tuple[float, float, float],
    resume: bool,
    paths: dict[str, str] | None,
    origin: tuple[float, float, float] | None = None,
) -> dict[str, str]:
    """The one conversion path behind the four public converters:
    ``.zattrs`` for every stack still to do, then the fused pyramid
    (:func:`_convert_pyramid`), then each stack's ``_SUCCESS``.
    ``origin`` (single-stack converters only) shifts the multiscales
    translations."""
    cz, cy, cx = settings.chunk_size
    fz, fy, fx = settings.scale_factor
    n_lvls = settings.downsample_levels
    out_dir = settings.output_directory
    if urlparse(out_dir).scheme == "memory":
        # MemoryStore is process-local: chunks written inside Spark
        # python workers would land in worker dicts and silently vanish
        raise ValueError(
            "memory:// stores are driver-side test doubles and cannot back "
            "a distributed write; use a file:// or object-store URL"
        )

    group_paths: dict[str, str] = {}
    todo: dict[str, tuple[int, int, int]] = {}
    for name, (z, y, x) in stacks.items():
        group = os.path.join(out_dir, f"{name}.zarr")
        group_paths[name] = group
        if resume and stack_is_complete(group):
            continue
        todo[name] = (z, y, x)

    minmax = dtype_minmax(dtype)
    for name, (z, y, x) in todo.items():
        group = group_paths[name]
        init_group(group)
        # ome/ngff metadata first (same order as czi_to_zarr.py:562-576);
        # per-stack clamp BEFORE it: a small stack's .zattrs lists only
        # the levels its own floor pyramid reaches (the write loop's filter)
        stack_lvls = pyramid_depth((z, y, x), (fz, fy, fx), n_lvls)
        attrs = {
            "omero": build_omero(
                (1, 1, z, y, x),
                name,
                channel_names=[name],
                channel_minmax=[minmax],
                # fixed display window, czi_to_zarr.py:553-555
                channel_startend=[(0.0, 550.0)],
            ),
            **build_multiscales(
                (1, 1, z, y, x), (1, 1, cz, cy, cx), name, stack_lvls,
                (fz, fy, fx), voxel_size, origin=origin,
            ),
        }
        validate_multiscales(attrs)
        write_attrs(group, attrs)

    if todo:
        # the fused one-job pyramid writer (per-stack depth clamp
        # included); chunks never shrink with the pyramid — the constant
        # base chunk at every level, like the reference's
        # create_dataset(chunks=final_chunksize), czi_to_zarr.py:630-640
        _convert_pyramid(
            spark,
            settings,
            todo,
            dtype,
            paths={n: p for n, p in (paths or {}).items() if n in todo} or None,
        )
        for name in todo:
            _mark_complete(group_paths[name])
    return group_paths
