"""End-to-end stack → multiscale OME-Zarr conversion — the engine twin of
``ZeissCompressionJob.run_job`` + ``czi_stack_zarr_writer``
(``zeiss_job.py:207-226``, ``czi_to_zarr.py:457-653``), orchestrated as
Spark stages instead of SLURM partitions:

stage 0   block-index relation (all stacks at once — the scheduler
          replaces ``num_of_partitions``/``partition_to_process``),
          exploded in the JVM from an Arrow-built ``LocalTableScan``
          catalog; only INDEX rows (bounds, no payload) enter the exchange
stage 1   one ``mapInArrow`` that BIRTHS each level-0 tile (codec slab
          read or synthetic ramp), writes its zarr region, and EMITS the
          windowed-mean-pooled tile — one Python runner per task
stage k   pooled tiles exchange and sort by target base chunk in the JVM
          (``blockwise.chunk_sorted``); one ``mapInArrow`` per task
          stitches each chunk, writes level k and emits level k+1
finally   OME-NGFF group metadata (omero + multiscales, driver-side)

The whole pyramid is ONE Spark job driven by one action: shuffle
boundaries between levels materialize each (8×-smaller) level exactly
once, replacing the reference's per-level write-then-read-back
(``czi_to_zarr.py:623-635``, SURVEY §4 X7).  The fusion matters at both
ends of the scale: full-resolution voxels NEVER cross the Python↔JVM
Arrow boundary (measured ~55 MiB/s per direction for multi-MB binary
rows; a separate read stage feeding the write stage paid it twice and
capped the 2 GiB local benchmark at ~30 MiB/s — fusing gen into the
write stage lifted it to ~115 MiB/s), and at 100 TB level 0 never
shuffles at all: only the 8×-smaller pooled tiles do.  Each Python
runner costs ~0.2 s of CPU to start (SCALING.md, "Known bounded worst
cases"), so no stage starts one it could leave to the JVM.
"""

from __future__ import annotations

import os
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


def _convert_pyramid(
    spark: SparkSession,
    settings: ZarrConversionSettings,
    stacks: dict[str, tuple[int, int, int]],
    dtype: str,
    paths: dict[str, str] | None = None,
    fault=None,
) -> dict[str, str]:
    """Fused leveled pyramid write (the engine core behind every
    converter): one Spark job, one action; each stage writes level k
    for every still-alive stack AND emits the pooled level k+1 tiles.

    ``fault`` (None in production) is the chaos hook behind
    ``tools/chaos_probe.py``: called as ``fault(n)`` after each region
    write inside a task (``n`` = the task's region writes so far) and
    as ``fault("pre_shard", n)`` after its last chunk write, before its
    checksum shards — so the probe can kill first task attempts
    mid-write or in the chunks-durable / manifest-absent window and
    assert the retried job's trees are byte-equal to a clean run's (the
    idempotence contract the paragraph below claims).

    Group nodes and ``.zattrs`` must already exist; level arrays are
    initialized here (driver) and their metas ship to tasks via the
    closure — workers do zero ``.zarray`` GETs.

    Writes are chunk-aligned and byte-deterministic, so task retries /
    speculative duplicates are idempotent (the same guarantee the
    unfused design relied on).

    ``paths`` maps stack names to CZI files: those stacks' level-0 tiles
    are born by the codec slab read (``sources.czi._read_slab_czifile``
    — czifile when installed, the vendored ZISRAW reader otherwise)
    instead of the synthetic ramp. Their tile rows are co-partitioned
    and sorted by (stack, z-slab) so one task owns all tiles of a slab
    consecutively and a single-entry per-worker cache decodes each slab
    exactly once — without it, a y×x tile grid over per-plane subblocks
    re-decodes every plane once per tile (ruinous on mosaic-scale
    planes)."""
    from .operators.blockwise import (
        assemble_chunks,
        block_tiles,
        chunk_sorted,
        pool_batches,
    )
    from .sinks.zarr_sink import init_array, write_checksum_shard, write_region
    from .sources.czi import (
        BLOCK_SCHEMA,
        _read_slab_czifile,
        block_index,
        synthetic_ramp_block,
    )

    cz, cy, cx = settings.chunk_size
    fz, fy, fx = settings.scale_factor
    out_dir = settings.output_directory
    base_chunk = (cz, cy, cx)

    depths = {
        n: pyramid_depth((z, y, x), (fz, fy, fx), settings.downsample_levels)
        for n, (z, y, x) in stacks.items()
    }
    shapes = {n: [1, 1, z, y, x] for n, (z, y, x) in stacks.items()}

    catalog = local_frame(
        spark,
        [(n, z, y, x) for n, (z, y, x) in stacks.items()],
        "stack_name string, z_extent int, y_extent int, x_extent int",
    )
    n_part = min(64, max(4, spark.sparkContext.defaultParallelism))
    # level 0 streams the INDEX (tiny rows), not materialized payloads:
    # the write stage below births each tile in the same Python worker
    # that writes it, so full-resolution voxels never cross the
    # Python↔JVM Arrow boundary at all (measured ~55 MiB/s per direction
    # for multi-MB binary rows — a gen→Arrow→write chain paid it twice
    # and was the end-to-end bottleneck).
    if paths:
        # slab-locality layout (see docstring): every tile of one
        # (stack, z0) slab lands in the same task, in y/x order
        blocks = (
            block_index(catalog, base_chunk)
            .repartition(n_part, "stack_name", "z0")
            .sortWithinPartitions("stack_name", "z0", "y0", "x0")
        )
    else:
        blocks = block_index(catalog, base_chunk).repartition(n_part)

    czi_paths = paths or {}

    def births(batches):
        """Level 0: BIRTH each tile (synthetic ramp / codec read) in the
        task that writes it — no Arrow crossing for full-res voxels."""
        slab_cache: list = [None, None]  # [(path, z0), decoded slab]
        for batch in batches:
            for row in batch.to_pylist():
                name = row["stack_name"]
                z0, y0, x0 = row["z0"], row["y0"], row["x0"]
                if name in czi_paths:
                    key = (czi_paths[name], z0)
                    if slab_cache[0] != key:
                        slab_cache[0] = key
                        slab_cache[1] = _read_slab_czifile(key[0], z0, row["z1"])
                    core = slab_cache[1][
                        :, y0 : row["y1"], x0 : row["x1"]
                    ].astype(dtype, copy=False)
                else:
                    core = synthetic_ramp_block(
                        z0, row["z1"], y0, row["y1"], x0, row["x1"], dtype
                    )
                yield name, 0, 0, (z0, y0, x0), core[None, None]

    for lvl in range(max(depths.values())):
        alive = {n: s for n, s in shapes.items() if lvl < depths[n]}
        metas = {
            n: init_array(
                os.path.join(out_dir, f"{n}.zarr", str(lvl)),
                tuple(s),
                (1, 1, min(cz, s[2]), min(cy, s[3]), min(cx, s[4])),
                dtype,
                settings.compressor_name,
                settings.compressor_kwargs,
            )
            for n, s in alive.items()
        }
        pool = frozenset(n for n in alive if lvl + 1 < depths[n])

        def write_and_pool(
            batches,
            _out=out_dir,
            _lvl=str(lvl),
            _metas=metas,
            _pool=pool,
            _first=(lvl == 0),
            _fault=fault,
        ):
            # per-array chunk digests, flushed as ONE manifest shard per
            # (task, array) after all of this task's chunks are durable
            digests: dict[str, dict[str, str]] = {}
            n_written = 0

            def written(tiles):
                nonlocal n_written
                for name, t, c, origin, arr in tiles:
                    write_region(
                        os.path.join(_out, f"{name}.zarr", _lvl),
                        (t, c, *origin),
                        arr,
                        meta=_metas[name],
                        record=digests.setdefault(name, {}),
                    )
                    n_written += 1
                    if _fault is not None:
                        _fault(n_written)
                    if name in _pool:
                        yield name, t, c, origin, arr

            tiles = (
                births(batches)
                if _first
                else assemble_chunks(block_tiles(batches), base_chunk)
            )
            yield from pool_batches(written(tiles), (fz, fy, fx))
            if _fault is not None:
                _fault("pre_shard", n_written)
            for name, rec in digests.items():
                write_checksum_shard(os.path.join(_out, f"{name}.zarr", _lvl), rec)

        pooled = blocks.mapInArrow(write_and_pool, BLOCK_SCHEMA)
        if not pool:
            # last level for every stack: ONE action executes the whole
            # fused chain (all levels' writes)
            pooled.count()
            break
        # the (8x smaller) pooled tiles exchange onto the base chunk grid;
        # the next level's task assembles each chunk, writes and pools it
        blocks = chunk_sorted(pooled, base_chunk)
        shapes = {
            n: [1, 1, s[2] // fz, s[3] // fy, s[4] // fx]
            for n, s in shapes.items()
        }
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
    """Convert MANY stacks in ONE Spark job per pyramid level — the
    Spark-first restatement of the reference's outer loop.

    The reference converts stacks sequentially per SLURM node
    (``zeiss_job.py:133-157``: ``for stack: czi_stack_zarr_writer``),
    so a node with one big stack straggles while others idle. Here the
    block index of every stack concatenates into one DataFrame and the
    scheduler interleaves tiles of all stacks across all cores — work
    balances at tile granularity, not stack granularity.

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
    """Convert MANY real CZI files in ONE fused Spark job per pyramid
    level — :func:`convert_synthetic_stacks`' scheduling story (tiles of
    every stack interleave across all cores; the reference's per-node
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
