"""Zarr v2 sink written from Spark tasks (SURVEY §2.2 K1/K2; §3.2
restatement of ``czi_stack_zarr_writer``'s store loop,
``czi_to_zarr.py:585-608``).

This is a self-contained zarr v2 writer (the format is JSON metadata +
one compressed C-order file per chunk): no ``zarr`` package needed. The
stdlib ``zlib`` codec is a registered zarr v2 codec; Blosc-zstd (the
reference default, ``models.py:52-56``) plugs in via numcodecs when
available — see ``codecs.py``. ``dimension_separator="/"`` matches the
reference (``czi_to_zarr.py:592``).

Every path argument is a URL resolved through ``sinks.store`` — plain /
``file://`` paths, ``memory://`` (tests), or ``s3://``-style object
stores via fsspec (replacing the reference's local-write-then-
``aws s3 sync``, K6–K8: tasks on a 1000-executor cluster PUT chunks
directly; S3 object writes are atomic per key).

Concurrency model: block rows are chunk-aligned, so concurrent tasks
write disjoint chunk files — the same non-overlapping-regions guarantee
the reference relies on, minus its per-block serialization
(``zarr_writer.py:196-213``), because Spark's scheduler already bounds
in-flight work (SURVEY §4 X4).
"""

from __future__ import annotations

import hashlib
import json
from typing import Any, Iterable

import numpy as np

from ..plans.blocks import gen_slices
from ..session import local_frame
from .codecs import compress, decompress, make_compressor_meta
from .store import resolve

ZARR_FORMAT = 2

#: per-array integrity manifest directory (this sink's extension — the
#: zarr v2 format itself stores chunks with NO checksum, so a mid-frame
#: compressed-literal bit flip can decompress silently; the reference
#: inherits the same hole, ``zarr_writer.py:188-213``). Standard zarr
#: readers ignore unknown keys, so the manifest is invisible to them.
CHECKSUM_DIR = ".zchecksums"


def chunk_digest(raw: bytes) -> str:
    """64-bit content digest of a chunk's stored (compressed) bytes.

    ``blake2b(digest_size=8)``: stdlib, C-speed (~1 GiB/s — noise next
    to the zstd encode that produced the bytes), and 64 bits is the
    same integrity budget an xxhash64 manifest would carry. Hashing the
    COMPRESSED bytes means verification needs no decompression."""
    return hashlib.blake2b(raw, digest_size=8).hexdigest()


def write_checksum_shard(url: str, checksums: dict[str, str]) -> None:
    """Persist one task's chunk digests as a manifest SHARD under the
    array's ``.zchecksums/`` key space — one small PUT per task, never
    per chunk. Shard names are CONTENT-ADDRESSED (digest of the
    serialized payload): concurrent tasks write distinct names, while a
    retried or speculative duplicate attempt — whose chunk writes are
    byte-deterministic and therefore whose digests agree — re-writes
    the SAME object with the SAME bytes, keeping the whole output tree
    byte-identical across retries (the chaos probe's tree-hash
    equality contract). Merge-on-read is a plain dict union."""
    if not checksums:
        return
    payload = json.dumps(checksums, sort_keys=True).encode()
    store, path = resolve(url)
    cdir = store.join(path, CHECKSUM_DIR)
    store.makedirs(cdir)
    store.write_bytes(
        store.join(
            cdir,
            f"{hashlib.blake2b(payload, digest_size=16).hexdigest()}.json",
        ),
        payload,
    )


def read_checksums(url: str) -> dict[str, str] | None:
    """Merge an array's manifest shards into one chunk-key → digest map;
    ``None`` when the array carries no manifest (e.g. written by a
    foreign zarr writer). A shard torn by a killed task attempt fails
    JSON parsing as a whole and is skipped — its retry re-wrote a
    complete shard with identical digests, and the verifier separately
    requires every chunk to be covered, so a skipped shard can never
    hide corruption.

    Two shards carrying CONFLICTING digests for the same chunk key
    raise instead of resolving in shard-name order (r12 advisor): the
    whole retry-idempotence story rests on chunk writes being
    byte-deterministic, so a conflict means either that assumption was
    violated or an array was rewritten in place without
    ``init_array`` — both must fail loudly, not verify
    nondeterministically against whichever shard sorted last."""
    store, path = resolve(url)
    cdir = store.join(path, CHECKSUM_DIR)
    names = store.list_dir(cdir)
    if not names:
        return None
    merged: dict[str, str] = {}
    for name in names:
        if not name.endswith(".json"):
            continue
        try:
            shard = json.loads(store.read_bytes(store.join(cdir, name)))
        except (json.JSONDecodeError, UnicodeDecodeError):
            continue
        if not isinstance(shard, dict):
            continue
        for key, digest in shard.items():
            have = merged.get(key)
            if have is not None and have != digest:
                raise ValueError(
                    f"{url}: chunk {key} has CONFLICTING manifest "
                    f"digests across shards ({have} vs {digest}) — "
                    "either the array was rewritten without init_array "
                    "or a retry broke the byte-determinism the "
                    "manifest relies on; treat the array as suspect"
                )
            merged[key] = digest
    return merged or None


def _clear_checksums(store, path: str) -> None:
    """Drop any existing manifest shards — called by ``init_array`` so
    an array RE-CREATED at the same URL never inherits stale digests
    from its previous incarnation."""
    cdir = store.join(path, CHECKSUM_DIR)
    for name in store.list_dir(cdir):
        store.delete(store.join(cdir, name))


def verify_array_checksums(url: str) -> int:
    """Recompute every chunk file's digest against the manifest — the
    store-side integrity scrub (run it after a transfer, before a
    delete-the-source step). Raises on a missing manifest, a chunk
    without an entry, a digest mismatch, or a manifest entry whose
    chunk FILE is gone (a written chunk lost in transfer must fail the
    scrub — a never-written chunk has no manifest entry and is
    legitimately fill-value); returns the number of chunks verified."""
    store, path = resolve(url)
    manifest = read_checksums(url)
    if manifest is None:
        raise ValueError(f"{url}: no checksum manifest to verify against")
    meta = _array_meta(url, store, path)
    n = 0
    seen: set[str] = set()
    for sl in gen_slices(tuple(meta["shape"]), tuple(meta["chunks"])):
        idx = [s.start // c for s, c in zip(sl, meta["chunks"])]
        key = "/".join(str(i) for i in idx)
        chunk_file = store.join(path, *[str(i) for i in idx])
        if not store.exists(chunk_file):
            continue
        seen.add(key)
        _verify_chunk(store.read_bytes(chunk_file), key, manifest, url)
        n += 1
    lost = sorted(set(manifest) - seen)
    if lost:
        raise ValueError(
            f"{url}: {len(lost)} manifest entr"
            f"{'y has' if len(lost) == 1 else 'ies have'} no chunk file "
            f"(first: {lost[0]}) — written chunks were lost after write"
        )
    return n


def scrub_group(group_url: str) -> dict[str, int]:
    """Integrity-scrub every level array of an OME-Zarr group (the
    post-transfer / pre-source-delete check an operator runs on a
    converted stack): returns ``{level: chunks_verified}`` and raises on
    the first missing manifest, uncovered chunk, or digest mismatch.
    Levels are the numeric child keys the multiscales metadata points
    at."""
    store, path = resolve(group_url)
    levels = [n for n in store.list_dir(path) if n.isdigit()]
    if not levels:
        raise ValueError(f"{group_url}: no level arrays to scrub")
    return {
        lvl: verify_array_checksums(
            group_url.rstrip("/") + "/" + lvl
        )
        for lvl in sorted(levels, key=int)
    }


def _scrub_work_list(group_url: str) -> tuple[list, dict[str, int]]:
    """Driver-side half of the distributed scrub: per level, merge the
    manifest, enforce both coverage directions (every manifest entry
    has a chunk file, every chunk file a manifest entry), and emit the
    ``(array_url, chunk_key, want_digest)`` rows whose byte re-reads
    the Spark tasks will do. Cheap relative to the data: metadata-only
    (one LIST per chunk dir, no chunk bytes touched)."""
    store, path = resolve(group_url)
    levels = [n for n in store.list_dir(path) if n.isdigit()]
    if not levels:
        raise ValueError(f"{group_url}: no level arrays to scrub")
    rows: list[tuple[str, str, str]] = []
    expected: dict[str, int] = {}
    for lvl in sorted(levels, key=int):
        url = group_url.rstrip("/") + "/" + lvl
        manifest = read_checksums(url)
        if manifest is None:
            raise ValueError(f"{url}: no checksum manifest to verify against")
        meta = _array_meta(url, store, store.join(path, lvl))
        seen: set[str] = set()
        for sl in gen_slices(tuple(meta["shape"]), tuple(meta["chunks"])):
            idx = [s.start // c for s, c in zip(sl, meta["chunks"])]
            key = "/".join(str(i) for i in idx)
            if store.exists(store.join(path, lvl, *[str(i) for i in idx])):
                seen.add(key)
        lost = sorted(set(manifest) - seen)
        if lost:
            raise ValueError(
                f"{url}: {len(lost)} manifest entr"
                f"{'y has' if len(lost) == 1 else 'ies have'} no chunk "
                f"file (first: {lost[0]}) — written chunks were lost "
                "after write"
            )
        for key in sorted(seen):
            want = manifest.get(key)
            if want is None:
                raise ValueError(
                    f"{url}: chunk {key} has no checksum manifest entry "
                    "(incomplete manifest — treat the array as suspect)"
                )
            rows.append((url, key, want))
        expected[lvl] = len(seen)
    return rows, expected


def scrub_group_spark(
    spark, group_url: str, parallelism: int | None = None
) -> dict[str, int]:
    """Distributed :func:`scrub_group`: same contract, Spark-scale.

    The driver-side scrub re-reads and re-hashes every chunk serially —
    fine for one stack, a non-starter for a 100-TB transfer scrub. Here
    the driver builds the work list (cheap: manifests + per-level chunk
    EXISTENCE, both coverage directions enforced before any byte is
    read), then Spark tasks re-read and re-hash the chunk bytes in
    parallel; per-chunk verdicts reduce to a count. Raises on the first
    lost chunk, uncovered chunk, or digest mismatch, like the serial
    scrub; returns ``{level: chunks_verified}``.

    For a FLEET of converted stacks use :func:`scrub_groups_spark` —
    one Spark job over every group, so per-job overhead amortizes
    across the whole transfer instead of repeating per stack.
    """
    per_group = scrub_groups_spark(spark, [group_url], parallelism)
    return per_group[group_url]


def scrub_groups_spark(
    spark, group_urls: list[str], parallelism: int | None = None
) -> dict[str, dict[str, int]]:
    """Scrub MANY OME-Zarr groups in one Spark job (the post-transfer
    shape: hundreds of converted stacks verified before the sources are
    deleted). Returns ``{group_url: {level: chunks_verified}}``; raises
    on the first integrity failure anywhere in the fleet."""
    rows: list[tuple[str, str, str]] = []
    expected: dict[str, dict[str, int]] = {}
    for group_url in group_urls:
        grows, gexpected = _scrub_work_list(group_url)
        rows.extend(grows)
        expected[group_url] = gexpected

    def verify_batches(batches: Iterable[Any]):
        import pyarrow as pa

        for batch in batches:
            urls = batch.column("url").to_pylist()
            keys = batch.column("key").to_pylist()
            wants = batch.column("want").to_pylist()
            errs = []
            for u, k, w in zip(urls, keys, wants):
                st, pth = resolve(u)
                got = chunk_digest(
                    st.read_bytes(st.join(pth, *k.split("/")))
                )
                if got != w:
                    errs.append(f"{u}: chunk {k} stored {w}, recomputed {got}")
            yield pa.RecordBatch.from_pydict(
                {
                    "n": [batch.num_rows],
                    "errors": [errs],
                },
                schema=pa.schema(
                    [("n", pa.int64()), ("errors", pa.list_(pa.string()))]
                ),
            )

    df = local_frame(spark, rows, "url string, key string, want string")
    if parallelism:
        df = df.repartition(parallelism)
    out = df.mapInArrow(
        verify_batches, "n long, errors array<string>"
    ).collect()
    errors = [e for r in out for e in r.errors]
    if errors:
        raise ValueError(
            f"{len(errors)} chunk(s) failed checksum verification — "
            f"first: {errors[0]}"
        )
    n_verified = sum(r.n for r in out)
    n_expected = sum(
        n for per_level in expected.values() for n in per_level.values()
    )
    if n_verified != n_expected:  # pragma: no cover
        raise ValueError(
            f"scrub verified {n_verified} chunks but the work list had "
            f"{n_expected}"
        )
    return expected


def _verify_chunk(
    raw: bytes, key: str, manifest: dict[str, str], url: str
) -> None:
    want = manifest.get(key)
    if want is None:
        raise ValueError(
            f"{url}: chunk {key} has no checksum manifest entry "
            "(incomplete manifest — treat the array as suspect)"
        )
    got = chunk_digest(raw)
    if got != want:
        raise ValueError(
            f"{url}: chunk {key} failed checksum verification "
            f"(stored {want}, recomputed {got}) — the chunk bytes were "
            "corrupted after write"
        )


def _dtype_descr(dtype: np.dtype) -> str:
    d = np.dtype(dtype)
    return d.str  # e.g. '<u2'


def init_group(url: str, attrs: dict[str, Any] | None = None) -> None:
    """Create a zarr group: ``.zgroup`` + optional ``.zattrs``."""
    store, path = resolve(url)
    store.makedirs(path)
    store.write_bytes(
        store.join(path, ".zgroup"),
        json.dumps({"zarr_format": ZARR_FORMAT}).encode(),
    )
    if attrs is not None:
        write_attrs(url, attrs)


def write_attrs(url: str, attrs: dict[str, Any]) -> None:
    """Write/overwrite a node's ``.zattrs`` (metadata doc, K5)."""
    store, path = resolve(url)
    store.makedirs(path)
    store.write_bytes(
        store.join(path, ".zattrs"), json.dumps(attrs, indent=2).encode()
    )


def init_array(
    url: str,
    shape: tuple[int, ...],
    chunks: tuple[int, ...],
    dtype: str | np.dtype,
    compressor: str = "zlib",
    compressor_kwargs: dict[str, Any] | None = None,
    fill_value: int | float = 0,
) -> dict[str, Any]:
    """Create a zarr v2 array node (``.zarray``), chunked and compressed —
    the ``create_dataset`` analog (``czi_to_zarr.py:585-593``). Returns the
    metadata dict so callers can ship it to write tasks (see
    ``write_region``'s ``meta`` parameter)."""
    if len(shape) != len(chunks):
        raise ValueError(f"rank mismatch: shape {shape} vs chunks {chunks}")
    store, path = resolve(url)
    store.makedirs(path)
    meta = {
        "zarr_format": ZARR_FORMAT,
        "shape": list(shape),
        "chunks": list(chunks),
        "dtype": _dtype_descr(np.dtype(dtype)),
        "compressor": make_compressor_meta(compressor, compressor_kwargs),
        "fill_value": fill_value,
        "order": "C",
        "filters": None,
        "dimension_separator": "/",
    }
    store.write_bytes(store.join(path, ".zarray"), json.dumps(meta).encode())
    _clear_checksums(store, path)
    return meta


def _array_meta(url: str, store, path: str) -> dict[str, Any]:
    return json.loads(store.read_bytes(store.join(path, ".zarray")))


def write_region(
    url: str,
    region_offset: tuple[int, ...],
    data: np.ndarray,
    meta: dict[str, Any] | None = None,
    record: dict[str, str] | None = None,
) -> None:
    """Write an ndarray into the array at ``region_offset`` — the
    ``pyramid_group[..., zslice, :, :] = block`` analog
    (``czi_to_zarr.py:596-608``).

    The region must be chunk-aligned on every axis (its offset a multiple
    of the chunk, its extent either a chunk multiple or reaching the array
    edge) so concurrent writers never touch the same chunk file.

    Distributed writers pass ``meta`` (the dict ``init_array`` returned)
    through the task closure: the driver that created the array ships the
    authoritative geometry, so workers do ZERO ``.zarray`` GETs — at
    object-store scale a per-write re-read is billions of redundant GETs,
    while a per-process cache can serve stale geometry after an array is
    re-created at the same URL on long-lived executors. Shipping the meta
    eliminates both failure modes. Without ``meta`` (driver-side /
    test-scale callers), the metadata is read fresh per call.

    ``record``, when given, collects each written chunk's digest
    (chunk key → :func:`chunk_digest` of the stored bytes) so the
    caller can persist ONE manifest shard per task via
    :func:`write_checksum_shard` — per-chunk manifest PUTs would
    double the object count."""
    store, path = resolve(url)
    if meta is None:
        meta = _array_meta(url, store, path)
    shape, chunks = meta["shape"], meta["chunks"]
    dtype = np.dtype(meta["dtype"])
    comp = meta["compressor"]
    if data.ndim != len(shape):
        raise ValueError(f"rank mismatch: data {data.shape} vs array {shape}")
    for off, ext, c, s in zip(region_offset, data.shape, chunks, shape):
        if off % c != 0:
            raise ValueError(f"region offset {region_offset} not chunk-aligned to {chunks}")
        if ext % c != 0 and off + ext != s:
            raise ValueError(
                f"region extent {data.shape} neither chunk-multiple nor flush "
                f"with array edge {shape}"
            )
    # split the region into chunk tiles; pad edge tiles to full chunk shape
    for sl in gen_slices(tuple(data.shape), tuple(chunks)):
        tile = data[sl]
        if tile.shape != tuple(chunks):
            padded = np.full(tuple(chunks), meta["fill_value"], dtype=dtype)
            padded[tuple(slice(0, e) for e in tile.shape)] = tile
            tile = padded
        chunk_idx = [
            (off + s.start) // c for off, s, c in zip(region_offset, sl, chunks)
        ]
        raw = compress(np.ascontiguousarray(tile, dtype=dtype).tobytes(), comp)
        key_parts = [str(i) for i in chunk_idx]
        chunk_dir = store.join(path, *key_parts[:-1]) if key_parts[:-1] else path
        store.makedirs(chunk_dir)
        store.write_bytes(store.join(chunk_dir, key_parts[-1]), raw)
        if record is not None:
            record["/".join(key_parts)] = chunk_digest(raw)


def read_array(url: str, verify: bool | str = "auto") -> np.ndarray:
    """Assemble the whole array (test-scale verification reader; the
    production read path is the block-index scan).

    ``verify``: ``"auto"`` (default) checks every chunk's stored bytes
    against the ``.zchecksums`` manifest WHEN the array carries one —
    so a post-write bit flip inside a compressed frame (which zarr v2's
    checksum-free chunks would otherwise decode silently) fails loudly
    on read-back. ``True`` additionally requires a manifest to exist;
    ``False`` skips verification."""
    store, path = resolve(url)
    meta = _array_meta(url, store, path)
    manifest = read_checksums(url) if verify else None
    if verify is True and manifest is None:
        raise ValueError(f"{url}: no checksum manifest to verify against")
    shape, chunks = meta["shape"], meta["chunks"]
    dtype = np.dtype(meta["dtype"])
    comp = meta["compressor"]
    out = np.full(shape, meta["fill_value"], dtype=dtype)
    for sl in gen_slices(tuple(shape), tuple(chunks)):
        idx = [s.start // c for s, c in zip(sl, chunks)]
        chunk_file = store.join(path, *[str(i) for i in idx])
        if not store.exists(chunk_file):
            continue
        stored = store.read_bytes(chunk_file)
        if manifest is not None:
            _verify_chunk(
                stored, "/".join(str(i) for i in idx), manifest, url
            )
        raw = decompress(
            stored,
            comp,
            nbytes=int(np.prod(chunks)) * dtype.itemsize,
        )
        tile = np.frombuffer(raw, dtype=dtype).reshape(tuple(chunks))
        out[sl] = tile[tuple(slice(0, s.stop - s.start) for s in sl)]
    return out
