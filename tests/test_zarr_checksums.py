"""Per-chunk integrity manifest for the zarr sink (VERDICT r11 task 2).

Zarr v2 chunks carry NO checksum — a bit flip inside a compressed
frame's literal section can decompress silently (the one silent-
corruption path CORRUPTION_PROBE documented in r11; the reference
shares the hole, ``zarr_writer.py:188-213`` writes unchecksummed
chunks). The sink now records a 64-bit digest of every stored chunk in
content-addressed ``.zchecksums/`` manifest shards (one PUT per task,
not per chunk), and readers verify stored bytes against the manifest
before decompressing.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import numpy as np
import pytest

from aind_hcr_data_transformation_spark.sinks.zarr_sink import (
    CHECKSUM_DIR,
    chunk_digest,
    init_array,
    read_array,
    read_checksums,
    verify_array_checksums,
    write_checksum_shard,
    write_region,
)


def _make_array(tmp_path, name: str = "a") -> str:
    url = str(tmp_path / name)
    init_array(url, (4, 6), (2, 3), "uint16")
    rec: dict[str, str] = {}
    write_region(
        url, (0, 0), np.arange(24, dtype=np.uint16).reshape(4, 6), record=rec
    )
    write_checksum_shard(url, rec)
    return url


def test_manifest_roundtrip(tmp_path):
    url = _make_array(tmp_path)
    manifest = read_checksums(url)
    assert manifest is not None and len(manifest) == 4  # 2x2 chunk grid
    assert set(manifest) == {"0/0", "0/1", "1/0", "1/1"}
    assert verify_array_checksums(url) == 4
    np.testing.assert_array_equal(
        read_array(url, verify=True),
        np.arange(24, dtype=np.uint16).reshape(4, 6),
    )


def test_midframe_bit_flip_fails_loudly(tmp_path):
    """The exact hole the manifest closes: a flip in the INTERIOR of a
    compressed chunk (where zlib/zstd may decode silently) must now
    raise on every read path."""
    url = _make_array(tmp_path)
    chunk = Path(url) / "0" / "0"
    raw = bytearray(chunk.read_bytes())
    raw[len(raw) // 2] ^= 0x10
    chunk.write_bytes(bytes(raw))
    with pytest.raises(ValueError, match="failed checksum"):
        read_array(url)  # default verify="auto" sees the manifest
    with pytest.raises(ValueError, match="failed checksum"):
        verify_array_checksums(url)


def test_chunk_without_manifest_entry_fails(tmp_path):
    """Coverage is part of the contract: a chunk file the manifest does
    not know about (e.g. written by a crashed run whose shard never
    landed) is treated as suspect, not silently trusted."""
    url = _make_array(tmp_path)
    # forge a 5th chunk... the 2x2 grid is full, so instead drop one
    # manifest entry by rewriting the shard without it
    cdir = Path(url) / CHECKSUM_DIR
    shard = next(cdir.iterdir())
    manifest = json.loads(shard.read_text())
    manifest.pop("1/1")
    shard.write_text(json.dumps(manifest))
    with pytest.raises(ValueError, match="no checksum manifest entry"):
        verify_array_checksums(url)
    with pytest.raises(ValueError, match="no checksum manifest entry"):
        read_array(url)


def test_lost_chunk_file_fails_the_scrub(tmp_path):
    """code-review r12: a WRITTEN chunk whose file is gone (lost in
    transfer) must fail verification — the manifest holds exactly the
    keys needed to see the loss. A never-written chunk has no manifest
    entry and remains legitimately fill-value."""
    url = _make_array(tmp_path)
    (Path(url) / "1" / "1").unlink()
    with pytest.raises(ValueError, match="no chunk file"):
        verify_array_checksums(url)
    # sparse-but-honest control: an array whose manifest matches its
    # (partial) chunk set verifies fine
    url2 = str(tmp_path / "sparse")
    init_array(url2, (4, 6), (2, 3), "uint16")
    rec: dict[str, str] = {}
    write_region(
        url2, (0, 0), np.ones((2, 6), dtype=np.uint16), record=rec
    )  # top row of chunks only
    write_checksum_shard(url2, rec)
    assert verify_array_checksums(url2) == 2


def test_foreign_array_without_manifest_still_reads(tmp_path):
    """Arrays written by other zarr writers carry no manifest: the
    default auto mode reads them unchanged; verify=True refuses."""
    url = str(tmp_path / "foreign")
    init_array(url, (4, 4), (2, 2), "uint8")
    write_region(url, (0, 0), np.ones((4, 4), dtype=np.uint8))  # no record
    assert read_checksums(url) is None
    np.testing.assert_array_equal(
        read_array(url), np.ones((4, 4), dtype=np.uint8)
    )
    with pytest.raises(ValueError, match="no checksum manifest"):
        read_array(url, verify=True)
    with pytest.raises(ValueError, match="no checksum manifest"):
        verify_array_checksums(url)


def test_init_array_clears_stale_shards(tmp_path):
    """An array re-created at the same URL must not inherit the previous
    incarnation's digests (they describe chunks that no longer exist)."""
    url = _make_array(tmp_path)
    assert read_checksums(url)
    init_array(url, (4, 6), (2, 3), "uint16")
    assert read_checksums(url) is None


def test_torn_shard_skipped_but_coverage_enforced(tmp_path):
    """A shard torn by a killed task attempt fails JSON parsing and is
    skipped; verification still demands every chunk be covered by some
    parseable shard."""
    url = _make_array(tmp_path)
    cdir = Path(url) / CHECKSUM_DIR
    (cdir / "deadbeef.json").write_bytes(b'{"0/0": "tru')  # torn write
    assert verify_array_checksums(url) == 4  # intact shard covers all
    # now ONLY the torn shard remains -> nothing is covered
    for p in cdir.iterdir():
        if p.name != "deadbeef.json":
            p.unlink()
    with pytest.raises(ValueError, match="no checksum manifest"):
        verify_array_checksums(url)


def test_shards_are_content_addressed(tmp_path):
    """Identical digests (what a retried attempt produces) re-write the
    SAME shard object — output trees stay byte-identical across
    retries, which the chaos probe's tree-hash equality relies on."""
    url = _make_array(tmp_path)
    manifest = read_checksums(url)
    write_checksum_shard(url, manifest)  # the "retry"
    shards = list((Path(url) / CHECKSUM_DIR).iterdir())
    assert len(shards) == 1


def test_digest_is_of_stored_bytes():
    raw = b"some compressed chunk bytes"
    d = chunk_digest(raw)
    assert len(d) == 16 and d == chunk_digest(raw)
    assert d != chunk_digest(raw + b"\x00")


def test_distributed_writer_emits_manifest(spark, tmp_path):
    """The fused pyramid writer leaves one manifest shard per (level
    task, array): the shards of a level cover each of its chunks exactly
    once, their count equals the tasks that wrote chunks (counted by the
    ``pre_shard`` hook), and every level reads back verified."""
    from aind_hcr_data_transformation_spark.config import (
        ZarrConversionSettings,
    )
    from aind_hcr_data_transformation_spark.pipeline import _convert_pyramid
    from aind_hcr_data_transformation_spark.sources.czi import (
        synthetic_ramp_block,
    )
    from aind_hcr_data_transformation_spark.operators.blockwise import (
        windowed_mean_nd,
    )

    marks = tmp_path / "tasks"
    marks.mkdir()
    marks_dir = str(marks)

    def count_writing_tasks(*args):
        from pyspark import TaskContext

        if args[0] == "pre_shard" and args[1] > 0:
            tc = TaskContext.get()
            name = f"{tc.stageId()}_{tc.partitionId()}_{tc.attemptNumber()}"
            Path(marks_dir, name).write_text(str(args[1]))

    settings = ZarrConversionSettings(
        output_directory=str(tmp_path / "out"),
        chunk_size=(4, 8, 8),
        scale_factor=(2, 2, 2),
        downsample_levels=2,
    )
    group = _convert_pyramid(
        spark, settings, {"s": (16, 32, 32)}, "uint16",
        fault=count_writing_tasks,
    )["s"]
    level0 = synthetic_ramp_block(0, 16, 0, 32, 0, 32)
    level1 = windowed_mean_nd(level0, (2, 2, 2))
    n_shards = 0
    for lvl, n_chunks, want in ((0, 64, level0), (1, 8, level1)):
        url = os.path.join(group, str(lvl))
        shards = list(Path(url, CHECKSUM_DIR).glob("*.json"))
        keys = [k for sh in shards for k in json.loads(sh.read_text())]
        assert len(keys) == len(set(keys)) == n_chunks
        assert verify_array_checksums(url) == n_chunks
        np.testing.assert_array_equal(read_array(url, verify=True)[0, 0], want)
        n_shards += len(shards)
    written = [int(p.read_text()) for p in marks.iterdir()]
    assert n_shards == len(written)
    assert sum(written) == 64 + 8


def test_scrub_group_covers_every_level(spark, tmp_path):
    from aind_hcr_data_transformation_spark.config import (
        ZarrConversionSettings,
    )
    from aind_hcr_data_transformation_spark.pipeline import (
        convert_synthetic_stack,
    )
    from aind_hcr_data_transformation_spark.sinks.zarr_sink import (
        scrub_group,
    )

    settings = ZarrConversionSettings(
        output_directory=str(tmp_path),
        chunk_size=(8, 16, 16),
        scale_factor=(2, 2, 2),
        downsample_levels=2,
    )
    group = convert_synthetic_stack(spark, settings, "scrub", 16, 32, 32)
    per_level = scrub_group(group)
    assert set(per_level) == {"0", "1"}
    assert all(n > 0 for n in per_level.values())
    # one flipped byte anywhere in the group fails the scrub
    chunk = next(
        p
        for p in (Path(group) / "1").rglob("*")
        if p.is_file() and not p.name.startswith(".")
        and CHECKSUM_DIR not in p.parts
    )
    raw = bytearray(chunk.read_bytes())
    raw[len(raw) // 2] ^= 0x01
    chunk.write_bytes(bytes(raw))
    with pytest.raises(ValueError, match="failed checksum"):
        scrub_group(group)


def test_pipeline_levels_all_verify(spark, tmp_path):
    from aind_hcr_data_transformation_spark.config import (
        ZarrConversionSettings,
    )
    from aind_hcr_data_transformation_spark.pipeline import (
        convert_synthetic_stack,
    )

    settings = ZarrConversionSettings(
        output_directory=str(tmp_path),
        chunk_size=(8, 16, 16),
        scale_factor=(2, 2, 2),
        downsample_levels=3,
    )
    group = convert_synthetic_stack(spark, settings, "chk", 16, 32, 32)
    levels = sorted(
        p.name for p in Path(group).iterdir() if p.name.isdigit()
    )
    assert levels == ["0", "1", "2"]
    for lvl in levels:
        url = os.path.join(group, lvl)
        assert verify_array_checksums(url) > 0
        read_array(url, verify=True)


def test_conflicting_shard_digests_raise(tmp_path):
    """r12 advisor: two shards disagreeing on one chunk's digest must
    raise, not resolve arbitrarily in shard-name order — a conflict
    means the array was rewritten without init_array or a retry broke
    byte-determinism, and verification must not pass-or-fail
    nondeterministically depending on which shard sorts last."""
    url = _make_array(tmp_path)
    write_checksum_shard(url, {"0/0": "deadbeefdeadbeef"})
    with pytest.raises(ValueError, match="CONFLICTING"):
        read_checksums(url)
    with pytest.raises(ValueError, match="CONFLICTING"):
        verify_array_checksums(url)
    # agreeing duplicate entries (a retried attempt's identical shard
    # under a different name would be content-addressed to the SAME
    # name, but an agreeing subset shard is still legal) stay fine
    ok_digest = read_checksums(_make_array(tmp_path, "b"))["0/0"]
    url2 = _make_array(tmp_path, "c")
    write_checksum_shard(url2, {"0/0": ok_digest})
    assert verify_array_checksums(url2) == 4


def test_scrub_group_spark_matches_serial_and_catches_flip(spark, tmp_path):
    """r13 (VERDICT r12 task 6): the distributed scrub — the 100-TB
    path, where a driver-side serial re-hash is a non-starter — must
    return the serial scrub's exact per-level counts, fail on a lost
    chunk, and fail on a mid-frame flip."""
    from aind_hcr_data_transformation_spark.config import (
        ZarrConversionSettings,
    )
    from aind_hcr_data_transformation_spark.pipeline import (
        convert_synthetic_stack,
    )
    from aind_hcr_data_transformation_spark.sinks.zarr_sink import (
        scrub_group,
        scrub_group_spark,
    )

    settings = ZarrConversionSettings(
        output_directory=str(tmp_path),
        chunk_size=(8, 16, 16),
        scale_factor=(2, 2, 2),
        downsample_levels=2,
    )
    group = convert_synthetic_stack(spark, settings, "dscrub", 16, 32, 32)
    assert scrub_group_spark(spark, group) == scrub_group(group)

    chunks = [
        p
        for p in (Path(group) / "0").rglob("*")
        if p.is_file() and not p.name.startswith(".")
        and CHECKSUM_DIR not in p.parts
    ]
    # lost chunk (manifest entry, file gone): caught on the driver
    # before any task runs
    chunks[0].rename(chunks[0].with_name("hidden"))
    with pytest.raises(ValueError, match="no chunk file"):
        scrub_group_spark(spark, group)
    chunks[0].with_name("hidden").rename(chunks[0])
    # mid-frame flip: caught by the distributed re-hash
    raw = bytearray(chunks[-1].read_bytes())
    raw[len(raw) // 2] ^= 0x01
    chunks[-1].write_bytes(bytes(raw))
    with pytest.raises(ValueError, match="failed checksum"):
        scrub_group_spark(spark, group)


def test_scrub_rate_floor(tmp_path):
    """r13 (VERDICT r12 task 6): the serial scrub's re-hash rate has a
    pinned floor so a structural slowdown (per-chunk overhead creeping
    into the hash loop) fails in CI, not in a 100-TB transfer window.
    Incompressible data so stored bytes ~= voxel bytes and the rate is
    not an artifact of compression ratio; the floor is ~50x under the
    measured rate (SCRUB_THROUGHPUT.json) to ride out loaded hosts."""
    import time

    rng = np.random.default_rng(7)
    data = rng.integers(0, 2**16, size=(64, 128, 128), dtype=np.uint16)
    url = str(tmp_path / "rate")
    init_array(url, data.shape, (32, 64, 64), "uint16")
    rec: dict[str, str] = {}
    write_region(url, (0, 0, 0), data, record=rec)
    write_checksum_shard(url, rec)
    t0 = time.perf_counter()
    n = verify_array_checksums(url)
    sec = time.perf_counter() - t0
    stored = sum(
        p.stat().st_size
        for p in Path(url).rglob("*")
        if p.is_file() and CHECKSUM_DIR not in p.parts
        and not p.name.startswith(".")
    )
    assert n == 8
    assert stored / 2**20 / sec > 10, (
        f"scrub rate {stored / 2**20 / sec:.1f} MiB/s under the 10 MiB/s "
        "floor"
    )
