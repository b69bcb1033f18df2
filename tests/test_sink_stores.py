"""URL-addressed sink stores (K6–K8): the zarr writer must work through
``file://`` and ``memory://`` URLs — proof the sink has no hidden
``os.path`` dependency, the property that lets production point it at
``s3://`` via fsspec (direct chunk PUTs replacing the reference's
local-write + ``aws s3 sync``, ``utils/utils.py:142-205``)."""

from __future__ import annotations

import json

import numpy as np
import pytest

from aind_hcr_data_transformation_spark.sinks.store import MemoryStore, resolve
from aind_hcr_data_transformation_spark.sinks.zarr_sink import (
    init_array,
    init_group,
    read_array,
    write_attrs,
    write_region,
)


@pytest.fixture(autouse=True)
def _clean_memory_store():
    MemoryStore.clear()
    yield
    MemoryStore.clear()


def test_resolve_schemes(tmp_path):
    store, path = resolve(str(tmp_path / "a.zarr"))
    assert path == str(tmp_path / "a.zarr")
    store, path = resolve(f"file://{tmp_path}/b.zarr")
    assert path == f"{tmp_path}/b.zarr"
    store, path = resolve("memory://bucket/c.zarr")
    assert path == "bucket/c.zarr"


def test_unknown_scheme_needs_fsspec():
    try:
        import fsspec  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="fsspec"):
            resolve("s3://bucket/key.zarr")
    else:
        # production setup: fsspec present → an FsspecStore constructs
        # (possibly failing later on a missing s3 driver, not here)
        pytest.skip("fsspec installed; s3:// resolves to FsspecStore")


def test_memory_store_roundtrip():
    url = "memory://test/array"
    data = np.arange(4 * 6, dtype=np.uint16).reshape(4, 6)
    init_array(url, (4, 6), (2, 3), "uint16")
    write_region(url, (0, 0), data)
    np.testing.assert_array_equal(read_array(url), data)
    # nothing touched the local filesystem: all keys live in MemoryStore
    assert any(k.endswith(".zarray") for k in MemoryStore._data)


def test_file_url_roundtrip(tmp_path):
    url = f"file://{tmp_path}/arr"
    data = np.arange(8 * 4, dtype=np.int32).reshape(8, 4)
    init_array(url, (8, 4), (4, 4), "int32")
    write_region(url, (0, 0), data)
    np.testing.assert_array_equal(read_array(url), data)
    # and it is a real zarr v2 node on disk at the decoded path
    meta = json.load(open(tmp_path / "arr" / ".zarray"))
    assert meta["zarr_format"] == 2


def test_group_attrs_through_memory_url():
    url = "memory://grp/stack.zarr"
    init_group(url)
    write_attrs(url, {"hello": [1, 2, 3]})
    store, path = resolve(url)
    assert json.loads(store.read_bytes(store.join(path, ".zattrs"))) == {
        "hello": [1, 2, 3]
    }
    assert json.loads(store.read_bytes(store.join(path, ".zgroup"))) == {
        "zarr_format": 2
    }


def test_zarray_meta_shipped_from_driver_zero_worker_gets():
    """Distributed block writes must not fetch .zarray at all: at
    object-store scale even one GET per (process, array) is waste, and a
    per-process cache can serve stale geometry after an array is
    re-created at the same URL. The driver that called init_array ships
    the returned meta dict through the task closure; workers do ZERO
    .zarray reads."""
    url = "memory://cachetest/arr"
    meta = init_array(url, (8, 8), (4, 4), "uint16")
    MemoryStore.read_counts.clear()
    tile = np.arange(16, dtype=np.uint16).reshape(4, 4)
    for off in ((0, 0), (0, 4), (4, 0), (4, 4)):
        write_region(url, off, tile, meta=meta)
    assert MemoryStore.read_counts.get("cachetest/arr/.zarray", 0) == 0
    np.testing.assert_array_equal(read_array(url)[:4, :4], tile)


def test_recreated_array_never_served_stale_geometry():
    """The ADVICE stale-cache scenario: re-create the same URL with
    different shape/chunks, write with the NEW meta — the write must land
    on the new geometry (the old cache-based design could silently write
    misaligned chunks)."""
    url = "memory://cachetest/rearr"
    init_array(url, (8, 8), (4, 4), "uint16")
    write_region(url, (0, 0), np.ones((4, 4), dtype=np.uint16))
    # re-run with new settings at the same URL
    meta2 = init_array(url, (6, 6), (3, 3), "uint16")
    data = np.arange(36, dtype=np.uint16).reshape(6, 6)
    write_region(url, (0, 0), data, meta=meta2)
    np.testing.assert_array_equal(read_array(url), data)


def test_distributed_writer_rejects_memory_url(spark):
    """A ``memory://`` output directory would send each chunk into the
    private ``MemoryStore`` of the Python worker that wrote it: the
    converter must refuse it before writing any group, not finish with
    a ``_SUCCESS`` over an all-zero level 0."""
    from aind_hcr_data_transformation_spark.config import ZarrConversionSettings
    from aind_hcr_data_transformation_spark.pipeline import (
        convert_synthetic_stacks,
    )

    settings = ZarrConversionSettings(
        output_directory="memory://bkt/out",
        chunk_size=(8, 16, 16),
        downsample_levels=2,
    )
    with pytest.raises(ValueError, match="memory://"):
        convert_synthetic_stacks(spark, settings, {"m": (16, 32, 32)})
    store, _ = resolve("memory://_")
    assert not store.exists("bkt/out/m.zarr/.zgroup")
    assert not store.exists("bkt/out/m.zarr/.zattrs")


def test_upload_derivatives_through_memory_store(tmp_path):
    """K8: the reference's partition-0 derivatives upload
    (zeiss_job.py:187-205, gate at 215-216) through the store layer."""
    from aind_hcr_data_transformation_spark.pipeline import upload_derivatives

    d = tmp_path / "derivatives" / "sub"
    d.mkdir(parents=True)
    (tmp_path / "derivatives" / "a.json").write_text('{"x": 1}')
    (d / "b.txt").write_text("hi")

    n = upload_derivatives(str(tmp_path), "memory://bucket/dataset")
    assert n == 2
    store, _ = resolve("memory://_")
    assert store.read_bytes("bucket/dataset/derivatives/a.json") == b'{"x": 1}'
    assert store.read_bytes("bucket/dataset/derivatives/sub/b.txt") == b"hi"

    # non-zero partition: gated off, like the reference
    assert upload_derivatives(str(tmp_path), "memory://bucket/d2", partition=3) == 0
    assert not store.exists("bucket/d2/derivatives/a.json")

    with pytest.raises(FileNotFoundError):
        upload_derivatives(str(tmp_path / "nope"), "memory://bucket/d3")


def test_e2e_conversion_through_file_url(spark, tmp_path):
    """Full stack conversion with the output directory given as a
    ``file://`` URL — every metadata write and every distributed chunk
    write flows through the store layer."""
    from aind_hcr_data_transformation_spark.config import ZarrConversionSettings
    from aind_hcr_data_transformation_spark.pipeline import convert_synthetic_stack
    from aind_hcr_data_transformation_spark.operators.blockwise import (
        windowed_mean_nd,
    )
    from aind_hcr_data_transformation_spark.sources.czi import synthetic_ramp_block

    settings = ZarrConversionSettings(
        output_directory=f"file://{tmp_path}",
        chunk_size=(8, 8, 8),
        scale_factor=(2, 2, 2),
        downsample_levels=2,
    )
    group = convert_synthetic_stack(spark, settings, "urlstack", 16, 16, 16)
    golden0 = synthetic_ramp_block(0, 16, 0, 16, 0, 16)
    np.testing.assert_array_equal(read_array(f"{group}/0")[0, 0], golden0)
    np.testing.assert_array_equal(
        read_array(f"{group}/1")[0, 0], windowed_mean_nd(golden0, (2, 2, 2))
    )
