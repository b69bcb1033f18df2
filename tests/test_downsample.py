"""Windowed-mean downsampling: numpy goldens (FIXTURES.md B2) and
relational-vs-blockwise agreement — pinning SURVEY §7 hard parts 2-4
(dtype truncation, crop-trim edges, block independence)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra import numpy as hnp

from aind_hcr_data_transformation_spark.operators.blockwise import windowed_mean_nd


def reference_windowed_mean(arr: np.ndarray, f: tuple[int, int, int]) -> np.ndarray:
    """Brute-force oracle: loop over FULL windows only (the crop semantics
    of xarray_multiscale 1.1.0 — dims trimmed to an even multiple of the
    factor), mean in float64, truncate to dtype."""
    out_shape = tuple(s // fi for s, fi in zip(arr.shape, f))
    out = np.zeros(out_shape, dtype=np.float64)
    for z in range(out_shape[0]):
        for y in range(out_shape[1]):
            for x in range(out_shape[2]):
                w = arr[
                    z * f[0] : (z + 1) * f[0],
                    y * f[1] : (y + 1) * f[1],
                    x * f[2] : (x + 1) * f[2],
                ]
                out[z, y, x] = w.mean()
        # truncation applied at the end, like astype
    return out.astype(arr.dtype)


def test_constant_block_is_constant():
    arr = np.full((8, 8, 8), 7, dtype=np.uint16)
    out = windowed_mean_nd(arr, (2, 2, 2))
    assert out.shape == (4, 4, 4)
    assert (out == 7).all()


def test_known_values():
    arr = np.array(
        [[[0, 1], [2, 3]], [[4, 5], [6, 7]]], dtype=np.uint16
    )  # mean = 3.5 → truncates to 3
    out = windowed_mean_nd(arr, (2, 2, 2))
    assert out.shape == (1, 1, 1)
    assert out[0, 0, 0] == 3


def test_crop_edges_drop_partial_windows():
    """Odd extent: the trailing partial window is DROPPED (crop to an even
    multiple of the factor), matching xarray_multiscale 1.1.0's downscale
    trim — NOT averaged short."""
    arr = np.arange(5, dtype=np.uint16).reshape(5, 1, 1)
    out = windowed_mean_nd(arr, (2, 1, 1))
    # windows: (0,1)->0.5->0, (2,3)->2.5->2; element 4 beyond the trim
    np.testing.assert_array_equal(out.ravel(), [0, 2])
    assert out.shape == (2, 1, 1)


def test_crop_bottoms_out_to_empty():
    """A dim smaller than its factor crops to zero size (the pyramid depth
    limit — callers drop the empty block)."""
    assert windowed_mean_nd(np.ones((1, 4), dtype=np.uint16), (2, 2)).shape == (0, 2)


def test_float_no_truncation():
    arr = np.array([[[1.0, 2.0]]], dtype=np.float64)
    out = windowed_mean_nd(arr, (1, 1, 2))
    assert out[0, 0, 0] == 1.5


@settings(max_examples=30, deadline=None)
@given(
    st.tuples(st.integers(1, 9), st.integers(1, 9), st.integers(1, 9)),
    st.sampled_from([(2, 2, 2), (2, 1, 3), (1, 2, 2)]),
)
def test_matches_bruteforce_oracle(shape, factors):
    rng = np.random.default_rng(42)
    arr = rng.integers(0, 60000, size=shape, dtype=np.uint16)
    np.testing.assert_array_equal(
        windowed_mean_nd(arr, factors), reference_windowed_mean(arr, factors)
    )


@st.composite
def _int_blocks(draw):
    """Integer blocks of every dtype the integer-exact kernel takes, with
    odd edge extents and values pinned at 0 and the dtype's extremes."""
    dtype = np.dtype(
        draw(st.sampled_from(["uint8", "uint16", "int16", "int32", "uint32"]))
    )
    info = np.iinfo(dtype)
    shape = draw(st.tuples(*[st.integers(1, 7)] * 3))
    values = st.one_of(
        st.sampled_from(sorted({0, int(info.min), int(info.max)})),
        st.integers(int(info.min), int(info.max)),
    )
    return draw(hnp.arrays(dtype, shape, elements=values))


@settings(max_examples=200, deadline=None)
@given(_int_blocks(), st.sampled_from([(2, 2, 2), (3, 1, 2), (1, 1, 2)]))
def test_integer_kernel_matches_bruteforce_oracle(arr, factors):
    """The integer-exact kernel (int64 window sums, truncating division)
    is bit-identical to the float64 mean-then-truncate oracle: signed
    sums truncate toward zero, partial edge windows crop away."""
    got = windowed_mean_nd(arr, factors)
    assert got.dtype == arr.dtype
    np.testing.assert_array_equal(got, reference_windowed_mean(arr, factors))


def test_integer_kernel_extremes_and_unpreserved_dtype():
    """All-maximum and all-minimum windows stay at the extreme (no
    overflow in the accumulator), a negative non-integer mean truncates
    toward zero, and ``preserve_dtype=False`` returns the float mean."""
    for dt in ("uint8", "uint16", "int16", "int32", "uint32"):
        info = np.iinfo(dt)
        for v in (info.min, info.max):
            out = windowed_mean_nd(np.full((4, 4, 4), v, dtype=dt), (2, 2, 2))
            assert (out == v).all()
    arr = np.array([[[-3, -4]]], dtype=np.int16)  # mean -3.5
    assert windowed_mean_nd(arr, (1, 1, 2))[0, 0, 0] == -3
    assert windowed_mean_nd(arr, (1, 1, 2), preserve_dtype=False)[0, 0, 0] == -3.5


def test_ramp_fixture_golden():
    """FIXTURES.md B2 geometry: Z=40,Y=X=32, chunk 16, v=(z*1000+y*10+x)%65536."""
    from aind_hcr_data_transformation_spark.sources.czi import synthetic_ramp_block

    arr = synthetic_ramp_block(0, 40, 0, 32, 0, 32)
    lvl1 = windowed_mean_nd(arr, (2, 2, 2))
    assert lvl1.shape == (20, 16, 16)
    # closed form away from the modulo wrap: mean of the 8 corner values
    # = v(2z,2y,2x) + (1000+10+1)/2
    assert lvl1[0, 0, 0] == (0 + 1000 + 10 + 1 + 11 + 1001 + 1010 + 1011) // 8
    lvl2 = windowed_mean_nd(lvl1, (2, 2, 2))
    assert lvl2.shape == (10, 8, 8)


def test_relational_matches_blockwise(spark, tmp_path):
    """The groupBy form (correctness reference) and the converter's
    blockwise level 1 agree on the ramp fixture, including cascade
    truncation."""
    import pandas as pd

    from aind_hcr_data_transformation_spark.config import ZarrConversionSettings
    from aind_hcr_data_transformation_spark.operators.downsample import (
        downsample_relational,
    )
    from aind_hcr_data_transformation_spark.pipeline import (
        convert_synthetic_stacks,
    )
    from aind_hcr_data_transformation_spark.sinks.zarr_sink import read_array

    conv = ZarrConversionSettings(
        output_directory=str(tmp_path),
        chunk_size=(16, 16, 16),
        scale_factor=(2, 2, 2),
        downsample_levels=2,
    )
    group = convert_synthetic_stacks(spark, conv, {"s": (40, 32, 32)})["s"]
    got = read_array(f"{group}/1")[0, 0]
    assert got.shape == (20, 16, 16)

    # relational twin over the long-form voxels
    zz, yy, xx = np.meshgrid(
        np.arange(40), np.arange(32), np.arange(32), indexing="ij"
    )
    pdf = pd.DataFrame(
        {
            "z": zz.ravel(),
            "y": yy.ravel(),
            "x": xx.ravel(),
            "v": ((zz * 1000 + yy * 10 + xx) % 65536).ravel(),
        }
    )
    voxels = spark.createDataFrame(pdf)
    rel = downsample_relational(voxels, (2, 2, 2), True).collect()
    want = np.zeros((20, 16, 16), dtype=np.int64)
    for r in rel:
        want[r.z, r.y, r.x] = r.v
    np.testing.assert_array_equal(got.astype(np.int64), want)
