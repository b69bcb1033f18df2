"""Corrupted-input differential (r11): damaged bytes must FAIL LOUDLY
or decode to a well-formed result — never silent garbage, never a hang,
never a crash of the host process.

At 100 TB the engine will read bytes that rotted somewhere: truncated
object-store uploads, bit flips past a checksum boundary, half-written
chunk files after a task kill. Every vendored decoder and every scan
path therefore carries an explicit contract:

- STRUCTURAL damage (truncation, mangled markers/lengths/magic,
  checksummed-payload flips) raises an actionable ``ValueError`` /
  ``NotImplementedError`` / engine read error;
- ENTROPY-LEVEL damage that no structural check can see (bit flips
  inside a JPEG scan's Huffman/QM data) must still terminate in
  bounded time with either an exception or a correctly-shaped array —
  fuzzed here with deterministic flips, because an unterminating
  renorm loop or unbounded magnitude chain is the failure mode
  arithmetic decoders are famous for.

Each stage pairs the corrupted case with a PRISTINE control through the
same code path (the probe can tell "loud failure" from "broken
reader"). Exit 1 on any stage failure.

Stages:
  parquet_truncated     spark.read of a 60%-truncated parquet raises
  png_bitflip           IDAT flip -> CRC error; IHDR flip -> loud error
  tiff_truncated        vendored TIFF reader raises on cut strip data
  jpeg_truncated        entropy segment cut mid-block raises "truncated"
  jpeg_entropy_fuzz     N deterministic bit flips across ALL vendored
                        JPEG flavors (baseline, progressive, lossless,
                        arithmetic seq+progressive, CMYK, 12-bit):
                        every flip terminates with raise-or-valid-shape
  zisraw_truncated      CZI cut inside a subblock raises actionably
  zisraw_bad_magic      wrong file magic raises (not misparsed)
  zarr_chunk_corruption truncated / header-flipped zstd chunk raises;
                        codec-level scope documented
  zarr_manifest_bitflip r12: a codec-SILENT interior flip (the one
                        path zarr v2 leaves open) fails loudly via the
                        sink's per-chunk .zchecksums manifest

Usage::

    python tools/corruption_probe.py [--json CORRUPTION_PROBE.json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from pathlib import Path

import numpy as np

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools.registry_run import opt  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

LOUD = (ValueError, NotImplementedError, OSError, KeyError, IndexError,
        EOFError,  # the Huffman bit reader's mid-scan-marker signal
        struct_error := __import__("struct").error)


def _flip(data: bytes, bit: int) -> bytes:
    b = bytearray(data)
    b[(bit // 8) % len(b)] ^= 1 << (bit % 8)
    return bytes(b)


def _img(h=32, w=40, seed=3) -> np.ndarray:
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    img = 90 + 70 * np.sin(yy / 7.0) + 30 * ((xx // 8) % 2)
    return np.clip(img + rng.normal(0, 5, (h, w)), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# stages
# ---------------------------------------------------------------------------


def stage_parquet_truncated(spark) -> dict:
    src = Path(SF_DIR) / "documents.parquet"
    base = tempfile.mkdtemp(prefix="corrupt_pq_")
    try:
        data = src.read_bytes()
        cut = os.path.join(base, "cut.parquet")
        Path(cut).write_bytes(data[: int(len(data) * 0.6)])
        ok_control = (
            spark.read.parquet(str(src)).count() > 0
        )
        raised = False
        try:
            spark.read.parquet(cut).count()
        except Exception:
            raised = True
        return {"control_reads": ok_control, "truncated_raises": raised,
                "ok": ok_control and raised}
    finally:
        shutil.rmtree(base, ignore_errors=True)


def stage_png_bitflip() -> dict:
    from aind_hcr_data_transformation_spark.functions.png import (
        decode_png_gray8,
        encode_png_gray8,
    )

    img = _img()
    data = encode_png_gray8(img)
    control = np.array_equal(decode_png_gray8(data), img)
    # IDAT payload flip: the per-chunk CRC32 must catch it
    idat = data.index(b"IDAT")
    crc_caught = False
    try:
        decode_png_gray8(_flip(data, (idat + 6) * 8))
    except LOUD:
        crc_caught = True
    # IHDR dimension byte flip: CRC or structural check, either is loud
    ihdr = data.index(b"IHDR")
    hdr_caught = False
    try:
        decode_png_gray8(_flip(data, (ihdr + 5) * 8))
    except LOUD:
        hdr_caught = True
    return {"control_roundtrip": control, "idat_flip_caught": crc_caught,
            "ihdr_flip_caught": hdr_caught,
            "ok": control and crc_caught and hdr_caught}


def stage_tiff_truncated() -> dict:
    from aind_hcr_data_transformation_spark.functions.tiff import (
        decode_tiff_gray,
        encode_tiff_gray,
    )

    img = _img()
    data = encode_tiff_gray(img)
    control = np.array_equal(decode_tiff_gray(data), img)
    raised = False
    try:
        decode_tiff_gray(data[: len(data) // 2])
    except LOUD:
        raised = True
    return {"control_roundtrip": control, "truncated_raises": raised,
            "ok": control and raised}


def stage_jpeg_truncated() -> dict:
    from aind_hcr_data_transformation_spark.sources.jpegcodec import (
        decode_gray,
        encode_gray,
    )

    img = _img()
    data = encode_gray(img, quality=90)
    control = decode_gray(data).shape == img.shape
    raised = False
    try:
        decode_gray(data[: len(data) - len(data) // 4])
    except LOUD:
        raised = True
    return {"control_decodes": control, "truncated_raises": raised,
            "ok": control and raised}


def stage_jpeg_entropy_fuzz() -> dict:
    """Deterministic bit flips through every vendored JPEG flavor's
    FULL byte range (headers AND entropy data). Contract per flip:
    decode terminates within a per-flip SIGALRM budget and either
    raises one of the loud types or returns an ndarray — corrupted
    pixels are allowed (no checksum exists inside a JPEG scan), a
    hang/crash/wrong-type is not. Each flavor additionally gets a
    truncated-before-SOS case, which must RAISE (the r11 review found
    the marker loop falling through to a fabricated flat image
    there)."""
    from aind_hcr_data_transformation_spark.sources.jpegarith import (
        encode_arith,
        encode_arith_progressive,
    )
    from aind_hcr_data_transformation_spark.sources.jpegcodec import (
        decode_image,
        encode_cmyk,
        encode_color,
        encode_color12,
        encode_gray,
        encode_gray_lossless,
        encode_gray_progressive,
    )

    img = _img(24, 32)
    rgb = np.stack([img, img[::-1], img[:, ::-1]], axis=-1)
    cmyk = np.concatenate([rgb, img[..., None]], axis=-1)
    streams = {
        "baseline": encode_gray(img, 90),
        "progressive": encode_gray_progressive(img, 90),
        "lossless": encode_gray_lossless(img, predictor=4),
        "color": encode_color(rgb, 90, "4:2:0"),
        "cmyk": encode_cmyk(cmyk, 90),
        "color12": encode_color12(
            (rgb.astype(np.uint16) * 16).clip(0, 4095), 95
        ),
        "arith": encode_arith(img, 90),
        "arith_prog": encode_arith_progressive(img, 90),
    }
    import signal

    class _FlipHang(Exception):
        pass

    def _alarm(_sig, _frm):
        raise _FlipHang

    n_flips = 40
    results = {}
    bad = []
    can_alarm = hasattr(signal, "SIGALRM")
    if can_alarm:
        prev_handler = signal.signal(signal.SIGALRM, _alarm)
    try:
        for name, data in streams.items():
            raised = decoded = 0
            cases = [
                _flip(data, (i * 2654435761 + 12345) % (len(data) * 8))
                for i in range(n_flips)
            ]
            for i, case in enumerate(cases):
                if can_alarm:
                    signal.alarm(10)  # the hang budget the contract names
                try:
                    out = decode_image(case)
                except LOUD:
                    raised += 1
                    continue
                except _FlipHang:
                    bad.append(f"{name}: flip {i} exceeded 10s — hang")
                    continue
                except RecursionError:
                    bad.append(f"{name}: flip {i} recursion")
                    continue
                finally:
                    if can_alarm:
                        signal.alarm(0)
                if isinstance(out, np.ndarray):
                    decoded += 1
                else:
                    bad.append(f"{name}: flip {i} returned {type(out)}")
            # a stream cut before its (first) SOS must raise, never
            # fabricate an image from the zero-initialized coefficients
            cut = data[: data.find(b"\xff\xda")]
            try:
                out = decode_image(cut)
                bad.append(f"{name}: pre-SOS truncation returned "
                           f"{type(out).__name__} silently")
            except LOUD:
                pass
            results[name] = {"raised": raised, "decoded": decoded}
    finally:
        if can_alarm:
            signal.alarm(0)
            signal.signal(signal.SIGALRM, prev_handler)
    return {"flips_per_flavor": n_flips, "flavors": results,
            "violations": bad, "ok": not bad}


def stage_zisraw_truncated() -> dict:
    from aind_hcr_data_transformation_spark.sources.zisraw import (
        MiniCziFile,
        write_czi,
    )

    base = tempfile.mkdtemp(prefix="corrupt_czi_")
    try:
        path = os.path.join(base, "s.czi")
        write_czi(path, {z: _img(16, 16, z) for z in range(3)})
        with MiniCziFile(path) as czi:
            control = len(czi.filtered_subblock_directory) == 3
        data = Path(path).read_bytes()
        cut = os.path.join(base, "cut.czi")
        Path(cut).write_bytes(data[: int(len(data) * 0.55)])
        raised = False
        try:
            with MiniCziFile(cut) as czi:
                for e in czi.filtered_subblock_directory:
                    e.data_segment()  # force payload reads
        except LOUD:
            raised = True
        return {"control_reads": control, "truncated_raises": raised,
                "ok": control and raised}
    finally:
        shutil.rmtree(base, ignore_errors=True)


def stage_zisraw_bad_magic() -> dict:
    from aind_hcr_data_transformation_spark.sources.zisraw import (
        MiniCziFile,
        write_czi,
    )

    base = tempfile.mkdtemp(prefix="corrupt_magic_")
    try:
        path = os.path.join(base, "s.czi")
        write_czi(path, {0: _img(8, 8)})
        data = bytearray(Path(path).read_bytes())
        data[0:4] = b"JUNK"
        bad = os.path.join(base, "bad.czi")
        Path(bad).write_bytes(bytes(data))
        raised = False
        try:
            MiniCziFile(bad)
        except LOUD:
            raised = True
        return {"bad_magic_raises": raised, "ok": raised}
    finally:
        shutil.rmtree(base, ignore_errors=True)


def stage_zarr_chunk_corruption(spark) -> dict:
    """Truncated or header-corrupted zstd zarr chunks must raise on
    read-back; the pristine twin must round-trip.

    Scope note: zarr v2 chunks carry NO content checksum (the format's
    limitation, not this writer's), so a bit flip inside a zstd LITERAL
    section can decompress silently at the CODEC level. This stage pins
    what the codec alone promises (structural damage — truncation,
    frame-header corruption, wrong decompressed size — raises); the
    r12 ``zarr_manifest_bitflip`` stage pins the stronger sink-level
    guarantee that closes the literal-flip hole via the per-chunk
    ``.zchecksums`` manifest."""
    from aind_hcr_data_transformation_spark.sinks.zarr_sink import (
        init_array,
        write_region,
    )

    base = tempfile.mkdtemp(prefix="corrupt_zarr_")
    try:
        root = os.path.join(base, "a.zarr", "0")
        arr = (np.arange(4 * 8 * 8) % 1000).astype(np.uint16).reshape(4, 8, 8)
        init_array(root, (4, 8, 8), (4, 8, 8), "uint16", compressor="zstd")
        write_region(root, (0, 0, 0), arr)
        chunk = next(
            p for p in Path(root).rglob("*")
            if p.is_file() and not p.name.startswith(".")
        )
        import pyarrow as pa

        codec = pa.Codec("zstd")
        nbytes = 4 * 8 * 8 * 2
        control = np.frombuffer(
            codec.decompress(chunk.read_bytes(), nbytes), np.uint16
        ).reshape(4, 8, 8)
        control_ok = np.array_equal(control, arr)
        data = chunk.read_bytes()
        trunc_raises = False
        try:
            codec.decompress(data[: len(data) // 2], nbytes)
        except Exception:
            trunc_raises = True
        hdr = bytearray(data)
        hdr[0] ^= 0xFF  # zstd frame magic
        hdr_raises = False
        try:
            codec.decompress(bytes(hdr), nbytes)
        except Exception:
            hdr_raises = True
        return {"control_roundtrip": control_ok,
                "truncation_raises": trunc_raises,
                "header_flip_raises": hdr_raises,
                "ok": control_ok and trunc_raises and hdr_raises}
    finally:
        shutil.rmtree(base, ignore_errors=True)


def stage_zarr_manifest_bitflip() -> dict:
    """r12 (VERDICT r11 task 2): the per-chunk checksum manifest must
    catch the ONE corruption class the codec layer cannot — a bit flip
    the decompressor accepts silently.

    Two sub-cases, both required:
    - an UNCOMPRESSED chunk (every interior flip is codec-silent by
      construction) must fail read-back via the manifest;
    - a zstd chunk: scan interior flip positions for one the codec
      decompresses without error (the r11-documented silent path); when
      found, the manifest must still fail it loudly. The probe records
      whether a codec-silent position existed in this stream (zstd
      streams vary; absence just means THIS stream had no silent flip,
      and the manifest check is exercised regardless)."""
    from aind_hcr_data_transformation_spark.sinks.zarr_sink import (
        init_array,
        read_array,
        verify_array_checksums,
        write_checksum_shard,
        write_region,
    )

    def chunk_file(root: str) -> Path:
        return next(
            p
            for p in Path(root).rglob("*")
            if p.is_file()
            and not p.name.startswith(".")
            and ".zchecksums" not in p.parts
        )

    def build(root: str, compressor: str) -> np.ndarray:
        arr = (np.arange(4 * 8 * 8) % 1000).astype(np.uint16).reshape(4, 8, 8)
        init_array(root, (4, 8, 8), (4, 8, 8), "uint16",
                   compressor=compressor)
        rec: dict = {}
        write_region(root, (0, 0, 0), arr, record=rec)
        write_checksum_shard(root, rec)
        return arr

    base = tempfile.mkdtemp(prefix="corrupt_zmanifest_")
    try:
        out: dict = {}
        # --- uncompressed: deterministic codec-silent flip
        root = os.path.join(base, "raw.zarr", "0")
        arr = build(root, "none")
        out["control_verified_chunks"] = verify_array_checksums(root)
        out["control_roundtrip"] = np.array_equal(
            read_array(root, verify=True), arr
        )
        cf = chunk_file(root)
        data = bytearray(cf.read_bytes())
        data[len(data) // 2] ^= 0x04
        cf.write_bytes(bytes(data))
        raw_raises = False
        try:
            read_array(root)  # verify="auto" sees the manifest
        except ValueError as exc:
            raw_raises = "failed checksum" in str(exc)
        out["uncompressed_flip_raises"] = raw_raises

        # --- zstd: hunt for a codec-silent interior flip
        import pyarrow as pa

        root2 = os.path.join(base, "zstd.zarr", "0")
        build(root2, "zstd")
        cf2 = chunk_file(root2)
        orig = cf2.read_bytes()
        codec = pa.Codec("zstd")
        nbytes = 4 * 8 * 8 * 2
        silent_pos = None
        for pos in range(8, len(orig) - 1):
            flipped = bytearray(orig)
            flipped[pos] ^= 0x01
            try:
                codec.decompress(bytes(flipped), nbytes)
            except Exception:
                continue
            silent_pos = pos
            break
        out["zstd_codec_silent_flip_found"] = silent_pos is not None
        flip_at = silent_pos if silent_pos is not None else len(orig) // 2
        flipped = bytearray(orig)
        flipped[flip_at] ^= 0x01
        cf2.write_bytes(bytes(flipped))
        zstd_raises = False
        try:
            read_array(root2)
        except ValueError as exc:
            zstd_raises = "failed checksum" in str(exc)
        out["zstd_flip_raises"] = zstd_raises
        out["ok"] = (
            out["control_roundtrip"] and raw_raises and zstd_raises
        )
        return out
    finally:
        shutil.rmtree(base, ignore_errors=True)


STAGES = {
    "parquet_truncated": stage_parquet_truncated,
    "png_bitflip": stage_png_bitflip,
    "tiff_truncated": stage_tiff_truncated,
    "jpeg_truncated": stage_jpeg_truncated,
    "jpeg_entropy_fuzz": stage_jpeg_entropy_fuzz,
    "zisraw_truncated": stage_zisraw_truncated,
    "zisraw_bad_magic": stage_zisraw_bad_magic,
    "zarr_chunk_corruption": stage_zarr_chunk_corruption,
    "zarr_manifest_bitflip": stage_zarr_manifest_bitflip,
}

_NEEDS_SPARK = {"parquet_truncated", "zarr_chunk_corruption"}


def main() -> int:
    argv = sys.argv[1:]
    json_out = opt(argv, "--json", "CORRUPTION_PROBE.json")

    spark = None
    results, any_fail = {}, False
    for name, fn in STAGES.items():
        t0 = time.time()
        try:
            if name in _NEEDS_SPARK:
                if spark is None:
                    from aind_hcr_data_transformation_spark.session import (
                        get_spark,
                    )

                    spark = get_spark("corruption-probe")
                    spark.sparkContext.setLogLevel("ERROR")
                res = fn(spark)
            else:
                res = fn()
        except Exception:
            res = {"ok": False, "error": traceback.format_exc(limit=8)}
        res["sec"] = round(time.time() - t0, 2)
        results[name] = res
        any_fail = any_fail or not res["ok"]
        print(f"[{name}] {'PASS' if res['ok'] else 'FAIL'} "
              f"({res['sec']}s)", flush=True)
        if not res["ok"]:
            print(json.dumps(res, indent=2, default=str), flush=True)

    out = {"stages": results, "ok": not any_fail,
           "ts": time.strftime("%Y-%m-%dT%H:%M:%S")}
    (REPO / json_out).write_text(json.dumps(out, indent=2, default=str))
    print(f"corruption probe: {'OK' if not any_fail else 'FAILURES'} "
          f"-> {json_out}")
    return 1 if any_fail else 0


if __name__ == "__main__":
    sys.exit(main())
