"""Multimodal (binary) column plumbing (SURVEY §2.12 / north star).

Image/audio/video payloads are opaque ``BinaryType`` columns with typed
metadata. The Spark-side machinery — schema, Arrow batching, ``mapInPandas``
UDF signature, partitioning — is real and oracle-tested. Media decode
(:func:`decode_image`) decodes PNG, baseline JPEG, and uncompressed
grayscale TIFF FOR REAL through vendored spec-derived codecs
(``functions/png.py``, ``sources/jpegcodec.py``, ``functions/tiff.py``
— PNG and JPEG exercised end-to-end by ``multimodal_png_decode`` /
``multimodal_jpeg_decode``); the long tail (color/compressed TIFF,
video) gates loudly because those codec libraries are not in this
container — swapping in PIL/ffmpeg changes one function, not the plan.

Scale notes: binary payloads ride Arrow batches into Python once
(``mapInPandas``), are hashed/measured vectorized, and never shuffle —
the only shuffle in a typical multimodal pipeline is on the (tiny)
metadata output. ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds
per-batch memory for large blobs (session.py).
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..tables import load_table

#: schema of the metadata rows produced by the binary feature extractor
FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("digest", T.StringType()),
        T.StructField("magic_u32", T.LongType()),
    ]
)


def decode_image(payload: bytes) -> "object":
    """Decode an image payload into an ndarray, sniffing the magic.

    Three formats decode FOR REAL through vendored spec-derived codecs:
    PNG (8-bit gray, non-interlaced, any scanline filter —
    ``functions/png.py``, stdlib DEFLATE), baseline JPEG (gray8 —
    ``sources/jpegcodec.py``, ITU-T T.81), and uncompressed grayscale
    TIFF (8/16-bit, II or MM — ``functions/tiff.py``). Anything else
    gates loudly — plug PIL/imageio for production coverage of the
    long tail (video frames still gate on ffmpeg)."""
    from ..functions.png import PNG_SIGNATURE, decode_png_gray8

    buf = bytes(payload)
    if buf[:8] == PNG_SIGNATURE:
        return decode_png_gray8(buf)
    if buf[:2] == b"\xff\xd8":
        from ..sources.jpegcodec import decode_gray

        return decode_gray(buf)
    if buf[:2] in (b"II", b"MM"):
        from ..functions.tiff import decode_tiff_gray

        return decode_tiff_gray(buf)
    raise NotImplementedError(
        "only PNG (8-bit gray), baseline JPEG (gray8), and uncompressed "
        "grayscale TIFF decode in this environment; plug PIL/imageio "
        "for other formats"
    )


def _extract_features(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Per-Arrow-batch binary feature extraction (runs on executors):
    byte length, sha256 digest, and the leading 4 bytes as a big-endian
    u32 ("magic number" sniffing — the deterministic stand-in for a real
    decode)."""
    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "byte_len": payloads.map(len).astype("int64"),
                "digest": payloads.map(lambda b: hashlib.sha256(b).hexdigest()),
                "magic_u32": payloads.map(
                    lambda b: struct.unpack(">I", b[:4])[0] if len(b) >= 4 else -1
                ).astype("int64"),
            }
        )


def extract_binary_features(binary_df: DataFrame) -> DataFrame:
    """Run the Arrow-batched feature extractor over a
    ``(doc_id long, payload binary)`` DataFrame."""
    return binary_df.mapInPandas(_extract_features, FEATURE_SCHEMA)


def multimodal_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked end-to-end: documents' text encoded as a binary
    payload column, featurized via ``mapInPandas``. The oracle recomputes
    length/sha256/magic bytes in SQL — pinning that the Python batch path
    and the JVM path see identical bytes."""
    # NO spread: the per-payload Python work (one sha256 + a 4-byte
    # unpack per row) is lighter than a full-payload round-robin
    # exchange, so this stays scan-partitioned — measured 0.47 s vs
    # 0.73 s at sf0.1 when the r4 spread landed this query in the bench
    # regressions map two rounds running. The DECODE queries below keep
    # spread=True: their per-payload Python cost dominates the exchange.
    docs = load_table(spark, sf_dir, "documents")
    binary_df = docs.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    return extract_binary_features(binary_df)


MULTIMODAL_SQL = """
SELECT
  doc_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
  sha256(text) AS digest,
  -- the kernel's documented sentinel: payloads shorter than 4 bytes
  -- have no magic number and report -1 (DuckDB's ascii('') is 0, which
  -- would silently fake a 0x00000000 magic for tiny payloads)
  CAST(
    CASE WHEN octet_length(encode(text)) >= 4 THEN
      ascii(substr(text, 1, 1)) * 16777216 + ascii(substr(text, 2, 1)) * 65536
      + ascii(substr(text, 3, 1)) * 256 + ascii(substr(text, 4, 1))
    ELSE -1 END
  AS BIGINT) AS magic_u32
FROM documents
"""


#: frame-sampling geometry: k uniform samples; the frame count derives
#: deterministically from the payload (no real container parsing here)
_FRAME_K = 8
_FRAME_FPS = 24.0

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("ts_sec", T.DoubleType()),
        T.StructField("frame_digest", T.StringType()),
    ]
)


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling plumbing (north-star brief: "frame-sample as
    Pandas UDFs over mapInPandas"): k uniformly-strided frame indices per
    payload, each emitted as a row with its timestamp and a per-frame
    digest. The DECODE is the deterministic stand-in (digest of
    payload+index — a real deployment calls ffmpeg on the payload here);
    everything Spark-side is real: binary Arrow batches in, a k-fold
    row-expansion out of Python, metadata-only shuffle after.

    The oracle re-derives indices, timestamps, and digests in SQL,
    pinning the batch path bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    # null text would crash the batch loop (len(None)); filtered in BOTH
    # engines so a fixture regen with nullable text cannot split them
    media = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "ts_sec": [], "frame_digest": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = len(payload) % 240 + 16
                for j in range(_FRAME_K):
                    idx = j * n_frames // _FRAME_K
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["ts_sec"].append(idx / _FRAME_FPS)
                    out["frame_digest"].append(
                        hashlib.md5(
                            payload + b":" + str(idx).encode()
                        ).hexdigest()
                    )
            yield pd.DataFrame(out)

    sampled = media.mapInPandas(sample, FRAME_SCHEMA)
    from ..functions.compat import dround

    # No trailing orderBy (guide §2.4): the global sort's range sampling
    # re-executes the mapInPandas decode subtree — the whole Python
    # stage ran twice for a cosmetic ordering the order-insensitive
    # driver/oracle comparison never sees.
    return sampled.select(
        "doc_id",
        "frame_idx",
        dround(F.col("ts_sec"), 4).alias("ts_sec"),
        "frame_digest",
    )


def _frame_sample_sql() -> str:
    from ..functions.compat import sql_round

    return f"""
SELECT d.doc_id,
       CAST((j.j * (octet_length(encode(d.text)) % 240 + 16)) // {_FRAME_K} AS BIGINT) AS frame_idx,
       {sql_round(f"((j.j * (octet_length(encode(d.text)) % 240 + 16)) // {_FRAME_K}) / {_FRAME_FPS}", 4)} AS ts_sec,
       md5(d.text || ':' ||
           ((j.j * (octet_length(encode(d.text)) % 240 + 16)) // {_FRAME_K})::VARCHAR
       ) AS frame_digest
FROM documents d, (SELECT unnest(range(0, {_FRAME_K})) AS j) j
WHERE d.text IS NOT NULL
ORDER BY d.doc_id, frame_idx
"""


#: thumbnail geometry: a GRID x GRID fake image pooled down POOL x POOL
_THUMB_GRID = 64
_THUMB_POOL = 8

THUMB_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("ry", T.IntegerType()),
        T.StructField("rx", T.IntegerType()),
        T.StructField("mean_px", T.DoubleType()),
    ]
)


def multimodal_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize plumbing (north-star brief: "resize as Pandas UDFs"):
    the payload bytes tile a deterministic 64x64 single-channel "image"
    (byte value at (r,c) = payload[(r*64+c) % len] — the stand-in for a
    real decode), which a vectorized numpy kernel mean-pools 8x8 into an
    8x8 thumbnail, one output row per thumbnail pixel.

    Block means are sums of <=64 ints divided by a power of two, so the
    values are exactly representable and the SQL oracle reproduces them
    bit-for-bit — the same windowed-mean semantics as the zarr pyramid
    (operators/blockwise.py), exercised through the Arrow batch path."""
    import numpy as np

    docs = load_table(spark, sf_dir, "documents", spread=True)
    media = docs.filter(F.length("text") >= 1).select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    g, p = _THUMB_GRID, _THUMB_POOL
    flat = np.arange(g * g)

    def thumb(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        side = g // p
        ry = np.repeat(np.arange(side), side).astype("int32")
        rx = np.tile(np.arange(side), side).astype("int32")
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            # one output frame per Arrow batch (per-doc DataFrames would
            # dominate wall-clock); pooled values land in a prealloc'd
            # (n, side*side) matrix
            pooled = np.empty((n, side * side), np.float64)
            for i, payload in enumerate(pdf["payload"]):
                b = np.frombuffer(payload, np.uint8)
                img = b[flat % len(b)].reshape(g, g).astype(np.float64)
                pooled[i] = img.reshape(side, p, side, p).mean(axis=(1, 3)).ravel()
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(
                        pdf["doc_id"].to_numpy(np.int64), side * side
                    ),
                    "ry": np.tile(ry, n),
                    "rx": np.tile(rx, n),
                    "mean_px": pooled.ravel(),
                }
            )

    pooled = media.mapInPandas(thumb, THUMB_SCHEMA)
    from ..functions.compat import dround

    # No trailing orderBy (guide §2.4): range sampling would re-execute
    # the mapInPandas pooling; ordering is cosmetic to the oracle.
    return pooled.select(
        "doc_id", "ry", "rx", dround(F.col("mean_px"), 4).alias("mean_px")
    )


def _thumbnail_sql() -> str:
    from ..functions.compat import sql_round

    g, p = _THUMB_GRID, _THUMB_POOL
    return f"""
SELECT doc_id,
       CAST(r // {p} AS INTEGER) AS ry,
       CAST(c // {p} AS INTEGER) AS rx,
       {sql_round(f"sum(px) / {p * p}.0", 4)} AS mean_px
FROM (
  SELECT d.doc_id, gr.i AS r, gc.i AS c,
         ascii(substr(d.text, ((gr.i * {g} + gc.i) % octet_length(encode(d.text))) + 1, 1)) AS px
  FROM documents d,
       (SELECT unnest(range(0, {g})) AS i) gr,
       (SELECT unnest(range(0, {g})) AS i) gc
  WHERE octet_length(encode(d.text)) >= 1
)
GROUP BY doc_id, r // {p}, c // {p}
ORDER BY doc_id, ry, rx
"""


#: audio geometry: non-overlapping analysis windows of 256 "samples"
_AUDIO_WIN = 256


def multimodal_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature plumbing (the audio leg of the multimodal trio —
    features / frames / thumbnail / RMS): payload bytes are read as a
    centered 8-bit PCM waveform (sample = byte − 128, the stand-in for a
    real audio decode) and a vectorized numpy kernel emits per-window
    RMS energy, one row per non-overlapping 256-sample window (the
    trailing partial window included, like any streaming feature
    extractor).

    Window sums are integer-exact and the division/sqrt are single
    correctly-rounded IEEE ops, so the SQL oracle reproduces every RMS
    bit-for-bit before display rounding."""
    import numpy as np

    docs = load_table(spark, sf_dir, "documents", spread=True)
    media = docs.filter(F.length("text") >= 1).select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    w = _AUDIO_WIN

    def rms(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # accumulate plain arrays, ONE DataFrame per Arrow batch
            ids, wins, cnts, vals = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                s = np.frombuffer(payload, np.uint8).astype(np.int64) - 128
                n_win = (len(s) + w - 1) // w
                starts = np.arange(0, len(s), w)
                sums = np.add.reduceat(np.square(s), starts)
                counts = np.diff(np.append(starts, len(s)))
                ids.append(np.full(n_win, doc_id, np.int64))
                wins.append(np.arange(n_win, dtype=np.int64))
                cnts.append(counts.astype(np.int64))
                vals.append(np.sqrt(sums / counts))
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids),
                        "win_idx": np.concatenate(wins),
                        "n_samples": np.concatenate(cnts),
                        "rms_raw": np.concatenate(vals),
                    }
                )

    out = media.mapInPandas(
        rms,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("win_idx", T.LongType()),
                T.StructField("n_samples", T.LongType()),
                T.StructField("rms_raw", T.DoubleType()),
            ]
        ),
    )
    from ..functions.compat import dround

    # No trailing orderBy (guide §2.4): range sampling would re-execute
    # the mapInPandas RMS windows; ordering is cosmetic to the oracle.
    return out.select(
        "doc_id",
        "win_idx",
        "n_samples",
        dround(F.col("rms_raw"), 4).alias("rms"),
    )


def _audio_rms_sql() -> str:
    from ..functions.compat import sql_round

    w = _AUDIO_WIN
    return f"""
SELECT doc_id,
       (pos - 1) // {w} AS win_idx,
       count(*) AS n_samples,
       {sql_round('sqrt(sum(sq) / count(*))', 4)} AS rms
FROM (
  SELECT d.doc_id, p.pos,
         CAST(ascii(substr(d.text, CAST(p.pos AS INTEGER), 1)) - 128 AS BIGINT) ** 2 AS sq
  FROM documents d,
       LATERAL (SELECT unnest(range(1, octet_length(encode(d.text)) + 1)) AS pos) p
  WHERE octet_length(encode(d.text)) >= 1
)
GROUP BY doc_id, (pos - 1) // {w}
ORDER BY doc_id, win_idx
"""


def udaf_user_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-AGGREGATE pandas UDF (SURVEY §2.11 — the UDAF mode,
    completing the Arrow surface next to mapInPandas / grouped-map /
    stateful): per-user median event value computed by numpy inside an
    ``AggregateInPandas`` node.

    numpy's even-count median (mean of the two middle doubles) is the
    same arithmetic as DuckDB's ``median`` (= ``quantile_cont(0.5)``),
    so the oracle matches bit-for-bit before the display rounding."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from ..functions.compat import dround

    @pandas_udf("double")
    def median_udf(v: pd.Series) -> float:
        # SQL aggregate semantics: NULLs are ignored (np.median would
        # propagate NaN); all-NULL group -> NULL, like DuckDB median.
        # Even-count interpolation: np.median's (lo + hi)/2 is DuckDB
        # median's exact arithmetic — fuzz-verified bit-equal on 2300
        # random groups across magnitudes 1e-300..1e300 (the candidate
        # lo + (hi - lo)*0.5 form is the one that diverges by 1 ulp).
        vals = v.dropna().to_numpy()
        return float(np.median(vals)) if len(vals) else None

    # Spark forbids mixing pandas and non-pandas aggregates in one agg
    # (INVALID_PANDAS_UDF_PLACEMENT), so the count rides as a second
    # pandas aggregate
    @pandas_udf("long")
    def count_udf(v: pd.Series) -> int:
        return len(v)

    ev = load_table(spark, sf_dir, "events")
    # No trailing orderBy (guide §2.4 "an orderBy used only to make
    # output deterministic"): the global sort's range-partitioner
    # SAMPLES its child, re-executing the whole AggregateInPandas
    # subtree — measured 1.27 s → 2.61 s at sf0.1, i.e. the pandas
    # aggregation ran twice to sort 1500 rows. The driver/oracle
    # comparison is order-insensitive, and at 100 TB a global sort of
    # the per-user aggregate is a pure-overhead extra range shuffle.
    return ev.groupBy("user_id").agg(
        count_udf("value").alias("n_events"),
        median_udf("value").alias("median_raw"),
    ).select(
        "user_id",
        "n_events",
        dround(F.col("median_raw"), 4).alias("median_value"),
    )


def _udaf_median_sql() -> str:
    from ..functions.compat import sql_round

    return f"""
SELECT user_id,
       count(*) AS n_events,
       {sql_round('median(value)', 4)} AS median_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


QUERIES = {
    "multimodal_binary_features": multimodal_binary_features,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_thumbnail": multimodal_thumbnail,
    "multimodal_audio_rms": multimodal_audio_rms,
    "udaf_user_median": udaf_user_median,
}

ORACLES = {
    "multimodal_binary_features": MULTIMODAL_SQL,
    "multimodal_frame_sample": _frame_sample_sql(),
    "multimodal_thumbnail": _thumbnail_sql(),
    "multimodal_audio_rms": _audio_rms_sql(),
    "udaf_user_median": _udaf_median_sql(),
}


def grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map ``applyInPandas`` (SURVEY §2.11 — the per-group
    vectorized transform mode, reference analog: per-stack numpy kernels
    threaded through dask): z-score event values within each user.

    The oracle re-derives the same statistics with SQL window functions —
    pinning that the Arrow group transform and the JVM window agree.

    r13 (guide §4.5/§2.5): the grouped-map key is a HASH BUCKET of the
    user, not the raw user_id — one Python call per bucket, with the
    per-user statistics computed by pandas' C-level ``groupby.transform``
    inside the call, instead of one Python call (plus one pandas
    DataFrame construction) per user. At sf0.1 that is ~64 calls instead
    of ~1500; at 100 TB it is what keeps the Python-call count
    proportional to parallelism rather than to user cardinality. The
    bucket count derives from ``spark.sql.shuffle.partitions`` (scale
    config), never a local constant.
    """
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")

    n_buckets = max(
        64, int(spark.conf.get("spark.sql.shuffle.partitions", "32")) * 2
    )

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        # dropna=False: the NULL users form one group, as under the
        # oracle's PARTITION BY user_id
        g = pdf.groupby("user_id", dropna=False)["value"]
        m = g.transform("mean")
        s = g.transform("std")  # ddof=1 == stddev_samp
        # SQL semantics for degenerate groups (r8 tiny-fixture probe): a
        # 1-row group has stddev_samp NULL, a constant group divides by
        # NULLIF(0) — zscore is NULL, not 0. Nullable Float64 so Arrow
        # carries real nulls (a float64 NaN would hash-diverge from the
        # oracle's NULL); NULL inputs are NaN here and also map to NA.
        z = pd.array(((pdf["value"] - m) / s).to_numpy(), dtype="Float64")
        z[(s.isna() | (s == 0)).to_numpy()] = pd.NA
        return pd.DataFrame({"event_id": pdf["event_id"], "zscore_raw": z})

    out = (
        ev.select(
            "event_id",
            "user_id",
            "value",
            F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)).alias("bucket"),
        )
        .groupBy("bucket")
        .applyInPandas(zscore, "event_id long, zscore_raw double")
    )
    return out.select(
        "event_id",
        F.round(F.col("zscore_raw").cast("decimal(30,10)"), 4)
        .cast("double")
        .alias("zscore"),
    )


GROUPED_ZSCORE_SQL = """
SELECT
  event_id,
  CAST(round(CAST(((value - avg(value) OVER w)
    / NULLIF(stddev_samp(value) OVER w, 0)) AS DECIMAL(30,10)), 4) AS DOUBLE) AS zscore
FROM events
WINDOW w AS (PARTITION BY user_id)
"""

QUERIES["grouped_zscore"] = grouped_zscore
ORACLES["grouped_zscore"] = GROUPED_ZSCORE_SQL


# ---------------------------------------------------------------------------
# Python UDTF (Spark 4 table function surface, round 5)
# ---------------------------------------------------------------------------


def udtf_doc_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDTF: one input doc row → many bigram rows.

    Completes the sanctioned Python-crossing surface (mapInPandas,
    grouped-map, grouped-agg, scalar pandas_udf, stateful, and now table
    functions): the UDTF is registered with ``useArrow=True`` so it executes
    as ``ArrowEvalPythonUDTF`` — batched Arrow exchange, never row-pickling
    (the plan test forbids ``BatchEvalPython``). The doc filter is applied
    in a pre-filtered subquery *below* the UDTF, since generator output
    blocks predicate pushdown through it. Per-doc expansion is
    embarrassingly parallel; the downstream shape is identical to
    ``scalar_posexplode`` (the reference's indexed-yield generator,
    ``czi_to_zarr.py:229-258``, as a user-defined table function).
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="bigram string, cnt int", useArrow=True)
    class DocBigrams:
        def eval(self, text: str):
            toks = text.split(" ")
            counts: dict[tuple[str, str], int] = {}
            for pair in zip(toks, toks[1:]):
                counts[pair] = counts.get(pair, 0) + 1
            for (a, b), n in counts.items():
                yield (a + " " + b, n)

    spark.udtf.register("doc_bigrams", DocBigrams)
    load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 40
    ).createOrReplaceTempView("udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, b.bigram, b.cnt
        FROM udtf_docs d, LATERAL doc_bigrams(d.text) b
        """
    )


UDTF_DOC_BIGRAMS_SQL = """
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 40
),
pairs AS (
  SELECT doc_id, t[i + 1] || ' ' || t[i + 2] AS bigram
  FROM docs, unnest(range(0, len(t) - 1)) u(i)
)
SELECT doc_id, bigram, CAST(count(*) AS INT) AS cnt
FROM pairs
GROUP BY doc_id, bigram
"""

QUERIES["udtf_doc_bigrams"] = udtf_doc_bigrams
ORACLES["udtf_doc_bigrams"] = UDTF_DOC_BIGRAMS_SQL


# ---------------------------------------------------------------------------
# REAL image codec end-to-end: PNG encode → binary column → decode
# ---------------------------------------------------------------------------

_PNG_GRID = 64

PNG_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("pix_sum", T.LongType()),
        T.StructField("pix_md5", T.StringType()),
    ]
)


def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode done FOR REAL, not stubbed: each doc's deterministic
    64×64 grayscale image (text bytes tiled, the fixture convention of
    ``multimodal_thumbnail``) is encoded to an actual PNG — Paeth
    filtering, CRC-checked chunks, DEFLATE payload — shipped through the
    Arrow binary-column path, then decoded by :func:`decode_image`'s
    vendored stdlib codec. The emitted stats (dims, pixel sum, md5 of
    the decoded bytes) come from the DECODED array, so any codec bug
    breaks the oracle match: the round-trip must be lossless for the
    DuckDB twin (which computes the same stats straight from the text
    bytes, never seeing a PNG) to agree.

    Scale: one mapInPandas pass, no shuffle before the tiny result; the
    PNG work is per-row CPU inside Arrow batches — exactly where a real
    PIL/libvips decode would sit, with the same batch shape.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    media = docs.filter(F.length("text") >= 1).select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    return media.mapInPandas(_png_roundtrip, PNG_DECODE_SCHEMA)


def _png_roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The PNG encode→decode kernel shared verbatim by the batch query
    and ``streaming.events.stream_png_decode`` (the batch/streaming twin
    pattern — one implementation, two runtimes).

    Encode is per image (each PNG's DEFLATE stream is its own), decode
    runs through :func:`decode_png_gray8_batch`: the sequential
    Paeth-reconstruction scan is vectorized ACROSS the images of the
    Arrow batch, so its Python-loop cost is paid once per batch instead
    of once per row (same parse/CRC/unfilter semantics per image)."""
    import numpy as np

    from ..functions.png import decode_png_gray8_batch, encode_png_gray8

    g = _PNG_GRID
    flat = np.arange(g * g)
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        pngs = []
        for payload in pdf["payload"]:
            b = np.frombuffer(payload, np.uint8)
            img = b[flat % len(b)].reshape(g, g)
            pngs.append(encode_png_gray8(img, filter_type=4))
        arrs = decode_png_gray8_batch(pngs)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].to_numpy(np.int64),
                "width": np.full(n, g, np.int32),
                "height": np.full(n, g, np.int32),
                "pix_sum": arrs.astype(np.int64).sum(axis=(1, 2)),
                "pix_md5": [
                    hashlib.md5(arrs[i].tobytes()).hexdigest()
                    for i in range(n)
                ],
            }
        )


MULTIMODAL_PNG_DECODE_SQL = f"""
WITH d AS (
  SELECT doc_id, text FROM documents WHERE octet_length(encode(text)) >= 1
),
grid AS (SELECT unnest(range(0, {_PNG_GRID * _PNG_GRID})) AS i),
px AS (
  SELECT d.doc_id,
         ascii(substr(d.text,
                      CAST((gi.i % octet_length(encode(d.text))) + 1 AS INTEGER),
                      1)) AS v
  FROM d CROSS JOIN grid gi
)
SELECT
  p.doc_id,
  CAST({_PNG_GRID} AS INTEGER) AS width,
  CAST({_PNG_GRID} AS INTEGER) AS height,
  CAST(sum(p.v) AS BIGINT) AS pix_sum,
  md5(substr(repeat(d.text,
                    CAST({_PNG_GRID * _PNG_GRID} // octet_length(encode(d.text))
                         + 1 AS INTEGER)),
             1, {_PNG_GRID * _PNG_GRID})) AS pix_md5
FROM px p JOIN d ON p.doc_id = d.doc_id
GROUP BY p.doc_id, d.text
"""

QUERIES["multimodal_png_decode"] = multimodal_png_decode
ORACLES["multimodal_png_decode"] = MULTIMODAL_PNG_DECODE_SQL


# ---------------------------------------------------------------------------
# real JPEG decode through the Arrow batch path (round 6)
# ---------------------------------------------------------------------------

#: 8 blocks × 8 px — a 64×64 image of 64 constant 8×8 blocks
_JPEG_BLOCKS = 8


def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG decode done FOR REAL through the vendored ITU-T T.81 codec
    (``sources/jpegcodec.py`` — the same decoder the CZI mode-1 subblock
    path uses), hash-exact against an oracle that never sees a JPEG.

    JPEG is lossy in general, so the fixture family is chosen where
    quality-100 baseline JPEG is EXACTLY lossless: per-block-constant
    images (each 8×8 block holds one byte of the doc's text). A constant
    block's DCT is a single DC coefficient ``8·(c−128)`` — an exact
    integer under the all-ones quality-100 quantization table — and the
    DC-only inverse transform is an exact power-of-two division, so
    encode→decode reproduces every byte bit-for-bit. The emitted stats
    (dims, pixel sum, md5 of decoded bytes) come from the DECODED
    array; the DuckDB twin rebuilds the same image by string algebra
    from the text, so ANY codec defect (Huffman tables, DC prediction,
    stuffing, zig-zag, IDCT) breaks the hash match.

    Scale: one mapInPandas pass, no shuffle before the tiny result —
    per-row CPU inside Arrow batches, the same batch shape a libjpeg
    decode would occupy."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    # normalize to printable ASCII ('?' for anything else) BEFORE the
    # byte tiling: the DuckDB twin tiles *characters* (substr/ascii)
    # while this side tiles *bytes*, and any multi-byte UTF-8 character
    # would make the two engines build different images — normalizing in
    # both engines makes the twin byte-exact by construction (ADVICE r6)
    media = docs.filter(F.length("text") >= 1).select(
        "doc_id",
        F.encode(
            F.regexp_replace(F.col("text"), "[^ -~]", "?"), "utf-8"
        ).alias("payload"),
    )
    return media.mapInPandas(_jpeg_roundtrip, PNG_DECODE_SCHEMA)


def _jpeg_roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    from ..sources.jpegcodec import decode_gray, encode_gray

    nb = _JPEG_BLOCKS
    side = nb * 8
    kidx = np.arange(nb * nb)
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        ids, sums, digests = [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = np.frombuffer(payload, np.uint8)
            blocks = b[kidx % len(b)].reshape(nb, nb)
            img = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
            arr = decode_gray(encode_gray(img, quality=100))
            ids.append(doc_id)
            sums.append(int(arr.astype(np.int64).sum()))
            digests.append(hashlib.md5(arr.tobytes()).hexdigest())
        yield pd.DataFrame(
            {
                "doc_id": np.asarray(ids, np.int64),
                "width": np.full(n, side, np.int32),
                "height": np.full(n, side, np.int32),
                "pix_sum": np.asarray(sums, np.int64),
                "pix_md5": digests,
            }
        )


MULTIMODAL_JPEG_DECODE_SQL = f"""
WITH d AS (
  -- same printable-ASCII normalization as the Spark side: with every
  -- character single-byte, character tiling == byte tiling by construction
  SELECT doc_id, regexp_replace(text, '[^ -~]', '?', 'g') AS text
  FROM documents WHERE octet_length(encode(text)) >= 1
),
bc AS (  -- the 64 block bytes: text tiled to {_JPEG_BLOCKS * _JPEG_BLOCKS} chars
  SELECT doc_id,
         substr(repeat(text,
                       CAST({_JPEG_BLOCKS * _JPEG_BLOCKS}
                            // length(text) + 1 AS INTEGER)),
                1, {_JPEG_BLOCKS * _JPEG_BLOCKS}) AS chars
  FROM d
),
blocks AS (
  SELECT doc_id,
         CAST(t.bk // {_JPEG_BLOCKS} AS INTEGER) AS br,
         CAST(t.bk % {_JPEG_BLOCKS} AS INTEGER) AS bx,
         substr(chars, CAST(t.bk + 1 AS INTEGER), 1) AS ch
  FROM bc, unnest(range(0, {_JPEG_BLOCKS * _JPEG_BLOCKS})) t(bk)
),
rows_ AS (  -- one distinct image row per block-row (repeated 8× below)
  SELECT doc_id, br, string_agg(repeat(ch, 8), '' ORDER BY bx) AS rowstr,
         sum(ascii(ch)) AS row_block_sum
  FROM blocks GROUP BY doc_id, br
),
img AS (
  SELECT doc_id,
         string_agg(repeat(rowstr, 8), '' ORDER BY br) AS image,
         sum(row_block_sum) AS block_sum
  FROM rows_ GROUP BY doc_id
)
SELECT doc_id,
       CAST({_JPEG_BLOCKS * 8} AS INTEGER) AS width,
       CAST({_JPEG_BLOCKS * 8} AS INTEGER) AS height,
       CAST(block_sum * 64 AS BIGINT) AS pix_sum,
       md5(image) AS pix_md5
FROM img
"""

QUERIES["multimodal_jpeg_decode"] = multimodal_jpeg_decode
ORACLES["multimodal_jpeg_decode"] = MULTIMODAL_JPEG_DECODE_SQL


def multimodal_jpeg_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLOR JPEG decode through the vendored general decoder
    (``sources/jpegcodec.py::decode_image`` — the r10 multi-component
    matrix row), hash-exact against an oracle that never sees a JPEG.

    Same lossless-by-construction fixture family as
    ``multimodal_jpeg_decode``, extended to three channels: each 8×8
    block holds one CONSTANT RGB triple taken from three consecutive
    bytes of the doc's printable-ASCII text. The full chain is then
    bit-exact at 4:4:4 quality 100:

    - forward RGB→YCbCr is PURE INTEGER half-up arithmetic (scaled
      BT.601 coefficients) on both sides — a float formulation
      diverges on exact decimal ties (the sf0.1 differential caught
      y = 104.5 landing one ulp below .5 in doubles but ON it in
      DuckDB's decimal literals); in the ASCII byte range [32,126] no
      channel ever clips;
    - a constant block's DCT is one integer DC coefficient under the
      all-ones q100 tables (luma AND chroma scale to 1), so quantize →
      dequantize → IDCT is exact;
    - the decoder's YCbCr→RGB is libjpeg's fixed-point arithmetic
      (SCALEBITS=16), which the oracle replicates as integer algebra
      with floor(x/65536.0) (DuckDB ``//`` truncates, the C arithmetic
      shift floors).

    The emitted stats (dims, per-image pixel sum over all channels, md5
    of the decoded interleaved-RGB HEX string) come from the DECODED
    array, so any defect in the interleaved-MCU entropy coding,
    per-component DC prediction, quant-table routing, upsampling
    identity, or color conversion breaks the hash.

    Scale: one mapInPandas pass, no shuffle before the tiny result.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    media = docs.filter(F.length("text") >= 1).select(
        "doc_id",
        F.encode(
            F.regexp_replace(F.col("text"), "[^ -~]", "?"), "utf-8"
        ).alias("payload"),
    )
    return media.mapInPandas(_jpeg_color_roundtrip, PNG_DECODE_SCHEMA)


def _jpeg_color_roundtrip(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    import numpy as np

    from ..sources.jpegcodec import decode_image, encode_color

    nb = _JPEG_BLOCKS
    side = nb * 8
    kidx = np.arange(nb * nb)
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        ids, sums, digests = [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = np.frombuffer(payload, np.uint8)
            # block k's RGB = bytes (k, k+1, k+2) of the tiled text
            tri = np.stack(
                [b[(kidx + c) % len(b)] for c in range(3)], axis=-1
            ).reshape(nb, nb, 3)
            img = np.repeat(np.repeat(tri, 8, axis=0), 8, axis=1)
            arr = decode_image(
                encode_color(img, quality=100, subsampling="4:4:4")
            )
            ids.append(doc_id)
            sums.append(int(arr.astype(np.int64).sum()))
            digests.append(
                hashlib.md5(arr.tobytes().hex().encode()).hexdigest()
            )
        yield pd.DataFrame(
            {
                "doc_id": np.asarray(ids, np.int64),
                "width": np.full(n, side, np.int32),
                "height": np.full(n, side, np.int32),
                "pix_sum": np.asarray(sums, np.int64),
                "pix_md5": digests,
            }
        )


_NB2 = _JPEG_BLOCKS * _JPEG_BLOCKS

MULTIMODAL_JPEG_COLOR_SQL = f"""
WITH d AS (
  SELECT doc_id, regexp_replace(text, '[^ -~]', '?', 'g') AS text
  FROM documents WHERE octet_length(encode(text)) >= 1
),
bc AS (  -- tile to {_NB2}+2 chars so block k can read bytes k, k+1, k+2
  SELECT doc_id, length(text) AS L,
         substr(repeat(text,
                       CAST(({_NB2} + 2) // length(text) + 1 AS INTEGER)),
                1, {_NB2} + 2) AS chars
  FROM d
),
blocks AS (
  SELECT doc_id,
         CAST(t.bk // {_JPEG_BLOCKS} AS INTEGER) AS br,
         CAST(t.bk % {_JPEG_BLOCKS} AS INTEGER) AS bx,
         -- byte (k + c) mod L of the original text == char ((k+c) % L)+1
         -- (BIGINT: the scaled-coefficient products below overflow
         -- 32-bit integers)
         CAST(ascii(substr(chars, CAST((t.bk + 0) % L + 1 AS INTEGER), 1)) AS BIGINT) AS r,
         CAST(ascii(substr(chars, CAST((t.bk + 1) % L + 1 AS INTEGER), 1)) AS BIGINT) AS g,
         CAST(ascii(substr(chars, CAST((t.bk + 2) % L + 1 AS INTEGER), 1)) AS BIGINT) AS b
  FROM bc, unnest(range(0, {_NB2})) t(bk)
),
ycc AS (  -- forward transform: PURE INTEGER half-up (scaled BT.601
          -- coefficients), matching the encoder exactly — a float
          -- formulation diverges on decimal ties (y = 104.5 exactly)
          -- because doubles land one ulp below .5 while DuckDB's
          -- decimal literals land ON it; clip-free in [32,126]
  SELECT doc_id, br, bx,
    (299*r + 587*g + 114*b + 500) // 1000 AS y,
    (128000000000 - 168735892*r - 331264108*g + 500000000*b
     + 500000000) // 1000000000 AS cb,
    (128000000000 + 500000000*r - 418687589*g - 81312411*b
     + 500000000) // 1000000000 AS cr
  FROM blocks
),
rgb AS (  -- libjpeg fixed-point inverse; floor(x/65536.0) = C >> 16
  SELECT doc_id, br, bx,
    y + CAST(floor((91881 * (cr - 128) + 32768) / 65536.0) AS BIGINT) AS r2,
    y + CAST(floor((-22554 * (cb - 128) - 46802 * (cr - 128) + 32768)
                   / 65536.0) AS BIGINT) AS g2,
    y + CAST(floor((116130 * (cb - 128) + 32768) / 65536.0) AS BIGINT) AS b2
  FROM ycc
),
rows_ AS (  -- one block-row of hex pixels, each block 8 px wide
  SELECT doc_id, br,
         string_agg(repeat(printf('%02x%02x%02x', r2, g2, b2), 8),
                    '' ORDER BY bx) AS rowhex,
         sum(r2 + g2 + b2) AS row_block_sum
  FROM rgb GROUP BY doc_id, br
),
img AS (
  SELECT doc_id,
         string_agg(repeat(rowhex, 8), '' ORDER BY br) AS imagehex,
         sum(row_block_sum) AS block_sum
  FROM rows_ GROUP BY doc_id
)
SELECT doc_id,
       CAST({_JPEG_BLOCKS * 8} AS INTEGER) AS width,
       CAST({_JPEG_BLOCKS * 8} AS INTEGER) AS height,
       CAST(block_sum * 64 AS BIGINT) AS pix_sum,
       md5(imagehex) AS pix_md5
FROM img
"""

QUERIES["multimodal_jpeg_color"] = multimodal_jpeg_color
ORACLES["multimodal_jpeg_color"] = MULTIMODAL_JPEG_COLOR_SQL


def multimodal_jpeg_lossless(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESS JPEG (SOF3, T.81 Annex H) round trip through the
    vendored DPCM codec — r10. Unlike the DCT twins, lossless is
    bit-exact on ARBITRARY pixels, so the fixture needs no
    block-constant construction: the doc's printable-ASCII bytes tile
    DIRECTLY into a 64×64 image, every pixel different from its
    neighbors — the hardest DPCM case (predictor 4, two-dimensional).
    The oracle md5s the same tiled character string; any defect in
    prediction, mod-2^16 difference coding, or the category table
    breaks the hash on every row.

    Scale: one mapInPandas pass, no shuffle before the tiny result.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    media = docs.filter(F.length("text") >= 1).select(
        "doc_id",
        F.encode(
            F.regexp_replace(F.col("text"), "[^ -~]", "?"), "utf-8"
        ).alias("payload"),
    )
    return media.mapInPandas(_jpeg_lossless_roundtrip, PNG_DECODE_SCHEMA)


#: lossless-query image side: DPCM decode is inherently per-sample
#: sequential Python, so the registry query uses a 16x16 tile (256
#: samples exercises every predictor path incl. row seams) rather
#: than the DCT twins' 64x64 - the r10 bench measured the 64x64
#: variant at 18.6 s for 5000 docs, all of it interpreter loop
_LOSSLESS_SIDE = 16


def _jpeg_lossless_roundtrip(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    import numpy as np

    from ..sources.jpegcodec import decode_lossless, encode_gray_lossless

    side = _LOSSLESS_SIDE
    kidx = np.arange(side * side)
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        ids, sums, digests = [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = np.frombuffer(payload, np.uint8)
            img = b[kidx % len(b)].reshape(side, side)
            arr = decode_lossless(encode_gray_lossless(img, predictor=4))
            ids.append(doc_id)
            sums.append(int(arr.astype(np.int64).sum()))
            digests.append(hashlib.md5(arr.tobytes()).hexdigest())
        yield pd.DataFrame(
            {
                "doc_id": np.asarray(ids, np.int64),
                "width": np.full(n, side, np.int32),
                "height": np.full(n, side, np.int32),
                "pix_sum": np.asarray(sums, np.int64),
                "pix_md5": digests,
            }
        )


_SIDE2 = _LOSSLESS_SIDE * _LOSSLESS_SIDE

MULTIMODAL_JPEG_LOSSLESS_SQL = f"""
WITH d AS (
  SELECT doc_id, regexp_replace(text, '[^ -~]', '?', 'g') AS text
  FROM documents WHERE octet_length(encode(text)) >= 1
),
img AS (  -- the raw image IS the tiled text: {_SIDE2} single-byte chars
  SELECT doc_id,
         substr(repeat(text,
                       CAST({_SIDE2} // length(text) + 1 AS INTEGER)),
                1, {_SIDE2}) AS image
  FROM d
),
px AS (
  SELECT doc_id,
         sum(ascii(substr(image, CAST(t.k + 1 AS INTEGER), 1))) AS pix_sum
  FROM img, unnest(range(0, {_SIDE2})) t(k)
  GROUP BY doc_id
)
SELECT i.doc_id,
       CAST({_LOSSLESS_SIDE} AS INTEGER) AS width,
       CAST({_LOSSLESS_SIDE} AS INTEGER) AS height,
       CAST(p.pix_sum AS BIGINT) AS pix_sum,
       md5(i.image) AS pix_md5
FROM img i JOIN px p USING (doc_id)
"""

QUERIES["multimodal_jpeg_lossless"] = multimodal_jpeg_lossless
ORACLES["multimodal_jpeg_lossless"] = MULTIMODAL_JPEG_LOSSLESS_SQL


def multimodal_jpeg_cmyk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-component YCCK JPEG decode through the vendored general
    decoder (``sources/jpegcodec.py::decode_image`` — the r11 CMYK
    matrix row), hash-exact against an oracle that never sees a JPEG.

    Same lossless-by-construction family as ``multimodal_jpeg_color``,
    extended to the CMYK layout libjpeg writes for JCS_YCCK input
    (Adobe APP14 transform=2): each 8×8 block holds one CONSTANT CMYK
    quad from four consecutive printable-ASCII bytes, so at quality
    100 (all-ones quant tables) the whole chain is bit-exact —

    - inversion C/M/Y → R/G/B is ``255 - x`` (exact integers),
    - forward RGB→YCbCr is the pure-integer half-up transform shared
      with the color twin (no channel clips: inputs land in
      [129, 223]),
    - decode reverses with libjpeg's fixed-point arithmetic, which the
      oracle replicates as integer algebra with floor(x/65536.0),
      then re-inverts to CMY; K rides through untouched.

    Any defect in the 4-component interleaved scan (T.81's Ns=4
    ceiling), the Adobe APP14 transform resolution, or the inverted
    conversion breaks the md5 on every row.

    Scale: one mapInPandas pass, no shuffle before the tiny result.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    media = docs.filter(F.length("text") >= 1).select(
        "doc_id",
        F.encode(
            F.regexp_replace(F.col("text"), "[^ -~]", "?"), "utf-8"
        ).alias("payload"),
    )
    return media.mapInPandas(_jpeg_cmyk_roundtrip, PNG_DECODE_SCHEMA)


def _jpeg_cmyk_roundtrip(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    import numpy as np

    from ..sources.jpegcodec import decode_image, encode_cmyk

    nb = _JPEG_BLOCKS
    side = nb * 8
    kidx = np.arange(nb * nb)
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        ids, sums, digests = [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = np.frombuffer(payload, np.uint8)
            quad = np.stack(
                [b[(kidx + c) % len(b)] for c in range(4)], axis=-1
            ).reshape(nb, nb, 4)
            img = np.repeat(np.repeat(quad, 8, axis=0), 8, axis=1)
            arr = decode_image(encode_cmyk(img, quality=100, transform=2))
            ids.append(doc_id)
            sums.append(int(arr.astype(np.int64).sum()))
            digests.append(
                hashlib.md5(arr.tobytes().hex().encode()).hexdigest()
            )
        yield pd.DataFrame(
            {
                "doc_id": np.asarray(ids, np.int64),
                "width": np.full(n, side, np.int32),
                "height": np.full(n, side, np.int32),
                "pix_sum": np.asarray(sums, np.int64),
                "pix_md5": digests,
            }
        )


MULTIMODAL_JPEG_CMYK_SQL = f"""
WITH d AS (
  SELECT doc_id, regexp_replace(text, '[^ -~]', '?', 'g') AS text
  FROM documents WHERE octet_length(encode(text)) >= 1
),
bc AS (  -- tile to {_NB2}+3 chars so block k can read bytes k..k+3
  SELECT doc_id, length(text) AS L,
         substr(repeat(text,
                       CAST(({_NB2} + 3) // length(text) + 1 AS INTEGER)),
                1, {_NB2} + 3) AS chars
  FROM d
),
blocks AS (
  SELECT doc_id,
         CAST(t.bk // {_JPEG_BLOCKS} AS INTEGER) AS br,
         CAST(t.bk % {_JPEG_BLOCKS} AS INTEGER) AS bx,
         -- inverted CMY -> RGB feeds the forward transform; K rides raw
         255 - CAST(ascii(substr(chars, CAST((t.bk + 0) % L + 1 AS INTEGER), 1)) AS BIGINT) AS r,
         255 - CAST(ascii(substr(chars, CAST((t.bk + 1) % L + 1 AS INTEGER), 1)) AS BIGINT) AS g,
         255 - CAST(ascii(substr(chars, CAST((t.bk + 2) % L + 1 AS INTEGER), 1)) AS BIGINT) AS b,
         CAST(ascii(substr(chars, CAST((t.bk + 3) % L + 1 AS INTEGER), 1)) AS BIGINT) AS k
  FROM bc, unnest(range(0, {_NB2})) t(bk)
),
ycc AS (  -- same pure-integer forward transform as the color twin
  SELECT doc_id, br, bx, k,
    (299*r + 587*g + 114*b + 500) // 1000 AS y,
    (128000000000 - 168735892*r - 331264108*g + 500000000*b
     + 500000000) // 1000000000 AS cb,
    (128000000000 + 500000000*r - 418687589*g - 81312411*b
     + 500000000) // 1000000000 AS cr
  FROM blocks
),
cmyk AS (  -- libjpeg fixed-point inverse, re-inverted to stored CMY
  SELECT doc_id, br, bx, k,
    255 - (y + CAST(floor((91881 * (cr - 128) + 32768) / 65536.0) AS BIGINT)) AS c2,
    255 - (y + CAST(floor((-22554 * (cb - 128) - 46802 * (cr - 128) + 32768)
                   / 65536.0) AS BIGINT)) AS m2,
    255 - (y + CAST(floor((116130 * (cb - 128) + 32768) / 65536.0) AS BIGINT)) AS y2
  FROM ycc
),
rows_ AS (
  SELECT doc_id, br,
         string_agg(repeat(printf('%02x%02x%02x%02x', c2, m2, y2, k), 8),
                    '' ORDER BY bx) AS rowhex,
         sum(c2 + m2 + y2 + k) AS row_block_sum
  FROM cmyk GROUP BY doc_id, br
),
img AS (
  SELECT doc_id,
         string_agg(repeat(rowhex, 8), '' ORDER BY br) AS imagehex,
         sum(row_block_sum) AS block_sum
  FROM rows_ GROUP BY doc_id
)
SELECT doc_id,
       CAST({_JPEG_BLOCKS * 8} AS INTEGER) AS width,
       CAST({_JPEG_BLOCKS * 8} AS INTEGER) AS height,
       CAST(block_sum * 64 AS BIGINT) AS pix_sum,
       md5(imagehex) AS pix_md5
FROM img
"""

QUERIES["multimodal_jpeg_cmyk"] = multimodal_jpeg_cmyk
ORACLES["multimodal_jpeg_cmyk"] = MULTIMODAL_JPEG_CMYK_SQL


#: arithmetic-query image side: the QM coder is per-symbol Python, so
#: the registry query uses a 2x2-block (16x16) tile — the property
#: pinned (Annex D coder + Annex F model round trip, exact on
#: block-constant input at q100) is size-independent
_ARITH_BLOCKS = 2


def multimodal_jpeg_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARITHMETIC-coded JPEG (SOF9) round trip through the vendored
    T.81 Annex D/F coder (``sources/jpegarith.py`` — the r11 codec
    matrix row), hash-exact against an oracle that never sees a JPEG.

    Same per-block-constant construction as ``multimodal_jpeg_decode``
    (each 8×8 block one text byte, exact at quality 100); only the
    entropy layer differs — QM probability-estimation state machine,
    DC conditioning contexts, carry/stuffing byte discipline — so any
    defect there breaks the md5 on every row while the DCT math stays
    pinned by the Huffman twin.

    Scale: one mapInPandas pass, no shuffle before the tiny result.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    media = docs.filter(F.length("text") >= 1).select(
        "doc_id",
        F.encode(
            F.regexp_replace(F.col("text"), "[^ -~]", "?"), "utf-8"
        ).alias("payload"),
    )
    return media.mapInPandas(_jpeg_arith_roundtrip, PNG_DECODE_SCHEMA)


def _jpeg_arith_roundtrip(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    import numpy as np

    from ..sources.jpegarith import decode_arith, encode_arith

    nb = _ARITH_BLOCKS
    side = nb * 8
    kidx = np.arange(nb * nb)
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        ids, sums, digests = [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = np.frombuffer(payload, np.uint8)
            blocks = b[kidx % len(b)].reshape(nb, nb)
            img = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
            arr = decode_arith(encode_arith(img, quality=100))
            ids.append(doc_id)
            sums.append(int(arr.astype(np.int64).sum()))
            digests.append(hashlib.md5(arr.tobytes()).hexdigest())
        yield pd.DataFrame(
            {
                "doc_id": np.asarray(ids, np.int64),
                "width": np.full(n, side, np.int32),
                "height": np.full(n, side, np.int32),
                "pix_sum": np.asarray(sums, np.int64),
                "pix_md5": digests,
            }
        )


_ANB2 = _ARITH_BLOCKS * _ARITH_BLOCKS

MULTIMODAL_JPEG_ARITH_SQL = f"""
WITH d AS (
  SELECT doc_id, regexp_replace(text, '[^ -~]', '?', 'g') AS text
  FROM documents WHERE octet_length(encode(text)) >= 1
),
bc AS (
  SELECT doc_id,
         substr(repeat(text,
                       CAST({_ANB2} // length(text) + 1 AS INTEGER)),
                1, {_ANB2}) AS chars
  FROM d
),
blocks AS (
  SELECT doc_id,
         CAST(t.bk // {_ARITH_BLOCKS} AS INTEGER) AS br,
         CAST(t.bk % {_ARITH_BLOCKS} AS INTEGER) AS bx,
         substr(chars, CAST(t.bk + 1 AS INTEGER), 1) AS ch
  FROM bc, unnest(range(0, {_ANB2})) t(bk)
),
rows_ AS (
  SELECT doc_id, br, string_agg(repeat(ch, 8), '' ORDER BY bx) AS rowstr,
         sum(ascii(ch)) AS row_block_sum
  FROM blocks GROUP BY doc_id, br
),
img AS (
  SELECT doc_id,
         string_agg(repeat(rowstr, 8), '' ORDER BY br) AS image,
         sum(row_block_sum) AS block_sum
  FROM rows_ GROUP BY doc_id
)
SELECT doc_id,
       CAST({_ARITH_BLOCKS * 8} AS INTEGER) AS width,
       CAST({_ARITH_BLOCKS * 8} AS INTEGER) AS height,
       CAST(block_sum * 64 AS BIGINT) AS pix_sum,
       md5(image) AS pix_md5
FROM img
"""

QUERIES["multimodal_jpeg_arith"] = multimodal_jpeg_arith
ORACLES["multimodal_jpeg_arith"] = MULTIMODAL_JPEG_ARITH_SQL
