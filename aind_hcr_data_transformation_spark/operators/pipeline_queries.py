"""The reference's pipeline operators, relationally expressed and
oracle-checked (SURVEY §7 M2).

Each query mirrors a concrete reference operator (file:line cited per
function) over the driver-provided tables — stand-in "stacks" are derived
deterministically from table columns, and voxel grids are generated inline
with ``sequence``/``explode`` on both engines, so the DuckDB oracle pins
the exact semantics (round-robin multisets, jump planning, crop-trimmed
windowed means, dtype truncation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.compat import dround
from ..session import local_frame
from ..tables import load_table
from .downsample import downsample_relational

# ---------------------------------------------------------------------------
# S1/O1/P1: deterministic stack-catalog scan
# ---------------------------------------------------------------------------


def pipe_stack_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory-scan semantics of ``_get_partitioned_list_of_stack_paths``
    (``zeiss_job.py:42-60``): glob → drop non-files (``is_file``,
    ``zeiss_job.py:52``) → lexicographic sort for cross-node determinism
    (``zeiss_job.py:56``) → stem extraction (``zeiss_job.py:135``).

    Stand-in paths come from documents; one synthetic directory row
    exercises the is_file filter.
    """
    docs = load_table(spark, sf_dir, "documents")
    catalog = docs.select(
        F.concat(F.lit("SPIM/"), F.col("source"), F.lit("_"), F.col("doc_id").cast("string"), F.lit(".czi")).alias("path"),
        F.lit(True).alias("is_file"),
    )
    dir_row = local_frame(
        spark, [("SPIM/derivatives", False)], "path string, is_file boolean"
    )
    return (
        catalog.unionByName(dir_row)
        .filter(F.col("is_file"))
        .select(
            "path",
            F.regexp_extract(F.col("path"), r"([^/]+)\.czi$", 1).alias("stack_name"),
        )
    )


PIPE_STACK_CATALOG_SQL = r"""
SELECT
  path,
  regexp_extract(path, '([^/]+)\.czi$', 1) AS stack_name
FROM (
  SELECT 'SPIM/' || source || '_' || CAST(doc_id AS VARCHAR) || '.czi' AS path,
         TRUE AS is_file
  FROM documents
  UNION ALL
  SELECT 'SPIM/derivatives', FALSE
)
WHERE is_file
"""


# ---------------------------------------------------------------------------
# X1: round-robin partition assignment
# ---------------------------------------------------------------------------


def pipe_partition_roundrobin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``partition_list`` round-robin split (``zeiss_job.py:29-40``,
    ``models.py:35-45``): sorted stack list dealt modulo
    ``num_of_partitions``. Spark replaces the SLURM plumbing, but the
    assignment itself must be reproducible, so it derives from the
    global rank of ``path`` — never ``monotonically_increasing_id``
    (SURVEY §7 hard-part 5). Computed by
    :func:`~..plans.partitioning.assign_round_robin`'s TWO-PHASE ordinal
    (range-shuffle parallel sort → per-partition ``row_number`` + a
    one-row broadcast census folded into offsets with array lambdas),
    not a global single-reducer window — identical output, scales past
    catalog size. The oracle pins the multiset-per-partition invariant
    the reference's own tests check (``tests/test_zeiss_job.py:43-57``)
    via the equivalent single-sort SQL formulation.
    """
    from ..plans.partitioning import assign_round_robin

    docs = load_table(spark, sf_dir, "documents")
    paths = docs.select(
        F.concat(F.lit("SPIM/"), F.col("source"), F.lit("_"), F.col("doc_id").cast("string"), F.lit(".czi")).alias("path"),
        "doc_id",
    )
    assigned = assign_round_robin(paths, 5, order_by="path")
    return assigned.groupBy("partition_id").agg(
        F.count(F.lit(1)).alias("n_stacks"),
        F.sum("doc_id").alias("sum_doc_id"),
        F.min("path").alias("first_path"),
        F.max("path").alias("last_path"),
    )


PIPE_ROUNDROBIN_SQL = """
WITH paths AS (
  SELECT 'SPIM/' || source || '_' || CAST(doc_id AS VARCHAR) || '.czi' AS path,
         doc_id
  FROM documents
), assigned AS (
  SELECT path, doc_id,
         CAST((row_number() OVER (ORDER BY path) - 1) % 5 AS INTEGER) AS partition_id
  FROM paths
)
SELECT
  partition_id,
  count(*)            AS n_stacks,
  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
  min(path)           AS first_path,
  max(path)           AS last_path
FROM assigned
GROUP BY partition_id
"""


# ---------------------------------------------------------------------------
# S2/S3/K3: jump planning and block-index generation
# ---------------------------------------------------------------------------


def pipe_block_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``generate_jumps`` (``utils/utils.py:398-415``) applied per stack:
    z-slab start offsets every ``jump_size`` planes, end clamped to the
    extent — the block-index DataFrame that replaces the reference's
    eager ``czi_block_generator`` loop (``utils/utils.py:462-526``).

    Stand-in z-extents derive from part sizes; jump=128 matches the
    default chunk (``models.py:62-66``).
    """
    part = load_table(spark, sf_dir, "part")
    jump = 128
    stacks = part.select(
        "p_partkey", (F.col("p_size") * 17 + 1).alias("z_extent")
    )
    return stacks.select(
        "p_partkey",
        "z_extent",
        F.explode(
            F.sequence(F.lit(0), F.col("z_extent") - 1, F.lit(jump))
        ).alias("z0"),
    ).select(
        "p_partkey",
        "z0",
        F.least(F.col("z0") + jump, F.col("z_extent")).alias("z1"),
    )


PIPE_BLOCK_INDEX_SQL = """
SELECT
  p_partkey,
  CAST(z0 AS INTEGER)                              AS z0,
  CAST(least(z0 + 128, p_size * 17 + 1) AS INTEGER) AS z1
FROM part, unnest(range(0, p_size * 17 + 1, 128)) t(z0)
"""


def pipe_block_grid_3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``BlockedArrayWriter.gen_slices`` (``zarr_writer.py:129-186``):
    row-major tiling of an N-D shape by a block shape, last block per
    dimension truncated. One synthetic stack per nation (shape varies with
    the nation key) tiled by 16×32×32 blocks."""
    nation = load_table(spark, sf_dir, "nation")
    bz, by, bx = 16, 32, 32
    shaped = nation.select(
        "n_nationkey",
        (F.lit(40) + F.col("n_nationkey")).alias("sz"),
        F.lit(64).alias("sy"),
        (F.lit(64) + (F.col("n_nationkey") % 3)).alias("sx"),
    )
    return (
        shaped.select(
            "n_nationkey", "sz", "sy", "sx",
            F.explode(F.sequence(F.lit(0), F.col("sz") - 1, F.lit(bz))).alias("z0"),
        )
        .select(
            "n_nationkey", "sz", "sy", "sx", "z0",
            F.explode(F.sequence(F.lit(0), F.col("sy") - 1, F.lit(by))).alias("y0"),
        )
        .select(
            "n_nationkey", "sz", "sy", "sx", "z0", "y0",
            F.explode(F.sequence(F.lit(0), F.col("sx") - 1, F.lit(bx))).alias("x0"),
        )
        .select(
            "n_nationkey",
            "z0",
            F.least(F.col("z0") + bz, F.col("sz")).alias("z1"),
            "y0",
            F.least(F.col("y0") + by, F.col("sy")).alias("y1"),
            "x0",
            F.least(F.col("x0") + bx, F.col("sx")).alias("x1"),
        )
    )


PIPE_BLOCK_GRID_SQL = """
WITH shaped AS (
  SELECT n_nationkey,
         40 + n_nationkey       AS sz,
         64                     AS sy,
         64 + (n_nationkey % 3) AS sx
  FROM nation
)
SELECT
  n_nationkey,
  CAST(z0 AS INTEGER)                 AS z0,
  CAST(least(z0 + 16, sz) AS INTEGER) AS z1,
  CAST(y0 AS INTEGER)                 AS y0,
  CAST(least(y0 + 32, sy) AS INTEGER) AS y1,
  CAST(x0 AS INTEGER)                 AS x0,
  CAST(least(x0 + 32, sx) AS INTEGER) AS x1
FROM shaped,
     unnest(range(0, sz, 16)) tz(z0),
     unnest(range(0, sy, 32)) ty(y0),
     unnest(range(0, sx, 32)) tx(x0)
"""


# ---------------------------------------------------------------------------
# A1/A2/X10: windowed-mean downsample + cascade
# ---------------------------------------------------------------------------

_GRID_Z, _GRID_Y, _GRID_X = 23, 32, 32  # odd Z exercises the crop trim at
# every level: 23 → 11 → 5 (xarray_multiscale 1.1.0 floor recurrence; the
# trailing plane beyond the last full window is DROPPED, not averaged short)


def _voxel_grid(spark: SparkSession) -> DataFrame:
    """Deterministic ramp voxels v(z,y,x) = (z*1000 + y*10 + x) % 65536
    (FIXTURES.md B2) generated inline — closed-form golden values."""
    return (
        spark.range(1)
        .select(F.explode(F.sequence(F.lit(0), F.lit(_GRID_Z - 1))).alias("z"))
        .select("z", F.explode(F.sequence(F.lit(0), F.lit(_GRID_Y - 1))).alias("y"))
        .select("z", "y", F.explode(F.sequence(F.lit(0), F.lit(_GRID_X - 1))).alias("x"))
        .select(
            F.col("z").cast("int").alias("z"),
            F.col("y").cast("int").alias("y"),
            F.col("x").cast("int").alias("x"),
            ((F.col("z") * 1000 + F.col("y") * 10 + F.col("x")) % 65536)
            .cast("int")
            .alias("v"),
        )
    )


_VOXEL_GRID_SQL = f"""
  SELECT CAST(z AS INTEGER) AS z, CAST(y AS INTEGER) AS y, CAST(x AS INTEGER) AS x,
         CAST((z*1000 + y*10 + x) % 65536 AS INTEGER) AS v
  FROM unnest(range(0, {_GRID_Z})) tz(z),
       unnest(range(0, {_GRID_Y})) ty(y),
       unnest(range(0, {_GRID_X})) tx(x)
"""


_L0 = (_GRID_Z, _GRID_Y, _GRID_X)
_L1 = tuple(e // 2 for e in _L0)  # crop recurrence: floor(extent/2)


def pipe_downsample_level1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One windowed-mean pyramid level (``compute_pyramid``,
    ``czi_to_zarr.py:410-454``): 2×2×2 non-overlapping mean with
    xarray_multiscale-1.1.0 crop semantics (each axis trimmed to an even
    multiple of the factor BEFORE windowing — odd Z drops its last plane)
    and dtype-preserving truncation (``preserve_dtype=True`` → integer
    ``astype``; floor == trunc for non-negative voxels)."""
    return downsample_relational(_voxel_grid(spark), (2, 2, 2), True, extents=_L0)


def _crop_where(extents: tuple[int, int, int], f: int = 2) -> str:
    z, y, x = ((e // f) * f for e in extents)
    return f"z < {z} AND y < {y} AND x < {x}"


PIPE_DOWNSAMPLE_SQL = f"""
WITH voxels AS ({_VOXEL_GRID_SQL})
SELECT
  CAST(z // 2 AS INTEGER) AS z,
  CAST(y // 2 AS INTEGER) AS y,
  CAST(x // 2 AS INTEGER) AS x,
  CAST(floor(avg(v)) AS INTEGER) AS v
FROM voxels
WHERE {_crop_where(_L0)}
GROUP BY 1, 2, 3
"""


def pipe_multiscale_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level cascade (``czi_to_zarr.py:623-653``): level 2 computed
    from level 1 — NOT from level 0 — with the crop trim AND truncation
    applied at *each* level (the compounding semantics the read-back loop
    implies; a single 4×4×4 mean would differ: 23 → 11 → 5, not 23 → 5
    via floor(23/4))."""
    level1 = downsample_relational(_voxel_grid(spark), (2, 2, 2), True, extents=_L0)
    return downsample_relational(level1, (2, 2, 2), True, extents=_L1)


PIPE_CASCADE_SQL = f"""
WITH voxels AS ({_VOXEL_GRID_SQL}),
level1 AS (
  SELECT CAST(z // 2 AS INTEGER) AS z, CAST(y // 2 AS INTEGER) AS y,
         CAST(x // 2 AS INTEGER) AS x, CAST(floor(avg(v)) AS INTEGER) AS v
  FROM voxels WHERE {_crop_where(_L0)} GROUP BY 1, 2, 3
)
SELECT CAST(z // 2 AS INTEGER) AS z, CAST(y // 2 AS INTEGER) AS y,
       CAST(x // 2 AS INTEGER) AS x, CAST(floor(avg(v)) AS INTEGER) AS v
FROM level1 WHERE {_crop_where(_L1)} GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# A4/X9: the statistics the reference skipped
# ---------------------------------------------------------------------------


def pipe_voxel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The display-range percentiles the reference hard-codes away
    (``czi_to_zarr.py:543-555``: "da.percentile … would take so much
    time") — computed for real as exact interpolated percentiles (0.001,
    0.95) per group, plus min/max, over lineitem prices.

    Scale design: NOT ``percentile()`` (an ObjectHashAggregate that
    buffers every raw value per group in executor memory — with 3 group
    keys at 100 TB that is billions of doubles per task).  Instead a
    histogram-style plan: (1) map-side-combinable count per DISTINCT
    value, (2) cumulative-count window over distinct values only, (3) the
    value covering rank ``floor((n-1)*p)+1`` plus linear interpolation —
    the same definition as ``percentile``/``quantile_cont``, but the only
    state is one row per distinct value and the sort is a spillable
    shuffle, not an in-memory buffer.  (``approx_percentile`` is the
    sketch-based alternative when exactness is not required.)
    """
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    dist = li.groupBy("l_returnflag", F.col("l_extendedprice").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # Two-level cumulative sum (r14, guide §2.2/§2.5): the flat
    # cum-count window was partitioned by l_returnflag alone, so the
    # whole distinct-value relation funnelled through <= 3 tasks at any
    # scale. Pre-bucket each flag's values into order-respecting ranges
    # (bounds from one map-side min/max pass, broadcast; bucket count
    # scales with the session's shuffle parallelism), cum-sum WITHIN
    # each (flag, bucket) in parallel, and add the per-bucket offset —
    # a 3 x n_buckets-row relation, broadcast back. cum and n are
    # bit-identical to the flat window's (integer counts, buckets
    # respect value order), so the percentile math is unchanged.
    n_buckets = 3 * max(1, int(spark.conf.get("spark.sql.shuffle.partitions")))
    bounds = li.agg(
        F.min("l_extendedprice").alias("_vmin"),
        F.max("l_extendedprice").alias("_vmax"),
    )
    width = (F.col("_vmax") - F.col("_vmin")) / F.lit(float(n_buckets))
    dist = dist.crossJoin(bounds).withColumn(
        "bkt",
        F.when(F.col("_vmax") <= F.col("_vmin"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(n_buckets - 1),
                F.floor((F.col("v") - F.col("_vmin")) / width),
            )
        )
        .cast("int"),
    )
    w_local = Window.partitionBy("l_returnflag", "bkt").orderBy("v")
    local = dist.select(
        "l_returnflag", "bkt", "v", "cnt",
        F.sum("cnt").over(w_local).alias("lcum"),
    )
    btot = dist.groupBy("l_returnflag", "bkt").agg(F.sum("cnt").alias("bcnt"))
    w_bkt = Window.partitionBy("l_returnflag").orderBy("bkt")
    w_flag = Window.partitionBy("l_returnflag")
    offsets = btot.select(
        "l_returnflag", "bkt",
        (F.sum("bcnt").over(w_bkt) - F.col("bcnt")).alias("off"),
        F.sum("bcnt").over(w_flag).alias("n"),
    )
    # bounded: one row per (flag, bucket): 3 x n_buckets
    ranked = local.join(F.broadcast(offsets), ["l_returnflag", "bkt"]).select(
        "l_returnflag",
        "v",
        "cnt",
        (F.col("lcum") + F.col("off")).alias("cum"),
        "n",
    )

    def pct(p: float, alias: str):
        # h, lo, hi, frac are group-constant; the CASE picks the single
        # distinct value whose rank interval [cum-cnt+1, cum] covers the
        # target rank.  All float steps mirror the oracle SQL exactly.
        h = (F.col("n") - F.lit(1)).cast("double") * F.lit(p)
        lo = F.floor(h) + F.lit(1)
        hi = F.least(lo + F.lit(1), F.col("n"))
        frac = h - F.floor(h).cast("double")
        vlo = F.max(
            F.when((F.col("cum") >= lo) & (F.col("cum") - F.col("cnt") < lo), F.col("v"))
        )
        vhi = F.max(
            F.when((F.col("cum") >= hi) & (F.col("cum") - F.col("cnt") < hi), F.col("v"))
        )
        return dround(vlo + F.max(frac) * (vhi - vlo), 2).alias(alias)

    return ranked.groupBy("l_returnflag").agg(
        dround(F.min("v"), 2).alias("p_min"),
        pct(0.001, "p_low"),
        pct(0.95, "p_high"),
        dround(F.max("v"), 2).alias("p_max"),
    )


def _pct_sql(p: str, alias: str) -> str:
    """DuckDB twin of ``pipe_voxel_stats``'s rank-interpolation percentile."""
    h = f"CAST(n-1 AS DOUBLE) * CAST({p} AS DOUBLE)"
    lo = f"CAST(floor({h}) AS BIGINT) + 1"
    hi = f"least(({lo}) + 1, n)"
    frac = f"max(({h}) - floor({h}))"
    vlo = f"max(CASE WHEN cum >= ({lo}) AND cum - cnt < ({lo}) THEN v END)"
    vhi = f"max(CASE WHEN cum >= ({hi}) AND cum - cnt < ({hi}) THEN v END)"
    return (
        f"CAST(round(CAST(({vlo} + {frac} * ({vhi} - {vlo})) AS DECIMAL(30,10)), 2)"
        f" AS DOUBLE) AS {alias}"
    )


PIPE_VOXEL_STATS_SQL = f"""
WITH dist AS (
  SELECT l_returnflag, l_extendedprice AS v, count(*) AS cnt
  FROM lineitem GROUP BY 1, 2
),
ranked AS (
  SELECT l_returnflag, v, cnt,
         CAST(sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY v) AS BIGINT) AS cum,
         CAST(sum(cnt) OVER (PARTITION BY l_returnflag) AS BIGINT)            AS n
  FROM dist
)
SELECT
  l_returnflag,
  CAST(round(CAST(min(v) AS DECIMAL(30,10)), 2) AS DOUBLE) AS p_min,
  {_pct_sql('0.001', 'p_low')},
  {_pct_sql('0.95', 'p_high')},
  CAST(round(CAST(max(v) AS DECIMAL(30,10)), 2) AS DOUBLE) AS p_max
FROM ranked
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# S8/S9/P2: acquisition.json voxel-resolution extraction
# ---------------------------------------------------------------------------

_ACQ_SCHEMA = T.StructType(
    [
        T.StructField(
            "tiles",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "coordinate_transformations",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("type", T.StringType()),
                                        T.StructField("scale", T.ArrayType(T.StringType())),
                                    ]
                                )
                            ),
                        )
                    ]
                )
            ),
        )
    ]
)


def pipe_acquisition_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_get_voxel_resolution`` (``zeiss_job.py:62-87``): navigate an
    acquisition.json document, keep the ``type=="scale"`` transform
    (filter+first, P2 ``zeiss_job.py:79-81``), ``float()`` the
    string-typed scale values, and reorder disk-order X,Y,Z → Z,Y,X.

    One acquisition document per nation is synthesized as a JSON string
    (scale varies with the key), then parsed back — exercising both JSON
    construction and navigation."""
    nation = load_table(spark, sf_dir, "nation")
    doc = nation.select(
        "n_nationkey",
        F.concat(
            F.lit('{"tiles": [{"coordinate_transformations": ['),
            F.lit('{"type": "translation", "translation": ["0", "0", "0"]}, '),
            F.lit('{"type": "scale", "scale": ["'),
            # integer-math string construction: a 0.1 literal is DOUBLE in
            # Spark but DECIMAL in DuckDB, so n*0.1+0.5 renders differently
            F.concat(
                F.floor((F.col("n_nationkey") + 5) / 10).cast("int").cast("string"),
                F.lit("."),
                ((F.col("n_nationkey") + 5) % 10).cast("string"),
            ),
            F.lit('", "0.748", "1.0"]}]}]}'),
        ).alias("acq_json"),
    )
    parsed = doc.select(
        "n_nationkey",
        F.from_json(F.col("acq_json"), _ACQ_SCHEMA).alias("acq"),
    )
    scale_xyz = parsed.select(
        "n_nationkey",
        F.element_at(
            F.filter(
                F.element_at(F.col("acq.tiles"), 1)["coordinate_transformations"],
                lambda t: t["type"] == F.lit("scale"),
            ),
            1,
        )["scale"].alias("scale"),
    )
    return scale_xyz.select(
        "n_nationkey",
        F.element_at("scale", 3).cast("double").alias("scale_z"),
        F.element_at("scale", 2).cast("double").alias("scale_y"),
        F.element_at("scale", 1).cast("double").alias("scale_x"),
    )


PIPE_ACQUISITION_SQL = """
WITH doc AS (
  SELECT n_nationkey,
         '{"tiles": [{"coordinate_transformations": ['
         || '{"type": "translation", "translation": ["0", "0", "0"]}, '
         || '{"type": "scale", "scale": ["'
         || CAST((n_nationkey + 5) // 10 AS VARCHAR)
         || '.' || CAST((n_nationkey + 5) % 10 AS VARCHAR)
         || '", "0.748", "1.0"]}]}]}' AS acq_json
  FROM nation
), transforms AS (
  SELECT n_nationkey,
         json_extract(acq_json, '$.tiles[0].coordinate_transformations[' || i || ']') AS t
  FROM doc, unnest(range(0, 2)) u(i)
), scale AS (
  SELECT n_nationkey, json_extract(t, '$.scale') AS s
  FROM transforms
  WHERE json_extract_string(t, '$.type') = 'scale'
)
SELECT
  n_nationkey,
  CAST(json_extract_string(s, '$[2]') AS DOUBLE) AS scale_z,
  CAST(json_extract_string(s, '$[1]') AS DOUBLE) AS scale_y,
  CAST(json_extract_string(s, '$[0]') AS DOUBLE) AS scale_x
FROM scale
"""


QUERIES = {
    "pipe_stack_catalog": pipe_stack_catalog,
    "pipe_partition_roundrobin": pipe_partition_roundrobin,
    "pipe_block_index": pipe_block_index,
    "pipe_block_grid_3d": pipe_block_grid_3d,
    "pipe_downsample_level1": pipe_downsample_level1,
    "pipe_multiscale_cascade": pipe_multiscale_cascade,
    "pipe_voxel_stats": pipe_voxel_stats,
    "pipe_acquisition_scale": pipe_acquisition_scale,
}

ORACLES = {
    "pipe_stack_catalog": PIPE_STACK_CATALOG_SQL,
    "pipe_partition_roundrobin": PIPE_ROUNDROBIN_SQL,
    "pipe_block_index": PIPE_BLOCK_INDEX_SQL,
    "pipe_block_grid_3d": PIPE_BLOCK_GRID_SQL,
    "pipe_downsample_level1": PIPE_DOWNSAMPLE_SQL,
    "pipe_multiscale_cascade": PIPE_CASCADE_SQL,
    "pipe_voxel_stats": PIPE_VOXEL_STATS_SQL,
    "pipe_acquisition_scale": PIPE_ACQUISITION_SQL,
}


def pipe_pad_squeeze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-shape normalization as array-column ops (SURVEY §2.3 P3-P6):
    ``pad_array_n_d`` left-pads with 1s to rank 5 (``utils/utils.py:37-59``),
    ``extract_data`` squeezes size-1 dims (``utils/utils.py:62-112``).

    Synthetic shape vectors derive from part attributes."""
    part = load_table(spark, sf_dir, "part")
    shapes = part.select(
        "p_partkey",
        F.array(
            F.lit(1), (F.col("p_size") % 4 + 1), F.lit(1), (F.col("p_size") + 10)
        ).alias("shape"),
    )
    def _joined(col):
        # positional order is the payload — join, never sort; string output
        # keeps result cells scalar/hashable for pandas-based canonicalizers
        return F.array_join(F.transform(col, lambda x: x.cast("string")), "x")

    return shapes.select(
        "p_partkey",
        _joined(
            F.concat(F.array_repeat(F.lit(1), 5 - F.size("shape")), F.col("shape"))
        ).alias("padded_5d"),
        _joined(F.filter("shape", lambda s: s != 1)).alias("squeezed"),
        F.aggregate(
            "shape", F.lit(1).cast("long"), lambda acc, s: acc * s
        ).alias("n_voxels"),
    )


PIPE_PAD_SQUEEZE_SQL = """
WITH shapes AS (
  SELECT p_partkey, [1, p_size % 4 + 1, 1, p_size + 10] AS shape FROM part
)
SELECT
  p_partkey,
  array_to_string(list_concat([1 for _ in range(5 - len(shape))], shape), 'x') AS padded_5d,
  array_to_string(list_filter(shape, s -> s != 1), 'x')  AS squeezed,
  CAST(list_aggregate(shape, 'product') AS BIGINT)       AS n_voxels
FROM shapes
"""


QUERIES["pipe_pad_squeeze"] = pipe_pad_squeeze
ORACLES["pipe_pad_squeeze"] = PIPE_PAD_SQUEEZE_SQL


# ---------------------------------------------------------------------------
# Rechunk plan: shuffle-minimal source->target chunk mapping
# ---------------------------------------------------------------------------


def pipe_rechunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed zarr RECHUNK plan — which target chunks each
    source chunk feeds, with the exact voxel overlap — for re-tiling the
    per-nation synthetic stacks from the write-optimized 16×32×32 grid
    (``pipe_block_grid_3d``) to a read-optimized 32×16×64 grid. This is
    the planning half of the rechunker problem (zarr's `rechunker`
    package / Dask rechunk): at 100 TB the data movement dominates, so
    the plan must be derivable WITHOUT a join — and it is: each source
    chunk computes its intersecting target index range per axis
    arithmetically (``floor(start/t) .. floor((end-1)/t)``) and expands
    by ``sequence``, so the mapping stage is embarrassingly parallel
    map-side work; the only shuffle in a real rechunk is then the
    groupBy on destination chunk that assembles each target block —
    one exchange, keyed exactly like ``sinks/zarr_sink``'s region
    writes. Overlap voxels are emitted so the executor memory per
    destination group is known AT PLAN TIME (admission control for the
    assembly stage).

    Reference analog: the reference rewrites chunk grids implicitly by
    re-running the whole conversion (``czi_to_zarr.py``); a plan-level
    rechunk is what production arrays do instead of re-converting.
    """
    nation = load_table(spark, sf_dir, "nation")
    bz, by, bx = 16, 32, 32   # source grid (pipe_block_grid_3d's)
    tz, ty, tx = 32, 16, 64   # target grid
    shaped = nation.select(
        "n_nationkey",
        (F.lit(40) + F.col("n_nationkey")).alias("sz"),
        F.lit(64).alias("sy"),
        (F.lit(64) + (F.col("n_nationkey") % 3)).alias("sx"),
    )
    src = (
        shaped.select(
            "n_nationkey", "sz", "sy", "sx",
            F.explode(F.sequence(F.lit(0), F.col("sz") - 1, F.lit(bz))).alias("z0"),
        )
        .select(
            "*",
            F.explode(F.sequence(F.lit(0), F.col("sy") - 1, F.lit(by))).alias("y0"),
        )
        .select(
            "*",
            F.explode(F.sequence(F.lit(0), F.col("sx") - 1, F.lit(bx))).alias("x0"),
        )
        .select(
            "n_nationkey", "sz", "sy", "sx", "z0", "y0", "x0",
            F.least(F.col("z0") + bz, F.col("sz")).alias("z1"),
            F.least(F.col("y0") + by, F.col("sy")).alias("y1"),
            F.least(F.col("x0") + bx, F.col("sx")).alias("x1"),
        )
    )
    # per axis: the target indices this source chunk intersects, derived
    # arithmetically (no join) and expanded
    fan = (
        src.select(
            "*",
            F.explode(
                F.sequence(
                    F.floor(F.col("z0") / tz), F.floor((F.col("z1") - 1) / tz)
                )
            ).alias("zj"),
        )
        .select(
            "*",
            F.explode(
                F.sequence(
                    F.floor(F.col("y0") / ty), F.floor((F.col("y1") - 1) / ty)
                )
            ).alias("yj"),
        )
        .select(
            "*",
            F.explode(
                F.sequence(
                    F.floor(F.col("x0") / tx), F.floor((F.col("x1") - 1) / tx)
                )
            ).alias("xj"),
        )
    )
    ovz = F.least(F.col("z1"), (F.col("zj") + 1) * tz) - F.greatest(
        F.col("z0"), F.col("zj") * tz
    )
    ovy = F.least(F.col("y1"), (F.col("yj") + 1) * ty) - F.greatest(
        F.col("y0"), F.col("yj") * ty
    )
    ovx = F.least(F.col("x1"), (F.col("xj") + 1) * tx) - F.greatest(
        F.col("x0"), F.col("xj") * tx
    )
    return fan.select(
        "n_nationkey",
        "z0", "y0", "x0",
        (F.col("zj") * tz).alias("dz0"),
        (F.col("yj") * ty).alias("dy0"),
        (F.col("xj") * tx).alias("dx0"),
        (ovz * ovy * ovx).alias("overlap_voxels"),
    )


PIPE_RECHUNK_PLAN_SQL = """
WITH shaped AS (
  SELECT n_nationkey,
         40 + n_nationkey       AS sz,
         64                     AS sy,
         64 + n_nationkey % 3   AS sx
  FROM nation
),
src AS (
  SELECT n_nationkey, sz, sy, sx,
         CAST(z0 AS BIGINT) AS z0, CAST(y0 AS BIGINT) AS y0,
         CAST(x0 AS BIGINT) AS x0,
         least(z0 + 16, sz) AS z1,
         least(y0 + 32, sy) AS y1,
         least(x0 + 32, sx) AS x1
  FROM shaped,
       unnest(range(0, sz, 16)) uz(z0),
       unnest(range(0, sy, 32)) uy(y0),
       unnest(range(0, sx, 32)) ux(x0)
),
fan AS (
  SELECT s.*, zj, yj, xj
  FROM src s,
       unnest(range(z0 // 32, (z1 - 1) // 32 + 1)) fz(zj),
       unnest(range(y0 // 16, (y1 - 1) // 16 + 1)) fy(yj),
       unnest(range(x0 // 64, (x1 - 1) // 64 + 1)) fx(xj)
)
SELECT n_nationkey, z0, y0, x0,
       zj * 32 AS dz0,
       yj * 16 AS dy0,
       xj * 64 AS dx0,
       (least(z1, (zj + 1) * 32) - greatest(z0, zj * 32))
     * (least(y1, (yj + 1) * 16) - greatest(y0, yj * 16))
     * (least(x1, (xj + 1) * 64) - greatest(x0, xj * 64)) AS overlap_voxels
FROM fan
"""

QUERIES["pipe_rechunk_plan"] = pipe_rechunk_plan
ORACLES["pipe_rechunk_plan"] = PIPE_RECHUNK_PLAN_SQL
