"""Time-series operators over the ``events`` hypertable.

The reference's only temporal structure is acquisition timestamps in
metadata (``SURVEY.md §2.10``); these operators supply the time-series
surface a production telemetry / training-data pipeline layers on top of
the same engine: hypertable rollups (OHLC resample), gap-filling with
LOCF + linear interpolation (TimescaleDB ``time_bucket_gapfill`` shape),
recursive smoothing (EWMA), and rolling-moment anomaly detection.

Scale notes (100 TB):

* Every query shuffles once on ``user_id`` (or ``user_id × bucket``) —
  the natural hypertable partitioning; at production scale events arrive
  time-partitioned, so the per-user shuffle is the only exchange and the
  window sorts run inside millions of small per-user partitions.
* ``ts_gapfill_interp`` materializes the bucket spine with
  ``sequence()``+``explode`` per user — spine size is bounded by the
  user's own observation span (never the global time range), so a
  10-year corpus with week-active users stays proportional to real data.
* ``ts_ewma_fold`` is the one inherently sequential-per-key recursion;
  it folds an in-partition sorted array (``aggregate`` higher-order
  function, JVM codegen — no Python). Per-user arrays are bounded by
  per-user activity; a pathological single hot key would use the same
  segmented-fold treatment as the two-phase rank helpers.
* Rolling moments use EXACT decimal window sums (see ``dround``'s
  rationale in functions/compat.py): Spark's sliding-frame accumulation
  and DuckDB's segment-tree both reassociate float adds, so double sums
  diverge between engines — decimal sums do not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.compat import dround, sql_round
from ..tables import load_table

# ---------------------------------------------------------------------------
# OHLC hypertable rollup
# ---------------------------------------------------------------------------


def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC resample per user: open/close by deterministic
    (ts, event_id) order, high/low, count.

    One hash shuffle on (user_id, hour). ``min_by``/``max_by`` over a
    struct key is the Spark-idiomatic arg-min — a single hash aggregate,
    no window sort (the oracle uses two row_number windows only because
    DuckDB 1.0's arg_min cannot take a composite key).
    """
    ev = load_table(spark, sf_dir, "events")
    key = F.struct("ts", "event_id")
    return ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        dround(F.min_by("value", key), 2).alias("open"),
        dround(F.max("value"), 2).alias("high"),
        dround(F.min("value"), 2).alias("low"),
        dround(F.max_by("value", key), 2).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


TS_RESAMPLE_OHLC_SQL = f"""
WITH r AS (
  SELECT
    user_id,
    date_trunc('hour', ts) AS bucket,
    value,
    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                       ORDER BY ts ASC, event_id ASC) AS rn_a,
    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                       ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT
  user_id,
  bucket,
  {sql_round('max(CASE WHEN rn_a = 1 THEN value END)', 2)} AS open,
  {sql_round('max(value)', 2)} AS high,
  {sql_round('min(value)', 2)} AS low,
  {sql_round('max(CASE WHEN rn_d = 1 THEN value END)', 2)} AS close,
  count(*) AS n_events
FROM r
GROUP BY user_id, bucket
"""


# ---------------------------------------------------------------------------
# Gap-fill: bucket spine + LOCF + linear interpolation
# ---------------------------------------------------------------------------


def ts_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimescaleDB ``time_bucket_gapfill``-shaped operator: hourly buckets
    per user, missing hours materialized from a per-user spine, filled
    two ways — LOCF (last observation carried forward) and linear
    interpolation between the bracketing observations.

    The observed per-bucket value is an exact decimal mean (order-immune);
    the interpolation arithmetic is plain double, but every input double
    is identical on both engines (same decimal mean, same integer
    microsecond bucket positions), and the expression tree is textually
    identical — so IEEE evaluation matches bit-for-bit.

    Plan: one shuffle to (user_id, bucket) for the observed means, an AQE
    re-used exchange for the per-user bounds, spine explode, a shuffle
    join spine↔observed on (user_id, bucket), and one window sort per
    user. The spine is per-user min..max — bounded by each user's own
    activity span.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 5 == 0)
    base = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(30,10)")) / F.count(F.lit(1))
        ).cast("double").alias("obs")
    )
    bounds = base.groupBy("user_id").agg(
        F.min("bucket").alias("b0"), F.max("bucket").alias("b1")
    )
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence("b0", "b1", F.expr("interval 1 hour"))).alias("bucket"),
    )
    filled = spine.join(base, ["user_id", "bucket"], "left")

    wp = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # the "next observation" side runs as last-ignore-nulls over the
    # REVERSE-ordered running frame, NOT first-ignore-nulls over
    # [current, unbounded following]: Spark's unbounded-following frame
    # with ignore-nulls rescans the partition tail per row (O(n²) per
    # user — measured 8.1 s vs 0.8 s on this query at sf0.1), while
    # running frames accumulate incrementally in O(n). Same values, same
    # oracle (DuckDB's segment tree is fine either way).
    wr = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("bucket"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    obs_bucket = F.when(F.col("obs").isNotNull(), F.col("bucket"))
    prev_v = F.last("obs", ignorenulls=True).over(wp)
    prev_b = F.last(obs_bucket, ignorenulls=True).over(wp)
    next_v = F.last("obs", ignorenulls=True).over(wr)
    next_b = F.last(obs_bucket, ignorenulls=True).over(wr)
    frac = (
        (F.unix_micros(F.col("bucket")) - F.unix_micros(prev_b)).cast("double")
        / (F.unix_micros(next_b) - F.unix_micros(prev_b)).cast("double")
    )
    interp = (
        F.when(F.col("obs").isNotNull(), F.col("obs"))
        .when(prev_v.isNull() | next_v.isNull(), F.lit(None).cast("double"))
        .otherwise(prev_v + (next_v - prev_v) * frac)
    )
    return filled.select(
        "user_id",
        "bucket",
        F.col("obs").isNotNull().alias("observed"),
        dround(prev_v, 6).alias("locf"),
        dround(interp, 6).alias("interp"),
    )


TS_GAPFILL_INTERP_SQL = f"""
WITH base AS (
  SELECT
    user_id,
    date_trunc('hour', ts) AS bucket,
    CAST(sum(CAST(value AS DECIMAL(30,10))) / count(*) AS DOUBLE) AS obs
  FROM events
  WHERE user_id % 5 = 0
  GROUP BY user_id, date_trunc('hour', ts)
),
bounds AS (
  SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM base GROUP BY user_id
),
spine AS (
  SELECT user_id, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
  FROM bounds
),
filled AS (
  SELECT s.user_id, s.bucket, b.obs
  FROM spine s LEFT JOIN base b ON s.user_id = b.user_id AND s.bucket = b.bucket
),
win AS (
  SELECT
    user_id,
    bucket,
    obs,
    last_value(obs IGNORE NULLS) OVER wp AS prev_v,
    last_value(CASE WHEN obs IS NOT NULL THEN bucket END IGNORE NULLS) OVER wp AS prev_b,
    first_value(obs IGNORE NULLS) OVER wn AS next_v,
    first_value(CASE WHEN obs IS NOT NULL THEN bucket END IGNORE NULLS) OVER wn AS next_b
  FROM filled
  WINDOW
    wp AS (PARTITION BY user_id ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wn AS (PARTITION BY user_id ORDER BY bucket
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT
  user_id,
  bucket,
  obs IS NOT NULL AS observed,
  {sql_round('prev_v', 6)} AS locf,
  {sql_round(
    "CASE WHEN obs IS NOT NULL THEN obs "
    "WHEN prev_v IS NULL OR next_v IS NULL THEN NULL "
    "ELSE prev_v + (next_v - prev_v) * "
    "(CAST(epoch_us(bucket) - epoch_us(prev_b) AS DOUBLE) / "
    "CAST(epoch_us(next_b) - epoch_us(prev_b) AS DOUBLE)) END", 6)} AS interp
FROM win
"""


# ---------------------------------------------------------------------------
# EWMA — recursive smoothing as an in-partition fold
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.3


def ts_ewma_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average (final value),
    y_1 = x_1, y_i = α·x_i + (1−α)·y_{i−1} (pandas ``ewm(adjust=False)``).

    A recursion has no distributive decomposition, so it runs as an
    in-partition fold: collect the user's values in deterministic
    (ts, event_id) order and fold with the ``aggregate`` higher-order
    function — JVM whole-stage codegen, no Python, one shuffle on
    user_id. DuckDB's ``list_reduce`` seeds the fold with the first list
    element, so the Spark side folds ``slice(vals, 2, n−1)`` seeded with
    ``vals[1]`` — identical operation sequence, hence identical IEEE
    doubles.
    """
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))).alias(
            "seq"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )
    vals = F.transform("seq", lambda s: s["value"])
    ewma = F.aggregate(
        F.slice(vals, F.lit(2), F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: F.lit(_EWMA_ALPHA) * x + F.lit(1.0 - _EWMA_ALPHA) * acc,
    )
    return agg.select("user_id", "n_events", dround(ewma, 6).alias("ewma"))


TS_EWMA_FOLD_SQL = f"""
WITH seqs AS (
  SELECT
    user_id,
    list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals,
    count(*) AS n_events
  FROM events
  GROUP BY user_id
)
SELECT
  user_id,
  n_events,
  {sql_round(
    "list_reduce(vals, (acc, x) -> "
    f"{_EWMA_ALPHA} * x + {1.0 - _EWMA_ALPHA} * acc)", 6)} AS ewma
FROM seqs
"""


# ---------------------------------------------------------------------------
# Rolling-moment anomaly detection
# ---------------------------------------------------------------------------

_ROLL_N = 20
_Z_CUT = 2.5


def ts_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags: mean/variance over the trailing
    20-row frame per user, flag |z| > 2.5 (emitted rows only — the flags
    are the sparse output a monitoring sink would ingest).

    The rolling moments are EXACT decimal window sums (Spark's sliding
    frame and DuckDB's segment tree reassociate float adds differently;
    decimals are associative). The variance/z arithmetic then runs in
    double on identical inputs with an identical expression tree.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_ROLL_N - 1), 0)
    )
    vdec = F.col("value").cast("decimal(30,10)")
    n = F.count(F.lit(1)).over(w)
    s1 = F.sum(vdec).over(w).cast("double")
    # square in double (IEEE-identical on both engines), then exact decimal
    s2 = F.sum((F.col("value") * F.col("value")).cast("decimal(30,10)")).over(
        w
    ).cast("double")
    mean = s1 / n.cast("double")
    var = F.greatest(
        s2 / n.cast("double") - mean * mean, F.lit(0.0)
    )
    z = (F.col("value") - mean) / F.sqrt(var)
    flagged = (
        ev.select(
            "event_id",
            "user_id",
            dround(F.col("value"), 2).alias("value"),
            n.alias("frame_n"),
            dround(mean, 6).alias("roll_mean"),
            dround(z, 4).alias("z"),
        )
        .filter(
            (F.col("frame_n") >= 5) & (F.abs(F.col("z")) > F.lit(_Z_CUT))
        )
    )
    return flagged


TS_ROLLING_ANOMALY_SQL = f"""
WITH w AS (
  SELECT
    event_id,
    user_id,
    value,
    count(*) OVER fr AS frame_n,
    CAST(sum(CAST(value AS DECIMAL(30,10))) OVER fr AS DOUBLE) AS s1,
    CAST(sum(CAST(value * value AS DECIMAL(30,10))) OVER fr AS DOUBLE) AS s2
  FROM events
  WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN {_ROLL_N - 1} PRECEDING AND CURRENT ROW)
),
scored AS (
  SELECT
    event_id,
    user_id,
    value,
    frame_n,
    s1 / CAST(frame_n AS DOUBLE) AS mean,
    greatest(s2 / CAST(frame_n AS DOUBLE)
             - (s1 / CAST(frame_n AS DOUBLE)) * (s1 / CAST(frame_n AS DOUBLE)),
             0.0) AS var
  FROM w
)
SELECT
  event_id,
  user_id,
  {sql_round('value', 2)} AS value,
  frame_n,
  {sql_round('mean', 6)} AS roll_mean,
  {sql_round('(value - mean) / sqrt(var)', 4)} AS z
FROM scored
WHERE frame_n >= 5 AND abs((value - mean) / sqrt(var)) > {_Z_CUT}
"""


QUERIES = {
    "ts_resample_ohlc": ts_resample_ohlc,
    "ts_gapfill_interp": ts_gapfill_interp,
    "ts_ewma_fold": ts_ewma_fold,
    "ts_rolling_anomaly": ts_rolling_anomaly,
}

ORACLES = {
    "ts_resample_ohlc": TS_RESAMPLE_OHLC_SQL,
    "ts_gapfill_interp": TS_GAPFILL_INTERP_SQL,
    "ts_ewma_fold": TS_EWMA_FOLD_SQL,
    "ts_rolling_anomaly": TS_ROLLING_ANOMALY_SQL,
}


# ---------------------------------------------------------------------------
# Per-key OLS trend fit
# ---------------------------------------------------------------------------


def ts_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordinary-least-squares trend of value over time:
    slope (per hour), intercept (value at the user's first event), and
    R² — the drift-detection statistic behind "is this metric trending".

    Determinism: x is the INTEGER microsecond offset from the user's
    first event (exact), and every moment (Σx, Σx², Σy, Σxy, Σy²) is an
    exact decimal sum — float accumulation order never enters. The
    closed-form solve then runs in double on identical inputs with an
    identical expression tree on both engines. Zero-variance users
    (n < 2 or all events at one timestamp) yield NULL slope via nullif,
    identically.

    One shuffle: the partition-only window that supplies min(ts) rides
    the same user_id exchange the aggregate uses.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    x = F.unix_micros(F.col("ts")) - F.unix_micros(F.min("ts").over(w))
    based = ev.select(
        "user_id",
        x.alias("x"),
        F.col("value").alias("y"),
    )
    dec = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    agg = based.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        # x² in DOUBLE first: microsecond offsets square past int64; the
        # double product rounds identically on both engines, then sums
        # exactly as decimal
        F.sum(dec(F.col("x").cast("double") * F.col("x").cast("double"))).alias(
            "sxx"
        ),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x").cast("double") * F.col("y"))).alias("sxy"),
        F.sum(dec(F.col("y") * F.col("y"))).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    den = F.nullif(n * sxx - sx * sx, F.lit(0.0))
    slope_us = (n * sxy - sx * sy) / den
    intercept = (sy - slope_us * sx) / n
    sst = F.nullif(n * syy - sy * sy, F.lit(0.0))
    r2 = (n * sxy - sx * sy) * (n * sxy - sx * sy) / (den * sst)
    return agg.select(
        "user_id",
        "n",
        dround(slope_us * F.lit(3.6e9), 6).alias("slope_per_hour"),
        dround(intercept, 4).alias("intercept"),
        dround(r2, 6).alias("r2"),
    )


TS_LINEAR_TREND_SQL = f"""
WITH based AS (
  SELECT
    user_id,
    epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id) AS x,
    value AS y
  FROM events
),
m AS (
  SELECT
    user_id,
    count(*) AS n,
    sum(CAST(x AS DECIMAL(38,6))) AS sx,
    sum(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(38,6))) AS sxx,
    sum(CAST(y AS DECIMAL(38,6))) AS sy,
    sum(CAST(CAST(x AS DOUBLE) * y AS DECIMAL(38,6))) AS sxy,
    sum(CAST(y * y AS DECIMAL(38,6))) AS syy
  FROM based
  GROUP BY user_id
),
d AS (
  SELECT
    user_id,
    n,
    CAST(n AS DOUBLE) AS nd,
    CAST(sx AS DOUBLE) AS sxd,
    CAST(sxx AS DOUBLE) AS sxxd,
    CAST(sy AS DOUBLE) AS syd,
    CAST(sxy AS DOUBLE) AS sxyd,
    CAST(syy AS DOUBLE) AS syyd
  FROM m
),
s AS (
  SELECT
    user_id,
    n,
    nd,
    sxd,
    syd,
    nullif(nd * sxxd - sxd * sxd, 0.0) AS den,
    nullif(nd * syyd - syd * syd, 0.0) AS sst,
    nd * sxyd - sxd * syd AS num
  FROM d
)
SELECT
  user_id,
  n,
  {sql_round('(num / den) * 3600000000.0', 6)} AS slope_per_hour,
  {sql_round('(syd - (num / den) * sxd) / nd', 4)} AS intercept,
  {sql_round('(num * num) / (den * sst)', 6)} AS r2
FROM s
"""

QUERIES["ts_linear_trend"] = ts_linear_trend
ORACLES["ts_linear_trend"] = TS_LINEAR_TREND_SQL


# ---------------------------------------------------------------------------
# Lag-1 autocorrelation of per-user daily activity
# ---------------------------------------------------------------------------


def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1 autocorrelation of the daily event-count series —
    the "is activity sticky day-over-day" statistic (Pearson r between
    consecutive observed days; days with no events are skipped, i.e.
    ACF over the observation sequence, not the calendar — documented
    semantics, matching the gapfill operator's spine distinction).

    Determinism: daily counts are integers, so all six moments
    (n, Σx, Σy, Σxy, Σx², Σy²) accumulate as exact DECIMAL(38,0)
    (HUGEINT on the DuckDB side); r folds from them with one double
    division and one sqrt — IEEE-identical in both engines. Constant
    series (zero variance on either side) yield NULL via nullif.

    Scale: one shuffle to daily counts on (user_id, day), one
    per-user-partitioned window for the lag pair, one hash aggregate —
    the hypertable's natural partitioning end to end; no global sort,
    no driver collect.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    w = Window.partitionBy("user_id").orderBy("day")
    pairs = (
        daily.withColumn("y", F.lag("x").over(w))
        .filter(F.col("y").isNotNull())
        .select("user_id", "x", "y")
    )

    def _d(c):
        return F.col(c).cast("decimal(38,0)")

    m = pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(_d("x")).alias("sx"),
        F.sum(_d("y")).alias("sy"),
        F.sum(_d("x") * _d("y")).alias("sxy"),
        F.sum(_d("x") * _d("x")).alias("sxx"),
        F.sum(_d("y") * _d("y")).alias("syy"),
    )
    num = (F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    da = (F.col("n_pairs") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    db = (F.col("n_pairs") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    r = num / F.sqrt(F.nullif(da * db, F.lit(0.0)))
    return m.select(
        "user_id",
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        dround(r, 6).alias("acf1"),
    )


TS_AUTOCORR_SQL = f"""
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day, count(*) AS x
  FROM events GROUP BY 1, 2
),
p AS (
  SELECT user_id, x,
         lag(x) OVER (PARTITION BY user_id ORDER BY day) AS y
  FROM daily
),
m AS (
  SELECT user_id,
         count(*) AS n_pairs,
         sum(CAST(x AS HUGEINT)) AS sx,
         sum(CAST(y AS HUGEINT)) AS sy,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(y AS HUGEINT) * y) AS syy
  FROM p WHERE y IS NOT NULL
  GROUP BY 1
)
SELECT
  user_id,
  CAST(n_pairs AS BIGINT) AS n_pairs,
  {sql_round(
      "CAST(n_pairs * sxy - sx * sy AS DOUBLE) / "
      "sqrt(nullif(CAST(n_pairs * sxx - sx * sx AS DOUBLE) * "
      "CAST(n_pairs * syy - sy * sy AS DOUBLE), 0.0))", 6)} AS acf1
FROM m
"""

QUERIES["ts_autocorr"] = ts_autocorr
ORACLES["ts_autocorr"] = TS_AUTOCORR_SQL


# ---------------------------------------------------------------------------
# Continuous-aggregate cascade (hour -> day rollup reuse)
# ---------------------------------------------------------------------------


def ts_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC built FROM the hourly rollup, never re-scanning raw —
    the TimescaleDB continuous-aggregate / materialized-rollup pattern
    (and the time-series twin of ``pipe_multiscale_cascade``'s
    level-from-level image pyramid). The ORACLE computes the daily
    answer directly from raw events, so the differential check proves
    the cascade identity: agg(day) == agg(agg(hour)).

    Re-aggregation rules: counts and sums are distributive; high/low
    take max/min of the hourly extrema; open/close pick the hourly open
    of the MIN hour / close of the MAX hour via ``min_by``/``max_by`` —
    every rule a single hash aggregate over the (already tiny) hourly
    relation. At 100 TB the hourly layer is the stored continuous
    aggregate; a day's refresh touches 24 rows per user, not the raw
    partition.

    One shuffle to (user, hour), one to (user, day) — the day shuffle
    moves rollup rows, not events. Exact decimal sums; open/close ride
    deterministic (ts, event_id) struct keys.
    """
    ev = load_table(spark, sf_dir, "events")
    key = F.struct("ts", "event_id")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"),
        F.min_by("value", key).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", key).alias("close"),
    )
    daily = hourly.groupBy(
        "user_id", F.date_trunc("day", "hour").alias("day")
    ).agg(
        F.sum("n").alias("n_events"),
        F.sum("sv").alias("sv"),
        F.min_by("open", F.col("hour")).alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close", F.col("hour")).alias("close"),
    )
    return daily.select(
        "user_id",
        "day",
        F.col("n_events").cast("bigint").alias("n_events"),
        dround("open", 2).alias("open"),
        dround("high", 2).alias("high"),
        dround("low", 2).alias("low"),
        dround("close", 2).alias("close"),
        F.round(F.col("sv"), 2).cast("double").alias("sum_value"),
    )


TS_ROLLUP_CASCADE_SQL = f"""
WITH r AS (
  SELECT user_id,
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         value,
         CAST(value AS DECIMAL(18,2)) AS dv,
         row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                            ORDER BY ts ASC, event_id ASC) AS rn_a,
         row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT
  user_id,
  day,
  count(*) AS n_events,
  {sql_round("min(CASE WHEN rn_a = 1 THEN value END)", 2)} AS open,
  {sql_round("max(value)", 2)} AS high,
  {sql_round("min(value)", 2)} AS low,
  {sql_round("min(CASE WHEN rn_d = 1 THEN value END)", 2)} AS close,
  CAST(round(sum(dv), 2) AS DOUBLE) AS sum_value
FROM r
GROUP BY 1, 2
"""

QUERIES["ts_rollup_cascade"] = ts_rollup_cascade
ORACLES["ts_rollup_cascade"] = TS_ROLLUP_CASCADE_SQL


# ---------------------------------------------------------------------------
# Robust outliers (median absolute deviation)
# ---------------------------------------------------------------------------

_MAD_K = 3  # flag |x - median| > K * MAD


def ts_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier census per event type: median absolute deviation
    (the robust twin of ``ts_rolling_anomaly``'s z-score — MAD has a 50%
    breakdown point, so the outliers themselves can't drag the
    threshold the way they drag a mean/stddev).

    Two exact sort-based median passes (value median, then deviation
    median), each one group shuffle with the per-type medians broadcast
    back onto the stream; the flag comparison happens on BOTH engines
    after routing deviation and threshold through the decimal rounding
    convention, so a last-ulp interpolation difference can't flip a
    boundary row. Returns per-type medians, MAD, and outlier counts.
    """
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = e.join(med, "event_type").select(
        "event_type",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad"),
        F.first("med").alias("med"),
    )
    flagged = dev.select("event_type", "adev").join(
        mad, "event_type"
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    dround(F.col("adev"), 6)
                    > dround(F.col("mad") * _MAD_K, 6),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
            dround(F.first("med"), 6).alias("med"),
            dround(F.first("mad"), 6).alias("mad"),
        )
    )


TS_MAD_OUTLIERS_SQL = f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1
),
dev AS (
  SELECT e.event_type, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad, any_value(med) AS med
  FROM dev GROUP BY 1
)
SELECT
  d.event_type,
  count(*) AS n,
  CAST(sum(CASE WHEN {sql_round('d.adev', 6)} > {sql_round(f'm.mad * {_MAD_K}', 6)}
           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
  {sql_round('any_value(m.med)', 6)} AS med,
  {sql_round('any_value(m.mad)', 6)} AS mad
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY 1
"""

QUERIES["ts_mad_outliers"] = ts_mad_outliers
ORACLES["ts_mad_outliers"] = TS_MAD_OUTLIERS_SQL


# ---------------------------------------------------------------------------
# Seasonal profile (hour-of-day) + per-event seasonal deviation
# ---------------------------------------------------------------------------


def ts_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal decomposition, the additive-profile form: a
    per-(event_type, hour) mean over the whole history (the seasonal
    component), then each event's deviation from its slot's mean (the
    de-seasonalized residual a downstream anomaly detector consumes).

    Float discipline: slot means are exact-decimal sums over a count
    (one IEEE division per slot), residual = value − mean is one IEEE
    subtraction of two identical-in-both-engines doubles.  The profile
    join broadcasts (≤ |types| × 24 rows), so the second pass adds no
    shuffle — the standard profile-then-score two-pass shape.
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "hod", F.hour("ts")
    )
    prof = ev.groupBy("event_type", "hod").agg(
        (
            F.sum(F.col("value").cast("decimal(30,10)")).cast("double")
            / F.count(F.lit(1))
        ).alias("slot_mean"),
        F.count(F.lit(1)).alias("slot_n"),
    )
    return (
        ev.join(prof, ["event_type", "hod"])
        .select(
            "event_id",
            "event_type",
            "hod",
            dround(F.col("slot_mean"), 4).alias("slot_mean"),
            dround(F.col("value") - F.col("slot_mean"), 4).alias("residual"),
        )
    )


TS_SEASONAL_SQL = """
WITH ev AS (SELECT *, EXTRACT(hour FROM ts) AS hod FROM events),
prof AS (
  SELECT event_type, hod,
         CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) / count(*) AS slot_mean
  FROM ev GROUP BY event_type, hod
)
SELECT
  event_id,
  ev.event_type,
  ev.hod,
  CAST(round(CAST((slot_mean) AS DECIMAL(30,10)), 4) AS DOUBLE) AS slot_mean,
  CAST(round(CAST((value - slot_mean) AS DECIMAL(30,10)), 4) AS DOUBLE) AS residual
FROM ev JOIN prof ON ev.event_type = prof.event_type AND ev.hod = prof.hod
"""

QUERIES["ts_seasonal_profile"] = ts_seasonal_profile
ORACLES["ts_seasonal_profile"] = TS_SEASONAL_SQL


# ---------------------------------------------------------------------------
# Offline changepoint detection (CUSUM)
# ---------------------------------------------------------------------------


def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline CUSUM changepoint estimate per user series (Page 1954,
    the textbook single-changepoint locator): with S_i = Σ_{j≤i}(v_j −
    mean), the changepoint is argmax_i |S_i| — where the cumulative
    deviation from the global mean peaks before reverting. This is the
    OFFLINE complement of ``ts_rolling_anomaly``/``ts_mad_outliers``
    (which flag individual points): it locates WHERE a series' level
    shifted, the drift question a training-data freshness monitor asks.

    Division-free exactness: |S_i| = |P_i − i·T/n| is compared via the
    n-scaled integerized form |n·P_i − i·T| (P_i = exact decimal prefix
    sum, T/n = per-user total/count), so the argmax — the answer — is
    decided in EXACT decimal arithmetic on both engines; the single IEEE
    division happens only when formatting the reported magnitude
    (|n·S|/n, the same cast-then-divide convention as
    ``ts_seasonal_profile``). Ties break to the earliest position.

    One shuffle on user_id; the prefix sum, the per-user total, and the
    row number all run inside the same per-user sort, and the argmax is
    the ``max(struct(...))`` hash-aggregate kernel (map-side combine, no
    second window) pinned by ``tests/test_argmax_agg.py``.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "value")
        # NULL observations are EXCLUDED from the series (stated in the
        # oracle too): leading NULLs would make the prefix sum NULL and
        # hand the argmax to engine-specific NULL ordering
        .filter(F.col("value").isNotNull())
    )
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wall = Window.partitionBy("user_id")
    vdec = F.col("value").cast("decimal(30,10)")
    pref = ev.select(
        "user_id",
        "ts",
        F.row_number().over(wseq).alias("i"),
        F.sum(vdec).over(wseq).cast("decimal(25,10)").alias("p"),
        F.sum(vdec).over(wall).cast("decimal(25,10)").alias("t"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    ndec = F.col("n").cast("decimal(12,0)")
    idec = F.col("i").cast("decimal(12,0)")
    scored = pref.select(
        "user_id",
        "i",
        "ts",
        "n",
        F.abs(F.col("p") * ndec - F.col("t") * idec).alias("ns_abs"),
    )
    best = scored.groupBy("user_id").agg(
        F.max(
            F.struct(
                F.col("ns_abs").alias("k1"),
                (-F.col("i")).alias("k2"),
                F.col("i").alias("cp_pos"),
                F.col("ts").alias("cp_ts"),
                F.col("n").alias("nn"),
            )
        ).alias("b")
    )
    return best.select(
        "user_id",
        F.col("b.nn").alias("n_events"),
        F.col("b.cp_pos").alias("cp_pos"),
        F.col("b.cp_ts").alias("cp_ts"),
        dround(
            F.col("b.k1").cast("double") / F.col("b.nn"), 4
        ).alias("cusum_mag"),
    )


TS_CHANGEPOINT_SQL = f"""
WITH pref AS (
  SELECT user_id, ts,
         row_number() OVER w AS i,
         CAST(sum(CAST(value AS DECIMAL(30,10))) OVER
              (w ROWS UNBOUNDED PRECEDING) AS DECIMAL(25,10)) AS p,
         CAST(sum(CAST(value AS DECIMAL(30,10))) OVER
              (PARTITION BY user_id) AS DECIMAL(25,10)) AS t,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
  WHERE value IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
scored AS (
  SELECT user_id, i, ts, n,
         abs(p * CAST(n AS DECIMAL(12,0))
             - t * CAST(i AS DECIMAL(12,0))) AS ns_abs
  FROM pref
),
best AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY ns_abs DESC, i) AS rn
  FROM scored
)
SELECT user_id,
       n AS n_events,
       i AS cp_pos,
       ts AS cp_ts,
       {sql_round('CAST(ns_abs AS DOUBLE) / n', 4)} AS cusum_mag
FROM best WHERE rn = 1
"""

QUERIES["ts_changepoint_cusum"] = ts_changepoint_cusum
ORACLES["ts_changepoint_cusum"] = TS_CHANGEPOINT_SQL
