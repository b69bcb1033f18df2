"""Window functions and event-time windows (SURVEY.md §2.6, §2.10).

The reference has no ranking/lag/frames (its only "window" is the tumbling
spatial window of the multiscale mean, ``czi_to_zarr.py:446-452``, covered
by groupBy in operators/downsample.py). This module provides the full
analytic-window surface plus event-time tumbling/sliding/session windows
over the ``events`` table — the exact functions Structured Streaming uses,
so ``streaming/`` reuses these semantics unchanged on ``readStream``.

Scale note: each query shuffles once, on its ``partitionBy``/``groupBy``
keys. Window partitions here are per-user / per-flag, i.e. millions of
small partitions at 100 TB — the shape window sorts want. Nothing orders
the whole table globally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.compat import dround, dsum_round
from ..tables import load_table

# ---------------------------------------------------------------------------
# Ranking / offset / frame windows (§2.6)
# ---------------------------------------------------------------------------


def win_rank_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price: row_number + ntile over a total
    order (unique tiebreak — SURVEY §7 hard-part 5: never rely on
    nondeterministic row order for assignment)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            dround(F.col("o_totalprice"), 2).alias("o_totalprice"),
            F.row_number().over(w).alias("rn"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .filter(F.col("rn") <= 3)
    )


WIN_RANK_TOPN_SQL = """
SELECT * FROM (
  SELECT
    o_custkey,
    o_orderkey,
    CAST(round(CAST((o_totalprice) AS DECIMAL(30,10)), 2) AS DOUBLE) AS o_totalprice,
    row_number() OVER w AS rn,
    ntile(4)     OVER w AS quartile
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
)
WHERE rn <= 3
"""


def win_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / percent_rank / cume_dist with ties (all four are
    tie-stable, so the result is deterministic without a unique tiebreak)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        dround(F.col("l_quantity"), 2).alias("l_quantity"),
        F.rank().over(w).alias("qty_rank"),
        F.dense_rank().over(w).alias("qty_dense_rank"),
        dround(F.percent_rank().over(w), 6).alias("qty_pct_rank"),
        dround(F.cume_dist().over(w), 6).alias("qty_cume_dist"),
    )


WIN_RANK_DENSE_SQL = """
SELECT
  l_orderkey,
  l_linenumber,
  l_returnflag,
  CAST(round(CAST((l_quantity) AS DECIMAL(30,10)), 2) AS DOUBLE) AS l_quantity,
  rank()       OVER w AS qty_rank,
  dense_rank() OVER w AS qty_dense_rank,
  CAST(round(CAST((percent_rank() OVER w) AS DECIMAL(30,10)), 6) AS DOUBLE) AS qty_pct_rank,
  CAST(round(CAST((cume_dist()    OVER w) AS DECIMAL(30,10)), 6) AS DOUBLE) AS qty_cume_dist
FROM lineitem
WHERE l_orderkey < 100
WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)
"""


def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead offsets per user ordered by event time, with inter-event gap
    in integer microseconds (exact — no float time arithmetic)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        dround(F.lag("value", 1).over(w), 2).alias("prev_value"),
        dround(F.lead("value", 1).over(w), 2).alias("next_value"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts", 1).over(w))).alias(
            "gap_us"
        ),
    )


WIN_LAG_LEAD_SQL = """
SELECT
  event_id,
  user_id,
  CAST(round(CAST((lag(value, 1)  OVER w) AS DECIMAL(30,10)), 2) AS DOUBLE) AS prev_value,
  CAST(round(CAST((lead(value, 1) OVER w) AS DECIMAL(30,10)), 2) AS DOUBLE) AS next_value,
  epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS gap_us
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregates (sum/count/max) with an explicit ROWS frame."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        dround(F.sum("value").over(w), 2).alias("running_sum"),
        F.count(F.lit(1)).over(w).alias("running_n"),
        dround(F.max("value").over(w), 2).alias("running_max"),
    )


WIN_RUNNING_SQL = """
SELECT
  event_id,
  user_id,
  CAST(round(CAST((sum(value) OVER w) AS DECIMAL(30,10)), 2) AS DOUBLE) AS running_sum,
  count(*) OVER w AS running_n,
  CAST(round(CAST((max(value) OVER w) AS DECIMAL(30,10)), 2) AS DOUBLE) AS running_max
FROM events
WINDOW w AS (
  PARTITION BY user_id ORDER BY ts, event_id
  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
)
"""


def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: trailing 10-minute sum of value per user, ordered by
    exact integer epoch-microseconds (RANGE on the physical time axis)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        dround(F.sum("value").over(w), 2).alias("trailing_10m_sum"),
        F.count(F.lit(1)).over(w).alias("trailing_10m_n"),
    )


WIN_RANGE_FRAME_SQL = """
SELECT
  event_id,
  user_id,
  CAST(round(CAST((sum(value) OVER w) AS DECIMAL(30,10)), 2) AS DOUBLE) AS trailing_10m_sum,
  count(*) OVER w AS trailing_10m_n
FROM (SELECT *, epoch_us(ts) AS ts_us FROM events)
WINDOW w AS (
  PARTITION BY user_id ORDER BY ts_us
  RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW
)
"""


def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last over an explicit full-partition frame (the frame must be
    UNBOUNDED..UNBOUNDED or ``last`` degenerates to "current row")."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
    )


WIN_FIRST_LAST_SQL = """
SELECT
  event_id,
  user_id,
  first_value(event_type) OVER w AS first_type,
  last_value(event_type)  OVER w AS last_type
FROM events
WINDOW w AS (
  PARTITION BY user_id ORDER BY ts, event_id
  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
)
"""


# ---------------------------------------------------------------------------
# Event-time windows (§2.10) — same functions Structured Streaming uses
# ---------------------------------------------------------------------------


def evw_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute event-time windows per event type."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


EVW_TUMBLING_SQL = """
SELECT
  time_bucket(INTERVAL '10 minutes', ts) AS window_start,
  event_type,
  count(*) AS n_events,
  CAST(round(CAST((sum(value)) AS DECIMAL(30,10)), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY window_start, event_type
"""


def evw_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 10-minute width, 5-minute slide (every event lands
    in exactly two windows)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


EVW_SLIDING_SQL = """
SELECT
  time_bucket(INTERVAL '5 minutes', ts) - k.k * INTERVAL '5 minutes' AS window_start,
  event_type,
  count(*) AS n_events,
  CAST(round(CAST((sum(value)) AS DECIMAL(30,10)), 2) AS DOUBLE) AS sum_value
FROM events
CROSS JOIN (VALUES (0), (1)) k(k)
GROUP BY window_start, event_type
"""


def evw_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute inactivity gap per user
    (sessionization — ``session_window`` is the batch twin of the
    Structured Streaming operator)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(F.sum("value"), 2).alias("sum_value"),
            F.min("ts").alias("session_start"),
        )
        .select("user_id", "session_start", "n_events", "sum_value")
    )


EVW_SESSION_SQL = """
WITH ordered AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT *,
         CASE WHEN prev_ts IS NULL OR ts >= prev_ts + INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS is_new
  FROM ordered
), sessions AS (
  SELECT *,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT
  user_id,
  min(ts)  AS session_start,
  count(*) AS n_events,
  CAST(round(CAST((sum(value)) AS DECIMAL(30,10)), 2) AS DOUBLE) AS sum_value
FROM sessions
GROUP BY user_id, sid
"""


QUERIES = {
    "win_rank_topn": win_rank_topn,
    "win_rank_dense": win_rank_dense,
    "win_lag_lead": win_lag_lead,
    "win_running": win_running,
    "win_range_frame": win_range_frame,
    "win_first_last": win_first_last,
    "evw_tumbling": evw_tumbling,
    "evw_sliding": evw_sliding,
    "evw_session": evw_session,
}

ORACLES = {
    "win_rank_topn": WIN_RANK_TOPN_SQL,
    "win_rank_dense": WIN_RANK_DENSE_SQL,
    "win_lag_lead": WIN_LAG_LEAD_SQL,
    "win_running": WIN_RUNNING_SQL,
    "win_range_frame": WIN_RANGE_FRAME_SQL,
    "win_first_last": WIN_FIRST_LAST_SQL,
    "evw_tumbling": EVW_TUMBLING_SQL,
    "evw_sliding": EVW_SLIDING_SQL,
    "evw_session": EVW_SESSION_SQL,
}


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase): a user
    reaches stage k only via events in strictly increasing time order —
    the product-analytics query behind every conversion dashboard.

    Relational formulation: per-user min event time at stage 1, then
    stage k's candidates join stage k-1 and keep strictly-later events
    (min again) — two key-partitioned joins on user_id, state one row
    per user per stage.  Timestamps compare as integer MICROsecond
    epochs on both engines (micros is the post-load ts contract
    regardless of the fixture's parquet encoding — see
    tables.load_table).  Output is one row of funnel
    counts and step conversion rates (single IEEE divisions)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("tsu"), "event_type"
    )
    t1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("tsu").alias("t1"))
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("tsu") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("tsu").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("tsu") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("tsu").alias("t3"))
    )
    depths = (
        t1.join(t2.select("user_id", F.lit(1).alias("s2")), "user_id", "left")
        .join(t3.select("user_id", F.lit(1).alias("s3")), "user_id", "left")
    )
    return depths.agg(
        F.count(F.lit(1)).alias("n_view"),
        F.sum(F.coalesce("s2", F.lit(0))).alias("n_click_after_view"),
        F.sum(F.coalesce("s3", F.lit(0))).alias("n_purchase_after_click"),
        dround(
            F.sum(F.coalesce("s2", F.lit(0))).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("view_to_click_rate"),
        dround(
            F.sum(F.coalesce("s3", F.lit(0))).cast("double")
            # nullif zero guard: both engines yield NULL when no user ever
            # clicks after a view (IEEE/decimal divide-by-zero semantics
            # differ across engines; NULL is agreed)
            / F.nullif(F.sum(F.coalesce("s2", F.lit(0))), F.lit(0)),
            6,
        ).alias("click_to_purchase_rate"),
    )


EVENTS_FUNNEL_SQL = """
WITH ev AS (
  SELECT user_id, epoch_ns(ts) // 1000 AS tsu, event_type FROM events
),
t1 AS (
  SELECT user_id, min(tsu) AS t1 FROM ev
  WHERE event_type = 'view' GROUP BY user_id
),
t2 AS (
  SELECT e.user_id, min(e.tsu) AS t2
  FROM ev e JOIN t1 USING (user_id)
  WHERE e.event_type = 'click' AND e.tsu > t1.t1
  GROUP BY e.user_id
),
t3 AS (
  SELECT e.user_id, min(e.tsu) AS t3
  FROM ev e JOIN t2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.tsu > t2.t2
  GROUP BY e.user_id
),
depths AS (
  SELECT t1.user_id,
         CASE WHEN t2.user_id IS NULL THEN 0 ELSE 1 END AS s2,
         CASE WHEN t3.user_id IS NULL THEN 0 ELSE 1 END AS s3
  FROM t1
  LEFT JOIN t2 ON t1.user_id = t2.user_id
  LEFT JOIN t3 ON t1.user_id = t3.user_id
)
SELECT count(*) AS n_view,
       CAST(sum(s2) AS BIGINT) AS n_click_after_view,
       CAST(sum(s3) AS BIGINT) AS n_purchase_after_click,
       CAST(round(CAST((CAST(sum(s2) AS DOUBLE) / count(*))
         AS DECIMAL(30,10)), 6) AS DOUBLE) AS view_to_click_rate,
       CAST(round(CAST((CAST(sum(s3) AS DOUBLE) / nullif(sum(s2), 0))
         AS DECIMAL(30,10)), 6) AS DOUBLE) AS click_to_purchase_rate
FROM depths
"""

QUERIES["events_funnel"] = events_funnel
ORACLES["events_funnel"] = EVENTS_FUNNEL_SQL


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-active week, the
    fraction still active k weeks later — the growth-analytics staple.

    Time buckets are integer week indexes from the MICROsecond epoch
    (integer division; dates/intervals would re-open engine timezone
    semantics).  Shape: per-user min (first week), distinct
    (user, week) activity, one join, one aggregate — all
    user_id-partitioned shuffles; the cohort-size join is a broadcast
    (cohort count is tiny by construction).

    NULL user_id is excluded by explicit contract (both sides): an
    anonymous event belongs to no cohort. Left implicit, the engines
    split subtly — Spark's ``countDistinct`` cohort size ignored the
    NULL user while the oracle's ``count(*)`` over first-weeks counted
    it (caught by the r10 user_id NULL-probe stage)."""
    # integer `div`, not `/`: float division of a ~1.7e15 micros epoch
    # can land a boundary quotient one ulp off the true integer
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.expr("unix_micros(ts) div 604800000000").alias("wk"),
        )
    )
    # ONE user_id shuffle (r14, guide §2.4): the first-week aggregate,
    # the (user, week) distinct, and their join all re-shuffled the fact
    # stream; min + collect_set in a single per-user aggregate gives the
    # same information in one pass, the set makes each user contribute
    # exactly one row per (cohort, offset) — so the countDistinct expand
    # collapses to a plain count — and cohort sizes are a count over the
    # same per-user frame. Per-user state is bounded by the distinct
    # active weeks of one user (calendar-bounded at any corpus size).
    # Interleaved A/B at sf0.1: 0.64 -> 0.61 s median, 5/6 pair wins
    # (floor-bound here; the shuffle count is the 100 TB win), output
    # identical.
    per_user = ev.groupBy("user_id").agg(
        F.min("wk").alias("cohort"), F.collect_set("wk").alias("wks")
    )
    ret = (
        per_user.select("cohort", F.explode("wks").alias("wk"))
        .groupBy("cohort", (F.col("wk") - F.col("cohort")).alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    sizes = per_user.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        ret.join(sizes, "cohort")
        .select(
            "cohort",
            "week_offset",
            "n_active",
            "cohort_size",
            dround(
                F.col("n_active").cast("double") / F.col("cohort_size"), 6
            ).alias("retention"),
        )
        .orderBy("cohort", "week_offset")
    )


EVENTS_RETENTION_SQL = """
WITH ev AS (
  SELECT DISTINCT user_id, epoch_ns(ts) // 1000 // 604800000000 AS wk
  FROM events WHERE user_id IS NOT NULL
),
first AS (SELECT user_id, min(wk) AS cohort FROM ev GROUP BY user_id),
ret AS (
  SELECT f.cohort, e.wk - f.cohort AS week_offset,
         count(DISTINCT e.user_id) AS n_active
  FROM ev e JOIN first f USING (user_id)
  GROUP BY f.cohort, e.wk - f.cohort
),
sizes AS (SELECT cohort, count(*) AS cohort_size FROM first GROUP BY cohort)
SELECT r.cohort, r.week_offset,
       CAST(r.n_active AS BIGINT) AS n_active,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       CAST(round(CAST((CAST(r.n_active AS DOUBLE) / s.cohort_size)
         AS DECIMAL(30,10)), 6) AS DOUBLE) AS retention
FROM ret r JOIN sizes s USING (cohort)
ORDER BY cohort, week_offset
"""


def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: each user's first three events (by time, then
    event_id) joined into a path string, ranked by frequency — the
    path-analysis query behind onboarding dashboards.

    Ordered collection is the determinism trap: ``collect_list`` order
    is partition-dependent, so the path is built by sorting an array of
    (rank, type) structs — canonical on any cluster layout; the oracle
    uses ``string_agg(... ORDER BY rn)``, its own canonical form."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("tsu"),
        "event_id",
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    first3 = ev.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 3
    )
    paths = first3.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(10)
    )


EVENTS_TOP_PATHS_SQL = """
WITH ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY epoch_ns(ts) // 1000, event_id
         ) AS rn
  FROM events
),
paths AS (
  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
  FROM ranked WHERE rn <= 3
  GROUP BY user_id
)
SELECT path, count(*) AS n_users
FROM paths
GROUP BY path
ORDER BY n_users DESC, path ASC
LIMIT 10
"""

QUERIES["events_retention_cohorts"] = events_retention_cohorts
ORACLES["events_retention_cohorts"] = EVENTS_RETENTION_SQL
QUERIES["events_top_paths"] = events_top_paths
ORACLES["events_top_paths"] = EVENTS_TOP_PATHS_SQL


# ---------------------------------------------------------------------------
# Multi-touch attribution (position-based / U-shaped)
# ---------------------------------------------------------------------------


def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) marketing attribution: each purchase's
    value is split across the user's view/click touchpoints in the 7
    days before it — 40% to the first touch, 40% to the last, 20%
    spread over the middle touches; 1-touch paths get 100%, 2-touch
    paths 50/50. Reported per touch channel (event_type).

    Weights are integer permille with floor division for the middle
    split (exact and identical in both engines; the ≤(n−2)‰ flooring
    remainder is dropped, deterministically). value × permille is IEEE
    double (identical), then exact decimal summation.

    Plan: ONE shuffle joins purchases to their user's touches (equi on
    user_id; the 7-day predicate filters inside the join), one window
    over each purchase's touch list, one final channel aggregate. At
    100 TB the lookback bound keeps per-purchase touch lists small, and
    user_id partitioning is the natural key — no global sort anywhere.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    touches = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("channel"),
    )
    paths = purchases.join(
        touches,
        (F.col("p_user") == F.col("t_user"))
        & (F.col("t_ts") < F.col("p_ts"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr("interval 7 days")),
    )
    w = Window.partitionBy("p_id").orderBy("t_ts", "t_id")
    wd = Window.partitionBy("p_id").orderBy(F.desc("t_ts"), F.desc("t_id"))
    wn = Window.partitionBy("p_id")
    scored = paths.select(
        "p_id",
        "p_value",
        "channel",
        F.row_number().over(w).alias("rn"),
        F.row_number().over(wd).alias("rn_rev"),
        F.count(F.lit(1)).over(wn).alias("n_touch"),
    ).withColumn(
        "w_pm",
        F.when(F.col("n_touch") == 1, F.lit(1000))
        .when(F.col("n_touch") == 2, F.lit(500))
        .when(F.col("rn") == 1, F.lit(400))
        .when(F.col("rn_rev") == 1, F.lit(400))
        .otherwise(F.expr("200 DIV (n_touch - 2)")),
    )
    return scored.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_touches"),
        dround(
            F.sum((F.col("p_value") * F.col("w_pm")).cast("decimal(30,10)"))
            / 1000,
            4,
        ).alias("attributed_value"),
    )


EVENTS_ATTRIBUTION_SQL = """
WITH purchases AS (
  SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts, value AS p_value
  FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT user_id AS t_user, ts AS t_ts, event_id AS t_id,
         event_type AS channel
  FROM events WHERE event_type IN ('view', 'click')
),
paths AS (
  SELECT p.p_id, p.p_value, t.channel, t.t_ts, t.t_id
  FROM purchases p JOIN touches t
    ON p.p_user = t.t_user
   AND t.t_ts < p.p_ts
   AND t.t_ts >= p.p_ts - INTERVAL 7 DAY
),
scored AS (
  SELECT
    p_id,
    p_value,
    channel,
    row_number() OVER (PARTITION BY p_id ORDER BY t_ts, t_id) AS rn,
    row_number() OVER (PARTITION BY p_id ORDER BY t_ts DESC, t_id DESC) AS rn_rev,
    count(*) OVER (PARTITION BY p_id) AS n_touch
  FROM paths
),
weighted AS (
  SELECT
    channel,
    p_value,
    CASE WHEN n_touch = 1 THEN 1000
         WHEN n_touch = 2 THEN 500
         WHEN rn = 1 THEN 400
         WHEN rn_rev = 1 THEN 400
         ELSE 200 // (n_touch - 2) END AS w_pm
  FROM scored
)
SELECT
  channel,
  count(*) AS n_touches,
  CAST(round(CAST((sum(CAST(p_value * w_pm AS DECIMAL(30,10))) / 1000)
       AS DECIMAL(30,10)), 4) AS DOUBLE) AS attributed_value
FROM weighted
GROUP BY channel
"""

QUERIES["events_attribution"] = events_attribution
ORACLES["events_attribution"] = EVENTS_ATTRIBUTION_SQL


# ---------------------------------------------------------------------------
# Markov transition matrix over event sequences
# ---------------------------------------------------------------------------


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types: for each
    (from_type → to_type) pair of consecutive events within a user's
    timeline, the transition count and row-normalized probability — the
    statistic behind next-event prediction, journey simulation, and
    anomalous-sequence scoring.

    Probability is emitted in exact parts-per-million (integer floor
    division) — row-stochastic up to flooring, bit-identical across
    engines. One window shuffle on user_id + one pair aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("to_type"),
            F.lag("event_type", 1).over(w).alias("from_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wrow = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.expr("CAST(n * 1000000 AS BIGINT)").alias("_num"),
        F.sum("n").over(wrow).alias("_den"),
    ).select(
        "from_type",
        "to_type",
        "n",
        F.expr("CAST(_num DIV _den AS BIGINT)").alias("prob_ppm"),
    )


EVENTS_MARKOV_SQL = """
WITH pairs AS (
  SELECT
    lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS from_type,
    event_type AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, count(*) AS n
  FROM pairs
  WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT
  from_type,
  to_type,
  n,
  CAST((CAST(n AS HUGEINT) * 1000000) // sum(n) OVER (PARTITION BY from_type)
       AS BIGINT) AS prob_ppm
FROM counts
"""

QUERIES["events_markov_transitions"] = events_markov_transitions
ORACLES["events_markov_transitions"] = EVENTS_MARKOV_SQL


# ---------------------------------------------------------------------------
# Sequential pattern match (MATCH_RECOGNIZE-lite)
# ---------------------------------------------------------------------------


def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect consecutive view→click→purchase triples per user — the
    restricted MATCH_RECOGNIZE shape (Flink/Trino CEP) Spark lacks,
    expressed as a lead-chain over the per-user event order.

    A row matches when it is a ``view`` whose next two events (by the
    deterministic (ts, event_id) order) are ``click`` then ``purchase``
    with no intervening event — strictly-consecutive semantics, the
    ``PATTERN (A B C)`` case. Plan: ONE user-keyed shuffle; both leads
    and the count ride the same window partitioning. Returns users with
    at least one match and their match count plus the tightest
    triple's span in seconds.

    For patterns with gaps/quantifiers (``A X* B``) the same plan uses
    a conditional running counter (`events_funnel` implements that
    relaxed shape); for truly unbounded NFA patterns the scale path is
    ``applyInPandasWithState`` over the user key.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        (
            (F.unix_micros(F.lead("ts", 2).over(w)) - F.unix_micros("ts"))
            / F.lit(1_000_000)
        ).cast("long").alias("span_s"),
    ).filter(
        (F.col("event_type") == "view")
        & (F.col("t1") == "click")
        & (F.col("t2") == "purchase")
    )
    return flagged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("span_s").alias("min_span_s"),
    )


EVENTS_PATTERN_MATCH_SQL = """
WITH flagged AS (
  SELECT
    user_id,
    event_type,
    lead(event_type, 1) OVER w AS t1,
    lead(event_type, 2) OVER w AS t2,
    (epoch_us(lead(ts, 2) OVER w) - epoch_us(ts)) // 1000000 AS span_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, count(*) AS n_matches, min(span_s) AS min_span_s
FROM flagged
WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
GROUP BY user_id
"""

QUERIES["events_pattern_match"] = events_pattern_match
ORACLES["events_pattern_match"] = EVENTS_PATTERN_MATCH_SQL


# ---------------------------------------------------------------------------
# Gaps and islands (activity streaks)
# ---------------------------------------------------------------------------


def events_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands shape: distinct active days, then day − row_number
    is constant within an island, so one more aggregate yields streak
    lengths. Returns each user's longest streak, streak count, and
    active-day total.

    Plan: distinct-day aggregate and the island window ride the SAME
    user-keyed partitioning (one shuffle), then a per-user hash
    aggregate. Integer day arithmetic (epoch days), identical engines.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("day")
    )
    days = e.distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.withColumn(
        "island", F.col("day") - F.row_number().over(w)
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.max("len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.sum("len").alias("active_days"),
    )


EVENTS_STREAKS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id,
         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
  FROM events
),
islands AS (
  SELECT user_id, day,
         day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
  FROM days
),
streaks AS (
  SELECT user_id, island, count(*) AS len
  FROM islands GROUP BY 1, 2
)
SELECT user_id,
       max(len) AS longest_streak,
       count(*) AS n_streaks,
       CAST(sum(len) AS BIGINT) AS active_days
FROM streaks
GROUP BY 1
"""

QUERIES["events_streaks"] = events_streaks
ORACLES["events_streaks"] = EVENTS_STREAKS_SQL


# ---------------------------------------------------------------------------
# ntile bucketing (quartile assignment + per-bucket profile)
# ---------------------------------------------------------------------------


def win_ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ntile(4)`` quartile assignment over order value, per priority
    class, rolled up to a per-(priority, quartile) profile — the score
    bucketing step of a ranking/segmentation pipeline (e.g. quality-
    score quartiles feeding a curriculum mixer).

    The ntile window is PARTITIONED (by ``o_orderpriority``), never
    global: each class buckets independently and in parallel.  A global
    ntile would funnel every row through one task — that shape belongs
    to the two-phase distributed rank helper
    (``plans/partitioning.grouped_row_number``), not a window.  The
    orderBy carries ``o_orderkey`` as a unique tiebreak, so bucket
    boundaries are deterministic under ties.

    ntile semantics (SQL standard, identical in both engines): bucket
    sizes differ by at most one, earlier buckets take the extras.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    bucketed = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.ntile(4).over(w).alias("quartile"),
    )
    return bucketed.groupBy("o_orderpriority", "quartile").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dround(F.min("o_totalprice"), 2).alias("lo"),
        dround(F.max("o_totalprice"), 2).alias("hi"),
        dsum_round("o_totalprice", 2).alias("bucket_value"),
    )


WIN_NTILE_SQL = """
SELECT
  o_orderpriority,
  quartile,
  count(*) AS n_orders,
  CAST(round(CAST(min(o_totalprice) AS DECIMAL(30,10)), 2) AS DOUBLE) AS lo,
  CAST(round(CAST(max(o_totalprice) AS DECIMAL(30,10)), 2) AS DOUBLE) AS hi,
  CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))), 2) AS DOUBLE) AS bucket_value
FROM (
  SELECT o_orderpriority, o_totalprice,
         ntile(4) OVER (
           PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
         ) AS quartile
  FROM orders
)
GROUP BY o_orderpriority, quartile
"""

QUERIES["win_ntile_buckets"] = win_ntile_buckets
ORACLES["win_ntile_buckets"] = WIN_NTILE_SQL


# ---------------------------------------------------------------------------
# RFM segmentation (global quintiles via two-phase distributed rank)
# ---------------------------------------------------------------------------


def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — recency / frequency / monetary
    quintiles over ALL users, the classic warehouse scoring query.

    The quintiles are GLOBAL, which is exactly the shape a naive
    ``ntile(5) over (order by metric)`` funnels through one task.  Here
    each metric is ranked with the two-phase distributed rank
    (``plans/partitioning.grouped_row_number`` under a constant group):
    range-shuffle parallel sort → per-partition local ranks → tiny
    census prefix-summed into offsets, broadcast back.  The quintile is
    then pure integer arithmetic ``((rank-1)·5) div n + 1`` — NOT the
    ntile split (sizes differ by at most one either way; the formula is
    stated identically in both engines, so the oracle is exact).

    Rank keys carry ``user_id`` as a unique tiebreak (struct order), so
    every rank — hence every segment — is deterministic.  Monetary sums
    in exact DECIMAL, recency in integer microseconds: no float
    anywhere near an ordering.

    Plan shape (r13): the three global ranks share ONE two-phase rank
    pass. The r12 formulation chained three ``grouped_row_number``
    calls, each paying its own range-bound sampling job, census
    collect, and broadcast join over a plan that re-embedded the
    previous ranks — 15 shuffles and ~2.8 s of driver-side analysis
    alone. Instead each user row explodes into three ``(metric_id,
    key)`` rows — the key a ``(decimal value, user_id)`` struct, cast
    exactly (long → DECIMAL(38,10) and DECIMAL(30,10) → DECIMAL(38,10)
    are value-preserving, so per-metric ordering is unchanged) — and
    ONE ``grouped_row_number`` partitioned by metric ranks all three
    (3n rows, one range shuffle, one census), then a groupBy on
    user_id pivots the ranks back. Identical ranks, identical output.
    """
    from ..plans.partitioning import grouped_row_number

    ev = load_table(spark, sf_dir, "events")
    is_p = F.col("event_type") == "purchase"
    per_user = ev.groupBy("user_id").agg(
        F.max(F.unix_micros(F.col("ts"))).alias("last_ts_us"),
        F.sum(F.when(is_p, 1).otherwise(0)).alias("freq"),
        F.coalesce(
            F.sum(F.when(is_p, F.col("value").cast("decimal(30,10)"))),
            F.lit(0).cast("decimal(30,10)"),
        ).alias("mon"),
    )

    def metric(mid: int, col) -> F.Column:
        return F.struct(
            F.lit(mid).alias("m"),
            F.struct(
                col.cast("decimal(38,10)").alias("v"),
                F.col("user_id").alias("u"),
            ).alias("k"),
        )

    exploded = per_user.select(
        "user_id",
        F.explode(
            F.array(
                metric(1, F.col("last_ts_us")),
                metric(2, F.col("freq")),
                metric(3, F.col("mon")),
            )
        ).alias("e"),
    ).select("user_id", F.col("e.m").alias("_m"), F.col("e.k").alias("_k"))
    ranked = grouped_row_number(exploded, "_m", "_k", "_rnk")
    pu = ranked.groupBy("user_id").agg(
        F.max(F.when(F.col("_m") == 1, F.col("_rnk"))).alias("r_rank"),
        F.max(F.when(F.col("_m") == 2, F.col("_rnk"))).alias("f_rank"),
        F.max(F.when(F.col("_m") == 3, F.col("_rnk"))).alias("m_rank"),
    )
    # n_users = the top rank of the already-computed (persisted) rank
    # chain — NOT a second scan+aggregate of the events table
    n = pu.agg(F.max("r_rank").alias("n_users"))
    q = lambda rank: F.expr(f"(({rank} - 1) * 5) div n_users + 1")  # noqa: E731
    return (
        pu.crossJoin(n)
        .select(
            "user_id",
            q("r_rank").cast("int").alias("r_q"),
            q("f_rank").cast("int").alias("f_q"),
            q("m_rank").cast("int").alias("m_q"),
        )
        .withColumn(
            "segment",
            (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q")).cast("int"),
        )
    )


EVENTS_RFM_SQL = """
WITH per_user AS (
  SELECT user_id,
         max(epoch_us(ts)) AS last_ts_us,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS freq,
         coalesce(sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(value AS DECIMAL(30,10)) END),
                  CAST(0 AS DECIMAL(30,10))) AS mon
  FROM events GROUP BY user_id
),
n AS (SELECT count(*) AS n_users FROM per_user),
ranked AS (
  SELECT user_id,
    row_number() OVER (ORDER BY last_ts_us, user_id) AS r_rank,
    row_number() OVER (ORDER BY freq, user_id)       AS f_rank,
    row_number() OVER (ORDER BY mon, user_id)        AS m_rank
  FROM per_user
)
SELECT user_id, r_q, f_q, m_q,
       CAST(r_q * 100 + f_q * 10 + m_q AS INT) AS segment
FROM (
  SELECT user_id,
    CAST(((r_rank - 1) * 5) // n_users + 1 AS INT) AS r_q,
    CAST(((f_rank - 1) * 5) // n_users + 1 AS INT) AS f_q,
    CAST(((m_rank - 1) * 5) // n_users + 1 AS INT) AS m_q
  FROM ranked, n
)
"""

QUERIES["events_rfm_segments"] = events_rfm_segments
ORACLES["events_rfm_segments"] = EVENTS_RFM_SQL


def win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``nth_value`` over the full frame — the "second touch" /
    "third purchase" attribution primitive ``first/last`` can't express.
    One shuffle on user_id; exact integer microseconds for the
    second-to-first gap."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    per_event = ev.select(
        "user_id",
        F.first("event_type").over(w).alias("first_type"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
        F.nth_value("event_type", 3).over(w).alias("third_type"),
        (
            F.unix_micros(F.nth_value("ts", 2).over(w))
            - F.unix_micros(F.first("ts").over(w))
        ).alias("first_to_second_us"),
    )
    return per_event.distinct()


WIN_NTH_VALUE_SQL = """
SELECT DISTINCT
  user_id,
  first_value(event_type) OVER w AS first_type,
  nth_value(event_type, 2) OVER w AS second_type,
  nth_value(event_type, 3) OVER w AS third_type,
  epoch_us(nth_value(ts, 2) OVER w) - epoch_us(first_value(ts) OVER w)
    AS first_to_second_us
FROM events
WINDOW w AS (
  PARTITION BY user_id ORDER BY ts, event_id
  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
)
"""

QUERIES["win_nth_value"] = win_nth_value
ORACLES["win_nth_value"] = WIN_NTH_VALUE_SQL


def evw_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window DISTINCT cardinality — active users per
    30-minute window sliding every 10 minutes, the DAU/WAU-style
    overlap metric a plain count can't give (each event votes in 3
    windows, but a user active twice in one window counts once).

    COUNT(DISTINCT) under ``window()`` is the distinct-expansion shape
    the Expand rewrite handles (see ``agg_multi_distinct``); the oracle
    states the same window algebra with an explicit slide-offset
    cross join.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "30 minutes", "10 minutes").alias("w"))
        .agg(
            F.countDistinct("user_id").alias("n_active_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_active_users",
            "n_events",
        )
    )


EVW_SLIDING_DISTINCT_SQL = """
SELECT
  time_bucket(INTERVAL '10 minutes', ts) - k.k * INTERVAL '10 minutes' AS window_start,
  count(DISTINCT user_id) AS n_active_users,
  count(*) AS n_events
FROM events
CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) k
GROUP BY 1
"""

QUERIES["evw_sliding_distinct"] = evw_sliding_distinct
ORACLES["evw_sliding_distinct"] = EVW_SLIDING_DISTINCT_SQL


# ---------------------------------------------------------------------------
# Point-in-time feature snapshot (leakage-free training matrix)
# ---------------------------------------------------------------------------


def feature_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature-store MATERIALIZATION query: one row per user with
    every feature computed strictly AS OF a cutoff and the supervised
    label computed strictly AFTER it — the leakage discipline that
    separates a valid churn/propensity training matrix from a data leak.
    The cutoff is data-derived (max event time − 7 days), so every scale
    factor has both history and a label window.

    Features (all ≤ cutoff): lifetime event count, trailing-7-day count
    and exact-decimal spend, whole days since last activity, distinct
    event types. Label (> cutoff): did the user purchase in the holdout
    week. Each is a conditional aggregate over ONE user-keyed shuffle of
    a single scan — no window, no self-join; the cutoff is a broadcast
    1-row scalar. Day arithmetic in exact integer microseconds. The
    point-in-time complement of ``scd2_asof_lookup`` (which joins
    per-event; this materializes per-entity).
    """
    ev = load_table(spark, sf_dir, "events")
    cutoff = ev.agg(
        (F.max(F.unix_micros("ts")) - F.lit(7 * 86_400_000_000)).alias("cut")
    )
    e = ev.crossJoin(cutoff).select(
        "user_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("us"),
        "cut",
    )
    before = F.col("us") <= F.col("cut")
    in7d = before & (F.col("us") > F.col("cut") - F.lit(7 * 86_400_000_000))
    return (
        e.groupBy("user_id")
        .agg(
            F.sum(F.when(before, 1).otherwise(0)).alias("n_lifetime"),
            F.sum(F.when(in7d, 1).otherwise(0)).alias("n_7d"),
            dround(
                F.coalesce(
                    F.sum(
                        F.when(in7d, F.col("value").cast("decimal(30,10)"))
                    ),
                    F.lit(0).cast("decimal(30,10)"),
                ),
                2,
            ).alias("spend_7d"),
            (
                (F.first("cut") - F.max(F.when(before, F.col("us"))))
                / F.lit(86_400_000_000)
            )
            .cast("long")
            .alias("days_since_last"),
            F.countDistinct(F.when(before, F.col("event_type"))).alias(
                "n_types"
            ),
            F.max(
                F.when(
                    ~before & (F.col("event_type") == "purchase"), 1
                ).otherwise(0)
            ).alias("label_purchase_next7d"),
        )
        # users with NO pre-cutoff history are not a training row (their
        # features are undefined); they'd appear only via label events
        .filter(F.col("n_lifetime") > 0)
    )


FEATURE_SNAPSHOT_SQL = """
WITH cut AS (
  SELECT max(epoch_us(ts)) - 7 * 86400000000 AS cut FROM events
),
e AS (
  SELECT user_id, event_type, value, epoch_us(ts) AS us, cut
  FROM events, cut
)
SELECT user_id,
  CAST(sum(CASE WHEN us <= cut THEN 1 ELSE 0 END) AS BIGINT) AS n_lifetime,
  CAST(sum(CASE WHEN us <= cut AND us > cut - 7 * 86400000000
           THEN 1 ELSE 0 END) AS BIGINT) AS n_7d,
  CAST(round(coalesce(sum(CASE WHEN us <= cut AND us > cut - 7 * 86400000000
                                THEN CAST(value AS DECIMAL(30,10)) END),
                      CAST(0 AS DECIMAL(30,10))), 2) AS DOUBLE) AS spend_7d,
  CAST((any_value(cut) - max(CASE WHEN us <= cut THEN us END))
       // 86400000000 AS BIGINT) AS days_since_last,
  count(DISTINCT CASE WHEN us <= cut THEN event_type END) AS n_types,
  max(CASE WHEN us > cut AND event_type = 'purchase'
           THEN 1 ELSE 0 END) AS label_purchase_next7d
FROM e
GROUP BY user_id
HAVING sum(CASE WHEN us <= cut THEN 1 ELSE 0 END) > 0
"""

QUERIES["feature_snapshot_asof"] = feature_snapshot_asof
ORACLES["feature_snapshot_asof"] = FEATURE_SNAPSHOT_SQL
