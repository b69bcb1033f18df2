"""Relational core: scans, projections, predicates, joins, aggregations,
sorts, set operations, scalar-function families (SURVEY.md §2.3-§2.5, §2.7-§2.9).

The reference has no relational operators (it is a CZI→Zarr ETL pipeline);
its closest analogs are cited per query. Everything here is stock DataFrame
API so Catalyst gets full pushdown/pruning/reordering freedom, including
which dimension joins to broadcast — the Spark restatement of the
reference's driver-side metadata broadcast pattern
(``zeiss_job.py:123-130,145-157``); a ``broadcast()`` hint stays only where
it changes the plan.

Scale notes (100 TB): every query below shuffles only on its aggregation or
join keys; dimension joins are broadcast so the fact table never shuffles
for them; filters sit directly on scan columns so they push into the
parquet reader (verify with ``.explain`` → ``PushedFilters``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.compat import dround, dsum, dsum_round, sql_round, sql_sum_round
from ..session import local_frame
from ..tables import load_table

# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.5 A5)
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped scan→filter→hash aggregate over lineitem.

    The canonical partial+final hash aggregate: map-side combine means the
    shuffle carries one row per (flag, status) per task regardless of input
    size — the plan that survives 100 TB.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dround(F.sum("l_quantity"), 2).alias("sum_qty"),
            dsum_round("l_extendedprice", 2).alias("sum_base_price"),
            dsum_round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
            ).alias("sum_disc_price"),
            dsum_round(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax")),
                2,
            ).alias("sum_charge"),
            dround(F.avg("l_quantity"), 2).alias("avg_qty"),
            dround(F.avg("l_extendedprice"), 2).alias("avg_price"),
            dround(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(round(CAST((sum(l_quantity)) AS DECIMAL(30,10)), 2) AS DOUBLE)                                            AS sum_qty,
  CAST(round(sum(CAST((l_extendedprice) AS DECIMAL(30,10))), 2) AS DOUBLE)                                       AS sum_base_price,
  CAST(round(sum(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(30,10))), 2) AS DOUBLE)                    AS sum_disc_price,
  CAST(round(sum(CAST((l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS DECIMAL(30,10))), 2) AS DOUBLE)      AS sum_charge,
  CAST(round(CAST((avg(l_quantity)) AS DECIMAL(30,10)), 2) AS DOUBLE)                                            AS avg_qty,
  CAST(round(CAST((avg(l_extendedprice)) AS DECIMAL(30,10)), 2) AS DOUBLE)                                       AS avg_price,
  CAST(round(CAST((avg(l_discount)) AS DECIMAL(30,10)), 4) AS DOUBLE)                                            AS avg_disc,
  count(*)                                                             AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General aggregate family: sum/avg/min/max/count/count_distinct/stddev.

    Reference analog: the deliberately-skipped channel statistics
    (``czi_to_zarr.py:543-555`` hard-codes min/max "because da.percentile
    would take so much time") — Spark computes all of these in one pass.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        dsum_round("o_totalprice", 2).alias("sum_price"),
        dround(F.avg("o_totalprice"), 2).alias("avg_price"),
        dround(F.min("o_totalprice"), 2).alias("min_price"),
        dround(F.max("o_totalprice"), 2).alias("max_price"),
        dround(F.stddev_samp("o_totalprice"), 2).alias("std_price"),
    )


AGG_STATS_SQL = """
SELECT
  o_orderstatus,
  count(*)                          AS n_orders,
  count(DISTINCT o_custkey)         AS n_customers,
  CAST(round(sum(CAST((o_totalprice) AS DECIMAL(30,10))), 2) AS DOUBLE)       AS sum_price,
  CAST(round(CAST((avg(o_totalprice)) AS DECIMAL(30,10)), 2) AS DOUBLE)       AS avg_price,
  CAST(round(CAST((min(o_totalprice)) AS DECIMAL(30,10)), 2) AS DOUBLE)       AS min_price,
  CAST(round(CAST((max(o_totalprice)) AS DECIMAL(30,10)), 2) AS DOUBLE)       AS max_price,
  CAST(round(CAST((stddev_samp(o_totalprice)) AS DECIMAL(30,10)), 2) AS DOUBLE) AS std_price
FROM orders
GROUP BY o_orderstatus
"""


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets with GROUPING() disambiguation of the NULL rows."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            dround(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
        )
    )


AGG_ROLLUP_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(round(CAST((sum(l_quantity)) AS DECIMAL(30,10)), 2) AS DOUBLE)                  AS sum_qty,
  count(*)                                   AS n_rows,
  CAST(grouping(l_returnflag) AS INTEGER)    AS g_flag,
  CAST(grouping(l_linestatus) AS INTEGER)    AS g_status
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions (all 4 grouping sets)."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum_round("o_totalprice", 2).alias("sum_price"),
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
    )


AGG_CUBE_SQL = """
SELECT
  o_orderstatus,
  o_orderpriority,
  count(*)                                     AS n_orders,
  CAST(round(sum(CAST((o_totalprice) AS DECIMAL(30,10))), 2) AS DOUBLE)                  AS sum_price,
  CAST(grouping(o_orderstatus) AS INTEGER)     AS g_status,
  CAST(grouping(o_orderpriority) AS INTEGER)   AS g_priority
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``groupBy().pivot()`` — order counts per status pivoted by priority.

    Pivot values are declared explicitly (not inferred): on 100 TB an
    inferred pivot triggers an extra distinct-scan job over the fact table.
    """
    o = load_table(spark, sf_dir, "orders")
    priorities = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    piv = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", priorities)
        .agg(F.count(F.lit(1)))
    )
    # Stable SQL-friendly column names.
    renames = {
        "1-URGENT": "n_urgent",
        "2-HIGH": "n_high",
        "3-MEDIUM": "n_medium",
        "4-NOT SPECIFIED": "n_notspec",
        "5-LOW": "n_low",
    }
    for old, new in renames.items():
        piv = piv.withColumnRenamed(old, new)
    # pivot emits NULL for empty cells; normalize to 0 like the oracle's
    # conditional-aggregation form.
    return piv.select(
        "o_orderstatus",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in renames.values()],
    )


AGG_PIVOT_SQL = """
SELECT
  o_orderstatus,
  count(*) FILTER (WHERE o_orderpriority = '1-URGENT')        AS n_urgent,
  count(*) FILTER (WHERE o_orderpriority = '2-HIGH')          AS n_high,
  count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM')        AS n_medium,
  count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS n_notspec,
  count(*) FILTER (WHERE o_orderpriority = '5-LOW')           AS n_low
FROM orders
GROUP BY o_orderstatus
"""


def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL ``approx_count_distinct`` next to the exact count (SURVEY X9).

    Oracle-checkable despite differing HLL builds: the raw estimate is not
    comparable cross-engine, so the output pins (a) the exact count and
    (b) a ``within_5pct`` accuracy flag — each engine asserts ITS OWN HLL
    lands within 5% of the exact answer (Spark runs rsd=0.02: 2σ = 4%,
    inside the bound; rsd=0.01 costs 4× the sketch registers — HLL++
    register count grows as 1/rsd² — for accuracy the flag doesn't need),
    and the flags hash-compare. A drifting sketch on either side flips
    its flag and fails the gate. The flag is derived in a post-agg select
    so each distinct aggregate appears exactly once in the plan.

    Plan shape (r3 task 7 — this query had regressed to 1.6 s): mixing
    ``countDistinct`` with another aggregate makes Spark plan an Expand
    (every input row duplicated once per aggregate family) before the
    shuffle.  HLL insertion is IDEMPOTENT — the sketch over the distinct
    (flag, partkey) pairs has bit-identical registers to the sketch over
    the raw rows — so both aggregates run on one pre-deduplicated pair
    relation instead: a partial-dedup aggregate with map-side combine,
    then a plain count + HLL merge.  No Expand, one shuffle of ~distinct
    pairs instead of 2× raw rows; rsd stays 0.02 (2σ = 4% < the 5% flag;
    the measured sf0.1 error is ≈ 1%, vs 4.4% at rsd = 0.03 —
    uncomfortably close to a flag flip).
    """
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select("l_returnflag", "l_partkey").distinct()
    g = pairs.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("exact_parts"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
    )
    return g.select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(
                F.col("approx_parts").cast("double")
                - F.col("exact_parts").cast("double")
            )
            / F.col("exact_parts").cast("double")
            <= F.lit(0.05)
        ).alias("within_5pct"),
    )


AGG_APPROX_DISTINCT_SQL = """
SELECT
  l_returnflag,
  count(DISTINCT l_partkey) AS exact_parts,
  abs(CAST(approx_count_distinct(l_partkey) AS DOUBLE)
      - CAST(count(DISTINCT l_partkey) AS DOUBLE))
    / CAST(count(DISTINCT l_partkey) AS DOUBLE) <= 0.05 AS within_5pct
FROM lineitem
GROUP BY l_returnflag
"""


def agg_hll_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION shape of the approx-distinct aggregate: one HLL
    pass, no exact-count rider.

    :func:`agg_approx_distinct` is the calibration twin — it carries the
    exact ``countDistinct`` (an expand-shuffle the sketch exists to
    avoid) solely so the differential gate can assert the sketch's
    accuracy.  This query is what a user would actually run at 100 TB:
    map-side HLL registers, one merge per group, no distinct expansion.
    HLL estimates are engine-specific builds and not comparable
    cross-engine, so this query has no SQL oracle — the driver records
    the weaker rows+schema check, while the twin's ``within_5pct`` flag
    gates the estimate quality."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts")
        )
        .orderBy("l_returnflag")
    )


def agg_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles next to the exact answer (the quantile
    analog of :func:`agg_approx_distinct`'s calibration-twin pattern).

    Exact p50/p95 are computed by the SAME explicit rank-interpolation
    formula on both engines (row_number over a per-group sort,
    ``v_lo + frac*(v_hi - v_lo)`` with every operand double — identical
    IEEE sequence; engine-built exact percentile functions interpolate
    in engine-specific op orders and are NOT bit-comparable).  The
    sketches (Spark Greenwald-Khanna at accuracy 1e-4, DuckDB t-digest)
    produce engine-specific values, so — as with the HLL twin — each
    engine asserts ITS OWN sketch: the cumulative rank of the sketch's
    answer must land within 5% of the target (bound = sketch rank error
    + per-value tie mass, ~2.3% here), and the boolean flags
    hash-compare.  A drifting sketch flips its flag and fails the gate.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("rf"), F.col("l_quantity").alias("q")
    )
    # two-phase parallel per-group rank: a Window.partitionBy("rf") sort
    # would funnel the whole fact table through 3 tasks (one per flag)
    from ..cache import persist_tracked
    from ..plans.partitioning import grouped_row_number

    ranked = grouped_row_number(li.select("rf", "q"), "rf", "q", out="rn")
    # ONE per-(rf, q) value-count relation serves every corpus-statistics
    # consumer below (r14, guide §1.2/§2.3): group sizes n (Σc), the
    # sketch-rank counts c50/c95 (weighted sums), and the tie mass
    # (max c) each re-scanned and re-aggregated the fact table; vc is
    # distinct-value-sized (|flags|·|distinct quantities| rows), so the
    # three extra corpus passes collapse into this single aggregate.
    # Persisted because the planner does not recognize the three
    # consumers' exchange subtrees as reusable (verified: 0
    # ReusedExchange in the unpersisted plan); same pattern as
    # dsir_importance's r13 counts persist. Values are identical by
    # associativity of integer counts.
    vc = persist_tracked(
        li.groupBy("rf", "q").agg(F.count(F.lit(1)).alias("c"))
    )
    n = vc.groupBy("rf").agg(F.sum("c").alias("n"))
    r2 = ranked.join(n, "rf")

    def pos(p):
        return (F.col("n") - 1).cast("double") * F.lit(p)

    aggs = [F.max("n").alias("n")]
    for p, tag in ((0.5, "p50"), (0.95, "p95")):
        lo = F.floor(pos(p)) + 1
        hi = F.ceil(pos(p)) + 1
        aggs += [
            F.sum(F.when(F.col("rn") == lo, F.col("q"))).alias(f"vlo_{tag}"),
            F.sum(F.when(F.col("rn") == hi, F.col("q"))).alias(f"vhi_{tag}"),
        ]
    aggs.append(
        F.percentile_approx("q", F.array(F.lit(0.5), F.lit(0.95)), F.lit(10000))
        .alias("ap")
    )
    g = r2.groupBy("rf").agg(*aggs).select(
        "rf",
        "n",
        "vlo_p50",
        "vhi_p50",
        "vlo_p95",
        "vhi_p95",
        F.col("ap")[0].alias("ap50"),
        F.col("ap")[1].alias("ap95"),
    )
    ranks = (
        vc.join(g.select("rf", "ap50", "ap95"), "rf")
        .groupBy("rf")
        .agg(
            F.sum(
                F.when(F.col("q") <= F.col("ap50"), F.col("c")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("c50"),
            F.sum(
                F.when(F.col("q") <= F.col("ap95"), F.col("c")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("c95"),
        )
    )
    # tolerance must carry the group's TIE MASS: a sketch answer is a
    # data value, so its cumulative rank jumps in steps of the value's
    # tie count — at fixture scale that is the documented ~2.3%, but on
    # a degenerate group (tiny n, integer quantities) the step alone
    # can exceed a flat 5% and the two engines' (different) sketches
    # legitimately land on opposite sides of it (r8 tiny-fixture probe)
    ties = vc.groupBy("rf").agg(F.max("c").alias("mt"))

    def exact(tag, p):
        frac = pos(p) - F.floor(pos(p))
        return dround(
            F.col(f"vlo_{tag}")
            + frac * (F.col(f"vhi_{tag}") - F.col(f"vlo_{tag}")),
            6,
        )

    bound = F.lit(0.05) + F.col("mt").cast("double") / F.col("n")
    out = g.join(ranks, "rf").join(ties, "rf").select(
        F.col("rf").alias("l_returnflag"),
        "n",
        exact("p50", 0.5).alias("exact_p50"),
        exact("p95", 0.95).alias("exact_p95"),
        (
            F.abs(F.col("c50").cast("double") / F.col("n") - 0.5) <= bound
        ).alias("ok_p50"),
        (
            F.abs(F.col("c95").cast("double") / F.col("n") - 0.95) <= bound
        ).alias("ok_p95"),
    )
    return out.orderBy("l_returnflag")


AGG_APPROX_QUANTILES_SQL = """
WITH base AS (
  SELECT l_returnflag AS rf, l_quantity AS q FROM lineitem
),
ranked AS (
  SELECT rf, q, row_number() OVER (PARTITION BY rf ORDER BY q) AS rn FROM base
),
n AS (SELECT rf, count(*) AS n FROM base GROUP BY rf),
g AS (
  SELECT r.rf, max(nn.n) AS n,
         sum(CASE WHEN rn = floor(CAST(nn.n - 1 AS DOUBLE) * 0.5) + 1
                  THEN q END) AS vlo_p50,
         sum(CASE WHEN rn = ceil(CAST(nn.n - 1 AS DOUBLE) * 0.5) + 1
                  THEN q END) AS vhi_p50,
         sum(CASE WHEN rn = floor(CAST(nn.n - 1 AS DOUBLE) * 0.95) + 1
                  THEN q END) AS vlo_p95,
         sum(CASE WHEN rn = ceil(CAST(nn.n - 1 AS DOUBLE) * 0.95) + 1
                  THEN q END) AS vhi_p95,
         approx_quantile(q, 0.5)  AS ap50,
         approx_quantile(q, 0.95) AS ap95
  FROM ranked r JOIN n nn USING (rf)
  GROUP BY r.rf
),
ranks AS (
  SELECT b.rf,
         sum(CASE WHEN b.q <= g.ap50 THEN 1 ELSE 0 END) AS c50,
         sum(CASE WHEN b.q <= g.ap95 THEN 1 ELSE 0 END) AS c95
  FROM base b JOIN g USING (rf)
  GROUP BY b.rf
),
ties AS (
  SELECT rf, max(c) AS mt
  FROM (SELECT rf, q, count(*) AS c FROM base GROUP BY rf, q)
  GROUP BY rf
)
SELECT g.rf AS l_returnflag,
       CAST(g.n AS INTEGER) AS n,
       CAST(round(CAST((g.vlo_p50
         + (CAST(g.n - 1 AS DOUBLE) * 0.5 - floor(CAST(g.n - 1 AS DOUBLE) * 0.5))
           * (g.vhi_p50 - g.vlo_p50)) AS DECIMAL(30,10)), 6) AS DOUBLE) AS exact_p50,
       CAST(round(CAST((g.vlo_p95
         + (CAST(g.n - 1 AS DOUBLE) * 0.95 - floor(CAST(g.n - 1 AS DOUBLE) * 0.95))
           * (g.vhi_p95 - g.vlo_p95)) AS DECIMAL(30,10)), 6) AS DOUBLE) AS exact_p95,
       abs(CAST(r.c50 AS DOUBLE) / g.n - 0.5)
         <= 0.05 + CAST(t.mt AS DOUBLE) / g.n AS ok_p50,
       abs(CAST(r.c95 AS DOUBLE) / g.n - 0.95)
         <= 0.05 + CAST(t.mt AS DOUBLE) / g.n AS ok_p95
FROM g JOIN ranks r USING (rf) JOIN ties t USING (rf)
ORDER BY g.rf
"""


def agg_quantiles_sketch_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION shape of the approx-percentile aggregate: one
    mergeable-sketch pass (Greenwald-Khanna, map-side partial sketches
    merged per group), no sort, no rank join — what a user runs at
    100 TB.  Sketch values are engine-specific, so no SQL oracle
    (rows+schema check only); :func:`agg_approx_quantiles` is the
    calibration twin whose rank-check flags gate this sketch's
    accuracy."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx(
                "l_quantity", F.array(F.lit(0.5), F.lit(0.95)), F.lit(10000)
            ).alias("approx_quantiles")
        )
        .select(
            "l_returnflag",
            F.col("approx_quantiles")[0].alias("approx_p50"),
            F.col("approx_quantiles")[1].alias("approx_p95"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Projections / filters / predicates (SURVEY §2.3 P9)
# ---------------------------------------------------------------------------


def proj_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full predicate surface: comparison, IN, BETWEEN, LIKE, CASE WHEN,
    boolean composition, and computed projections.

    Reference analogs: ``is_file`` scan filter (``zeiss_job.py:52``),
    scale-type filter (``zeiss_job.py:79-81``), dtype→minmax projection
    (``czi_to_zarr.py:535-549``). All predicates sit on scan columns so
    they push down to the parquet reader.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderstatus").isin("F", "O"))
            & (F.col("o_totalprice").between(1000.0, 400000.0))
            & (F.col("o_orderpriority").like("%URGENT%") | (F.col("o_orderpriority") == "2-HIGH"))
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        )
        .select(
            "o_orderkey",
            "o_custkey",
            dround(F.col("o_totalprice") * 1.1, 2).alias("price_with_fee"),
            F.when(F.col("o_totalprice") > 200000, "big")
            .when(F.col("o_totalprice") > 50000, "mid")
            .otherwise("small")
            .alias("size_class"),
            (F.col("o_orderstatus") == "F").alias("is_final"),
        )
    )


PROJ_FILTER_SQL = """
SELECT
  o_orderkey,
  o_custkey,
  CAST(round(CAST((o_totalprice * 1.1) AS DECIMAL(30,10)), 2) AS DOUBLE) AS price_with_fee,
  CASE WHEN o_totalprice > 200000 THEN 'big'
       WHEN o_totalprice > 50000  THEN 'mid'
       ELSE 'small' END         AS size_class,
  o_orderstatus = 'F'           AS is_final
FROM orders
WHERE o_orderstatus IN ('F', 'O')
  AND o_totalprice BETWEEN 1000.0 AND 400000.0
  AND (o_orderpriority LIKE '%URGENT%' OR o_orderpriority = '2-HIGH')
  AND o_orderdate >= TIMESTAMP '1996-01-01'
"""


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.4)
# ---------------------------------------------------------------------------


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: TPC-H Q3-shaped scan → filter → 3-way join → agg → top-k.

    This is the reference's whole pipeline shape in miniature (SURVEY §7 M0):
    deterministic scan (S1/O1) → filter (P1) → broadcast metadata join
    (§2.4a, ``zeiss_job.py:123-130``) → aggregate (A1) → ordered sink.

    Physical plan at scale: customer (filtered) broadcasts; orders⋈lineitem
    is the one shuffle, on o_orderkey; top-k is TakeOrderedAndProject (no
    global sort materialization).
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    return (
        li.filter(F.col("l_shipdate") > cutoff)
        .join(orders.filter(F.col("o_orderdate") < cutoff), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.filter(F.col("c_mktsegment") == "BUILDING"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dsum_round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT
  l_orderkey,
  o_orderdate,
  o_orderpriority,
  CAST(round(sum(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-way join: three broadcast dims + two fact joins.

    region→nation→customer chain broadcasts end-to-end; lineitem⋈orders and
    ⋈supplier shuffle on their keys. The n_nationkey equality between
    customer and supplier is the classic "local supplier" correlation.
    """
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dim = (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region.filter(F.col("r_name") == "ASIA"), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "c_nationkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # bounded: ASIA customers, a fifth of customer: grows with SF (SCALING.md)
        .join(F.broadcast(dim), orders.o_custkey == dim.c_custkey)
        .join(
            sup,
            (li.l_suppkey == sup.s_suppkey) & (dim.c_nationkey == sup.s_nationkey),
        )
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg(
            dsum_round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
            ).alias("revenue")
        )
    )


Q5_SQL = """
SELECT
  n_name,
  CAST(round(sum(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue
FROM region
JOIN nation   ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders   ON o_custkey   = c_custkey
JOIN lineitem ON l_orderkey  = o_orderkey
JOIN supplier ON l_suppkey   = s_suppkey AND s_nationkey = c_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast-hash join — the reference's metadata-broadcast
    pattern (one acquisition.json fanned out to every stack conversion,
    ``zeiss_job.py:123-130,145-157``) as a relational operator."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dround(F.avg("c_acctbal"), 2).alias("avg_acctbal"),
        )
    )


JOIN_BROADCAST_SQL = """
SELECT
  r_name,
  n_name,
  count(*)                   AS n_customers,
  CAST(round(CAST((avg(c_acctbal)) AS DECIMAL(30,10)), 2) AS DOUBLE)   AS avg_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def join_shuffle_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-side equi join (sort-merge / shuffle-hash — Catalyst + AQE
    choose): lineitem ⋈ orders on the order key, both sides big."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            dsum_round("l_extendedprice", 2).alias("sum_price"),
        )
    )


JOIN_SHUFFLE_SQL = """
SELECT
  o_orderpriority,
  count(*)                        AS n_lineitems,
  CAST(round(sum(CAST((l_extendedprice) AS DECIMAL(30,10))), 2) AS DOUBLE)  AS sum_price
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with no orders (null side)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dround(F.coalesce(dsum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


JOIN_OUTER_SQL = """
SELECT
  c_custkey,
  count(o_orderkey)                              AS n_orders,
  CAST(round(CAST((coalesce(CAST(sum(CAST((o_totalprice) AS DECIMAL(30,10))) AS DOUBLE), 0.0)) AS DECIMAL(30,10)), 2) AS DOUBLE)     AS total_spent
FROM customer
LEFT JOIN orders ON o_custkey = c_custkey
GROUP BY c_custkey
"""


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers that have at least one urgent order.

    Semi joins carry only the left side through the shuffle — at 100 TB
    that halves the data movement vs join+distinct.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


JOIN_SEMI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
"""


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no urgent orders (existence negation)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_nationkey")


JOIN_ANTI_SQL = """
SELECT c_custkey, c_name, c_nationkey
FROM customer
WHERE c_custkey NOT IN (
  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
"""


def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join, implemented scale-aware via bucketing.

    Semantics: lineitem rows whose quantity falls within ±2 of a part's
    size, for small parts. A naive theta join is a broadcast-nested-loop
    over the whole fact table; instead we attach integer bucket keys on
    both sides (explode the ±2 window on the *small* side only) and
    equi-join on the bucket — the BNLJ becomes a broadcast hash join, which
    is the strategy that survives 100 TB.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    small = part.filter(F.col("p_size") <= 5).select("p_partkey", "p_size")
    # Explode each part into the integer quantity buckets it can match.
    buckets = small.select(
        "p_partkey",
        "p_size",
        F.explode(
            F.sequence(F.col("p_size") - F.lit(2), F.col("p_size") + F.lit(2))
        ).alias("qty_bucket"),
    )
    # Eager aggregation below the join (a rewrite Catalyst does not apply
    # itself): the join result is aggregated per p_size and every lineitem
    # row contributes only count/sum weight — so collapse lineitem to one
    # row per distinct quantity FIRST, then fan out. Turns a
    # |lineitem|×matches join intermediate into a |distinct qty|×matches
    # one; the reduction ratio grows linearly with table size.
    qty_agg = li.groupBy(F.col("l_quantity").alias("qty")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("qty_sum"),
    )
    return (
        qty_agg.withColumn("qty_bucket", F.col("qty").cast("int"))
        .join(buckets, "qty_bucket")
        # bucket is integer-exact only for whole quantities; re-apply the
        # precise predicate for fractional quantities.
        .filter(
            (F.col("qty") >= F.col("p_size") - 2)
            & (F.col("qty") <= F.col("p_size") + 2)
        )
        .groupBy("p_size")
        .agg(
            F.sum("n_rows").alias("n_matches"),
            dround(F.sum("qty_sum"), 2).alias("sum_qty"),
        )
    )


JOIN_RANGE_SQL = """
SELECT
  p_size,
  count(*)                  AS n_matches,
  CAST(round(CAST((sum(l_quantity)) AS DECIMAL(30,10)), 2) AS DOUBLE) AS sum_qty
FROM lineitem
JOIN part ON l_quantity BETWEEN p_size - 2 AND p_size + 2
WHERE p_size <= 5
GROUP BY p_size
"""


def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded cross join (candidate generation primitive for similarity
    search): every region × nation pair with a name-overlap flag."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return region.crossJoin(nation).select(
        "r_regionkey",
        "n_nationkey",
        (F.col("n_regionkey") == F.col("r_regionkey")).alias("is_home"),
        F.concat_ws("-", F.col("r_name"), F.col("n_name")).alias("pair_name"),
    )


JOIN_CROSS_SQL = """
SELECT
  r_regionkey,
  n_nationkey,
  n_regionkey = r_regionkey          AS is_home,
  concat(r_name, '-', n_name)        AS pair_name
FROM region
CROSS JOIN nation
"""


def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every event, the value of the same user's most
    recent 'purchase' event at or before it (SURVEY §2.4 as-of row).

    Implemented the scale path: union the two sides, one window sort per
    user, carry the last non-null purchase value forward
    (``last(..., ignorenulls=True)``) — a single shuffle on user_id, no
    range join, no per-row subquery. The oracle states the identical
    algorithm in ANSI SQL.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    marked = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("pv"),
        # purchases sort before other events at the identical timestamp so
        # an event sees a purchase with ts == its own ts (>= semantics).
        F.when(F.col("event_type") == "purchase", F.lit(0))
        .otherwise(F.lit(1))
        .alias("pri"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "pri", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        marked.withColumn("last_purchase_value", dround(F.last("pv", ignorenulls=True).over(w), 2))
        .select("event_id", "user_id", "event_type", "last_purchase_value")
    )


JOIN_ASOF_SQL = """
SELECT
  event_id,
  user_id,
  event_type,
  CAST(round(CAST((last_value(pv IGNORE NULLS) OVER (
    PARTITION BY user_id
    ORDER BY ts, pri, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  )) AS DECIMAL(30,10)), 2) AS DOUBLE) AS last_purchase_value
FROM (
  SELECT
    event_id, user_id, ts, event_type,
    CASE WHEN event_type = 'purchase' THEN value END AS pv,
    CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS pri
  FROM events
) marked
"""


# ---------------------------------------------------------------------------
# Sorts / limits / top-k (SURVEY §2.7)
# ---------------------------------------------------------------------------


def sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ordered top-k (TakeOrderedAndProject — per-partition heaps,
    only k rows per partition reach the driver; no full sort at scale).

    Reference analog: deterministic path sort ``zeiss_job.py:56-57`` (O1)
    + natural subblock sort ``utils/utils.py:499-504`` (O2).
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_custkey", dround("o_totalprice", 2).alias("o_totalprice"))
        .limit(25)
    )


SORT_TOPK_SQL = """
SELECT o_orderkey, o_custkey, CAST(round(CAST((o_totalprice) AS DECIMAL(30,10)), 2) AS DOUBLE) AS o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 25
"""


def sort_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key mixed-direction sort with a deterministic total order.

    Returned as a set (driver hash is order-insensitive) but the limit
    requires the order to be total — every key chain ends in a unique key.
    """
    c = load_table(spark, sf_dir, "customer")
    return (
        c.orderBy(
            F.asc("c_mktsegment"), F.desc("c_acctbal"), F.asc("c_custkey")
        )
        .select("c_custkey", "c_mktsegment", dround("c_acctbal", 2).alias("c_acctbal"))
        .limit(100)
    )


SORT_MULTIKEY_SQL = """
SELECT c_custkey, c_mktsegment, CAST(round(CAST((c_acctbal) AS DECIMAL(30,10)), 2) AS DOUBLE) AS c_acctbal
FROM customer
ORDER BY c_mktsegment ASC, c_acctbal DESC, c_custkey ASC
LIMIT 100
"""


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.8)
# ---------------------------------------------------------------------------


def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over nation keys of customers vs suppliers,
    tagged by which set each key came from."""
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    c_nations = cust.select(F.col("c_nationkey").alias("nationkey")).distinct()
    s_nations = sup.select(F.col("s_nationkey").alias("nationkey")).distinct()
    both = c_nations.intersect(s_nations).withColumn("tag", F.lit("both"))
    cust_only = c_nations.exceptAll(s_nations).withColumn("tag", F.lit("customer_only"))
    sup_only = s_nations.exceptAll(c_nations).withColumn("tag", F.lit("supplier_only"))
    return both.unionByName(cust_only).unionByName(sup_only)


SET_OPS_SQL = """
WITH c AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
     s AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
SELECT nationkey, 'both' AS tag          FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
UNION ALL
SELECT nationkey, 'customer_only' AS tag FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)
UNION ALL
SELECT nationkey, 'supplier_only' AS tag FROM (SELECT nationkey FROM s EXCEPT SELECT nationkey FROM c)
"""


# ---------------------------------------------------------------------------
# Scalar-function families (SURVEY §2.9)
# ---------------------------------------------------------------------------


def scalar_string_date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One of each scalar family the reference touches: string formatting
    (channel-color hex ``f"{color:06x}"`` → ``lpad(hex(..))``,
    ``czi_to_zarr.py:76``), path-stem regexes (``zeiss_job.py:135``), date
    parts, ceil-division (level shapes, ``czi_to_zarr.py:185-187``)."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") < 200).select(
        "o_orderkey",
        F.lower(F.col("o_orderpriority")).alias("prio_lower"),
        F.substring(F.col("o_orderpriority"), 1, 1).alias("prio_digit"),
        F.lpad(F.lower(F.hex(F.col("o_orderkey"))), 6, "0").alias("key_hex"),
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.dayofmonth("o_orderdate").alias("o_day"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.ceil(F.col("o_totalprice") / 1000.0).cast("long").alias("price_kilo_ceil"),
        F.floor(F.col("o_totalprice") / 1000.0).cast("long").alias("price_kilo_floor"),
        F.pmod(F.col("o_orderkey"), F.lit(7)).cast("long").alias("key_mod7"),
        dround(F.sqrt(F.col("o_totalprice")), 4).alias("price_sqrt"),
        F.length(F.col("o_orderstatus")).alias("status_len"),
        F.concat_ws("|", "o_orderstatus", "o_orderpriority").alias("status_prio"),
    )


SCALAR_SQL = """
SELECT
  o_orderkey,
  lower(o_orderpriority)                              AS prio_lower,
  substring(o_orderpriority, 1, 1)                    AS prio_digit,
  lpad(lower(to_hex(o_orderkey)), 6, '0')             AS key_hex,
  CAST(year(o_orderdate)  AS BIGINT)                  AS o_year,
  CAST(month(o_orderdate) AS BIGINT)                  AS o_month,
  CAST(day(o_orderdate)   AS BIGINT)                  AS o_day,
  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
  CAST(ceil(o_totalprice / 1000.0)  AS BIGINT)        AS price_kilo_ceil,
  CAST(floor(o_totalprice / 1000.0) AS BIGINT)        AS price_kilo_floor,
  o_orderkey % 7                                      AS key_mod7,
  CAST(round(CAST((sqrt(o_totalprice)) AS DECIMAL(30,10)), 4) AS DOUBLE)                        AS price_sqrt,
  CAST(length(o_orderstatus) AS INTEGER)              AS status_len,
  o_orderstatus || '|' || o_orderpriority             AS status_prio
FROM orders
WHERE o_orderkey < 200
"""


def scalar_json_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON navigation (S9's acquisition.json scale extraction analog,
    ``zeiss_job.py:62-87``) + array-function family over documents."""
    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")
    ev_part = ev.filter(F.col("event_id") < 200).select(
        F.col("event_id").alias("row_id"),
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("json_k"),
        F.lit(None).cast("long").alias("n_tokens"),
        F.lit(None).cast("string").alias("first_tokens"),
    )
    doc_part = docs.filter(F.col("doc_id") < 200).select(
        (F.col("doc_id") + 100000).alias("row_id"),
        F.lit(None).cast("long").alias("json_k"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        F.array_join(
            F.slice(F.array_sort(F.array_distinct(F.split(F.col("text"), " "))), 1, 3),
            ",",
        ).alias("first_tokens"),
    )
    return ev_part.unionByName(doc_part)


SCALAR_JSON_SQL = """
SELECT
  event_id                                          AS row_id,
  CAST(json_extract_string(props, '$.k') AS BIGINT) AS json_k,
  CAST(NULL AS BIGINT)                              AS n_tokens,
  CAST(NULL AS VARCHAR)                             AS first_tokens
FROM events
WHERE event_id < 200
UNION ALL
SELECT
  doc_id + 100000                                   AS row_id,
  CAST(NULL AS BIGINT)                              AS json_k,
  CAST(len(string_split(text, ' ')) AS BIGINT)      AS n_tokens,
  array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:3], ',') AS first_tokens
FROM documents
WHERE doc_id < 200
"""


# Production sketch twins: the one-pass HLL / GK-sketch plan shapes a user
# actually runs at 100 TB.  Their estimates are engine-specific builds, so
# they carry no DuckDB oracle and live OUTSIDE the driver-checked ``QUERIES``
# registry — pytest pins each estimate against the exact answer within the
# sketch's error bound, and the calibration twins (``agg_approx_distinct``,
# ``agg_approx_quantiles``) carry the differential accuracy gates.
PRODUCTION_QUERIES = {
    "agg_hll_only": agg_hll_only,
    "agg_quantiles_sketch_only": agg_quantiles_sketch_only,
}

QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_region_revenue": q5_region_revenue,
    "proj_filter_predicates": proj_filter_predicates,
    "join_broadcast_dim": join_broadcast_dim,
    "join_shuffle_equi": join_shuffle_equi,
    "join_outer": join_outer,
    "join_semi": join_semi,
    "join_anti": join_anti,
    "join_range_bucketed": join_range_bucketed,
    "join_cross": join_cross,
    "join_asof": join_asof,
    "agg_stats": agg_stats,
    "agg_rollup": agg_rollup,
    "agg_cube": agg_cube,
    "agg_pivot": agg_pivot,
    "agg_approx_distinct": agg_approx_distinct,
    "agg_approx_quantiles": agg_approx_quantiles,
    "sort_topk": sort_topk,
    "sort_multikey": sort_multikey,
    "set_ops": set_ops,
    "scalar_string_date_math": scalar_string_date_math,
    "scalar_json_array": scalar_json_array,
}

ORACLES = {
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q5_region_revenue": Q5_SQL,
    "proj_filter_predicates": PROJ_FILTER_SQL,
    "join_broadcast_dim": JOIN_BROADCAST_SQL,
    "join_shuffle_equi": JOIN_SHUFFLE_SQL,
    "join_outer": JOIN_OUTER_SQL,
    "join_semi": JOIN_SEMI_SQL,
    "join_anti": JOIN_ANTI_SQL,
    "join_range_bucketed": JOIN_RANGE_SQL,
    "join_cross": JOIN_CROSS_SQL,
    "join_asof": JOIN_ASOF_SQL,
    "agg_stats": AGG_STATS_SQL,
    "agg_rollup": AGG_ROLLUP_SQL,
    "agg_cube": AGG_CUBE_SQL,
    "agg_pivot": AGG_PIVOT_SQL,
    "agg_approx_distinct": AGG_APPROX_DISTINCT_SQL,
    "agg_approx_quantiles": AGG_APPROX_QUANTILES_SQL,
    "sort_topk": SORT_TOPK_SQL,
    "sort_multikey": SORT_MULTIKEY_SQL,
    "set_ops": SET_OPS_SQL,
    "scalar_string_date_math": SCALAR_SQL,
    "scalar_json_array": SCALAR_JSON_SQL,
}


# ---------------------------------------------------------------------------
# Coverage additions: natural sort, correlated subquery, HAVING, nulls
# ---------------------------------------------------------------------------


def upsert_scd1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-1 upsert (the ``MERGE INTO`` shape without a table
    format): the latest change per key from the events stream is applied
    over the customer snapshot via latest-wins dedup + full-outer join +
    coalesce — the CDC-apply pattern every lakehouse pipeline runs.

    Latest-wins uses integer MICROsecond epochs on both engines (micros is
    the post-load ts contract regardless of the fixture's parquet
    encoding — see tables.load_table), with event_id
    as the final tiebreak.  Scale: one window shuffle on the change
    stream (bounded by batch size, not table size) + one key-partitioned
    outer join; at 100 TB the snapshot join is sort-merge on the key and
    the change batch is typically broadcastable."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("key"),
        F.unix_micros("ts").alias("tsu"),
        "event_id",
        "event_type",
        "value",
    )
    # latest-wins as one hash aggregate: (tsu, event_id) is unique per
    # row, so max(struct(tsu, event_id, payload...)) IS the (ts desc,
    # event_id desc) argmax — partial-combined map-side, no window sort
    latest = (
        ev.groupBy("key")
        .agg(F.max(F.struct("tsu", "event_id", "event_type", "value")).alias("last"))
        .select(
            "key",
            F.col("last.event_type").alias("event_type"),
            F.col("last.value").alias("value"),
        )
    )
    merged = cust.join(
        latest, cust.c_custkey == latest.key, "full_outer"
    )
    return merged.select(
        F.coalesce("c_custkey", "key").alias("c_custkey"),
        F.coalesce("c_name", F.lit("NEW")).alias("c_name"),
        F.coalesce("event_type", F.lit("none")).alias("last_event"),
        dround(
            F.coalesce("c_acctbal", F.lit(0.0))
            + F.coalesce("value", F.lit(0.0)),
            2,
        ).alias("new_balance"),
        F.col("key").isNotNull().alias("updated"),
    ).orderBy("c_custkey")


UPSERT_SCD1_SQL = """
WITH latest AS (
  SELECT key, event_type, value FROM (
    SELECT user_id AS key, event_type, value,
           row_number() OVER (
             PARTITION BY user_id
             ORDER BY epoch_ns(ts) // 1000 DESC, event_id DESC
           ) AS rn
    FROM events
  ) WHERE rn = 1
)
SELECT coalesce(c.c_custkey, l.key) AS c_custkey,
       coalesce(c.c_name, 'NEW') AS c_name,
       coalesce(l.event_type, 'none') AS last_event,
       CAST(round(CAST((coalesce(c.c_acctbal, 0.0) + coalesce(l.value, 0.0))
         AS DECIMAL(30,10)), 2) AS DOUBLE) AS new_balance,
       l.key IS NOT NULL AS updated
FROM customer c FULL OUTER JOIN latest l ON c.c_custkey = l.key
ORDER BY c_custkey
"""


def upsert_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 history build — the versioned-dimension MERGE every
    warehouse runs when history must be queryable (``AS OF`` joins,
    audit): each change per key OPENS a new version and CLOSES the
    previous one; the pre-existing snapshot row is version 1 with an
    open lower bound; the newest version per key stays current.

    Relational formulation: snapshot ∪ change rows, ONE window over
    (key) ordered by (valid_from, event_id) assigning version numbers
    and ``lead`` of the next change as each version's ``valid_to`` —
    one key-partitioned shuffle total, independent of how many versions
    a key accumulates.  Timestamps are integer MICROsecond epochs (the
    post-load ts contract); the snapshot's open lower bound is the -1
    sentinel internally and NULL in the output.  Keys with no changes
    keep a single current snapshot version; keys never seen in the
    snapshot enter at their first change (same full-outer key semantics
    as ``upsert_scd1``)."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.lit(-1).cast("long").alias("vf"),
        F.lit(-1).cast("long").alias("eid"),
        F.col("c_acctbal").alias("value"),
    )
    chg = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("key"),
        F.unix_micros("ts").alias("vf"),
        F.col("event_id").alias("eid"),
        "value",
    )
    hist = cust.unionByName(chg)
    w = Window.partitionBy("key").orderBy("vf", "eid")
    return (
        hist.withColumn("version", F.row_number().over(w))
        .withColumn("valid_to_us", F.lead("vf").over(w))
        .select(
            F.col("key").alias("c_custkey"),
            "version",
            dround(F.col("value"), 2).alias("value"),
            F.nullif(F.col("vf"), F.lit(-1).cast("long")).alias("valid_from_us"),
            "valid_to_us",
            F.col("valid_to_us").isNull().alias("is_current"),
        )
    )


UPSERT_SCD2_SQL = """
WITH hist AS (
  SELECT c_custkey AS key, CAST(-1 AS BIGINT) AS vf,
         CAST(-1 AS BIGINT) AS eid, c_acctbal AS value
  FROM customer
  UNION ALL
  SELECT user_id AS key, epoch_ns(ts) // 1000 AS vf, event_id AS eid, value
  FROM events
),
versioned AS (
  SELECT key, vf, value,
         row_number() OVER (PARTITION BY key ORDER BY vf, eid) AS version,
         lead(vf) OVER (PARTITION BY key ORDER BY vf, eid) AS valid_to_us
  FROM hist
)
SELECT key AS c_custkey,
       CAST(version AS INTEGER) AS version,
       CAST(round(CAST(value AS DECIMAL(30,10)), 2) AS DOUBLE) AS value,
       nullif(vf, -1) AS valid_from_us,
       valid_to_us,
       valid_to_us IS NULL AS is_current
FROM versioned
"""

QUERIES["upsert_scd2"] = upsert_scd2
ORACLES["upsert_scd2"] = UPSERT_SCD2_SQL


def scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct dimension lookup against the SCD-2 history —
    the feature-store join that prevents training-data leakage: each
    event is paired with the dimension version that was in effect AT its
    timestamp (``valid_from <= ts < valid_to``, snapshot's NULL lower
    bound = −∞, open upper bound = +∞), never a later one.

    Shape: equi-join on the key, interval filter after — per-key fanout
    is that key's version count, so the join never degenerates; at
    100 TB both sides sort-merge on the key.  The timeline is
    partitioned by the intervals, so EXACTLY one version matches each
    event (a zero-width version produced by tied change timestamps
    matches nothing, preserving uniqueness) — pinned by the row count
    equalling the event count."""
    dim = upsert_scd2(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").alias("c_custkey"),
        F.unix_micros("ts").alias("tsu"),
    )
    return (
        ev.join(dim, "c_custkey")
        .filter(
            (F.col("valid_from_us").isNull() | (F.col("valid_from_us") <= F.col("tsu")))
            & (F.col("valid_to_us").isNull() | (F.col("tsu") < F.col("valid_to_us")))
        )
        .select(
            "event_id",
            "c_custkey",
            "tsu",
            "version",
            F.col("value").alias("value_asof"),
        )
    )


SCD2_ASOF_SQL = f"""
WITH dim AS ({UPSERT_SCD2_SQL}),
ev AS (
  SELECT event_id, user_id AS c_custkey, epoch_ns(ts) // 1000 AS tsu
  FROM events
)
SELECT e.event_id, e.c_custkey, e.tsu, d.version, d.value AS value_asof
FROM ev e JOIN dim d USING (c_custkey)
WHERE (d.valid_from_us IS NULL OR d.valid_from_us <= e.tsu)
  AND (d.valid_to_us IS NULL OR e.tsu < d.valid_to_us)
"""

QUERIES["scd2_asof_lookup"] = scd2_asof_lookup
ORACLES["scd2_asof_lookup"] = SCD2_ASOF_SQL


def sort_natural(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Natural sort of strings with embedded numbers ('src2' < 'src10') —
    the ``natsorted`` subblock ordering of the reference
    (``utils/utils.py:499-504``, SURVEY §2.7 O2): sort key = (text prefix,
    numeric suffix), materialized as rank columns so the order is
    hash-checkable."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    sources = docs.select("source").distinct()
    keyed = sources.select(
        "source",
        F.regexp_extract("source", r"^([^0-9]*)", 1).alias("prefix"),
        F.regexp_extract("source", r"([0-9]+)$", 1).cast("long").alias("num"),
    )
    w = Window.orderBy(F.asc("prefix"), F.asc("num"), F.asc("source"))
    return keyed.select(
        "source", "prefix", "num", F.row_number().over(w).alias("nat_rank")
    )


SORT_NATURAL_SQL = r"""
SELECT
  source,
  prefix,
  num,
  CAST(row_number() OVER (ORDER BY prefix ASC, num ASC, source ASC) AS INTEGER) AS nat_rank
FROM (
  SELECT source,
         regexp_extract(source, '^([^0-9]*)', 1) AS prefix,
         CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT) AS num
  FROM (SELECT DISTINCT source FROM documents)
)
"""


def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: parts cheaper than their brand's mean
    price. Spark SQL decorrelates this into the same broadcast-join-on-
    aggregate plan the DataFrame form would build (SURVEY §4 X12 —
    subquery decorrelation is Catalyst's job, no hand-rewriting)."""
    part = load_table(spark, sf_dir, "part")
    part.createOrReplaceTempView("part_v")
    return spark.sql(
        """
        SELECT p_partkey, p_brand,
               CAST(round(CAST(p_retailprice AS DECIMAL(30,10)), 2) AS DOUBLE) AS p_retailprice
        FROM part_v p
        WHERE p_retailprice < (
          SELECT avg(p2.p_retailprice) FROM part_v p2 WHERE p2.p_brand = p.p_brand
        )
        """
    )


SUBQUERY_CORRELATED_SQL = """
SELECT p_partkey, p_brand,
       CAST(round(CAST(p_retailprice AS DECIMAL(30,10)), 2) AS DOUBLE) AS p_retailprice
FROM part p
WHERE p_retailprice < (
  SELECT avg(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
)
"""


def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING: post-aggregation predicate (filter on agg output)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dround(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .filter(F.col("n_items") >= 40)
    )


AGG_HAVING_SQL = """
SELECT l_partkey, count(*) AS n_items,
       CAST(round(CAST(sum(l_quantity) AS DECIMAL(30,10)), 2) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY l_partkey
HAVING count(*) >= 40
"""


def scalar_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL semantics over genuinely-null data (the unmatched side of an
    outer join): coalesce / nullif / null-safe equality / IS NULL."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    joined = cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left")
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("n_urgent"),
        F.max("o_totalprice").alias("max_urgent_price"),
    )
    return per_cust.select(
        "c_custkey",
        F.coalesce(F.col("max_urgent_price"), F.lit(-1.0)).alias("price_or_default"),
        F.nullif(F.col("n_urgent"), F.lit(0)).alias("n_urgent_or_null"),
        F.col("max_urgent_price").isNull().alias("no_urgent"),
        F.col("max_urgent_price").eqNullSafe(F.lit(None).cast("double")).alias(
            "nullsafe_eq_null"
        ),
    )


SCALAR_NULL_SQL = """
WITH per_cust AS (
  SELECT c_custkey,
         count(o_orderkey)  AS n_urgent,
         max(o_totalprice)  AS max_urgent_price
  FROM customer
  LEFT JOIN (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') o
    ON o.o_custkey = c_custkey
  GROUP BY c_custkey
)
SELECT
  c_custkey,
  coalesce(max_urgent_price, -1.0)                    AS price_or_default,
  nullif(n_urgent, 0)                                 AS n_urgent_or_null,
  max_urgent_price IS NULL                            AS no_urgent,
  max_urgent_price IS NOT DISTINCT FROM CAST(NULL AS DOUBLE) AS nullsafe_eq_null
FROM per_cust
"""


QUERIES.update(
    {
        "sort_natural": sort_natural,
        "subquery_correlated": subquery_correlated,
        "agg_having": agg_having,
        "scalar_null_handling": scalar_null_handling,
    }
)
ORACLES.update(
    {
        "sort_natural": SORT_NATURAL_SQL,
        "subquery_correlated": SUBQUERY_CORRELATED_SQL,
        "agg_having": AGG_HAVING_SQL,
        "scalar_null_handling": SCALAR_NULL_SQL,
    }
)


# ---------------------------------------------------------------------------
# Coverage additions II: collect aggs, map functions, datetime arithmetic,
# multiset set-ops, EXISTS subquery
# ---------------------------------------------------------------------------


def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list / collect_set with deterministic ordering (sorted on
    the way out — collect order is partition-dependent, the sort makes the
    result reproducible; same discipline as the reference's deterministic
    scan, ``zeiss_job.py:56``)."""
    nation = load_table(spark, sf_dir, "nation")
    return nation.groupBy("n_regionkey").agg(
        # pipe-joined string output: the collect/sort logic is unchanged, but
        # list-typed result cells are unhashable for downstream pandas
        # canonicalizers, so the *surface* is a deterministic scalar string
        F.array_join(F.sort_array(F.collect_list("n_name")), "|").alias("nations"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_set((F.col("n_nationkey") % 5).cast("int"))),
                lambda x: x.cast("string"),
            ),
            "|",
        ).alias("key_mods"),
        F.count(F.lit(1)).alias("n"),
    )


AGG_COLLECT_SQL = """
SELECT
  n_regionkey,
  array_to_string(list_sort(list(n_name)), '|')             AS nations,
  array_to_string(list_sort(list(DISTINCT CAST(n_nationkey % 5 AS INTEGER))), '|') AS key_mods,
  count(*)                                                  AS n
FROM nation
GROUP BY n_regionkey
"""


def scalar_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: JSON → map, key listing, value access
    (the reference's nested-metadata-dict navigation, SURVEY §1.3 map row)."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.filter(F.col("event_id") < 300).select(
        "event_id",
        F.from_json(F.col("props"), "map<string,long>").alias("m"),
    )
    return parsed.select(
        "event_id",
        # sorted + pipe-joined: map key order is engine-defined, and array
        # cells are unhashable for pandas-based canonicalizers downstream
        F.array_join(F.sort_array(F.map_keys("m")), "|").alias("keys"),
        F.element_at(F.col("m"), "k").alias("k_value"),
        F.size("m").alias("n_entries"),
    )


SCALAR_MAP_SQL = """
SELECT
  event_id,
  array_to_string(list_sort(CAST(json_keys(props) AS VARCHAR[])), '|') AS keys,
  CAST(json_extract_string(props, '$.k') AS BIGINT)   AS k_value,
  CAST(len(json_keys(props)) AS INTEGER)              AS n_entries
FROM events
WHERE event_id < 300
"""


def scalar_datetime_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime arithmetic family: interval add, diffs in days, parts,
    truncation — over orders (reference touches no date math; this is the
    §2.9 surface the relational layer owes)."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") < 300).select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_2002"
        ),
        F.quarter("o_orderdate").alias("o_quarter"),
        F.dayofyear("o_orderdate").alias("o_doy"),
        (F.dayofweek("o_orderdate") - 1).alias("dow_sun0"),
        F.last_day(F.col("o_orderdate").cast("date")).cast("timestamp").alias("month_end"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


SCALAR_DATETIME_SQL = """
SELECT
  o_orderkey,
  o_orderdate + INTERVAL 30 DAY                              AS due_date,
  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INTEGER) AS days_to_2002,
  CAST(quarter(o_orderdate) AS INTEGER)                      AS o_quarter,
  CAST(dayofyear(o_orderdate) AS INTEGER)                    AS o_doy,
  CAST(dayofweek(o_orderdate) AS INTEGER)                    AS dow_sun0,
  CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP)     AS month_end,
  CAST(epoch(o_orderdate) AS BIGINT)                         AS epoch_s
FROM orders
WHERE o_orderkey < 300
"""


def set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operations (``intersectAll`` / ``exceptAll`` keep
    duplicate multiplicities, unlike their DISTINCT cousins)."""
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    c = cust.select((F.col("c_nationkey") % 7).cast("int").alias("k"))
    s = sup.select((F.col("s_nationkey") % 7).cast("int").alias("k"))
    inter = c.intersectAll(s).withColumn("op", F.lit("intersect_all"))
    diff = c.exceptAll(s).withColumn("op", F.lit("except_all"))
    return (
        inter.unionByName(diff)
        .groupBy("op", "k")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
    )


SET_OPS_ALL_SQL = """
WITH c AS (SELECT CAST(c_nationkey % 7 AS INTEGER) AS k FROM customer),
     s AS (SELECT CAST(s_nationkey % 7 AS INTEGER) AS k FROM supplier),
both_ops AS (
  SELECT k, 'intersect_all' AS op FROM (SELECT k FROM c INTERSECT ALL SELECT k FROM s)
  UNION ALL
  SELECT k, 'except_all' AS op FROM (SELECT k FROM c EXCEPT ALL SELECT k FROM s)
)
SELECT op, k, count(*) AS multiplicity FROM both_ops GROUP BY op, k
"""


def subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS / NOT EXISTS subqueries via SQL (Catalyst rewrites them to
    the same semi/anti joins as the DataFrame API — §2.4)."""
    for name in ("customer", "orders", "lineitem"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(f"{name}_v")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment
        FROM customer_v c
        WHERE EXISTS (
          SELECT 1 FROM orders_v o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
        )
        AND NOT EXISTS (
          SELECT 1 FROM orders_v o2
          WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'P'
        )
        """
    )


SUBQUERY_EXISTS_SQL = """
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
)
AND NOT EXISTS (
  SELECT 1 FROM orders o2
  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'P'
)
"""


QUERIES.update(
    {
        "agg_collect": agg_collect,
        "scalar_map_funcs": scalar_map_funcs,
        "scalar_datetime_arith": scalar_datetime_arith,
        "set_ops_all": set_ops_all,
        "subquery_exists": subquery_exists,
    }
)
ORACLES.update(
    {
        "agg_collect": AGG_COLLECT_SQL,
        "scalar_map_funcs": SCALAR_MAP_SQL,
        "scalar_datetime_arith": SCALAR_DATETIME_SQL,
        "set_ops_all": SET_OPS_ALL_SQL,
        "subquery_exists": SUBQUERY_EXISTS_SQL,
    }
)


def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation — the standard rewrite for skewed
    group-by keys at scale (SURVEY 'salting for skew'): stage 1 aggregates
    on (key, salt) spreading each hot key over 16 reducers, stage 2 merges
    the partials per key. Result is identical to the plain groupBy (the
    oracle), only the shuffle distribution changes.

    l_returnflag has 3 values over the whole fact table — exactly the
    cardinality where a plain shuffle sends everything to 3 reducers."""
    li = load_table(spark, sf_dir, "lineitem")
    n_salts = 16
    salted = li.withColumn(
        "salt", F.pmod(F.col("l_orderkey") + F.col("l_linenumber"), F.lit(n_salts))
    )
    stage1 = salted.groupBy("l_returnflag", "salt").agg(
        F.count(F.lit(1)).alias("pc"),
        F.sum("l_quantity").alias("ps"),
    )
    return stage1.groupBy("l_returnflag").agg(
        F.sum("pc").alias("n_rows"),
        dround(F.sum("ps"), 2).alias("sum_qty"),
    )


AGG_SALTED_SQL = """
SELECT l_returnflag,
       count(*) AS n_rows,
       CAST(round(CAST(sum(l_quantity) AS DECIMAL(30,10)), 2) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY l_returnflag
"""

QUERIES["agg_salted_skew"] = agg_salted_skew
ORACLES["agg_salted_skew"] = AGG_SALTED_SQL


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: customers ranked by revenue lost to returned
    items — 4-way join (two broadcast dims), filtered fact, agg, top-20."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum_round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name,
  CAST(round(CAST(CAST(sum(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(30,10))) AS DOUBLE) AS DECIMAL(30,10)), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""

QUERIES["q10_returned_items"] = q10_returned_items
ORACLES["q10_returned_items"] = Q10_SQL


def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) wide columns to long (attr, val) rows — the inverse
    of ``agg_pivot``."""
    part = load_table(spark, sf_dir, "part")
    return part.filter(F.col("p_partkey") < 300).unpivot(
        ["p_partkey"],
        ["p_size", "p_retailprice"],
        "attr",
        "val",
    ).select("p_partkey", "attr", dround(F.col("val"), 2).alias("val"))


AGG_UNPIVOT_SQL = """
SELECT p_partkey, attr, CAST(round(CAST(val AS DECIMAL(30,10)), 2) AS DOUBLE) AS val
FROM (
  SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val
  FROM part WHERE p_partkey < 300
  UNION ALL
  SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val
  FROM part WHERE p_partkey < 300
)
"""


def scalar_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode — one row per array element WITH its ordinal (the UDTF
    analog of ``czi_block_generator``'s indexed yield, SURVEY §2.11)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "token"),
    )


SCALAR_POSEXPLODE_SQL = """
SELECT doc_id, CAST(i AS INTEGER) AS pos, t[i + 1] AS token
FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 50),
     unnest(range(0, len(t))) u(i)
"""

QUERIES["agg_unpivot"] = agg_unpivot
ORACLES["agg_unpivot"] = AGG_UNPIVOT_SQL
QUERIES["scalar_posexplode"] = scalar_posexplode
ORACLES["scalar_posexplode"] = SCALAR_POSEXPLODE_SQL

QUERIES["upsert_scd1"] = upsert_scd1
ORACLES["upsert_scd1"] = UPSERT_SCD1_SQL


# ---------------------------------------------------------------------------
# Lateral correlated subquery + VARIANT semi-structured type (round 5)
# ---------------------------------------------------------------------------


def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: top-2 customers by balance per nation.

    Spark decorrelates ``JOIN LATERAL (... ORDER BY ... LIMIT k)`` into a
    rank-per-group ``WindowGroupLimit`` (pushed below the shuffle, so each
    map task pre-trims to k rows per group) followed by a broadcast join on
    the tiny nation side — no per-row re-execution of the inner query, which
    is what makes the construct safe at 100 TB. Reference analog: the
    per-stack "pick the first scale transform" lookup
    (``czi_to_zarr.py:360-377``), generalized to top-k per key.
    """
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_lv")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_lv")
    return spark.sql(
        """
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM nation_lv n
        JOIN LATERAL (
          SELECT c_custkey, c_acctbal FROM customer_lv c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2
        ) t
        """
    )


JOIN_LATERAL_SQL = """
SELECT n.n_name, t.c_custkey, t.c_acctbal
FROM nation n
JOIN LATERAL (
  SELECT c_custkey, c_acctbal FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey LIMIT 2
) t ON TRUE
"""


def scalar_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT type: parse each event's JSON props into a variant
    once, then do typed extraction (``try_variant_get``) instead of
    re-parsing the string per path the way ``get_json_object`` does.

    At scale the win is parse-once/extract-many: the variant's binary
    encoding lives in the Tungsten row, so every additional path probe is a
    cheap binary walk, not another JSON tokenizer pass. Missing paths and
    type mismatches yield NULL (``try_`` semantics) rather than task
    failures — the right contract for 100 TB of dirty telemetry. Oracle:
    DuckDB's JSON extraction computes identical values (DuckDB has no
    variant type; the *values* are engine-independent).
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_id",
        "event_type",
        F.parse_json(F.col("props")).alias("v"),
    )
    # Extract the typed long ONCE; derive the string from the typed value
    # (CAST(long AS STRING)) rather than asking the variant layer for a
    # string view of a JSON number — number→string formatting inside
    # try_variant_get is engine-version-sensitive, while integer→string
    # casting is identical everywhere.
    per_event = v.select(
        "event_id",
        "event_type",
        F.try_variant_get("v", "$.k", "long").alias("k"),
        F.try_variant_get("v", "$.missing", "long").isNull().alias("missing_is_null"),
    ).withColumn("k_str", F.col("k").cast("string"))
    return per_event.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dround(F.avg("k"), 4).alias("avg_k"),
        F.min("k_str").alias("min_k_str"),
        F.max("k").alias("max_k"),
        F.sum(F.when(F.col("missing_is_null"), 1).otherwise(0))
        .cast("long")
        .alias("n_missing_null"),
    )


SCALAR_VARIANT_SQL = """
WITH per_event AS (
  SELECT event_id, event_type,
         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
         json_extract_string(props, '$.missing') IS NULL       AS missing_is_null
  FROM events
)
SELECT event_type,
       count(*) AS n_events,
       CAST(round(CAST(avg(k) AS DECIMAL(30,10)), 4) AS DOUBLE) AS avg_k,
       min(CAST(k AS VARCHAR)) AS min_k_str,
       max(k)     AS max_k,
       CAST(sum(CASE WHEN missing_is_null THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_null
FROM per_event
GROUP BY event_type
"""

QUERIES["join_lateral"] = join_lateral
ORACLES["join_lateral"] = JOIN_LATERAL_SQL
QUERIES["scalar_variant_json"] = scalar_variant_json
ORACLES["scalar_variant_json"] = SCALAR_VARIANT_SQL


def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted shuffle join: the explicit fact-side salting recipe for
    hot join keys, the JOIN counterpart of ``agg_salted_skew``.

    The fact side gets a deterministic salt in ``[0, 8)`` (derived from
    its own row identity — no ``rand()``, so replays and the oracle are
    stable); the dimension side is replicated once per salt value
    (``explode`` of an 8-element literal array — 8× a DIMENSION table is
    cheap; 8 partitions now share each hot supplier's rows instead of
    one). The join runs on the composite ``(suppkey, salt)`` key with a
    ``shuffle_hash`` hint so the skew actually exercises the shuffle path
    (a broadcast would hide it — and at 100 TB the dimension may not fit
    the driver anyway). Semantically a no-op vs the plain join, which is
    exactly what the oracle checks. AQE's ``skewJoin`` does this
    adaptively for sort-merge joins; explicit salting remains the
    portable form that also covers hash joins and pre-aggregations."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    n_salt = 8
    fact = li.withColumn(
        "salt",
        F.pmod(F.col("l_orderkey") * 31 + F.col("l_linenumber"), F.lit(n_salt)).cast(
            "int"
        ),
    )
    dim = supp.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    joined = fact.join(
        dim.hint("shuffle_hash"),
        (fact["l_suppkey"] == dim["s_suppkey"]) & (fact["salt"] == dim["salt"]),
    )
    return joined.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum_round(F.col("l_extendedprice"), 2).alias("revenue"),
    )


JOIN_SALTED_SQL = f"""
SELECT s_nationkey, count(*) AS n_items,
       {sql_sum_round('l_extendedprice', 2)} AS revenue
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_nationkey
"""

QUERIES["join_salted_skew"] = join_salted_skew
ORACLES["join_salted_skew"] = JOIN_SALTED_SQL


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS with ``grouping()`` bitmask disambiguation —
    the general form of which cube/rollup (``agg_cube``/``agg_rollup``)
    are special cases: the user picks exactly which group-bys share one
    scan. Physically one Expand node multiplies each input row by the
    number of sets before a single hash aggregate — one shuffle total
    instead of one per GROUP BY, which is the whole point at 100 TB
    (the expand factor is the set count, a query constant)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               count(*) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))), 2) AS DOUBLE)
                 AS sum_price,
               CAST(grouping_id(o_orderpriority, o_orderstatus) AS INT) AS gid
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority),
                                (o_orderstatus), ())
        """
    )


AGG_GROUPING_SETS_SQL = """
SELECT o_orderpriority, o_orderstatus,
       count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))), 2) AS DOUBLE)
         AS sum_price,
       CAST(grouping(o_orderpriority, o_orderstatus) AS INT) AS gid
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority),
                        (o_orderstatus), ())
"""


def cdc_apply_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC changelog apply with tombstones (the Debezium/MERGE shape
    including the DELETE clause, extending ``upsert_scd1`` which is
    insert/update-only): each event maps to an op — ``purchase`` is a
    DELETE tombstone, everything else an upsert carrying ``value`` — and
    the final state keeps, per key, the latest op by (ts, event_id)
    UNLESS that op is a delete, in which case the key vanishes from the
    result even if it exists in the base snapshot.

    One window shuffle over the changelog (partitioned by key) + one
    full-outer key join against the snapshot, then the tombstone filter —
    delete semantics cost zero extra stages over the upsert. At 100 TB
    the changelog batch is hours of changes (broadcastable or sort-merge
    on the key); the snapshot is never shuffled beyond the join."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("key"),
        F.unix_micros("ts").alias("tsu"),
        "event_id",
        F.when(F.col("event_type") == "purchase", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "value",
    )
    # latest-wins hash aggregate (see upsert_scd1): map-side combine
    # replaces the per-key window sort
    latest = (
        ev.groupBy("key")
        .agg(F.max(F.struct("tsu", "event_id", "op", "value")).alias("last"))
        .select(
            "key",
            F.col("last.op").alias("op"),
            F.col("last.value").alias("value"),
        )
    )
    merged = cust.join(latest, cust.c_custkey == latest.key, "full_outer")
    return (
        merged.filter((F.col("op").isNull()) | (F.col("op") != "D"))
        .select(
            F.coalesce(F.col("c_custkey"), F.col("key")).alias("custkey"),
            F.col("c_name").alias("name"),
            dround(
                F.when(F.col("op") == "U", F.col("value")).otherwise(
                    F.col("c_acctbal")
                ),
                2,
            ).alias("acctbal"),
            F.coalesce(F.col("op") == "U", F.lit(False)).alias("updated"),
        )
    )


CDC_APPLY_DELETES_SQL = """
WITH chg AS (
  SELECT user_id AS key,
         CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op,
         value,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         ) AS rn
  FROM events
),
latest AS (SELECT key, op, value FROM chg WHERE rn = 1)
SELECT coalesce(c.c_custkey, l.key) AS custkey,
       c.c_name AS name,
       CAST(round(CAST((CASE WHEN l.op = 'U' THEN l.value ELSE c.c_acctbal END)
            AS DECIMAL(30,10)), 2) AS DOUBLE) AS acctbal,
       coalesce(l.op = 'U', FALSE) AS updated
FROM customer c
FULL OUTER JOIN latest l ON c.c_custkey = l.key
WHERE l.op IS NULL OR l.op <> 'D'
"""

QUERIES["agg_grouping_sets"] = agg_grouping_sets
ORACLES["agg_grouping_sets"] = AGG_GROUPING_SETS_SQL
QUERIES["cdc_apply_deletes"] = cdc_apply_deletes
ORACLES["cdc_apply_deletes"] = CDC_APPLY_DELETES_SQL


def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval overlap join with NO shared equi key: for every
    error event, the purchases (any user) inside the 10 minutes that
    follow it — the incident-impact / ad-attribution join shape, the
    time-domain complement of ``join_range_bucketed``'s value-range
    join.

    Scale pattern: a raw ``tp BETWEEN t0 AND t1`` theta join is a nested
    loop; instead both sides get integer grid-cell keys (cell = epoch
    micros DIV window), the interval side exploding over the ≤2 cells it
    spans, and the join is EQUI on the cell with the exact containment
    predicate re-applied after. Each point lies in exactly one cell, so
    no pair dedup is needed. Cell width = interval length keeps the
    explode factor ≤2 regardless of scale; skewed cells (incident
    storms) fall back to the same salting recipe as
    ``join_salted_skew``."""
    w_us = 600 * 1_000_000  # 10-minute grid = interval length
    ev = load_table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.unix_micros("ts").alias("t0"),
    )
    err_cells = err.select(
        "err_id",
        "t0",
        F.explode(
            F.sequence(
                F.expr(f"t0 DIV {w_us}"), F.expr(f"(t0 + {w_us}) DIV {w_us}")
            )
        ).alias("cell"),
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.unix_micros("ts").alias("tp"),
        "value",
        F.expr(f"unix_micros(ts) DIV {w_us}").alias("cell"),
    )
    pairs = (
        err_cells.join(pur, "cell")
        .filter((F.col("tp") >= F.col("t0")) & (F.col("tp") <= F.col("t0") + w_us))
        .groupBy("err_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            dsum_round(F.col("value"), 2).alias("sum_value"),
        )
    )
    return err.select("err_id").join(pairs, "err_id", "left").select(
        "err_id",
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
    )


JOIN_INTERVAL_SQL = """
WITH err AS (
  SELECT event_id AS err_id, epoch_us(ts) AS t0 FROM events
  WHERE event_type = 'error'
),
pur AS (
  SELECT epoch_us(ts) AS tp, value FROM events WHERE event_type = 'purchase'
),
pairs AS (
  SELECT err_id, count(*) AS n_purchases,
         CAST(round(sum(CAST(value AS DECIMAL(30,10))), 2) AS DOUBLE) AS sum_value
  FROM err JOIN pur ON tp >= t0 AND tp <= t0 + 600000000
  GROUP BY err_id
)
SELECT e.err_id,
       coalesce(p.n_purchases, 0)   AS n_purchases,
       coalesce(p.sum_value, 0.0)   AS sum_value
FROM err e LEFT JOIN pairs p USING (err_id)
"""

QUERIES["join_interval_overlap"] = join_interval_overlap
ORACLES["join_interval_overlap"] = JOIN_INTERVAL_SQL


# ---------------------------------------------------------------------------
# Bloom-prefiltered semi join (runtime-filter pattern, SURVEY §2 J-semi at
# scale) and Z-order layout clustering
# ---------------------------------------------------------------------------

_BSJ_K = 3  # bloom probe count


def _bsj_m(n_keys: int) -> int:
    """Bits in the join filter: smallest power of two ≥ 32·n_keys,
    clamped to [2^10, 2^26] — the same integer-exact ladder as
    textprep._bloom_m so the SQL twin can reproduce it."""
    t = max(1, 32 * n_keys)
    return min(1 << 26, max(1 << 10, 1 << (t - 1).bit_length()))


def join_bloom_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join with an explicit Bloom runtime filter: lineitem rows are
    prefiltered through a Bloom filter of the urgent-order keys BEFORE
    the exact semi join, the pattern Spark's own
    ``spark.sql.optimizer.runtimeFilter.bloomFilter`` injects — built
    here as first-class DataFrame ops so the engine exposes it on any
    join, not only where the optimizer volunteers it.

    The filter is a DataFrame of (word_idx, 32-bit word) built by
    ``bit_or`` aggregation (no driver-side bitmap); membership is K=3
    broadcast hash joins (one per probe seed) — ZERO added shuffles on
    the probe side. False positives are removed by the exact semi join,
    false negatives are impossible, so the result equals the plain semi
    join and the oracle is the plain EXISTS aggregate.

    At 100 TB the win is shuffle volume: the semi join's probe side
    shrinks to ~|matches| + ε before the exchange. The filter's bit count
    derives from the build-side key count (power-of-two ladder, capped at
    2^26 bits = 8 MiB — always broadcastable).
    """
    o_urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    m = _bsj_m(o_urgent.count())

    # xxhash64 probe positions (r13): the Bloom stage's hash choice is
    # OUTPUT-INVARIANT — false positives are removed by the exact semi
    # join below and false negatives are impossible for any hash — so
    # the position function is free to be the production one. One
    # seeded native 64-bit hash replaces the md5 → hex-substring →
    # base-conv → cast chain (the same 4-expression kernel the
    # dedup_minhash_fast twin measured ~2x slower than xxhash64);
    # pmod keeps the signed xxhash64 in [0, m).
    def pos(seed: int, key_col: str) -> F.Column:
        return F.pmod(F.xxhash64(F.lit(seed), F.col(key_col)), F.lit(m))

    words = (
        o_urgent.select(
            F.explode(
                F.array(*[pos(s, "o_orderkey") for s in range(_BSJ_K)])
            ).alias("pos")
        )
        .select(
            (F.col("pos") / 32).cast("long").alias("word_idx"),
            F.expr("shiftleft(1, CAST(pos % 32 AS INT))").alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(mask)").alias("word"))
    )

    probed = li
    for s in range(_BSJ_K):
        w_s = words.select(
            F.col("word_idx").alias(f"wi{s}"), F.col("word").alias(f"w{s}")
        )
        probed = (
            probed.withColumn(f"pos{s}", pos(s, "l_orderkey"))
            .join(
                w_s,
                (F.col(f"pos{s}") / 32).cast("long") == F.col(f"wi{s}"),
                "left",
            )
            .filter(
                F.coalesce(
                    F.col(f"w{s}").bitwiseAND(
                        F.expr(f"shiftleft(1, CAST(pos{s} % 32 AS INT))")
                    )
                    != 0,
                    F.lit(False),
                )
            )
            .drop(f"pos{s}", f"wi{s}", f"w{s}")
        )

    verified = probed.join(o_urgent, probed.l_orderkey == o_urgent.o_orderkey, "semi")
    return verified.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum_round("l_extendedprice", 2).alias("sum_price"),
    )


JOIN_BLOOM_SEMI_SQL = f"""
SELECT
  l_returnflag,
  count(*) AS n_items,
  {sql_sum_round('l_extendedprice', 2)} AS sum_price
FROM lineitem
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_orderkey = l_orderkey AND o_orderpriority = '1-URGENT'
)
GROUP BY l_returnflag
"""

QUERIES["join_bloom_semi"] = join_bloom_semi
ORACLES["join_bloom_semi"] = JOIN_BLOOM_SEMI_SQL


_Z_BITS = 8  # bits per dimension interleaved
_Z_BUCKET_SHIFT = 10  # 2^16 z-values / 2^10 = 64 buckets


def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout clustering: interleave 8 bits of two join
    dimensions (l_partkey, l_suppkey mod 256) into a space-filling-curve
    key, bucket the curve, and report per-bucket row counts and min/max
    ranges of BOTH dimensions.

    This is the layout operator behind multi-column data skipping
    (Delta/Iceberg OPTIMIZE ZORDER BY): rows sorted by the Morton key
    give parquet row groups whose min/max stats are tight on both
    columns at once, so either predicate prunes. At 100 TB the write
    path is ``repartitionByRange(morton_key)`` + sortWithinPartitions
    before the parquet sink; this query materializes the bucket→range
    map that proves the clustering property (each bucket covers a
    bounded tile of the (x, y) plane, not a stripe).

    Pure integer bit arithmetic — identical in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 256).alias("x"), (F.col("l_suppkey") % 256).alias("y")
    )
    z = F.lit(0)
    for i in range(_Z_BITS):
        z = z + F.shiftleft(
            F.shiftright(F.col("x"), i).bitwiseAND(F.lit(1)), 2 * i
        ) + F.shiftleft(
            F.shiftright(F.col("y"), i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
    return (
        li.withColumn("z_bucket", F.shiftright(z, _Z_BUCKET_SHIFT))
        .groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
    )


def _zorder_sql() -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(((l_partkey % 256) // {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(((l_suppkey % 256) // {1 << i}) % 2) * {1 << (2 * i + 1)}")
    z = "(" + " + ".join(terms) + ")"
    return f"""
SELECT
  {z} // {1 << _Z_BUCKET_SHIFT} AS z_bucket,
  count(*) AS n_rows,
  min(l_partkey % 256) AS x_min,
  max(l_partkey % 256) AS x_max,
  min(l_suppkey % 256) AS y_min,
  max(l_suppkey % 256) AS y_max
FROM lineitem
GROUP BY 1
"""


LAYOUT_ZORDER_SQL = _zorder_sql()

QUERIES["layout_zorder"] = layout_zorder
ORACLES["layout_zorder"] = LAYOUT_ZORDER_SQL


# ---------------------------------------------------------------------------
# Pareto skyline (multi-objective dominance)
# ---------------------------------------------------------------------------


def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pareto skyline of parts: maximize p_size, minimize
    p_retailprice — a part survives iff no same-brand part has size ≥ AND
    price ≤ with at least one strict. The skyline operator (Börzsönyi et
    al., ICDE 2001) has no SQL-standard form; engines either nest a
    quadratic NOT EXISTS (the oracle here — the SPEC) or special-case it.

    Spark-first O(n log n) per group instead: sort each brand by size
    descending and take two window minima —

    * ``m_larger``  = min price over STRICTLY larger sizes (RANGE frame
      ending 1 PRECEDING under the descending sort);
    * ``m_same``    = min price among the same (brand, size).

    dominated ⇔ ``m_larger ≤ price`` (bigger part, no pricier) OR
    ``m_same < price`` (same size, strictly cheaper). One shuffle on
    brand, one in-partition sort, no self-join — at 100 TB the quadratic
    spec is unrunnable while this plan is a plain window.

    Ties: identical (size, price) points do not dominate each other and
    survive together — both formulations agree.
    """
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size", "p_retailprice"
    )
    w_larger = (
        Window.partitionBy("p_brand")
        .orderBy(F.col("p_size").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy("p_brand", "p_size")
    m_larger = F.min("p_retailprice").over(w_larger)
    m_same = F.min("p_retailprice").over(w_same)
    dominated = (
        m_larger.isNotNull() & (m_larger <= F.col("p_retailprice"))
    ) | (m_same < F.col("p_retailprice"))
    return (
        p.withColumn("dominated", dominated)
        .filter(~F.col("dominated"))
        .select(
            "p_brand",
            "p_partkey",
            "p_size",
            dround(F.col("p_retailprice"), 2).alias("price"),
        )
    )


SKYLINE_PARETO_SQL = """
SELECT
  p1.p_brand,
  p1.p_partkey,
  p1.p_size,
  CAST(round(CAST((p1.p_retailprice) AS DECIMAL(30,10)), 2) AS DOUBLE) AS price
FROM part p1
WHERE NOT EXISTS (
  SELECT 1 FROM part p2
  WHERE p2.p_brand = p1.p_brand
    AND p2.p_size >= p1.p_size
    AND p2.p_retailprice <= p1.p_retailprice
    AND (p2.p_size > p1.p_size OR p2.p_retailprice < p1.p_retailprice)
)
"""

QUERIES["skyline_pareto"] = skyline_pareto
ORACLES["skyline_pareto"] = SKYLINE_PARETO_SQL


# ---------------------------------------------------------------------------
# Per-group statistical mode (argmax aggregate)
# ---------------------------------------------------------------------------


def agg_mode_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group: the most frequent ``l_shipmode`` for
    every (returnflag, linestatus) cell, plus its count and share.
    (The fixture lineitem carries no shipmode column, so the candidate
    is the ship MONTH — cardinality 12, the same bounded-domain shape.)

    The scale-correct plan is two hash aggregates — count per candidate,
    then ``min_by`` over ``struct(-cnt, shipmode)`` (highest count,
    lexicographically-smallest tie-break) — both map-side combinable,
    keyed on the group columns. No window over the full table: the
    second aggregate's input is |groups| x |shipmodes| rows regardless
    of corpus size. The tie-break makes the answer deterministic, so the
    oracle (a rank-1 window over the same counts) agrees exactly.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.month("l_shipdate").alias("ship_month"),
    )
    counts = li.groupBy("l_returnflag", "l_linestatus", "ship_month").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    order = F.struct(
        (-F.col("cnt")).alias("nc"), F.col("ship_month").alias("m")
    )
    return (
        counts.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.min_by("ship_month", order).alias("mode_month"),
            F.max("cnt").alias("mode_cnt"),
            F.sum("cnt").alias("group_cnt"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "mode_month",
            "mode_cnt",
            dround(
                F.col("mode_cnt").cast("decimal(30,10)")
                / F.col("group_cnt"),
                6,
            ).alias("mode_share"),
        )
    )


AGG_MODE_ARGMAX_SQL = f"""
WITH counts AS (
  SELECT l_returnflag, l_linestatus,
         CAST(month(l_shipdate) AS INTEGER) AS ship_month, count(*) AS cnt
  FROM lineitem
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY l_returnflag, l_linestatus
           ORDER BY cnt DESC, ship_month ASC
         ) AS rn,
         sum(cnt) OVER (
           PARTITION BY l_returnflag, l_linestatus
         ) AS group_cnt
  FROM counts
)
SELECT
  l_returnflag,
  l_linestatus,
  ship_month AS mode_month,
  cnt AS mode_cnt,
  {sql_round('CAST(cnt AS DECIMAL(30,10)) / group_cnt', 6)} AS mode_share
FROM ranked
WHERE rn = 1
"""

QUERIES["agg_mode_argmax"] = agg_mode_argmax
ORACLES["agg_mode_argmax"] = AGG_MODE_ARGMAX_SQL


# ---------------------------------------------------------------------------
# Compaction planner (small-file bin packing)
# ---------------------------------------------------------------------------

# ~8 output bins per table partition at any scale factor: target bytes
# per bin derive from the partition's total payload (in production this
# is the fixed 128 MiB-class OPTIMIZE target), never an absolute
# constant the fixture scale would break
_COMPACT_BINS = 8


def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan (Delta/Iceberg ``OPTIMIZE`` shape):
    pack the documents of each ``source`` partition into ~fixed-byte
    output bins by cumulative payload size, and report each bin's file
    count, byte total, and doc-id range.

    Plan: one aggregate derives each partition's byte total (broadcast
    back), one window per ``source`` computes the exclusive running sum
    in deterministic (source, doc_id) order, then a hash aggregate
    summarizes bins. The window partitions by ``source`` — the real
    compaction-planning shape: table-maintenance jobs plan per table
    partition (Delta OPTIMIZE batches WHERE partition = ...), so no
    global single-reducer sort exists at any scale; a partition's file
    *listing* (not payload) is what sorts, and listings are metadata-
    sized.

    Pure integer arithmetic (octet lengths, DIV) — identical engines.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.octet_length("text").alias("bytes")
    )
    totals = docs.groupBy("source").agg(
        F.sum("bytes").alias("part_bytes")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = (
        docs.join(totals, "source")
        .withColumn(
            "target",
            F.expr(f"GREATEST(part_bytes DIV {_COMPACT_BINS}, 1)"),
        )
        .withColumn(
            "cum_before", F.coalesce(F.sum("bytes").over(w), F.lit(0))
        )
        .withColumn("bin", F.expr("cum_before DIV target"))
    )
    return binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("bytes").alias("bin_bytes"),
        F.min("doc_id").alias("doc_lo"),
        F.max("doc_id").alias("doc_hi"),
    )


LAYOUT_COMPACTION_SQL = f"""
WITH docs AS (
  SELECT doc_id, source, octet_length(encode(text)) AS bytes FROM documents
),
totals AS (
  SELECT source, sum(bytes) AS part_bytes FROM docs GROUP BY 1
),
binned AS (
  SELECT
    d.doc_id, d.source, d.bytes,
    GREATEST(t.part_bytes // {_COMPACT_BINS}, 1) AS target,
    COALESCE(sum(d.bytes) OVER (
      PARTITION BY d.source ORDER BY d.doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    ), 0) AS cum_before
  FROM docs d JOIN totals t ON d.source = t.source
)
SELECT
  source,
  CAST(cum_before // target AS BIGINT) AS bin,
  count(*) AS n_files,
  CAST(sum(bytes) AS BIGINT) AS bin_bytes,
  min(doc_id) AS doc_lo,
  max(doc_id) AS doc_hi
FROM binned
GROUP BY 1, 2
"""

QUERIES["layout_compaction_plan"] = layout_compaction_plan
ORACLES["layout_compaction_plan"] = LAYOUT_COMPACTION_SQL


# ---------------------------------------------------------------------------
# Bucketed co-located join (the zero-shuffle join layout)
# ---------------------------------------------------------------------------

_BUCKETS = 16


#: superseded layouts younger than this survive the sweep: a session
#: that attached the old-tag layout BEFORE the fixture regen may still
#: be serving queries from it, and rmtree-ing a registered external
#: table's files fails those queries with confusing read errors
#: (ADVICE r6).  One hour comfortably exceeds any single bench/test
#: session here while still bounding tmp growth.
_SWEEP_GRACE_S = 3600.0


def _sweep_stale_layouts(prefix: str, keep) -> None:
    """Best-effort-delete sibling cached layouts under the same
    sf-scoped ``prefix`` whose tag differs from the current one: every
    fixture regeneration mints a new mtime tag, so without the sweep the
    orphaned spark_graft_bucketed_* / spark_graft_textsrc_* trees would
    accumulate in tmp without bound.  The prefix embeds the sf_dir slug,
    so layouts of OTHER scale factors (live in parallel test/bench
    sessions) are never touched — only superseded generations of the
    same source, and of those only ones older than ``_SWEEP_GRACE_S``
    (a concurrent session that attached the previous generation before
    the regen could otherwise lose its registered files mid-query;
    within the grace window both generations coexist on disk)."""
    import shutil
    import tempfile
    import time
    from pathlib import Path

    keep = Path(keep)
    now = time.time()
    for sib in Path(tempfile.gettempdir()).glob(f"{prefix}*"):
        if sib == keep:
            continue
        try:
            age = now - sib.stat().st_mtime
        except OSError:
            continue
        if age > _SWEEP_GRACE_S:
            shutil.rmtree(sib, ignore_errors=True)


def _sf_slug(sf_dir: str) -> str:
    import hashlib

    return hashlib.md5(sf_dir.encode()).hexdigest()[:6]


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize lineitem/orders bucketed+sorted by order key, ONCE
    per fixture generation; every later session re-attaches the layout.

    Bucketing is a layout INVESTMENT: one write-side shuffle buys every
    subsequent equi-join on the bucket key a plan with no exchange and
    no sort on either side — at 100 TB this converts the recurring
    orders⋈lineitem shuffle (the largest exchange in most TPC-H shapes)
    into a local per-bucket merge. In production the bucket spec lives
    in the metastore and SURVIVES job restarts; the in-memory catalog
    here forgets it per session, so a completed on-disk layout is
    re-attached with external-table DDL (``CREATE TABLE … CLUSTERED BY
    … LOCATION``) instead of being rewritten — the write cost is paid
    once per fixture, exactly like ``ivf.py``'s persisted codebook
    (train-once / search-many).  The cache tag includes the source
    parquet's mtime, so a regenerated fixture invalidates the layout
    instead of silently serving stale rows.
    """
    import hashlib
    import os
    import tempfile
    from pathlib import Path

    mtimes = "|".join(
        str(os.path.getmtime(f"{sf_dir}/{t}.parquet"))
        for t in ("lineitem", "orders")
    )
    # the tag must encode EVERYTHING the layout depends on: source data
    # (mtime) AND the bucket spec — re-attaching 16-bucket files under an
    # 8-bucket declaration would silently mis-join
    spec = f"{_BUCKETS}|l_orderkey,l_linenumber|o_orderkey,o_custkey"
    tag = hashlib.md5(f"{sf_dir}|{mtimes}|{spec}".encode()).hexdigest()[:8]
    li_name, ord_name = f"li_bkt_{tag}", f"ord_bkt_{tag}"
    prefix = f"spark_graft_bucketed_{_sf_slug(sf_dir)}_"
    base = Path(tempfile.gettempdir()) / f"{prefix}{tag}"
    _sweep_stale_layouts(prefix, base)
    for name, table, key, sort_extra in (
        (li_name, "lineitem", "l_orderkey", "l_linenumber"),
        (ord_name, "orders", "o_orderkey", "o_custkey"),
    ):
        path = base / name
        if spark.catalog.tableExists(name) and (path / "_SUCCESS").exists():
            continue
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        src = load_table(spark, sf_dir, table)
        if (path / "_SUCCESS").exists():
            # layout already on disk from a prior session: re-attach it
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in src.schema
            )
            spark.sql(
                f"CREATE TABLE {name} ({cols}) USING parquet "
                f"CLUSTERED BY ({key}) SORTED BY ({key}, {sort_extra}) "
                f"INTO {_BUCKETS} BUCKETS LOCATION '{path}'"
            )
            continue
        (
            src.write.bucketBy(_BUCKETS, key)
            .sortBy(key, sort_extra)
            .format("parquet")
            .option("path", str(path))
            .mode("overwrite")
            .saveAsTable(name)
        )
    return li_name, ord_name


def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join on pre-bucketed fact tables: revenue per order priority
    through an orders⋈lineitem join whose plan has NO exchange and NO
    sort on either input — both sides read 16 co-located, pre-sorted
    buckets (``tests/test_physical_plans.py`` pins the plan shape).

    The ``merge`` hint keeps the sort-merge path even where the fixture
    would let the planner broadcast the orders side: at 100 TB neither
    fact broadcasts, which is exactly the regime bucketing exists for.
    The only shuffle in the returned plan is the final 5-group
    aggregate.
    """
    li_name, ord_name = _bucketed_tables(spark, sf_dir)
    li = spark.table(li_name).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = spark.table(ord_name).select("o_orderkey", "o_orderpriority")
    return (
        li.hint("merge")
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum_round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
            ).alias("revenue"),
        )
    )


JOIN_BUCKETED_SQL = f"""
SELECT
  o_orderpriority,
  count(*) AS n_items,
  {sql_sum_round('l_extendedprice * (1 - l_discount)', 2)} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""

QUERIES["join_bucketed_colocated"] = join_bucketed_colocated
ORACLES["join_bucketed_colocated"] = JOIN_BUCKETED_SQL


# ---------------------------------------------------------------------------
# Bitmap exact-distinct aggregation
# ---------------------------------------------------------------------------

_BMP_BITS = 32  # ids per bitmap word


def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per event type via two-level bitmap
    aggregation — the ClickHouse/Doris bitmap pattern that replaces
    sort-based count(distinct) at scale.

    Level 1 groups by (event_type, user_id DIV 32) and ORs one-hot bit
    masks into a word; level 2 sums ``bit_count`` over the words. Both
    aggregates are map-side combinable (OR and + are associative and
    commutative), so a 100 TB scan reduces to |types| x |id-space|/32
    words with partial aggregation on every executor — no per-group sort
    and no shuffle of raw ids, which is what makes exact distinct
    tractable where ``count(distinct)`` would shuffle every row. The
    oracle is the plain ``count(DISTINCT ...)`` the bitmap must equal.
    Pure integer bit arithmetic.
    """
    # NULL user_id is not a user: count(DISTINCT) ignores NULLs, and a
    # bitmap has no bit for "unknown" — without this filter the NULL
    # rows form a NULL-bucket level-1 group that inflates n_words
    # (caught by the r10 user_id NULL-probe stage)
    e = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .where(F.col("user_id").isNotNull())
    )
    words = e.groupBy(
        "event_type", F.expr(f"user_id DIV {_BMP_BITS}").alias("bucket")
    ).agg(
        F.expr(f"bit_or(shiftleft(1L, CAST(user_id % {_BMP_BITS} AS INT)))").alias(
            "word"
        )
    )
    return words.groupBy("event_type").agg(
        F.sum(F.bit_count("word")).alias("n_users"),
        F.count(F.lit(1)).alias("n_words"),
    )


AGG_BITMAP_DISTINCT_SQL = f"""
SELECT
  event_type,
  count(DISTINCT user_id) AS n_users,
  count(DISTINCT user_id // {_BMP_BITS}) AS n_words
FROM events
GROUP BY 1
"""

QUERIES["agg_bitmap_distinct"] = agg_bitmap_distinct
ORACLES["agg_bitmap_distinct"] = AGG_BITMAP_DISTINCT_SQL


# ---------------------------------------------------------------------------
# Text source formats (CSV / JSON-lines scans)
# ---------------------------------------------------------------------------


def _text_format_copies(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the documents table as CSV and JSON-lines once per
    fixture generation; returns the base dir. The parquet fixture is the
    source of truth — the copies exist to exercise the text scan paths.
    The cache tag includes the source parquet's mtime (same rule as
    ``_bucketed_tables``): a regenerated fixture invalidates the copies
    instead of silently serving stale rows across sessions."""
    import hashlib
    import os
    import tempfile
    from pathlib import Path

    # csvv2: the null token is part of the layout contract — changing
    # write options must invalidate cached copies
    mtime = os.path.getmtime(f"{sf_dir}/documents.parquet")
    tag = hashlib.md5(f"{sf_dir}|{mtime}|csvv2".encode()).hexdigest()[:8]
    prefix = f"spark_graft_textsrc_{_sf_slug(sf_dir)}_"
    base = Path(tempfile.gettempdir()) / f"{prefix}{tag}"
    _sweep_stale_layouts(prefix, base)
    docs = load_table(spark, sf_dir, "documents")
    if not (base / "csv" / "_SUCCESS").exists():
        (
            docs.write.mode("overwrite")
            .option("header", True)
            .option("quoteAll", True)
            .option("escape", '"')
            # a DISTINCT null token: with the default (empty) token a
            # NULL and an empty string both serialize to "" and the
            # read side cannot tell them apart — Spark's CSV reader
            # would return NULL for both, silently dropping ''-text
            # rows from md5 content hashing (r8 empty-text probe)
            .option("nullValue", "\\N")
            .csv(str(base / "csv"))
        )
    if not (base / "jsonl" / "_SUCCESS").exists():
        docs.write.mode("overwrite").json(str(base / "jsonl"))
    return str(base)


def source_text_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV and JSON-lines scans with explicit schemas, proven content-
    exact against the parquet source of truth: per (format, lang) doc
    counts, char totals, and an order-insensitive content hash (sum of
    the first 8 md5 hex digits of each text) that any quoting/escaping
    corruption in the roundtrip would break.

    Explicit schemas keep both text scans single-pass (no inference
    job) with full column pruning; the oracle reads the original
    parquet, so a hash match proves the CSV quoting (quoteAll +
    RFC-4180 '""' escaping) and JSON encoding round-trip every payload
    byte-exactly. Scale: text sources are splittable line formats, so
    the scan parallelizes like parquet minus the footer pruning.
    """
    from ..tables import SCHEMAS

    base = _text_format_copies(spark, sf_dir)
    csv = (
        spark.read.schema(SCHEMAS["documents"])
        .option("header", True)
        .option("escape", '"')
        # match the writer's distinct null token so '' and NULL
        # round-trip losslessly (quoted "" parses back as '', not NULL)
        .option("nullValue", "\\N")
        .csv(f"{base}/csv")
        .withColumn("fmt", F.lit("csv"))
    )
    jsonl = (
        spark.read.schema(SCHEMAS["documents"])
        .json(f"{base}/jsonl")
        .withColumn("fmt", F.lit("jsonl"))
    )
    both = csv.unionByName(jsonl)
    return both.groupBy("fmt", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(
            F.conv(F.substring(F.md5(F.encode("text", "utf-8")), 1, 8), 16, 10).cast(
                "long"
            )
        ).alias("content_hash"),
    )


SOURCE_TEXT_FORMATS_SQL = """
WITH per_fmt AS (
  SELECT 'csv' AS fmt, lang, text, n_chars FROM documents
  UNION ALL
  SELECT 'jsonl' AS fmt, lang, text, n_chars FROM documents
)
SELECT
  fmt,
  lang,
  count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
  CAST(sum(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT)) AS BIGINT) AS content_hash
FROM per_fmt
GROUP BY 1, 2
"""

QUERIES["source_text_formats"] = source_text_formats
ORACLES["source_text_formats"] = SOURCE_TEXT_FORMATS_SQL


def bitmap_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user set algebra across event types computed ON the
    bitmap representation — the reason bitmap indexes exist: |A∩B|,
    |A∪B|, |A\\B| fall out of word-level AND/OR/AND-NOT without ever
    shuffling raw ids or re-scanning the fact table per set op.

    Level 1 builds one bitmap word per (type, id-bucket) as in
    ``agg_bitmap_distinct``; the viewer and purchaser words then join
    on the bucket (full outer — a bucket may exist on one side only)
    and every set cardinality is a popcount sum over ONE joined
    relation. The oracle computes the same cardinalities with
    INTERSECT/EXCEPT/UNION over raw id sets — the identity the bitmap
    algebra must reproduce exactly.

    NULL user_id is excluded on BOTH sides by explicit contract: a
    bitmap has no bit for "unknown", while SQL set ops (unlike
    count(DISTINCT)) treat NULL as a matchable member — left implicit,
    the two engines legitimately disagree the day the column carries
    NULLs (caught by the r10 user_id NULL-probe stage).
    """
    e = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .where(F.col("user_id").isNotNull())
    )
    words = (
        e.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy(
            "event_type",
            F.expr(f"user_id DIV {_BMP_BITS}").alias("bucket"),
        )
        .agg(
            F.expr(
                f"bit_or(shiftleft(1L, CAST(user_id % {_BMP_BITS} AS INT)))"
            ).alias("word")
        )
    )
    # two consumers (the view and purchase sides): materialize the words
    # once instead of re-scanning events per side
    from ..cache import persist_tracked

    words = persist_tracked(words)
    words.count()
    v = words.filter(F.col("event_type") == "view").select(
        "bucket", F.col("word").alias("vw")
    )
    p = words.filter(F.col("event_type") == "purchase").select(
        "bucket", F.col("word").alias("pw")
    )
    joined = v.join(p, "bucket", "full_outer").select(
        F.coalesce("vw", F.lit(0)).alias("vw"),
        F.coalesce("pw", F.lit(0)).alias("pw"),
    )
    return joined.agg(
        F.sum(F.bit_count(F.col("vw").bitwiseAND(F.col("pw")))).alias(
            "n_both"
        ),
        F.sum(F.bit_count(F.col("vw").bitwiseOR(F.col("pw")))).alias(
            "n_either"
        ),
        F.sum(F.expr("bit_count(vw & ~pw)")).alias("n_view_only"),
        F.sum(F.expr("bit_count(pw & ~vw)")).alias("n_purchase_only"),
    )


BITMAP_SET_ALGEBRA_SQL = """
WITH v AS (SELECT DISTINCT user_id FROM events
           WHERE event_type = 'view' AND user_id IS NOT NULL),
     p AS (SELECT DISTINCT user_id FROM events
           WHERE event_type = 'purchase' AND user_id IS NOT NULL)
SELECT
  (SELECT count(*) FROM (SELECT * FROM v INTERSECT SELECT * FROM p)) AS n_both,
  (SELECT count(*) FROM (SELECT * FROM v UNION SELECT * FROM p)) AS n_either,
  (SELECT count(*) FROM (SELECT * FROM v EXCEPT SELECT * FROM p)) AS n_view_only,
  (SELECT count(*) FROM (SELECT * FROM p EXCEPT SELECT * FROM v)) AS n_purchase_only
"""

QUERIES["bitmap_set_algebra"] = bitmap_set_algebra
ORACLES["bitmap_set_algebra"] = BITMAP_SET_ALGEBRA_SQL


def agg_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT interpolated percentiles (p50/p90 of event value per event
    type) via Spark's sort-based ``percentile`` aggregate — the exact
    twin of the ``agg_approx_quantiles`` sketch pair, for the regimes
    where the group is small enough to sort (per-group data here is
    |events|/|types|; the sketch twins cover the can't-sort regime).

    Both engines define the statistic identically (linear interpolation
    at rank h = (n-1)p over the sorted values); outputs route through
    the decimal rounding convention to absorb last-ulp interpolation
    differences.
    """
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    return e.groupBy("event_type").agg(
        dround(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        dround(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.count(F.lit(1)).alias("n"),
    )


AGG_EXACT_PERCENTILES_SQL = f"""
SELECT
  event_type,
  {sql_round('quantile_cont(value, 0.5)', 6)} AS p50,
  {sql_round('quantile_cont(value, 0.9)', 6)} AS p90,
  count(*) AS n
FROM events
GROUP BY 1
"""

QUERIES["agg_exact_percentiles"] = agg_exact_percentiles
ORACLES["agg_exact_percentiles"] = AGG_EXACT_PERCENTILES_SQL


# ---------------------------------------------------------------------------
# Dynamic partition pruning (partitioned-layout join)
# ---------------------------------------------------------------------------


def _partitioned_lineitem(spark: SparkSession, sf_dir: str) -> str:
    """Materialize lineitem hive-partitioned by ship month, once per
    (session, sf_dir) — the partitioned-table layout DPP needs."""
    import hashlib
    import tempfile
    from pathlib import Path

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = Path(tempfile.gettempdir()) / f"spark_graft_part_li_{tag}"
    if not (path / "_SUCCESS").exists():
        (
            load_table(spark, sf_dir, "lineitem")
            .withColumn("ship_month", F.month("l_shipdate"))
            .write.mode("overwrite")
            .partitionBy("ship_month")
            .parquet(str(path))
        )
    return str(path)


def join_dpp_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: Q2-quarter revenue from the
    month-partitioned lineitem layout, where the months come from a
    CALENDAR DIMENSION filtered on its quarter attribute — the filter
    reaches the fact scan as a ``dynamicpruningexpression`` in its
    PartitionFilters (plan-asserted in ``tests/test_new_ops_r5b.py``),
    so 9 of the 12 month partitions are never read.

    This is the third join-performance pillar next to
    ``join_broadcast_dim`` and ``join_bucketed_colocated``: broadcast
    kills the shuffle, bucketing kills the exchange+sort, DPP kills the
    SCAN. The canonical shape is fact ⋈ dim ON key WHERE dim.attr = …,
    where only the dim carries the literal filter — exactly how a
    100 TB date-partitioned fact is pruned through a date dimension.
    The 12-row calendar dim is derived in-line (month → quarter); at
    scale it is any real dimension table.
    """
    li = spark.read.parquet(_partitioned_lineitem(spark, sf_dir))
    calendar = spark.range(1, 13).select(
        F.col("id").cast("int").alias("m"),
        ((F.col("id") - 1) / 3 + 1).cast("int").alias("quarter"),
    )
    q2 = calendar.filter(F.col("quarter") == 2)
    return (
        li.join(q2, li.ship_month == q2.m)
        .groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum_round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
            ).alias("revenue"),
        )
    )


JOIN_DPP_SQL = f"""
SELECT
  CAST(month(l_shipdate) AS INTEGER) AS ship_month,
  count(*) AS n_items,
  {sql_sum_round('l_extendedprice * (1 - l_discount)', 2)} AS revenue
FROM lineitem
WHERE ((month(l_shipdate) - 1) // 3) + 1 = 2
GROUP BY 1
"""

QUERIES["join_dpp_partition_pruned"] = join_dpp_partition_pruned
ORACLES["join_dpp_partition_pruned"] = JOIN_DPP_SQL


# ---------------------------------------------------------------------------
# as-of join with a staleness tolerance (SURVEY §2.4 as-of row, bounded)
# ---------------------------------------------------------------------------

_ASOF_TOLERANCE_US = 3_600 * 1_000_000  # 1 hour, integer microseconds


def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a max-staleness bound: each event sees the same
    user's most recent 'purchase' value only if that purchase is within
    one hour — older matches become NULL instead of carrying forward
    indefinitely.  This is pandas ``merge_asof(tolerance=...)`` /
    kdb ``wj`` semantics, and the exact contract a watermarked
    stream-stream join enforces at scale (state older than the bound is
    droppable — the tolerance IS the state-retention bound).

    Same single-shuffle shape as :func:`join_asof` (union the sides,
    one window per user, ``last(..., ignorenulls=True)``), plus a
    carried last-purchase timestamp; the staleness test is exact
    integer microseconds — no float time arithmetic.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    is_p = F.col("event_type") == "purchase"
    marked = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(is_p, F.col("value")).alias("pv"),
        F.when(is_p, F.unix_micros(F.col("ts"))).alias("pts"),
        F.when(is_p, F.lit(0)).otherwise(F.lit(1)).alias("pri"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "pri", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lv = F.last("pv", ignorenulls=True).over(w)
    lts = F.last("pts", ignorenulls=True).over(w)
    fresh = (F.unix_micros(F.col("ts")) - lts) <= F.lit(_ASOF_TOLERANCE_US)
    return marked.select(
        "event_id",
        "user_id",
        "event_type",
        dround(F.when(fresh, lv), 2).alias("recent_purchase_value"),
    )


_ASOF_TOL_CASE = (
    "CASE WHEN epoch_us(ts) - last_value(pts IGNORE NULLS) OVER w <= "
    f"{_ASOF_TOLERANCE_US} THEN last_value(pv IGNORE NULLS) OVER w END"
)

JOIN_ASOF_TOLERANCE_SQL = f"""
SELECT
  event_id,
  user_id,
  event_type,
  {sql_round(_ASOF_TOL_CASE, 2)} AS recent_purchase_value
FROM (
  SELECT
    event_id, user_id, ts, event_type,
    CASE WHEN event_type = 'purchase' THEN value END AS pv,
    CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END AS pts,
    CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS pri
  FROM events
)
WINDOW w AS (
  PARTITION BY user_id
  ORDER BY ts, pri, event_id
  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
)
"""

QUERIES["join_asof_tolerance"] = join_asof_tolerance
ORACLES["join_asof_tolerance"] = JOIN_ASOF_TOLERANCE_SQL


# ---------------------------------------------------------------------------
# Null-safe equi join (<=> / IS NOT DISTINCT FROM)
# ---------------------------------------------------------------------------


def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash join on NULL-SAFE equality (``<=>``): NULL keys match each
    other instead of vanishing — the semantics a dimension lookup needs
    when "unknown" is itself a dimension member (the classic slowly-
    changing-dim 'N/A' row).

    Keys: order priority with the middle class nulled out
    (``nullif(o_orderpriority, '3-MEDIUM')``) against a 6-row label dim
    that carries an explicit NULL member.  Spark plans ``eqNullSafe``
    as an ordinary broadcast-hash equi join (EqualNullSafe is a
    supported hash key — NOT a nested loop; asserted in
    ``tests/test_physical_plans.py``), so the NULL bucket hashes like
    any other value.  With a plain ``=`` the NULLed rows would drop;
    the oracle's ``IS NOT DISTINCT FROM`` states the same contract.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM")).alias("prio_key"),
    )
    dim = local_frame(
        spark,
        [
            ("1-URGENT", "expedite"),
            ("2-HIGH", "expedite"),
            (None, "unclassified"),
            ("4-NOT SPECIFIED", "bulk"),
            ("5-LOW", "bulk"),
        ],
        "prio_key string, tier string",
    )
    return (
        o.join(dim, o.prio_key.eqNullSafe(dim.prio_key))
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum_round("o_totalprice", 2).alias("tier_value"),
        )
    )


JOIN_NULL_SAFE_SQL = f"""
WITH o AS (
  SELECT o_orderkey, o_totalprice,
         nullif(o_orderpriority, '3-MEDIUM') AS prio_key
  FROM orders
),
dim(prio_key, tier) AS (
  VALUES ('1-URGENT', 'expedite'), ('2-HIGH', 'expedite'),
         (NULL, 'unclassified'),
         ('4-NOT SPECIFIED', 'bulk'), ('5-LOW', 'bulk')
)
SELECT tier,
       count(*) AS n_orders,
       {sql_sum_round('o_totalprice', 2)} AS tier_value
FROM o JOIN dim ON o.prio_key IS NOT DISTINCT FROM dim.prio_key
GROUP BY tier
"""

QUERIES["join_null_safe"] = join_null_safe
ORACLES["join_null_safe"] = JOIN_NULL_SAFE_SQL


# ---------------------------------------------------------------------------
# URL scalar family (parse_url)
# ---------------------------------------------------------------------------


def scalar_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's ``parse_url`` scalar family — host / path / query /
    named-parameter extraction, the per-record kernel of crawl
    pipelines (domain-level dedup, per-site quality rollups).

    URLs are synthesized deterministically from document attributes, so
    the oracle derives every component with independent string algebra
    (DuckDB has no parse_url) — a true differential check of the
    extraction, not of the synthesis.  Per-domain rollup keeps the
    output compact and adds the group-by-host shape domain analyses use.
    """
    docs = load_table(spark, sf_dir, "documents")
    # coalesce BEFORE synthesis: concat propagates one NULL lang into a
    # NULL URL (nulling host/path too), while the oracle's independent
    # string algebra would keep host non-NULL — the engines must agree
    # on NULL-lang rows by construction (found by the r8 NULL-injection
    # differential, tools/null_probe.py)
    lang_filled = F.coalesce(F.col("lang"), F.lit("und"))
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        lang_filled,
        F.lit("&v=2"),
    )
    parsed = docs.select(
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )
    return parsed.groupBy("host", "lang_param").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("path").alias("first_path"),
        F.max("query").alias("last_query"),
    )


SCALAR_URL_SQL = """
WITH parsed AS (
  SELECT
    source || '.example.com' AS host,
    '/docs/' || CAST(doc_id AS VARCHAR) AS path,
    'lang=' || coalesce(lang, 'und') || '&v=2' AS query,
    coalesce(lang, 'und') AS lang_param
  FROM documents
)
SELECT host, lang_param,
       count(*) AS n_docs,
       min(path) AS first_path,
       max(query) AS last_query
FROM parsed
GROUP BY host, lang_param
"""

QUERIES["scalar_url_parse"] = scalar_url_parse
ORACLES["scalar_url_parse"] = SCALAR_URL_SQL


# ---------------------------------------------------------------------------
# Ordered string aggregation (LISTAGG / string_agg)
# ---------------------------------------------------------------------------


def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered LISTAGG — the report-building aggregate every warehouse
    ships (``string_agg``/``listagg``): per region, the alphabetized
    nation roster and a parallel per-nation customer-count roster,
    proving element order AND pairing survive the aggregation.

    Spark form: ``sort_array(collect_list(struct(...)))`` then
    ``concat_ws`` over the transformed array — collect_list is
    order-nondeterministic across partitions, so the sort on the struct
    key is what makes the result well-defined (the same reason the SQL
    states ``ORDER BY``).  The rosters are per-region (25 nations) —
    collect stays KB-bounded; this is the bounded-group pattern, not a
    whole-table collect.
    """
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    cust = load_table(spark, sf_dir, "customer")
    per_nation = (
        cust.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
    )
    rows = per_nation.groupBy("r_name").agg(
        F.concat_ws(
            ",", F.sort_array(F.collect_list(F.col("n_name")))
        ).alias("nations"),
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(F.col("n_name"), F.col("n_cust"))
                    )
                ),
                lambda s: F.concat_ws(":", s["n_name"], s["n_cust"].cast("string")),
            ),
        ).alias("cust_roster"),
    )
    return rows


AGG_STRING_CONCAT_SQL = """
WITH per_nation AS (
  SELECT r.r_name, n.n_name, count(*) AS n_cust
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name, n.n_name
)
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       string_agg(n_name || ':' || CAST(n_cust AS VARCHAR), ',' ORDER BY n_name) AS cust_roster
FROM per_nation
GROUP BY r_name
"""

QUERIES["agg_string_concat"] = agg_string_concat
ORACLES["agg_string_concat"] = AGG_STRING_CONCAT_SQL


# ---------------------------------------------------------------------------
# Multi-distinct aggregation (Expand-based rewrite)
# ---------------------------------------------------------------------------


def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several COUNT(DISTINCT …) over DIFFERENT columns in one aggregate
    — the shape Catalyst rewrites through an ``Expand`` node (one
    duplicated row per distinct-column group) so a single shuffle
    serves every distinct set; naive engines run one pass per distinct
    column.  Mixed with plain aggregates to prove the rewrite carries
    them alongside.

    At scale the Expand multiplies rows by the number of distinct
    groups (3 here) BEFORE the partial aggregate — a documented,
    bounded cost that replaces 3 full scans with 1.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.to_date("ts")).alias("n_days"),
        F.countDistinct(
            F.col("user_id"), F.to_date("ts")
        ).alias("n_user_days"),
        F.count(F.lit(1)).alias("n_events"),
        dsum_round("value", 2).alias("total_value"),
    )


# n_user_days: Spark's multi-arg countDistinct drops rows where ANY
# argument is NULL; DuckDB's count(DISTINCT (a, b)) would count
# partially-NULL tuples as distinct structs — the CASE guard aligns the
# oracle with Spark's semantics for fixtures that carry NULLs.
AGG_MULTI_DISTINCT_SQL = f"""
SELECT
  event_type,
  count(DISTINCT user_id) AS n_users,
  count(DISTINCT CAST(ts AS DATE)) AS n_days,
  count(DISTINCT CASE WHEN user_id IS NOT NULL AND ts IS NOT NULL
                      THEN (user_id, CAST(ts AS DATE)) END) AS n_user_days,
  count(*) AS n_events,
  {sql_sum_round('value', 2)} AS total_value
FROM events
GROUP BY event_type
"""

QUERIES["agg_multi_distinct"] = agg_multi_distinct
ORACLES["agg_multi_distinct"] = AGG_MULTI_DISTINCT_SQL


def agg_hll_merge_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RE-AGGREGATABLE distinct counting — the property that makes
    incremental rollups possible at 100 TB: per-(event_type, day) HLL
    sketches built once (the materialized hourly/daily layer), then
    MERGED up to per-type totals with ``hll_union_agg`` — no second
    pass over raw data, no distinct expansion.  This is the Datasketches
    pattern every lakehouse rollup cascade relies on: sketches are the
    only distinct-count representation whose union is exact over the
    sketch algebra (unlike a count, which cannot be re-aggregated).

    Sketch bytes are engine-specific, so (like :func:`agg_hll_only`)
    there is no SQL oracle — the rows+schema check runs here, and
    ``tests/test_new_ops_r5c.py`` pins the merged estimate against the
    exact distinct within the sketch's error bound, plus the invariant
    that merging the daily layer equals sketching the raw data.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", 14).alias("sk")
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
        )
        .orderBy("event_type")
    )


# Sketch estimates are engine-specific — no SQL oracle, so this lives in
# the pytest-pinned production registry, not the driver-checked QUERIES.
PRODUCTION_QUERIES["agg_hll_merge_shards"] = agg_hll_merge_shards


# ---------------------------------------------------------------------------
# Error-safe scalar family (try_cast / try_divide / try_element_at)
# ---------------------------------------------------------------------------


def scalar_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode error-safe scalars: ``try_cast`` (malformed input →
    NULL, not a crashed 100 TB job), ``try_divide`` (÷0 → NULL), and
    ``try_element_at`` (out-of-bounds → NULL) — the family that makes a
    pipeline total instead of partial-failure-prone under dirty data.

    The oracle states the identical semantics with TRY_CAST and
    explicit guards (DuckDB's division and list indexing are already
    NULL-safe in exactly the try_* sense).

    Perf (r13): ``try_cast`` of a string that does NOT parse takes the
    JVM exception path — construct, fill, catch — per row (~8 µs/row
    measured; the never-parsing second word alone cost 1.2 s at sf0.1
    vs 0.10 s guarded). Each cast is therefore pre-guarded by a regex
    that accepts EXACTLY the string shapes Spark's string→int cast
    parses (probed: optional control/space trim ≤ 0x20, optional sign,
    decimal digits only — no fractions, exponents, or full-width
    digits), so the exception path is never exercised while the
    guarded rows still go through ``try_cast`` itself (which keeps
    overflow → NULL and the demonstrated operator semantics intact).
    """
    o = load_table(spark, sf_dir, "orders")
    words = F.split(F.col("o_orderpriority"), "-")
    # exact accept-set of Spark's string→int cast (see docstring); a
    # non-matching string is precisely the try_cast-NULL case
    int_shape = r"'^[\\x00-\\x20]*[+-]?[0-9]+[\\x00-\\x20]*$'"

    def guarded_int(expr: str) -> str:
        return (
            f"CASE WHEN {expr} RLIKE {int_shape} "
            f"THEN try_cast({expr} AS int) END"
        )

    return o.select(
        "o_orderkey",
        # '1-URGENT' -> 1; '4-NOT SPECIFIED' -> 4 ... always parses;
        # the SECOND word never does — both branches exercised
        F.expr(guarded_int("element_at(split(o_orderpriority, '-'), 1)")).alias("prio_num"),
        F.expr(guarded_int("element_at(split(o_orderpriority, '-'), 2)")).alias("prio_word_num"),
        F.try_divide(F.col("o_totalprice"), (F.col("o_orderkey") % 7)).alias(
            "per_bucket"
        ),
        F.try_element_at(words, F.lit(3)).alias("third_word"),
    ).withColumn("per_bucket", dround("per_bucket", 4))


SCALAR_TRY_SQL = """
SELECT
  o_orderkey,
  TRY_CAST(string_split(o_orderpriority, '-')[1] AS INT) AS prio_num,
  TRY_CAST(string_split(o_orderpriority, '-')[2] AS INT) AS prio_word_num,
  CAST(round(CAST((CASE WHEN o_orderkey % 7 = 0 THEN NULL
        ELSE o_totalprice / (o_orderkey % 7) END) AS DECIMAL(30,10)), 4) AS DOUBLE)
    AS per_bucket,
  string_split(o_orderpriority, '-')[3] AS third_word
FROM orders
"""

QUERIES["scalar_try_funcs"] = scalar_try_funcs
ORACLES["scalar_try_funcs"] = SCALAR_TRY_SQL


def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, NEAREST direction: each event sees the same user's
    closest 'purchase' value in time, looking BOTH ways (pandas
    ``merge_asof(direction='nearest')`` / kdb ``aj`` with bidirectional
    window) — the sensor-fusion variant of :func:`join_asof`, for feeds
    where the enriching reading may arrive slightly after the fact.
    Distance ties break backward (the earlier purchase), and a row that
    is itself a purchase matches itself at distance 0.

    Scale shape: still ONE shuffle on user_id. The backward side is a
    growing frame (``last ignorenulls`` over unboundedPreceding→current,
    O(n) incremental). The forward side is deliberately NOT the mirror
    ``first ... current→unboundedFollowing`` frame: Spark's
    unbounded-FOLLOWING frame processor re-scans the remainder of the
    partition for every row — O(n²) per partition, invisible on uniform
    keys (r9 skew probe: a user holding 30% of events took this query
    1.6 s → 33 s). Instead the forward pass is the same growing-frame
    ``last ignorenulls`` over the DESCENDING sort — one extra in-
    partition Sort under the same Exchange, O(n log n) worst case, hot
    keys included. Distances compare in exact integer microseconds.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    marked = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("pv"),
        F.unix_micros("ts").alias("us"),
    ).withColumn(
        # gate on event_type, NOT pv-non-null: a NULL-valued purchase is
        # still the nearest purchase (value NULL) — the same convention
        # join_asof_tolerance uses, and exactly what the oracle states
        "pus",
        F.when(F.col("event_type") == "purchase", F.col("us")),
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward side as a growing frame over the reversed sort: first
    # non-null AFTER-or-at the row == last non-null before-or-at it in
    # descending (ts, event_id) order
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sided = marked.select(
        "event_id",
        "user_id",
        "event_type",
        "us",
        F.last("pv", ignorenulls=True).over(wb).alias("bv"),
        F.last("pus", ignorenulls=True).over(wb).alias("bus"),
        F.last("pv", ignorenulls=True).over(wf).alias("fv"),
        F.last("pus", ignorenulls=True).over(wf).alias("fus"),
    )
    db = F.col("us") - F.col("bus")
    df_ = F.col("fus") - F.col("us")
    pick_b = F.col("bus").isNotNull() & (
        F.col("fus").isNull() | (db <= df_)
    )
    pick_f = F.col("fus").isNotNull() & (
        F.col("bus").isNull() | (df_ < db)
    )
    return sided.select(
        "event_id",
        "user_id",
        "event_type",
        dround(
            F.when(pick_b, F.col("bv")).when(pick_f, F.col("fv")), 2
        ).alias("nearest_purchase_value"),
        F.when(pick_b, F.lit("backward"))
        .when(pick_f, F.lit("forward"))
        .alias("np_dir"),
        F.when(pick_b, db).when(pick_f, df_).alias("np_dist_us"),
    )


JOIN_ASOF_NEAREST_SQL = """
WITH marked AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN event_type = 'purchase' THEN value END AS pv,
         epoch_us(ts) AS us,
         CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END AS pus
  FROM events
),
sided AS (
  SELECT event_id, user_id, event_type, us,
         last_value(pv IGNORE NULLS) OVER wb AS bv,
         last_value(pus IGNORE NULLS) OVER wb AS bus,
         first_value(pv IGNORE NULLS) OVER wf AS fv,
         first_value(pus IGNORE NULLS) OVER wf AS fus
  FROM marked
  WINDOW
    wb AS (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wf AS (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_id, user_id, event_type,
  CAST(round(CAST((CASE
    WHEN bus IS NOT NULL AND (fus IS NULL OR us - bus <= fus - us) THEN bv
    WHEN fus IS NOT NULL AND (bus IS NULL OR fus - us <  us - bus) THEN fv
  END) AS DECIMAL(30,10)), 2) AS DOUBLE) AS nearest_purchase_value,
  CASE
    WHEN bus IS NOT NULL AND (fus IS NULL OR us - bus <= fus - us)
      THEN 'backward'
    WHEN fus IS NOT NULL AND (bus IS NULL OR fus - us < us - bus)
      THEN 'forward'
  END AS np_dir,
  CASE
    WHEN bus IS NOT NULL AND (fus IS NULL OR us - bus <= fus - us)
      THEN us - bus
    WHEN fus IS NOT NULL AND (bus IS NULL OR fus - us < us - bus)
      THEN fus - us
  END AS np_dist_us
FROM sided
"""

QUERIES["join_asof_nearest"] = join_asof_nearest
ORACLES["join_asof_nearest"] = JOIN_ASOF_NEAREST_SQL


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch — a DETERMINISTIC distinct
# estimator with hash-exact cross-engine parity (round 7)
# ---------------------------------------------------------------------------

_KMV_K = 64
#: 16^15 — the md5-prefix hash space (same 60-bit prefix convention as
#: dedup's shingle ids); long→double conversion rounds identically in
#: both engines
_KMV_SPACE = 16 ** 15


def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user estimation per event type (plus the merged 'ALL'
    union sketch) via the KMV / k-minimum-values bottom-k sketch
    (Bar-Yossef et al. 2002): keep the k smallest hash fractions of the
    distinct keys; estimate = (k−1)/u_k where u_k is the k-th smallest.

    Unlike the engine-native sketches (`agg_approx_distinct`'s HLL,
    `agg_approx_quantiles`' GK/t-digest — engine-specific internals,
    which is why those queries assert each engine's own sketch against
    exact twins), KMV is DETERMINISTIC given the hash: both engines
    compute the identical md5-prefix fractions, so the estimates
    themselves hash-compare exactly.  This is the mergeable sketch shape
    audience-overlap / cross-partition distinct systems use: per
    partition keep k minima, union = k minima of the concatenation —
    the 'ALL' row demonstrates the merge.

    Scale: distinct (type, user) is one shuffle; the per-group bottom-k
    is found by THRESHOLD PRUNING (the production top-k-at-scale
    pattern): fracs are uniform hashes, so a group's k-th smallest is
    below τ_g = 3k/n_g except with probability ~e^{-k} — filter to the
    ~3k survivors per group (O(k) rows per group at ANY corpus size;
    the O(|groups|) counts are collected once and τ_g/n_g inlined as
    literals — the same driver-memory class as the broadcast joins
    they replace, minus three broadcast builds), rank only those, and
    verify the bound held with one exact survivor-count check that
    falls back to the full two-phase `grouped_row_number` if it ever
    doesn't (deterministic given the data, so both engines' answers
    still hash-compare). The union sketch is merged from the per-group
    sketches (k·|groups| candidate rows — KMV mergeability, no second
    pass over the key set).  Estimator error is ~1/√(k−2) ≈ 12.7 % at
    k=64; the `within_3sigma` flag (computed from the same doubles both
    sides) pins it."""
    from ..cache import persist_tracked
    from ..plans.partitioning import grouped_row_number

    ev = load_table(spark, sf_dir, "events", spread=True)
    dist = ev.select("event_type", "user_id").distinct()
    frac = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .cast("double")
        / F.lit(float(_KMV_SPACE))
    )
    # internal NON-NULL surrogate group key: groupBy keeps a NULL group
    # but every equi-JOIN below would silently drop it (NULL != NULL) —
    # the exact divergence class the NULL-injection probe exists to
    # catch (it did, r9: events.event_type=NULL lost the NULL group's
    # sketch row while the oracle's GROUP BY kept it). The sentinel only
    # lives inside this query; event_type is restored at the end.
    nul = "\x00<null>"  # control-char prefix: unreachable by real data
    gk = F.coalesce(F.col("event_type"), F.lit(nul)).alias("gk")
    # several consumers (survivor rank, union sketch, exact counts) —
    # persist so the corpus distinct shuffle runs once, not once per branch
    hashed = persist_tracked(
        dist.select(gk, "user_id", frac.alias("frac"))
    )

    # r13 (guide §2.4/§5): the per-group exact counts are O(|groups|)
    # rows and were ALREADY assumed driver-memory-sized (they fed three
    # F.broadcast joins). Collect them ONCE and inline n_exact / τ_g as
    # literal CASE chains instead — the three broadcast builds, their
    # joins, and one of the two eager gate jobs disappear; every double
    # op (min(1, 3k/n), IEEE division) is the same arithmetic the
    # F.least/F.lit column expressions performed.
    counts_rows = (
        hashed.groupBy("gk").agg(F.count(F.lit(1)).alias("n_exact")).collect()
    )
    n_by = {r["gk"]: int(r["n_exact"]) for r in counts_rows}

    def _by_gk(vals: dict) -> F.Column:
        col = None
        for g, v in vals.items():
            cond = F.col("gk") == F.lit(g)
            col = (
                F.when(cond, F.lit(v))
                if col is None
                else col.when(cond, F.lit(v))
            )
        return F.lit(None) if col is None else col

    tau_lit = _by_gk(
        {g: min(1.0, (3.0 * _KMV_K) / float(n)) for g, n in n_by.items()}
    )
    surv = hashed.filter(F.col("frac") <= tau_lit)
    # exactness gate: every group must keep at least min(k, n_g)
    # survivors, else the k-th min exceeded τ_g and the pruned rank
    # would be wrong. One O(|groups|) collect over the cached distinct;
    # expected to pass with probability 1 - |groups|·e^{-Θ(k)}.
    m_by = {
        r["gk"]: int(r["m"])
        for r in surv.groupBy("gk")
        .agg(F.count(F.lit(1)).alias("m"))
        .collect()
    }
    ok = all(
        m_by.get(g, 0) >= min(_KMV_K, n) for g, n in n_by.items()
    )
    if ok:
        from pyspark.sql import Window

        # bounded partitions by construction (~3k rows per group at any
        # scale), so a plain per-group window is safe here — the
        # single-reducer funnel grouped_row_number exists to avoid
        # cannot form on O(k) rows
        w = Window.partitionBy("gk").orderBy("frac")
        ranked = surv.select(
            "gk", "frac", F.row_number().over(w).alias("rn")
        )
    else:  # pragma: no cover - probability ~e^{-64} per group
        ranked = grouped_row_number(
            hashed.select("gk", "frac"), "gk", "frac", out="rn"
        )
    per_group = (
        ranked.groupBy("gk")
        .agg(F.max(F.when(F.col("rn") <= _KMV_K, F.col("frac"))).alias("u_k"))
        .select(
            F.when(F.col("gk") == nul, F.lit(None).cast("string"))
            .otherwise(F.col("gk"))
            .alias("event_type"),
            _by_gk(n_by).cast("long").alias("n_exact"),
            "u_k",
        )
    )
    # union sketch from the per-group sketches — KMV's mergeability,
    # used structurally: a frac in the global bottom-k has at most k-1
    # globally-smaller fracs, hence at most k-1 smaller rows inside its
    # own group, hence per-group rank <= k. So the k*|groups| candidate
    # rows (<=512 here) already contain every global bottom-k member,
    # and the union's u_k is their k-th smallest distinct value — no
    # second full distinct over the user set, no global sort (r9: that
    # pair was ~4 of this query's 12 shuffles for an answer the ranked
    # frame already held)
    cand = (
        ranked.filter(F.col("rn") <= _KMV_K).select("frac").distinct()
    )
    topk = cand.orderBy("frac").limit(_KMV_K)
    union_row = (
        hashed.agg(F.count_distinct("user_id").alias("n_exact"))
        .crossJoin(topk.agg(F.max("frac").alias("u_k")))
        .select(F.lit("ALL").alias("event_type"), "n_exact", "u_k")
    )
    both = per_group.unionByName(union_row)
    est = F.when(
        F.col("n_exact") >= _KMV_K,
        F.lit(float(_KMV_K - 1)) / F.col("u_k"),
    ).otherwise(F.col("n_exact").cast("double"))
    sigma3 = F.lit(3.0 / (_KMV_K - 2) ** 0.5)
    return both.select(
        "event_type",
        F.col("n_exact").cast("long").alias("n_exact"),
        dround(est, 6).alias("kmv_est"),
        (
            F.abs(est - F.col("n_exact").cast("double"))
            / F.col("n_exact").cast("double")
            <= sigma3
        ).alias("within_3sigma"),
    )


def _kmv_sql() -> str:
    from .dedup import _sql_md5_prefix_int

    frac = (
        f"(CAST({_sql_md5_prefix_int('CAST(user_id AS VARCHAR)')} AS DOUBLE)"
        f" / CAST({_KMV_SPACE} AS DOUBLE))"
    )
    est = (
        f"CASE WHEN n_exact >= {_KMV_K} THEN CAST({_KMV_K - 1} AS DOUBLE) / u_k "
        "ELSE CAST(n_exact AS DOUBLE) END"
    )
    sigma3 = repr(3.0 / (_KMV_K - 2) ** 0.5)
    return f"""
WITH dist AS (
  SELECT DISTINCT event_type, user_id FROM events
),
hashed AS (
  SELECT event_type, user_id, {frac} AS frac FROM dist
),
ranked AS (
  SELECT event_type, frac,
         row_number() OVER (PARTITION BY event_type ORDER BY frac) AS rn
  FROM hashed
),
per_group AS (
  SELECT event_type,
         count(*) AS n_exact,
         max(CASE WHEN rn <= {_KMV_K} THEN frac END) AS u_k
  FROM ranked GROUP BY event_type
),
cand AS (SELECT DISTINCT frac FROM ranked WHERE rn <= {_KMV_K}),
union_row AS (
  SELECT 'ALL' AS event_type,
         (SELECT count(DISTINCT user_id) FROM hashed) AS n_exact,
         (SELECT max(frac) FROM (
            SELECT frac FROM cand ORDER BY frac LIMIT {_KMV_K})) AS u_k
),
merged AS (
  SELECT * FROM per_group UNION ALL SELECT * FROM union_row
)
SELECT event_type,
       CAST(n_exact AS BIGINT) AS n_exact,
       {sql_round(est, 6)} AS kmv_est,
       (abs(({est}) - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)
        <= {sigma3}) AS within_3sigma
FROM merged
"""


QUERIES["agg_kmv_distinct"] = agg_kmv_distinct
ORACLES["agg_kmv_distinct"] = _kmv_sql()


# ---------------------------------------------------------------------------
# Parquet schema evolution (mergeSchema) — the lakehouse add-a-column
# read path (round 7)
# ---------------------------------------------------------------------------


def _schema_evo_copies(spark: SparkSession, sf_dir: str) -> str:
    """Materialize two parquet GENERATIONS of the documents table once
    per fixture generation (same mtime-tag cache + grace-aged sweep as
    ``_text_format_copies``): gen1 (even doc_id) with the original
    3-column schema, gen2 (odd doc_id) after a schema EVOLUTION that
    added the ``lang`` column.  Returns the base dir."""
    import hashlib
    import os
    import tempfile
    from pathlib import Path

    mtime = os.path.getmtime(f"{sf_dir}/documents.parquet")
    tag = hashlib.md5(f"{sf_dir}|{mtime}|evo".encode()).hexdigest()[:8]
    prefix = f"spark_graft_schevo_{_sf_slug(sf_dir)}_"
    base = Path(tempfile.gettempdir()) / f"{prefix}{tag}"
    _sweep_stale_layouts(prefix, base)
    docs = load_table(spark, sf_dir, "documents")
    if not (base / "gen1" / "_SUCCESS").exists():
        docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "source", "n_chars"
        ).write.mode("overwrite").parquet(str(base / "gen1"))
    if not (base / "gen2" / "_SUCCESS").exists():
        docs.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "source", "n_chars", "lang"
        ).write.mode("overwrite").parquet(str(base / "gen2"))
    return str(base)


def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read ACROSS a parquet schema evolution — the lakehouse
    add-a-column reality every long-lived table hits: generation 1 was
    written before ``lang`` existed, generation 2 after.  A single
    ``mergeSchema`` scan unifies the footers (old files surface the new
    column as NULL; no rewrite of historical data), and the query
    aggregates per (source, lang-with-default) over BOTH generations.

    The oracle derives the identical result from the parquet source of
    truth (gen1 rows are exactly the even doc_ids, whose lang the
    evolved read cannot know), so the differential check proves the
    merged-footer read reconstructs every row and NULL-fills precisely
    the pre-evolution files — the contract that makes in-place schema
    evolution safe at 100 TB (footer-only schema merge; the scan still
    prunes to the referenced columns, and historical files are never
    touched).
    """
    base = _schema_evo_copies(spark, sf_dir)
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{base}/gen1", f"{base}/gen2"
    )
    return (
        merged.groupBy(
            "source",
            F.coalesce(F.col("lang"), F.lit("unknown")).alias("lang_filled"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


SOURCE_SCHEMA_EVOLUTION_SQL = """
SELECT source,
       CASE WHEN doc_id % 2 = 1 THEN coalesce(lang, 'unknown')
            ELSE 'unknown' END AS lang_filled,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY 1, 2
"""

QUERIES["source_schema_evolution"] = source_schema_evolution
ORACLES["source_schema_evolution"] = SOURCE_SCHEMA_EVOLUTION_SQL
