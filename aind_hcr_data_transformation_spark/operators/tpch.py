"""Extended TPC-H-shaped query suite (SURVEY §2.4 joins, §2.5 A5, §2.7 O4).

Q1/Q3/Q5/Q10 live in :mod:`relational`; this module carries the other
eighteen TPC-H-derived queries (full 22-query coverage), adapted to the
synthetic corpus' schema subset (no ``partsupp`` table, no
``l_shipmode``/``l_receiptdate``/``l_commitdate``/``p_container``/
``c_phone`` columns — each adaptation is noted on the query it affects).

The reference (a CZI→Zarr ETL job) has no relational surface; its closest
analog remains the driver-side metadata broadcast
(``zeiss_job.py:123-130,145-157``), restated here as the planner's
broadcast joins on dimension tables (a ``broadcast()`` hint stays only
where it changes the plan).

Scale notes (100 TB): every query shuffles only on its aggregation or
join keys. Fact-fact joins (orders⋈lineitem) are shuffle hash/sort-merge
on the join key; dimensions (region, nation, supplier, filtered part)
broadcast so the fact side never reshuffles for them. All date/brand/size
predicates sit on scan columns → parquet pushdown. Revenue arithmetic is
decimal-routed (``dsum``/``dround``) so results are partition-order
independent — see ``functions/compat.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.compat import (
    dround,
    dsum,
    dsum_round,
    sql_round,
    sql_sum,
    sql_sum_round,
)
from ..tables import load_table


# ---------------------------------------------------------------------------
# Q4 — order priority checking (EXISTS semi join)
# ---------------------------------------------------------------------------


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 adapted: priority counts of orders having at least one
    lineitem shipped more than 90 days after the order date (the corpus
    lacks ``l_commitdate``/``l_receiptdate``, so late *shipment* stands in
    for late *receipt*).

    EXISTS compiles to a left-semi join — the build side carries only
    ``l_orderkey``+``l_shipdate``, and the semi join short-circuits on
    first match, so no row multiplication ever happens.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1996-12-31").cast("timestamp"),
        )
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q6 — forecast revenue change (pure filter + agg: the pushdown showcase)
# ---------------------------------------------------------------------------


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: single-row filter-aggregate with every predicate on a
    scan column — the plan is scan(PushedFilters) → partial agg → one-row
    exchange → final agg; at 100 TB the shuffle carries 32 rows total.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1996-12-31").cast("timestamp"),
        )
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        dsum_round(F.col("l_extendedprice") * F.col("l_discount"), 2).alias(
            "revenue"
        )
    )


Q6_SQL = f"""
SELECT {sql_sum_round("l_extendedprice * l_discount", 2)} AS revenue
FROM lineitem
WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
  AND l_discount BETWEEN CAST(0.05 AS DOUBLE) AND CAST(0.07 AS DOUBLE)
  AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# Q7 — volume shipping between two nations
# ---------------------------------------------------------------------------


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume NATION_1 ↔ NATION_2 by ship year.

    supplier and both nation copies broadcast (dimension pattern);
    orders⋈lineitem is the only fact-fact shuffle. The disjunctive
    nation-pair predicate applies after the broadcast joins, before the
    aggregation, so the shuffled agg input is already pair-filtered.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.filter(
            F.col("l_shipdate").between(
                F.lit("1996-01-01").cast("timestamp"),
                F.lit("1997-12-31").cast("timestamp"),
            )
        )
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n1, F.col("s_nationkey") == F.col("s_nkey"))
        .join(n2, F.col("c_nationkey") == F.col("c_nkey"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            dsum_round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = f"""
SELECT
  supp_nation, cust_nation, l_year,
  {sql_sum_round("volume", 2)} AS revenue
FROM (
  SELECT
    n1.n_name AS supp_nation,
    n2.n_name AS cust_nation,
    CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
    l.l_extendedprice * (1 - l.l_discount) AS volume
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
  WHERE l.l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# ---------------------------------------------------------------------------
# Q8 — national market share
# ---------------------------------------------------------------------------


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_3's share of ASIA-customer PROMO-part revenue by
    order year.

    Share = conditional-sum / total-sum, both decimal-routed, divided once
    per output row (two exact operands → deterministic IEEE quotient).
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    n_c = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key")
    )
    n_s = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            F.col("o_orderdate").between(
                F.lit("1996-01-01").cast("timestamp"),
                F.lit("1997-12-31").cast("timestamp"),
            )
        )
        .join(c, o.o_custkey == c.c_custkey)
        .join(n_c, F.col("c_nationkey") == F.col("cn_key"))
        .join(r, F.col("cr_key") == F.col("r_regionkey"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n_s, F.col("s_nationkey") == F.col("sn_key"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            dsum(
                F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0))
            ).alias("_nation_vol"),
            dsum(vol).alias("_total_vol"),
        )
        .select(
            "o_year",
            dround(F.col("_nation_vol") / F.col("_total_vol"), 6).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


Q8_SQL = f"""
SELECT
  o_year,
  {sql_round("nation_vol / total_vol", 6)} AS mkt_share
FROM (
  SELECT
    CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
    {sql_sum("CASE WHEN n2.n_name = 'NATION_3' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END")} AS nation_vol,
    {sql_sum("l.l_extendedprice * (1 - l.l_discount)")} AS total_vol
  FROM lineitem l
  JOIN part p     ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
  JOIN region r   ON n1.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
  WHERE o.o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
  GROUP BY 1
)
ORDER BY o_year
"""


# ---------------------------------------------------------------------------
# Q9 — product-type profit
# ---------------------------------------------------------------------------


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 adapted: per-(supplier-nation, year) revenue for parts
    whose name contains 'gear'. The corpus has no ``partsupp``, so profit
    omits the ``ps_supplycost * l_quantity`` term — this is gross revenue,
    not margin (documented deviation).
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("gear"))
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(
            dsum_round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
            ).alias("sum_profit")
        )
        .orderBy("nation", F.col("o_year").desc())
    )


Q9_SQL = f"""
SELECT
  n.n_name AS nation,
  CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
  {sql_sum_round("l.l_extendedprice * (1 - l.l_discount)", 2)} AS sum_profit
FROM lineitem l
JOIN part p     ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%gear%'
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution (outer join + double aggregate)
# ---------------------------------------------------------------------------


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 adapted: histogram of per-customer order counts,
    excluding URGENT orders (the corpus lacks ``o_comment``, so the
    classic NOT-LIKE-special-requests filter becomes a priority filter).

    Two aggregations: per-customer count after a left outer join (NULL →
    0 via count of the nullable key), then the count-of-counts. The
    second agg's input is one row per customer — tiny relative to orders.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# ---------------------------------------------------------------------------
# Q14 — promotion effect
# ---------------------------------------------------------------------------


def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: percentage of one month's revenue from PROMO parts.
    Conditional-sum/total-sum over a broadcast part join, single output row.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1996-03-01").cast("timestamp"),
            F.lit("1996-03-31").cast("timestamp"),
        )
    )
    p = load_table(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            dsum(
                F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0))
            ).alias("_promo"),
            dsum(vol).alias("_total"),
        )
        .select(
            dround(F.lit(100.0) * F.col("_promo") / F.col("_total"), 4).alias(
                "promo_revenue_pct"
            )
        )
    )


Q14_SQL = f"""
SELECT {sql_round("CAST(100.0 AS DOUBLE) * promo / total", 4)} AS promo_revenue_pct
FROM (
  SELECT
    {sql_sum("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END")} AS promo,
    {sql_sum("l.l_extendedprice * (1 - l.l_discount)")} AS total
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_shipdate BETWEEN TIMESTAMP '1996-03-01' AND TIMESTAMP '1996-03-31'
)
"""


# ---------------------------------------------------------------------------
# Q15 — top supplier (aggregate → max → equality join back)
# ---------------------------------------------------------------------------


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with maximum revenue in 1996 Q1.

    The revenue-per-supplier aggregate is computed once and reused for
    both the max and the equality filter (Spark caches nothing here — the
    self-use compiles to two scans of the same shuffle output under AQE;
    at scale, persist() the intermediate if the recompute dominates).
    Revenue is decimal-rounded BEFORE the max/equality so the comparison
    is on bit-stable doubles in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1996-03-31").cast("timestamp"),
        )
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum_round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
            "total_revenue"
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(max_rev, F.col("total_revenue") == F.col("max_revenue"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q15_SQL = f"""
WITH revenue AS (
  SELECT
    l_suppkey AS supplier_no,
    {sql_sum_round("l_extendedprice * (1 - l_discount)", 2)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-03-31'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM revenue r
JOIN supplier s ON r.supplier_no = s.s_suppkey
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s.s_suppkey
"""


# ---------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (pre-agg join replaces correlated avg)
# ---------------------------------------------------------------------------


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 adapted: average yearly revenue lost if Brand#1 orders
    below 20% of the part's mean quantity were not taken (corpus lacks
    ``p_container``; the brand filter alone selects the part subset).

    The correlated ``avg(l_quantity)`` subquery is decorrelated into a
    per-part pre-aggregate joined back — one extra shuffle on
    ``l_partkey`` instead of a per-row subquery. The 20% comparison is
    ``5 * l_quantity < avg_qty`` (integer scaling, no 0.2 float literal —
    cross-engine exact; quantities are integral doubles so the per-part
    sums and the derived mean are IEEE-exact in both engines).
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    li_p = li.join(p, li.l_partkey == p.p_partkey)
    avg_qty = li_p.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        # no hints: the Brand#1 parts and their per-part means both grow
        # with SF; AQE turns the static SortMergeJoin into a broadcast
        # join at run time while the per-part mean is small
        li_p.join(avg_qty, F.col("l_partkey") == F.col("ap_key"))
        .filter(F.col("l_quantity") * 5 < F.col("avg_qty"))
        .agg(
            dround(dsum("l_extendedprice") / 7, 2).alias("avg_yearly"),
        )
    )


Q17_SQL = f"""
SELECT {sql_round(sql_sum("l.l_extendedprice") + " / 7", 2)} AS avg_yearly
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey AND p.p_brand = 'Brand#1'
JOIN (
  SELECT l2.l_partkey AS ap_key, avg(l2.l_quantity) AS avg_qty
  FROM lineitem l2
  JOIN part p2 ON l2.l_partkey = p2.p_partkey AND p2.p_brand = 'Brand#1'
  GROUP BY l2.l_partkey
) a ON l.l_partkey = a.ap_key
WHERE l.l_quantity * 5 < a.avg_qty
"""


# ---------------------------------------------------------------------------
# Q18 — large-volume orders (having over fact-fact join, deterministic top-k)
# ---------------------------------------------------------------------------


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: the 100 largest orders above 250 total quantity.

    The quantity HAVING filter runs on the lineitem-only aggregate BEFORE
    the joins — orders and customer join against the (tiny) qualifying
    set, not the raw fact table. The sort adds ``o_orderkey`` as the
    final tiebreak so the LIMIT-100 row SET is deterministic cross-engine
    (quantity sums over integral doubles are exact).
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        big.join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderdate"), F.col("o_orderkey")
        )
        .limit(100)
    )


Q18_SQL = """
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       b.sum_qty
FROM (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING sum(l_quantity) > 250
) b
JOIN orders o   ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
LIMIT 100
"""


# ---------------------------------------------------------------------------
# Q19 — disjunctive predicate revenue
# ---------------------------------------------------------------------------


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 adapted: revenue from three disjunctive
    (brand, size-range, quantity-range) branches (corpus lacks
    ``p_container``/``l_shipmode``; brand+size carry the selectivity).

    The OR-of-ANDs sits on join output columns; the part side is
    pre-filtered to the union of the three brands before broadcasting so
    the broadcast table stays small even at full part-table scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#1", "Brand#3", "Brand#5")
    )
    joined = li.join(p, li.l_partkey == p.p_partkey)
    branch = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#5")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return joined.filter(branch).agg(
        dsum_round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
        ).alias("revenue")
    )


Q19_SQL = f"""
SELECT {sql_sum_round("l.l_extendedprice * (1 - l.l_discount)", 2)} AS revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE
     (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
      AND l.l_quantity BETWEEN 1 AND 11)
  OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 25
      AND l.l_quantity BETWEEN 10 AND 20)
  OR (p.p_brand = 'Brand#5' AND p.p_size BETWEEN 1 AND 35
      AND l.l_quantity BETWEEN 20 AND 30)
"""


# ---------------------------------------------------------------------------
# Q2 — minimum-cost supplier (correlated min subquery over a region)
# ---------------------------------------------------------------------------


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 adapted: the corpus has no ``partsupp``, so the
    supplier↔part relationship and its cost come from ``lineitem``:
    a supplier's cost for a part is the minimum unit price
    (``l_extendedprice / l_quantity``) it ever charged.  For parts of
    one size/type, pick the EUROPE supplier(s) matching the per-part
    regional minimum cost — the classic correlated-min shape.

    Decorrelation: per-(part, supplier) min → per-part min → equi-join
    back on (partkey, cost).  Both aggregates shuffle on high-cardinality
    keys; region/nation/part dims broadcast.  Unit price is IEEE double
    division — bit-identical in both engines, so the min and the
    equality join agree exactly."""
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    nation = load_table(spark, sf_dir, "nation").join(
        region, F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = load_table(spark, sf_dir, "supplier").join(
        # bounded: the five EUROPE nations
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "LARGE"
    )
    li = load_table(spark, sf_dir, "lineitem")
    costs = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(
            supp.select("s_suppkey", "s_name", "s_acctbal", "n_name"),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "supp_cost"
            )
        )
    )
    # per-part min via ONE window over the costs relation (r14, guide
    # §1.2/§2.4): the aggregate + equi-join-back form referenced the
    # costs subtree (lineitem joins + aggregate) twice, so the whole
    # fact-side pipeline ran twice; the window computes the same
    # per-p_partkey min in one pass over one hash exchange, and the
    # equality filter keeps exactly the rows the join kept (identical
    # IEEE doubles both ways). Interleaved A/B at sf0.1: 0.72 -> 0.57 s
    # median, 6/6 pair wins, output identical.
    w_part = Window.partitionBy("p_partkey")
    return (
        costs.withColumn("min_cost", F.min("supp_cost").over(w_part))
        .filter(F.col("supp_cost") == F.col("min_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            dround("supp_cost", 4).alias("unit_cost"),
        )
        .orderBy(
            F.desc("s_acctbal"), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


Q2_SQL = """
WITH costs AS (
  SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal, n.n_name,
         min(l.l_extendedprice / l.l_quantity) AS supp_cost
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'LARGE'
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
  GROUP BY 1, 2, 3, 4, 5, 6
),
min_cost AS (
  SELECT p_partkey AS mc_key, min(supp_cost) AS min_cost
  FROM costs GROUP BY 1
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       CAST(round(CAST(supp_cost AS DECIMAL(30,10)), 4) AS DOUBLE) AS unit_cost
FROM costs JOIN min_cost
  ON costs.p_partkey = min_cost.mc_key AND costs.supp_cost = min_cost.min_cost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


# ---------------------------------------------------------------------------
# Q11 — important parts by inventory value (scalar-subquery HAVING)
# ---------------------------------------------------------------------------


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 adapted: no ``partsupp``/``ps_availqty``, so a part's
    "value" held by NATION_7 suppliers is the discounted revenue of
    their lineitems for it.  Parts whose value exceeds 1/10000 of the
    national total qualify — the scalar-subquery-in-HAVING shape.

    The total is a one-row aggregate cross-joined (broadcast) against
    the per-part aggregate; the fraction test cross-multiplies in exact
    decimal (``value * 10000 > total``) — no float division, engines
    agree bit-for-bit."""
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_7"
    )
    supp = load_table(spark, sf_dir, "supplier").join(
        nation, F.col("s_nationkey") == F.col("n_nationkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    li_n = li.join(
        # bounded: NATION_7's suppliers, 1/25 of supplier: grows with SF (SCALING.md)
        F.broadcast(supp.select("s_suppkey")),
        li.l_suppkey == F.col("s_suppkey"),
    )
    value_expr = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    per_part = li_n.groupBy("l_partkey").agg(dsum(value_expr).alias("value"))
    total = li_n.agg(dsum(value_expr).alias("total"))
    return (
        per_part.crossJoin(total)
        .filter(F.col("value") * 10000 > F.col("total"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            dround("value", 2).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "p_partkey")
    )


Q11_SQL = f"""
WITH li_n AS (
  SELECT l.l_partkey, l.l_extendedprice, l.l_discount
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_7'
),
per_part AS (
  SELECT l_partkey, {sql_sum('l_extendedprice * (1.0 - l_discount)')} AS value
  FROM li_n GROUP BY l_partkey
),
total AS (
  SELECT {sql_sum('l_extendedprice * (1.0 - l_discount)')} AS total FROM li_n
)
SELECT l_partkey AS p_partkey,
       {sql_round('value', 2)} AS part_value
FROM per_part, total
WHERE value * 10000 > total
ORDER BY part_value DESC, p_partkey
"""


# ---------------------------------------------------------------------------
# Q12 — shipping priority by return flag (join + conditional aggregation)
# ---------------------------------------------------------------------------


def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 adapted: the corpus lacks ``l_shipmode`` and the
    commit/receipt dates, so the group key is ``l_returnflag`` and a
    line is "late" when shipped more than 60 days after the order date.
    For late 1996-shipped lines: count critical-priority orders
    (1-URGENT/2-HIGH) vs the rest per flag — Q12's join + CASE-sum
    shape, one shuffle on the group key after an equi fact-fact join."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1996-12-31").cast("timestamp"),
        )
    )
    joined = li.join(o, li.l_orderkey == o.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(crit, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


Q12_SQL = """
SELECT l_returnflag,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END)::BIGINT AS low_line_count
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
  AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Q16 — supplier count by part attributes (NOT IN + count distinct)
# ---------------------------------------------------------------------------


def q16_parts_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 adapted: supplier↔part pairs come from ``lineitem``
    (distinct ``l_partkey, l_suppkey``) instead of ``partsupp``, and the
    "customer complaints" exclusion becomes suppliers with negative
    account balance (the corpus has no ``s_comment``).

    The NOT IN subquery compiles to a broadcast anti join (the excluded
    supplier list is tiny); ``countDistinct`` shuffles once on the
    3-column group key."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").startswith("PROMO"))
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 23)
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    )
    pairs = (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .join(bad_supp.select("s_suppkey"), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
    )
    return (
        pairs.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON ps.l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 23)
  AND ps.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# ---------------------------------------------------------------------------
# Q20 — potential part promotion (nested IN with correlated HAVING)
# ---------------------------------------------------------------------------


def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 adapted: suppliers (any nation — the fixture has only 4
    suppliers per nation) who moved more than 50 units of some
    'small%'-named part during 1996.  The reference quantity test
    (``ps_availqty > 0.5 * sum(qty)``) becomes a fixed threshold (50)
    since the corpus carries no stock table.

    Shape: IN (SELECT … GROUP BY … HAVING) nested over IN (SELECT
    partkey WHERE LIKE) — both decorrelate to semi joins; the part list
    broadcasts, the per-(supplier, part) aggregate shuffles once."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").startswith("small")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1996-12-31").cast("timestamp"),
        )
    )
    movers = (
        li.join(part.select("p_partkey"), li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier")
    return (
        supp.join(movers, supp.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", dround("s_acctbal", 2).alias("s_acctbal"))
        .orderBy("s_name")
    )


Q20_SQL = """
SELECT s_suppkey, s_name,
       CAST(round(CAST(s_acctbal AS DECIMAL(30,10)), 2) AS DOUBLE) AS s_acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
    AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
  GROUP BY l_suppkey, l_partkey
  HAVING sum(l_quantity) > 50
)
ORDER BY s_name
"""


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (EXISTS + NOT EXISTS per row)
# ---------------------------------------------------------------------------


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 adapted: "late" = shipped > 90 days after the order
    date (no receipt/commit dates in the corpus); no nation filter (the
    fixture has only 4 suppliers per nation).

    The hardest decorrelation shape in the suite: for each late
    lineitem of a finalized order, EXISTS another supplier's lineitem
    on the same order, and NOT EXISTS another supplier's lineitem that
    was ALSO late.  Both subqueries become one semi and one anti join
    against the same lineitem scan, keyed on ``l_orderkey`` — the
    o_orderdate needed by the correlated lateness predicate rides along
    from the first join, so no re-join with orders."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")

    l1 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("k3"),
        F.col("l_suppkey").alias("s3"),
        F.col("l_shipdate").alias("d3"),
    )
    waiting = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("k2"))
            & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("k3"))
            & (F.col("l_suppkey") != F.col("s3"))
            & (
                F.col("d3")
                > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
            ),
            "left_anti",
        )
    )
    return (
        waiting.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


Q21_SQL = """
SELECT s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


# ---------------------------------------------------------------------------
# Q22 — global sales opportunity (scalar subquery + anti join)
# ---------------------------------------------------------------------------


def q22_global_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 adapted: "country code" = ``c_nationkey`` (the corpus
    has no phone column); codes 0–6 stand in for the seven prefixes.
    Rich idle customers: balance above the mean positive balance of the
    code set, with no orders since 2000-01-01 (every fixture customer
    has SOME order, so "never ordered" would be empty — "gone idle"
    preserves the anti-join shape with a live result).

    The mean comparison cross-multiplies in exact decimal
    (``c_acctbal * n > total``) so no float division crosses engines;
    the NO-orders test is a broadcast-keyless anti join on
    ``o_custkey``; the scalar aggregate broadcasts."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey") <= 6
    )
    pos = cust.filter(F.col("c_acctbal") > 0.0)
    stats = pos.agg(
        dsum("c_acctbal").alias("total_bal"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return (
        cust.crossJoin(stats)
        .filter(
            F.col("c_acctbal").cast("decimal(30,10)") * F.col("n_pos")
            > F.col("total_bal")
        )
        .join(
            recent.select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum_round("c_acctbal", 2).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


Q22_SQL = f"""
WITH stats AS (
  SELECT {sql_sum('c_acctbal')} AS total_bal, count(*) AS n_pos
  FROM customer
  WHERE c_nationkey <= 6 AND c_acctbal > 0.0
)
SELECT c_nationkey AS cntrycode,
       count(*) AS numcust,
       {sql_sum_round('c_acctbal', 2)} AS totacctbal
FROM customer, stats
WHERE c_nationkey <= 6
  AND CAST(c_acctbal AS DECIMAL(30,10)) * n_pos > total_bal
  AND c_custkey NOT IN (
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '2000-01-01'
  )
GROUP BY c_nationkey
ORDER BY cntrycode
"""


QUERIES = {
    "q4_order_priority": q4_order_priority,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q7_volume_shipping": q7_volume_shipping,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q13_customer_distribution": q13_customer_distribution,
    "q14_promo_effect": q14_promo_effect,
    "q15_top_supplier": q15_top_supplier,
    "q17_small_qty_revenue": q17_small_qty_revenue,
    "q18_large_orders": q18_large_orders,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q11_important_parts": q11_important_parts,
    "q12_priority_shipping": q12_priority_shipping,
    "q16_parts_supplier_cnt": q16_parts_supplier_cnt,
    "q20_potential_promotion": q20_potential_promotion,
    "q21_waiting_suppliers": q21_waiting_suppliers,
    "q22_global_sales": q22_global_sales,
}

ORACLES = {
    "q4_order_priority": Q4_SQL,
    "q6_forecast_revenue": Q6_SQL,
    "q7_volume_shipping": Q7_SQL,
    "q8_market_share": Q8_SQL,
    "q9_product_profit": Q9_SQL,
    "q13_customer_distribution": Q13_SQL,
    "q14_promo_effect": Q14_SQL,
    "q15_top_supplier": Q15_SQL,
    "q17_small_qty_revenue": Q17_SQL,
    "q18_large_orders": Q18_SQL,
    "q19_disjunctive_revenue": Q19_SQL,
    "q2_min_cost_supplier": Q2_SQL,
    "q11_important_parts": Q11_SQL,
    "q12_priority_shipping": Q12_SQL,
    "q16_parts_supplier_cnt": Q16_SQL,
    "q20_potential_promotion": Q20_SQL,
    "q21_waiting_suppliers": Q21_SQL,
    "q22_global_sales": Q22_SQL,
}
