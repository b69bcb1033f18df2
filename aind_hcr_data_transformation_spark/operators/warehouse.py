"""Warehouse-analytics operators: association rules, entity resolution,
incremental view maintenance, and experiment statistics.

The reference (AllenNeuralDynamics/aind-hcr-data-transformation) has no
relational-analytics surface; these operators supply the classic
warehouse workloads a production deployment of this engine runs beside
the dedup / similarity / text layers, each expressed as one declarative
DataFrame plan with a DuckDB differential oracle.

Laziness note (r13 advisor): ``rec_item_cosine`` (like
``similarity.rag_mmr_rerank``) runs Spark jobs EAGERLY at
DataFrame-construction time — building the plan collects the model-sized
per-brand norm map. Every harness path (bench, oracle, driver) always
executes the frame it builds, so this costs nothing extra there; a
caller using the operator registry for plan-only inspection would
trigger those bounded jobs at construction.

Scale notes (100 TB):

* ``assoc_basket_rules`` — the pair-generation self-join is keyed on the
  basket id, so fan-out per basket is bounded by (items-per-basket)², a
  per-group constant (≤ |brands| here) — never corpus-quadratic. One
  shuffle builds baskets, one co-partitioned self-join emits pairs, one
  hash aggregate counts support. The support threshold derives from the
  basket count, so it scales with the corpus.
* ``entity_match_fuzzy`` — blocking IS the scale strategy (Christen
  2012): the Levenshtein verify only runs inside (brand, size) blocks
  that an equi-join co-locates, so cost is Σ block², not n². A skewed
  mega-block would get the same salting treatment as
  ``relational.join_salted_skew``.
* ``mv_incremental_refresh`` — the core invariant of incremental
  materialized-view maintenance: merge(agg(base), agg(delta)) ==
  agg(base ∪ delta) for the distributive aggregates (count, sum). The
  delta is aggregated alone (small), then full-outer-merged with the
  materialized base — the base is never rescanned at refresh time in
  production; here both sides derive from the same fixture scan and the
  ORACLE is the full recompute, so the merge identity itself is what the
  differential check proves.
* ``ab_welch_t`` — one pass, one map-side-combinable aggregate of exact
  decimal moments (n, Σx, Σx²); the t statistic folds on the driver row.
  Classic numerically-hazardous path (catastrophic cancellation in
  n·Σx² − (Σx)²) made bit-deterministic by exact decimal arithmetic up
  to the final double fold.

Cross-engine determinism: every mean/variance/ratio keeps its operands
in exact integer/decimal arithmetic until a single final double
division (IEEE-identical in both engines), then rounds through
``dround``'s decimal path — the module-wide convention documented in
``functions/compat.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import persist_tracked, shared
from ..functions.compat import dround, sql_round
from ..tables import load_table

# ---------------------------------------------------------------------------
# Market-basket association rules
# ---------------------------------------------------------------------------

# support threshold = n_baskets DIV this; derived from corpus size so the
# rule set stays proportional as the fixture scale factor changes
_MINSUP_DIV = 50


def _brand_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (order, brand) pairs — the basket item table."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .select("l_orderkey", F.col("p_brand").alias("brand"))
        .distinct()
    )


def shared_brand_baskets(spark: SparkSession, sf_dir: str):
    """(items, pair_counts, n_baskets), built once per session for
    `assoc_basket_rules` and `graph_triangle_count`."""
    return shared("brand_baskets", spark, sf_dir, _build_brand_baskets)


def _build_brand_baskets(spark: SparkSession, sf_dir: str):
    """The frames localCheckpoint-materialized, and the basket count
    collected.  ``items`` = distinct (l_orderkey, brand); ``pair_counts``
    = (brand_a < brand_b, co) basket co-occurrence counts from the
    basket-keyed self-join; ``n_baskets`` = countDistinct(l_orderkey)
    as a plain int — a 1-value collected aggregate (codebook-sized by
    any standard) that both consumers previously re-derived with their
    own distinct-aggregate shuffle and bounded-BNLJ crossJoin."""
    items = _brand_baskets(spark, sf_dir).localCheckpoint()
    a = items.select(
        F.col("l_orderkey").alias("ok"), F.col("brand").alias("brand_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("ok"), F.col("brand").alias("brand_b")
    )
    pairs = (
        a.join(b, "ok")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("co"))
        .localCheckpoint()
    )
    n_baskets = items.agg(
        F.countDistinct("l_orderkey").alias("n")
    ).collect()[0]["n"]
    return items, pairs, int(n_baskets)


def assoc_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over per-order brand baskets (Agrawal &
    Srikant 1994 shape): pair support, directional confidence, lift.

    Plan: one broadcast join attaches brands, one shuffle dedups the
    basket items, the pair self-join runs co-partitioned on the basket
    key (fan-out ≤ items-per-basket², never corpus-quadratic), one hash
    aggregate counts support — with the basket frame, the pair counts,
    AND the collected basket total session-shared with
    ``graph_triangle_count`` via :func:`shared_brand_baskets`
    (whichever runs first pays the build).  Brand marginals are a tiny
    broadcast aggregate; minsup derives from the shared basket count,
    inlined as a literal.

    All counts stay BIGINT; confidence/lift are single final double
    divisions of exact integers (IEEE-identical cross-engine), then
    ``dround``.
    """
    # session-shared basket + pair frames (localCheckpoint — see
    # shared_brand_baskets; graph_triangle_count reads the same ones)
    items, co, n_baskets = shared_brand_baskets(spark, sf_dir)
    marg = items.groupBy("brand").agg(F.count(F.lit(1)).alias("n_brand"))

    out = (
        co.filter(F.col("co") >= F.lit(n_baskets // _MINSUP_DIV))
        .join(
            # bounded: one row per brand
            F.broadcast(marg.select(F.col("brand").alias("brand_a"), F.col("n_brand").alias("na"))),
            "brand_a",
        )
        .join(
            # bounded: one row per brand
            F.broadcast(marg.select(F.col("brand").alias("brand_b"), F.col("n_brand").alias("nb"))),
            "brand_b",
        )
    )
    return out.select(
        "brand_a",
        "brand_b",
        "co",
        dround(F.col("co").cast("double") / F.col("na"), 6).alias("conf_a_to_b"),
        dround(F.col("co").cast("double") / F.col("nb"), 6).alias("conf_b_to_a"),
        dround(
            (F.col("co") * F.lit(n_baskets)).cast("double")
            / (F.col("na") * F.col("nb")),
            6,
        ).alias("lift"),
    )


ASSOC_BASKET_RULES_SQL = f"""
WITH items AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
co AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS co
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.brand < b.brand
  GROUP BY 1, 2
),
marg AS (SELECT brand, count(*) AS n_brand FROM items GROUP BY 1),
tot AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM items)
SELECT
  c.brand_a,
  c.brand_b,
  c.co,
  {sql_round("CAST(c.co AS DOUBLE) / ma.n_brand", 6)} AS conf_a_to_b,
  {sql_round("CAST(c.co AS DOUBLE) / mb.n_brand", 6)} AS conf_b_to_a,
  {sql_round("CAST(c.co * t.n_baskets AS DOUBLE) / (ma.n_brand * mb.n_brand)", 6)} AS lift
FROM co c
CROSS JOIN tot t
JOIN marg ma ON ma.brand = c.brand_a
JOIN marg mb ON mb.brand = c.brand_b
WHERE c.co >= t.n_baskets // {_MINSUP_DIV}
"""

# ---------------------------------------------------------------------------
# Blocked fuzzy entity matching
# ---------------------------------------------------------------------------

_LEV_MAX = 5


def entity_match_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution candidate pairs: (brand, size) blocking, then a
    Levenshtein verify on ``p_type`` within each block.

    The equi-join on the block key co-locates comparisons, so the
    quadratic edit-distance verify is confined to Σ block² pairs —
    blocking-then-verify, the standard scale shape for record linkage.
    ``levenshtein`` is the built-in JVM expression in Spark and the
    matching built-in in DuckDB (identical unit-cost edit distance).
    """
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size", "p_type"
    )
    a = p.select(
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("size"),
        F.col("p_partkey").alias("part_a"),
        F.col("p_type").alias("type_a"),
    )
    b = p.select(
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("size"),
        F.col("p_partkey").alias("part_b"),
        F.col("p_type").alias("type_b"),
    )
    return (
        a.join(b, ["brand", "size"])
        .filter(F.col("part_a") < F.col("part_b"))
        .withColumn("dist", F.levenshtein("type_a", "type_b"))
        .filter(F.col("dist") <= _LEV_MAX)
        .select("brand", "size", "part_a", "part_b", "dist")
    )


ENTITY_MATCH_FUZZY_SQL = f"""
SELECT a.p_brand AS brand,
       a.p_size AS size,
       a.p_partkey AS part_a,
       b.p_partkey AS part_b,
       levenshtein(a.p_type, b.p_type) AS dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_type, b.p_type) <= {_LEV_MAX}
"""

# ---------------------------------------------------------------------------
# Incremental materialized-view refresh
# ---------------------------------------------------------------------------

_MV_CUTOFF = "2024-01-20 00:00:00"


def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental refresh of a per-(user, event_type) rollup: the
    materialized base (events before the cutoff) merges with the freshly
    aggregated delta (events at/after it) via a full-outer coalesce —
    the distributive-aggregate merge identity. The ORACLE is the full
    recompute over all events, so the differential check proves
    merge(agg(base), agg(delta)) == agg(all) exactly.

    In production the base side is the stored MV (never rescanned); the
    refresh cost is agg(delta) + a merge join on the MV's key — this
    plan, minus the fixture's shared scan.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", F.col("value").cast("decimal(18,2)").alias("v")
    )
    cutoff = F.lit(_MV_CUTOFF).cast("timestamp")

    # NULL-SAFE merge key: GROUP BY makes one group per NULL key, but a
    # plain equi-join treats NULL != NULL, so a NULL-key rollup row in
    # base would never meet its delta twin and the refreshed MV would
    # carry duplicate groups (r8 NULL-injection probe caught exactly
    # this: 100 vs 90 rows with NULL event_type). Grouping and joining
    # on ONE struct key gives null-safe matching (struct equality
    # treats NULL fields as equal, like GROUP BY) AND lets the join
    # reuse the aggregates' hash partitioning — eqNullSafe key pairs
    # would re-shuffle both rollups (measured census 2 -> 4 exchanges).
    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.struct("user_id", "event_type").alias("k")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
        )

    base = rollup(ev.filter(F.col("ts") < cutoff)).select(
        "k", F.col("n").alias("n_b"), F.col("s").alias("s_b")
    )
    delta = rollup(ev.filter(F.col("ts") >= cutoff)).select(
        "k", F.col("n").alias("n_d"), F.col("s").alias("s_d")
    )
    merged = base.join(delta, "k", "full_outer")
    zero = F.lit(0).cast("decimal(18,2)")
    return merged.select(
        F.col("k.user_id").alias("user_id"),
        F.col("k.event_type").alias("event_type"),
        (F.coalesce("n_b", F.lit(0)) + F.coalesce("n_d", F.lit(0))).alias("n_events"),
        F.round(
            F.coalesce(F.col("s_b"), zero) + F.coalesce(F.col("s_d"), zero), 2
        )
        .cast("double")
        .alias("sum_value"),
    )


MV_INCREMENTAL_REFRESH_SQL = """
SELECT user_id,
       event_type,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# Welch's t-test (A/B experiment readout)
# ---------------------------------------------------------------------------


def ab_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between the ``click`` and
    ``view`` event-value populations: one conditional aggregate of exact
    decimal moments (n, Σx, Σx² per arm — the fixture's values carry
    exactly 2 decimals, so DECIMAL(18,2) is lossless), then the t
    statistic and Welch–Satterthwaite df fold from those six numbers.

    The hazardous n·Σx² − (Σx)² cancellation happens in exact decimal;
    only the final scalar folds (means, variances, t, df) run in double,
    where both engines execute identical IEEE operations.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    # integer cents: value carries exactly 2 decimals (asserted by
    # tests/test_fixture_encodings.py), so round(value*100) is lossless
    x = F.round(F.col("value") * 100).cast("bigint")
    is_a = F.col("event_type") == "click"
    m = ev.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(is_a, x)).alias("s1"),
        F.sum(F.when(is_a, x * x)).alias("q1"),
        F.sum(F.when(~is_a, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(~is_a, x)).alias("s2"),
        F.sum(F.when(~is_a, x * x)).alias("q2"),
    )

    # n·Σx² − (Σx)² in DECIMAL(38,0) (the DuckDB twin uses HUGEINT):
    # exact 128-bit integers, so the cancellation costs nothing; one
    # double conversion of an exact integer, then pure IEEE scalar folds
    def _d(c):
        return c.cast("decimal(38,0)")

    v1 = (_d(F.col("n1")) * _d(F.col("q1")) - _d(F.col("s1")) * _d(F.col("s1"))).cast(
        "double"
    ) / (F.lit(10000.0) * F.col("n1") * (F.col("n1") - 1))
    v2 = (_d(F.col("n2")) * _d(F.col("q2")) - _d(F.col("s2")) * _d(F.col("s2"))).cast(
        "double"
    ) / (F.lit(10000.0) * F.col("n2") * (F.col("n2") - 1))
    m1 = F.col("s1").cast("double") / (F.lit(100.0) * F.col("n1"))
    m2 = F.col("s2").cast("double") / (F.lit(100.0) * F.col("n2"))
    se1 = v1 / F.col("n1")
    se2 = v2 / F.col("n2")
    t = (m1 - m2) / F.sqrt(se1 + se2)
    df = (se1 + se2) * (se1 + se2) / (
        se1 * se1 / (F.col("n1") - 1) + se2 * se2 / (F.col("n2") - 1)
    )
    return m.select(
        F.col("n1").cast("bigint").alias("n_click"),
        F.col("n2").cast("bigint").alias("n_view"),
        dround(m1, 4).alias("mean_click"),
        dround(m2, 4).alias("mean_view"),
        dround(t, 6).alias("t_stat"),
        dround(df, 4).alias("welch_df"),
    )


AB_WELCH_T_SQL = f"""
WITH c AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS x
  FROM events
  WHERE event_type IN ('click', 'view')
),
m AS (
  SELECT
    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n1,
    sum(CASE WHEN event_type = 'click' THEN x END) AS s1,
    sum(CASE WHEN event_type = 'click' THEN x * x END) AS q1,
    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n2,
    sum(CASE WHEN event_type = 'view' THEN x END) AS s2,
    sum(CASE WHEN event_type = 'view' THEN x * x END) AS q2
  FROM c
),
f AS (
  SELECT n1, n2,
         CAST(s1 AS DOUBLE) / (100.0 * n1) AS m1,
         CAST(s2 AS DOUBLE) / (100.0 * n2) AS m2,
         CAST(CAST(n1 AS HUGEINT) * q1 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
           / (10000.0 * n1 * (n1 - 1)) / n1 AS se1,
         CAST(CAST(n2 AS HUGEINT) * q2 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE)
           / (10000.0 * n2 * (n2 - 1)) / n2 AS se2
  FROM m
)
SELECT
  CAST(n1 AS BIGINT) AS n_click,
  CAST(n2 AS BIGINT) AS n_view,
  {sql_round("m1", 4)} AS mean_click,
  {sql_round("m2", 4)} AS mean_view,
  {sql_round("(m1 - m2) / sqrt(se1 + se2)", 6)} AS t_stat,
  {sql_round("(se1 + se2) * (se1 + se2) / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1))", 4)} AS welch_df
FROM f
"""


QUERIES = {
    "assoc_basket_rules": assoc_basket_rules,
    "entity_match_fuzzy": entity_match_fuzzy,
    "mv_incremental_refresh": mv_incremental_refresh,
    "ab_welch_t": ab_welch_t,
}

ORACLES = {
    "assoc_basket_rules": ASSOC_BASKET_RULES_SQL,
    "entity_match_fuzzy": ENTITY_MATCH_FUZZY_SQL,
    "mv_incremental_refresh": MV_INCREMENTAL_REFRESH_SQL,
    "ab_welch_t": AB_WELCH_T_SQL,
}


# ---------------------------------------------------------------------------
# Item-item collaborative filtering (cosine over the interaction matrix)
# ---------------------------------------------------------------------------

_REC_MIN_COS = 0.5

#: per-user interaction cap for pair generation (r13, VERDICT r12 task
#: 4): keep each customer's top-N items by interaction strength. The
#: quadratic pair fan-out is driven by prolific users — at sf0.1 the
#: median customer already touches 20 of the 25 brands (~190 pairs) and
#: saturates toward 25 (~300) as data grows, which is exactly the
#: superlinear shuffle curve SCALE_PROBE_SF1 flagged (26x bytes at 10x
#: data). Capping at 20 bounds every customer at 190 pairs regardless
#: of corpus size, turning pair volume linear in customers — measured:
#: sf0.1→sf1 shuffle growth 26.4x → 10.2x ("linear") — while the
#: recall floor test pins fidelity (0.99 of uncapped threshold pairs
#: survive at sf0.01; weak interactions carry little cosine mass; a
#: tighter cap of 15 measured the same 10.2x growth but only 0.49
#: recall — the extra shuffle reduction was not there to buy).
#: Deterministic tie-break (cnt DESC, brand ASC) keeps both engines
#: byte-identical.
_REC_USER_ITEM_CAP = 20


def rec_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering similarity (Sarwar et al. 2001):
    cosine between brand columns of the customer×brand purchase-count
    matrix, computed sparsely — dot products come from a self-join on the
    CUSTOMER key (the inverted index of the matrix), never from
    materializing item vectors.

    Per-customer pair fan-out is bounded by ``_REC_USER_ITEM_CAP``: each
    customer contributes only their top-N strongest interactions to
    pair generation — the standard prolific-user guard in co-occurrence
    mining (the same hot-key treatment ``dedup.ngram_jaccard`` applies
    via its df cap), and the fix for the saturation-driven superlinear
    pair growth the sf1 scale probe measured. Cosine is exact over the
    capped matrix (norms and dots from the same capped interactions).

    Determinism: counts are integers, the cap's tie-break is total
    (cnt DESC, brand ASC), dots and squared norms accumulate as exact
    DECIMAL(38,0) (HUGEINT in DuckDB); cosine is one double division of
    sqrt-folded exact integers, then ``dround``.
    """
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    raw = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("o_custkey").alias("cust"), F.col("p_brand").alias("brand"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rn = F.row_number().over(
        Window.partitionBy("cust").orderBy(F.desc("cnt"), F.asc("brand"))
    )
    inter = persist_tracked(
        raw.withColumn("rn", rn)
        .filter(F.col("rn") <= _REC_USER_ITEM_CAP)
        .drop("rn")
    )
    # Collect the per-brand norm denominators ONCE and inline them as a
    # map literal (the KMV/ADC-LUT pattern, #11/#10): |brand| is a
    # model-sized constant (~25), yet the join form computed the same
    # groupBy("brand") aggregate TWICE — one Exchange + BroadcastExchange
    # per side of the dots relation.  The sqrt(CAST(sq AS DOUBLE)) fold
    # runs IN SPARK at collect time, so every IEEE step (exact decimal
    # sum → double cast → sqrt) produces the op-for-op same value the
    # broadcast joins fed the cosine; the collect also materializes the
    # cache (it replaces the old eager count()).
    norm_rows = (
        inter.groupBy("brand")
        .agg(
            F.sqrt(
                F.sum(
                    F.col("cnt").cast("decimal(38,0)") * F.col("cnt")
                ).cast("double")
            ).alias("sn")
        )
        .collect()
    )
    # typed: with no interactions the empty literal would be map<void,void>
    norm_map = F.create_map(
        *[x for r in norm_rows for x in (F.lit(r["brand"]), F.lit(r["sn"]))]
    ).cast("map<string,double>")
    a = inter.select("cust", F.col("brand").alias("brand_a"), F.col("cnt").alias("ca"))
    b = inter.select("cust", F.col("brand").alias("brand_b"), F.col("cnt").alias("cb"))
    dots = (
        a.join(b, "cust")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(
            F.sum(F.col("ca").cast("decimal(38,0)") * F.col("cb")).alias("dot")
        )
    )
    cos = F.col("dot").cast("double") / (
        norm_map[F.col("brand_a")] * norm_map[F.col("brand_b")]
    )
    return (
        dots.select(
            "brand_a", "brand_b", dround(cos, 6).alias("cosine")
        )
        .filter(F.col("cosine") >= _REC_MIN_COS)
    )


REC_ITEM_COSINE_SQL = f"""
WITH inter_raw AS (
  SELECT o.o_custkey AS cust, p.p_brand AS brand, count(*) AS cnt
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p   ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
inter AS (
  SELECT cust, brand, cnt FROM (
    SELECT cust, brand, cnt,
           row_number() OVER (
             PARTITION BY cust ORDER BY cnt DESC, brand ASC
           ) AS rn
    FROM inter_raw
  ) WHERE rn <= {_REC_USER_ITEM_CAP}
),
norms AS (
  SELECT brand, sum(CAST(cnt AS HUGEINT) * cnt) AS sq FROM inter GROUP BY 1
),
dots AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b,
         sum(CAST(a.cnt AS HUGEINT) * b.cnt) AS dot
  FROM inter a JOIN inter b
    ON a.cust = b.cust AND a.brand < b.brand
  GROUP BY 1, 2
)
SELECT brand_a, brand_b, cosine FROM (
  SELECT d.brand_a, d.brand_b,
         {sql_round("CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.sq AS DOUBLE)) * sqrt(CAST(nb.sq AS DOUBLE)))", 6)} AS cosine
  FROM dots d
  JOIN norms na ON na.brand = d.brand_a
  JOIN norms nb ON nb.brand = d.brand_b
)
WHERE cosine >= {_REC_MIN_COS}
"""

# ---------------------------------------------------------------------------
# Exact equi-width histogram
# ---------------------------------------------------------------------------

_HIST_K = 20


def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of ``events.value`` in {_HIST_K} buckets —
    the profiling primitive behind every "distribution looks wrong"
    debug session, computed EXACTLY: values become integer cents, the
    bucket index is pure integer arithmetic on the (min, max) range (a
    two-row broadcast), so the edge cases float binning gets wrong
    (values landing exactly on a boundary, the max value) are
    deterministic and identical in both engines.

    Plan: one aggregate for the range (broadcast), one projection, one
    hash aggregate — two passes over the column, no sort.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("bigint").alias("c")
    )
    rng = ev.agg(F.min("c").alias("lo_c"), F.max("c").alias("hi_c"))
    # bucket index in PURE integer arithmetic (DIV, not /): float binning
    # disagrees between engines exactly at bucket boundaries
    binned = (
        ev.crossJoin(rng)
        .select(
            F.expr(
                f"(c - lo_c) * {_HIST_K} DIV (hi_c - lo_c + 1)"
            ).alias("bucket"),
            "lo_c",
            "hi_c",
        )
        .groupBy("bucket", "lo_c", "hi_c")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return binned.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        dround(
            (
                F.col("lo_c")
                + (F.col("bucket") * (F.col("hi_c") - F.col("lo_c") + 1))
                / F.lit(float(_HIST_K))
            )
            / F.lit(100.0),
            4,
        ).alias("bucket_lo"),
        F.col("n"),
    )


AGG_HISTOGRAM_SQL = f"""
WITH c AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS c FROM events
),
rng AS (SELECT min(c) AS lo_c, max(c) AS hi_c FROM c)
SELECT
  CAST((c.c - r.lo_c) * {_HIST_K} // (r.hi_c - r.lo_c + 1) AS BIGINT) AS bucket,
  {sql_round(f"(r.lo_c + (((c.c - r.lo_c) * {_HIST_K} // (r.hi_c - r.lo_c + 1)) * (r.hi_c - r.lo_c + 1)) / {float(_HIST_K)}) / 100.0", 4)} AS bucket_lo,
  count(*) AS n
FROM c CROSS JOIN rng r
GROUP BY 1, 2
"""


QUERIES["rec_item_cosine"] = rec_item_cosine
QUERIES["agg_histogram"] = agg_histogram
ORACLES["rec_item_cosine"] = REC_ITEM_COSINE_SQL
ORACLES["agg_histogram"] = AGG_HISTOGRAM_SQL


# ---------------------------------------------------------------------------
# Pearson correlation matrix (exact-moment single pass)
# ---------------------------------------------------------------------------

# (name, SQL expression producing an integer fixed-point value at 1e4)
_CORR_COLS = [
    ("quantity", "CAST(l_quantity * 10000 AS BIGINT)"),
    ("price", "CAST(l_extendedprice * 10000 AS BIGINT)"),
    ("discount", "CAST(l_discount * 10000 AS BIGINT)"),
]


def stats_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation across lineitem measures, long-form
    (col_x, col_y, corr) for the 3 unordered pairs.

    Built-in ``corr()`` is a float aggregate whose merge order differs
    between engines (and between partition counts), so instead ONE
    map-side-combinable hash aggregate collects exact integer moments
    (n, Σx, Σx², Σxy on 1e4 fixed-point values — the ``ab_welch_t``
    convention), and the classic formula
    (nΣxy − ΣxΣy) / (√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²)) folds on the single
    moment row: the two sqrts and the division are each IEEE-correctly-
    rounded doubles of exact decimals, so both engines emit identical
    bits before the final round. Single pass, no shuffle beyond the
    1-row aggregate, any column count — the plan a 100 TB feature-
    profiling job wants.
    """
    li = load_table(spark, sf_dir, "lineitem")
    vals = li.select(
        *[F.expr(expr).alias(nm) for nm, expr in _CORR_COLS]
    )
    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("n")]
    for nm, _ in _CORR_COLS:
        aggs.append(F.sum(F.col(nm).cast("decimal(38,0)")).alias(f"s_{nm}"))
    for i, (a, _) in enumerate(_CORR_COLS):
        for b, _b in _CORR_COLS[i:]:
            aggs.append(
                F.sum(
                    (F.col(a).cast("decimal(19,0)") * F.col(b)).cast(
                        "decimal(38,0)"
                    )
                ).alias(f"s_{a}_{b}")
            )
    m = vals.agg(*aggs)

    # ONE select over the single moment row, the pairs unpacked by a
    # 3-element explode: the previous per-pair ``m.select`` + unionAll
    # duplicated the whole moment-aggregate subtree per pair (3 scans,
    # 3 aggregates, 3 exchanges for identical values — Spark does not
    # share subtrees across union branches). Same corr expressions over
    # the same aggregate values.
    pair_structs = []
    for i, (a, _) in enumerate(_CORR_COLS):
        for b, _b in _CORR_COLS[i + 1 :]:
            cov = (F.col("n") * F.col(f"s_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")).cast("double")
            var_a = (F.col("n") * F.col(f"s_{a}_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")).cast("double")
            var_b = (F.col("n") * F.col(f"s_{b}_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")).cast("double")
            pair_structs.append(
                F.struct(
                    F.lit(a).alias("col_x"),
                    F.lit(b).alias("col_y"),
                    dround(cov / (F.sqrt(var_a) * F.sqrt(var_b)), 6).alias(
                        "corr"
                    ),
                )
            )
    return m.select(F.explode(F.array(*pair_structs)).alias("p")).select(
        "p.col_x", "p.col_y", "p.corr"
    )


def _corr_matrix_sql() -> str:
    sums = ", ".join(
        ["count(*) AS n"]
        + [f"sum(CAST({expr} AS HUGEINT)) AS s_{nm}" for nm, expr in _CORR_COLS]
        + [
            f"sum(CAST({ea} AS HUGEINT) * CAST({eb} AS HUGEINT)) AS s_{a}_{b}"
            for i, (a, ea) in enumerate(_CORR_COLS)
            for b, eb in [(x, y) for x, y in _CORR_COLS[i:]]
        ]
    )
    selects = []
    for i, (a, _) in enumerate(_CORR_COLS):
        for b, _b in _CORR_COLS[i + 1 :]:
            cov = f"CAST(n * s_{a}_{b} - s_{a} * s_{b} AS DOUBLE)"
            va = f"CAST(n * s_{a}_{a} - s_{a} * s_{a} AS DOUBLE)"
            vb = f"CAST(n * s_{b}_{b} - s_{b} * s_{b} AS DOUBLE)"
            selects.append(
                f"SELECT '{a}' AS col_x, '{b}' AS col_y, "
                f"{sql_round(f'{cov} / (sqrt({va}) * sqrt({vb}))', 6)} AS corr "
                "FROM m"
            )
    body = "\nUNION ALL\n".join(selects)
    return f"WITH m AS (SELECT {sums} FROM lineitem)\n{body}"


STATS_CORR_MATRIX_SQL = _corr_matrix_sql()

QUERIES["stats_corr_matrix"] = stats_corr_matrix
ORACLES["stats_corr_matrix"] = STATS_CORR_MATRIX_SQL


# ---------------------------------------------------------------------------
# Data-quality verification suite (Deequ-style constraint checks)
# ---------------------------------------------------------------------------


def dq_verification_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality verification — the Deequ / dbt-test /
    Great-Expectations stage every production warehouse runs before
    publishing a table: each constraint computes ONE metric over the
    data and compares it to its expectation, and the suite returns one
    row per check with the metric and pass/fail. Checks span the five
    canonical families: completeness (null fraction), uniqueness
    (pk distinctness), referential integrity (FK anti-join violations),
    range conformance, and accepted-values conformance.

    Scale shape: every metric is a single aggregate over one scan
    (map-side combined; the two scans here — lineitem and orders — are
    shared across their checks via one pass each), and the FK check is
    a broadcast anti-join against the distinct key set, never a
    row-level cross-check. Metrics are exact counts and count-ratios
    (dround'd once at the end), so pass/fail can never flap between
    engines.

    Reference analog: the reference's only validation is the pydantic
    settings gate and the slice-bounds assert (``utils.py:208-228``,
    SURVEY S7); this is the same fail-loud contract applied to DATA
    instead of config.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")

    li_m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("l_shipdate").isNull(), 1).otherwise(0)).alias(
            "ship_nulls"
        ),
        F.sum(
            F.when(
                (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 50), 0
            ).otherwise(1)
        ).alias("qty_oob"),
        F.sum(
            F.when(F.col("l_discount").between(0.0, 0.1), 0).otherwise(1)
        ).alias("disc_oob"),
    )
    o_m = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("o_orderkey").alias("pk_distinct"),
        F.sum(
            F.when(F.col("o_orderstatus").isin("F", "O", "P"), 0).otherwise(1)
        ).alias("status_bad"),
    )
    fk_viol = (
        li.select("l_orderkey")
        .join(
            o.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("viol"))
    )

    def row(name, metric, passed):
        return F.struct(
            F.lit(name).alias("check"),
            metric.cast("double").alias("metric"),
            passed.alias("passed"),
        )

    li_checks = li_m.select(
        F.explode(
            F.array(
                row(
                    "completeness:lineitem.l_shipdate",
                    dround(
                        (F.col("n") - F.col("ship_nulls"))
                        / F.col("n").cast("double"),
                        6,
                    ),
                    F.col("ship_nulls") == 0,
                ),
                row(
                    "range:lineitem.l_quantity[1,50]",
                    F.col("qty_oob"),
                    F.col("qty_oob") == 0,
                ),
                row(
                    "range:lineitem.l_discount[0,0.1]",
                    F.col("disc_oob"),
                    F.col("disc_oob") == 0,
                ),
            )
        ).alias("c")
    )
    o_checks = o_m.select(
        F.explode(
            F.array(
                row(
                    "uniqueness:orders.o_orderkey",
                    dround(
                        F.col("pk_distinct") / F.col("n").cast("double"), 6
                    ),
                    F.col("pk_distinct") == F.col("n"),
                ),
                row(
                    "accepted_values:orders.o_orderstatus{F,O,P}",
                    F.col("status_bad"),
                    F.col("status_bad") == 0,
                ),
            )
        ).alias("c")
    )
    fk_checks = fk_viol.select(
        F.explode(
            F.array(
                row(
                    "referential:lineitem.l_orderkey->orders.o_orderkey",
                    F.col("viol"),
                    F.col("viol") == 0,
                )
            )
        ).alias("c")
    )
    return (
        li_checks.unionByName(o_checks)
        .unionByName(fk_checks)
        .select("c.check", "c.metric", "c.passed")
    )


DQ_VERIFICATION_SQL = """
WITH li_m AS (
  SELECT count(*) AS n,
         sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS ship_nulls,
         sum(CASE WHEN l_quantity >= 1 AND l_quantity <= 50
                  THEN 0 ELSE 1 END) AS qty_oob,
         sum(CASE WHEN l_discount BETWEEN 0.0 AND 0.1
                  THEN 0 ELSE 1 END) AS disc_oob
  FROM lineitem
),
o_m AS (
  SELECT count(*) AS n,
         count(DISTINCT o_orderkey) AS pk_distinct,
         sum(CASE WHEN o_orderstatus IN ('F','O','P')
                  THEN 0 ELSE 1 END) AS status_bad
  FROM orders
),
fk AS (
  SELECT count(*) AS viol
  FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT 'completeness:lineitem.l_shipdate' AS "check",
       CAST(round(CAST((CAST(n - ship_nulls AS DOUBLE) / n)
            AS DECIMAL(30,10)), 6) AS DOUBLE) AS metric,
       ship_nulls = 0 AS passed
FROM li_m
UNION ALL
SELECT 'range:lineitem.l_quantity[1,50]', CAST(qty_oob AS DOUBLE),
       qty_oob = 0 FROM li_m
UNION ALL
SELECT 'range:lineitem.l_discount[0,0.1]', CAST(disc_oob AS DOUBLE),
       disc_oob = 0 FROM li_m
UNION ALL
SELECT 'uniqueness:orders.o_orderkey',
       CAST(round(CAST((CAST(pk_distinct AS DOUBLE) / n)
            AS DECIMAL(30,10)), 6) AS DOUBLE),
       pk_distinct = n FROM o_m
UNION ALL
SELECT 'accepted_values:orders.o_orderstatus{F,O,P}',
       CAST(status_bad AS DOUBLE), status_bad = 0 FROM o_m
UNION ALL
SELECT 'referential:lineitem.l_orderkey->orders.o_orderkey',
       CAST(viol AS DOUBLE), viol = 0 FROM fk
"""

QUERIES["dq_verification_suite"] = dq_verification_suite
ORACLES["dq_verification_suite"] = DQ_VERIFICATION_SQL
