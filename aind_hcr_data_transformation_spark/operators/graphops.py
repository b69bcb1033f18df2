"""Iterative graph analytics on Spark DataFrames.

The reference has no graph surface; this module supplies the iterative
sparse-matvec pattern (PageRank) the same way ``dedup.py`` supplies
connected components — each iteration is a join + aggregate declared
through the DataFrame API so Catalyst plans every step, with the rank
vector broadcast (it is |V|-sized, tiny next to the edge list).

Cross-engine determinism: PageRank is a fixed point of FLOAT arithmetic,
and float summation order differs between engines — so ranks are kept in
exact fixed-point integers (scale 1e9): transition probabilities are
floor-divided integers, contributions are exact decimal sums of int×int
products, and the damping update is an integer floor-division. Both
engines then compute bit-identical BIGINT ranks; the deliberate price is
≤1 unit-in-the-last-place of floor-rounding drift per edge per iteration
(≈1e-9 of rank mass), which leaks to nowhere — it is simply dropped,
identically, by both engines.

Scale (100 TB): the edge-building join/aggregate is the heavy stage
(lineitem⋈orders⋈customer⋈supplier → 625-row edge list); the iterations
themselves touch only |E| aggregated edges. For a billion-node graph the
same plan holds with the rank vector shuffling instead of broadcasting —
the iteration is still one equi-join + one hash aggregate per step, and
lineage is truncated per round the way ``dedup.connected_components``
documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import persist_tracked, shared
from ..tables import load_table

_SCALE = 1_000_000_000  # fixed-point 1e9: ranks sum to ~_SCALE
_DAMP_NUM, _DAMP_DEN = 85, 100  # damping 0.85 as an exact rational
_ITERS = 3

# Session-scoped nation trade graph (r13, guide §2.3/§5).  All three
# Pregel-family queries (PageRank, BFS, LPA) aggregate the SAME
# lineitem⋈orders⋈customer⋈supplier → (src_nation, dst_nation, count)
# edge list before iterating; the aggregate is bounded by |nation|² =
# 625 rows at EVERY scale factor (the nation table is a fixed 25-row
# TPC-H dimension), so it is model-sized driver state in exactly the
# class of the PQ codebook / ADC LUT collects — the distributed stage
# is the O(|lineitem|) aggregation, which runs once per session and is
# shared.  The fixed-point iterations over the collected 625-row
# matrix run in the driver in exact integer arithmetic (bit-identical
# to the former DataFrame loop — every operation below documents the
# expression it replicates); a billion-NODE graph would keep the
# vector iteration distributed, but a 25-node vector costs more to
# schedule than to compute.
def _nation_trade_graph(
    spark: SparkSession, sf_dir: str
) -> tuple[list, list]:
    """((nationkey, name) rows, (src, dst, w) rows) — the weighted
    nation-level trade edge list, UNFILTERED (self-loops included;
    consumers drop them as needed), collected once per session."""
    return shared("nation_trade_graph", spark, sf_dir, _collect_trade_graph)


def _collect_trade_graph(spark: SparkSession, sf_dir: str):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    nations = [(r[0], r[1]) for r in n.collect()]
    edge_rows = [(r[0], r[1], r[2]) for r in edges.collect()]
    return nations, edge_rows


def _inline_by_nation(values: dict, cast_to: str):
    """CASE chain mapping ``n_nationkey`` → literal result (≤25 arms)."""
    expr = F.lit(None)
    for node, v in sorted(values.items()):
        expr = F.when(F.col("n_nationkey") == node, F.lit(v)).otherwise(
            expr
        )
    return expr.cast(cast_to)


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation-level trade graph.

    Nodes are nations; a directed edge src→dst carries the number of
    lineitems a customer in ``src`` bought from a supplier in ``dst``.
    3 damped iterations (d=0.85) from a uniform start, in exact
    fixed-point (see module docstring). Returns (nation, rank_e9) with
    rank_e9 = round-down(rank × 1e9).

    The edge aggregation is the distributed stage (session-shared —
    see ``_nation_trade_graph``); the damped iteration runs in the
    driver over the collected 625-row transition matrix in the same
    exact fixed-point integer arithmetic the former DataFrame loop
    declared, so the ranks are bit-identical.
    """
    nations, edge_rows = _nation_trade_graph(spark, sf_dir)
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    # floor((w * SCALE) / out_w): CAST(w AS DECIMAL) * SCALE DIV out_w
    # on positive ints is python //
    outs: dict = {}
    for src, _dst, w in edge_rows:
        outs[src] = outs.get(src, 0) + w
    ep = [
        (src, dst, (w * _SCALE) // outs[src]) for src, dst, w in edge_rows
    ]
    n_nodes = len(nations)  # 25 at every TPC-H SF; derived, not assumed
    if not n_nodes:  # no node to rank: the oracle's empty result
        return n.select(
            F.col("n_name").alias("nation"),
            F.lit(None).cast("long").alias("rank_e9"),
        )
    base = (15 * _SCALE) // (100 * n_nodes)  # (1-d)/N in fixed-point
    r = {node: _SCALE // n_nodes for node, _name in nations}
    for _ in range(_ITERS):
        s_acc: dict = {}
        for src, dst, p in ep:
            s_acc[dst] = s_acc.get(dst, 0) + r[src] * p
        # base + (s * 85) DIV (100 * SCALE); missing contrib → base
        r = {
            node: base
            + (s_acc.get(node, 0) * _DAMP_NUM) // (_DAMP_DEN * _SCALE)
            for node, _name in nations
        }
    return n.select(
        F.col("n_name").alias("nation"),
        _inline_by_nation(r, "long").alias("rank_e9"),
    )


def _pagerank_sql() -> str:
    scale = _SCALE
    base = (
        f"(CAST(15 AS BIGINT) * {scale}) // (100 * (SELECT count(*) FROM nation))"
    )
    sql = f"""
WITH edges AS (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey  = c.c_custkey
  JOIN supplier s ON l.l_suppkey  = s.s_suppkey
  GROUP BY 1, 2
),
outs AS (SELECT src, sum(w) AS out_w FROM edges GROUP BY 1),
ep AS (
  SELECT e.src, e.dst,
         CAST((CAST(e.w AS HUGEINT) * {scale}) // o.out_w AS BIGINT) AS p
  FROM edges e JOIN outs o ON e.src = o.src
),
r0 AS (
  SELECT n_nationkey AS node,
         CAST({scale} // (SELECT count(*) FROM nation) AS BIGINT) AS r
  FROM nation
)"""
    prev = "r0"
    for i in range(1, _ITERS + 1):
        sql += f""",
c{i} AS (
  SELECT ep.dst AS node, sum(CAST({prev}.r AS HUGEINT) * ep.p) AS s
  FROM ep JOIN {prev} ON ep.src = {prev}.node
  GROUP BY 1
),
r{i} AS (
  SELECT n.n_nationkey AS node,
         CAST({base} + COALESCE((c{i}.s * {_DAMP_NUM}) //
              {_DAMP_DEN * _SCALE}, 0) AS BIGINT) AS r
  FROM nation n LEFT JOIN c{i} ON n.n_nationkey = c{i}.node
)"""
        prev = f"r{i}"
    sql += f"""
SELECT n.n_name AS nation, {prev}.r AS rank_e9
FROM nation n JOIN {prev} ON n.n_nationkey = {prev}.node
"""
    return sql


GRAPH_PAGERANK_SQL = _pagerank_sql()


# ---------------------------------------------------------------------------
# Triangle counting (degree-ordered compact-forward)
# ---------------------------------------------------------------------------

# an edge exists where two brands co-occur in at least n_baskets/this orders
_TRI_SUP_DIV = 50


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the brand co-purchase graph, enumerated by the
    degree-ordered compact-forward algorithm (Latapy 2008 / Schank &
    Wagner 2005) — THE scale shape for triangle counting.

    Undirected edges connect brands co-occurring in ≥ n_orders/50 orders
    (support derived from corpus size). Each edge is then ORIENTED from
    its lower (degree, id) endpoint to its higher one; wedges are built
    only from a common SOURCE's outgoing pairs, and a wedge closes iff
    the oriented edge (v→w) exists. Orienting by degree bounds every
    node's out-degree by O(√m), so wedge fan-out is O(m^1.5) total
    regardless of degree skew — a star node that would generate deg²
    wedges under naive enumeration generates none, because a hub sorts
    LAST in (degree, id) order and keeps no out-edges. Both the Spark
    plan and the oracle use row-value (deg, id) comparisons, so the two
    engines orient identically.

    Plan: basket build (one shuffle) → pair aggregate — both
    session-shared with ``assoc_basket_rules`` via
    ``warehouse.shared_brand_baskets`` (localCheckpoint, built once) —
    → degree aggregate (tiny, broadcast) → oriented edge list → wedge
    self-join on source → closure equi-join on (v, w). All joins equi;
    no cartesian anywhere.
    """
    # session-shared basket + co-occurrence frames (localCheckpoint —
    # warehouse.shared_brand_baskets; assoc_basket_rules reads the same
    # ones, so the basket build and pair self-join run once per session)
    from .warehouse import shared_brand_baskets

    items, co_pairs, n_baskets = shared_brand_baskets(spark, sf_dir)
    pairs = co_pairs.select(
        F.col("brand_a").alias("u"), F.col("brand_b").alias("v"), "co"
    )
    edges = persist_tracked(
        pairs.filter(F.col("co") >= F.lit(n_baskets // _TRI_SUP_DIV)).select(
            "u", "v"
        )
    )
    edges.count()  # materialize: consumed by deg (twice) and orientation

    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # bounded: one row per brand node (vocabulary-sized degree table)
    du = F.broadcast(deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u")))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    # orient each undirected edge from lower (deg, id) to higher (deg, id);
    # keep the destination's degree so wedge endpoints rank by the same key
    lower_first = F.struct(F.col("deg_u"), F.col("u")) < F.struct(
        F.col("deg_v"), F.col("v")
    )
    oriented = persist_tracked(
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("d"),
            F.when(lower_first, F.col("deg_v"))
            .otherwise(F.col("deg_u"))
            .alias("deg_d"),
        )
    )
    oriented.count()  # consumed by e1, e2, and the closure probe

    e1 = oriented.select(
        F.col("s").alias("u"), F.col("d").alias("v"), F.col("deg_d").alias("kv")
    )
    e2 = oriented.select(
        F.col("s").alias("u"), F.col("d").alias("w"), F.col("deg_d").alias("kw")
    )
    # order u's two out-neighbors by the SAME (deg, id) key the edges are
    # oriented by — the closing oriented edge, if it exists, is exactly
    # v→w, so closure is ONE equi join (no OR-condition nested loop)
    wedges = e1.join(e2, "u").filter(
        F.struct(F.col("kv"), F.col("v")) < F.struct(F.col("kw"), F.col("w"))
    )
    closure = oriented.select(F.col("s").alias("v"), F.col("d").alias("w"))
    tri = wedges.join(closure, ["v", "w"])
    trip = F.array_sort(F.array("u", "v", "w"))
    return tri.select(
        trip.getItem(0).alias("b1"),
        trip.getItem(1).alias("b2"),
        trip.getItem(2).alias("b3"),
    )


GRAPH_TRIANGLE_COUNT_SQL = f"""
WITH items AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
pairs AS (
  SELECT a.brand AS u, b.brand AS v, count(*) AS co
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.brand < b.brand
  GROUP BY 1, 2
),
edges AS (
  SELECT u, v FROM pairs
  WHERE co >= (SELECT count(DISTINCT l_orderkey) FROM items) // {_TRI_SUP_DIV}
),
deg AS (
  SELECT node, count(*) AS deg FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
  ) GROUP BY 1
),
oriented AS (
  SELECT CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v END AS s,
         CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u END AS d,
         CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN dv.deg ELSE du.deg END AS deg_d
  FROM edges e
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v
),
wedges AS (
  SELECT e1.s AS u, e1.d AS v, e2.d AS w
  FROM oriented e1 JOIN oriented e2
    ON e1.s = e2.s AND (e1.deg_d, e1.d) < (e2.deg_d, e2.d)
)
SELECT
  list_sort([wd.u, wd.v, wd.w])[1] AS b1,
  list_sort([wd.u, wd.v, wd.w])[2] AS b2,
  list_sort([wd.u, wd.v, wd.w])[3] AS b3
FROM wedges wd JOIN oriented c
  ON wd.v = c.s AND wd.w = c.d
"""


QUERIES = {
    "graph_pagerank": graph_pagerank,
    "graph_triangle_count": graph_triangle_count,
}

ORACLES = {
    "graph_pagerank": GRAPH_PAGERANK_SQL,
    "graph_triangle_count": GRAPH_TRIANGLE_COUNT_SQL,
}


# ---------------------------------------------------------------------------
# BFS shortest hops (iterative frontier relaxation)
# ---------------------------------------------------------------------------

_BFS_ITERS = 3


def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest hop count from the hub nation (max total outgoing
    weight — data-derived, so every scale factor has a seed with live
    edges) over the *above-mean* trade graph: keep only edges whose
    lineitem weight is >= the mean edge weight, then run ``_BFS_ITERS``
    rounds of frontier
    relaxation — dist'(v) = min(dist(v), min over edges u->v of
    dist(u)+1) — the min-plus twin of ``graph_pagerank``'s sum-times
    iteration. Unreached nations report hops = -1.

    The edge aggregation is the distributed stage (session-shared —
    see ``_nation_trade_graph``); the min-plus relaxation runs in the
    driver over the collected 625-row edge list in the same exact
    integer arithmetic the former per-round join + min-aggregate
    declared, so the distances are bit-identical. All arithmetic
    integer, so both engines agree exactly.
    """
    nations, edge_rows = _nation_trade_graph(spark, sf_dir)
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    # drop self-loops — the former per-query aggregate's src != dst
    weights = [(s, d, w) for s, d, w in edge_rows if s != d]
    # sum(w) / count(*): long/long → one IEEE double division, and
    # w >= mw compares w cast to double — replicated exactly (ints
    # < 2^53 convert exactly)
    mw = float(sum(w for _s, _d, w in weights)) / max(len(weights), 1)
    edges = [(s, d) for s, d, w in weights if float(w) >= mw]
    # min_by(src, struct(-out_w, src)): max total out-weight, ties →
    # smallest src; with no edges between nations (a truncated slice)
    # there is no seed and every nation is unreached, as the oracle's
    # NULL seed leaves it
    outs: dict = {}
    for s, _d, w in weights:
        outs[s] = outs.get(s, 0) + w
    seed = min(outs.items(), key=lambda kv: (-kv[1], kv[0]), default=(None, 0))[0]
    # frontier relaxation: d'(v) = min(d(v), min over u→v of d(u)+1)
    dist = {} if seed is None else {seed: 0}
    for _ in range(_BFS_ITERS):
        nxt = dict(dist)
        for u, v in edges:
            if u in dist:
                cand = dist[u] + 1
                if v not in nxt or cand < nxt[v]:
                    nxt[v] = cand
        dist = nxt
    hops = {node: dist.get(node, -1) for node, _name in nations}
    return n.select(
        F.col("n_name").alias("nation"),
        _inline_by_nation(hops, "int").alias("hops"),
    )


def _bfs_sql() -> str:
    # every CTE referenced more than once is MATERIALIZED: DuckDB
    # re-inlines plain CTEs per consumer (weights feeds the mean, the
    # seed, and the edge filter; each d_i feeds the next round twice),
    # which overran the oracle harness's memory budget at sf0.1 — the
    # same fix DEDUP_COMPONENTS_SQL documents
    sql = f"""
WITH weights AS MATERIALIZED (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey  = c.c_custkey
  JOIN supplier s ON l.l_suppkey  = s.s_suppkey
  GROUP BY 1, 2
  HAVING c.c_nationkey <> s.s_nationkey
),
edges AS MATERIALIZED (
  SELECT src, dst FROM weights
  WHERE w >= (SELECT sum(w) / count(*) FROM weights)
),
seed AS (
  SELECT src AS seed FROM weights
  GROUP BY src ORDER BY sum(w) DESC, src LIMIT 1
),
d0 AS (
  SELECT n_nationkey AS node,
         CASE WHEN n_nationkey = (SELECT seed FROM seed) THEN 0 END AS d
  FROM nation
)"""
    prev = "d0"
    for i in range(1, _BFS_ITERS + 1):
        sql += f""",
d{i} AS MATERIALIZED (
  SELECT node, min(d) AS d FROM (
    SELECT node, d FROM {prev}
    UNION ALL
    SELECT e.dst AS node, {prev}.d + 1 AS d
    FROM edges e JOIN {prev} ON e.src = {prev}.node AND {prev}.d IS NOT NULL
  ) GROUP BY node
)"""
        prev = f"d{i}"
    sql += f"""
SELECT n.n_name AS nation, COALESCE({prev}.d, -1) AS hops
FROM nation n JOIN {prev} ON n.n_nationkey = {prev}.node
"""
    return sql


GRAPH_BFS_HOPS_SQL = _bfs_sql()

QUERIES["graph_bfs_hops"] = graph_bfs_hops
ORACLES["graph_bfs_hops"] = GRAPH_BFS_HOPS_SQL


# ---------------------------------------------------------------------------
# Label propagation communities (synchronous LPA)
# ---------------------------------------------------------------------------

_LPA_ITERS = 2


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) over the undirected nation trade graph: every node
    starts labeled with itself; each round it adopts the label carrying
    the highest total edge weight among its neighbors (ties → smallest
    label), ``_LPA_ITERS`` synchronous rounds. The modularity-free,
    O(|E|)-per-round community algorithm production graph stacks run
    first — and the third member of this module's Pregel family
    (sum-times = PageRank, min-plus = BFS, argmax-mode = LPA).

    The edge aggregation is the distributed stage (session-shared —
    see ``_nation_trade_graph``); the synchronous rounds run in the
    driver over the collected 625-row symmetrized edge list with the
    same ``max(struct(sw, -lab))`` argmax tie-break the former
    DataFrame loop declared. All weights are bigint counts, so both
    engines agree exactly.
    """
    nations, edge_rows = _nation_trade_graph(spark, sf_dir)
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    # drop self-loops, then symmetrize: sum(w) over both directions
    und: dict = {}
    for s, d, w in edge_rows:
        if s != d:
            und[(s, d)] = und.get((s, d), 0) + w
            und[(d, s)] = und.get((d, s), 0) + w
    labels = {node: node for node, _name in nations}
    for _ in range(_LPA_ITERS):
        # tally: sum of edge weight per (dst, neighbor label);
        # winner: max(struct(sw, -lab)) — max weight, ties → smallest
        # label; nodes with no tally keep their label
        tally: dict = {}
        for (s, d), w in und.items():
            k = (d, labels[s])
            tally[k] = tally.get(k, 0) + w
        best: dict = {}
        for (node, lab), sw in tally.items():
            cur = best.get(node)
            if cur is None or (sw, -lab) > (cur[0], -cur[1]):
                best[node] = (sw, lab)
        labels = {
            node: best[node][1] if node in best else lab
            for node, lab in labels.items()
        }
    return n.select(
        F.col("n_name").alias("nation"),
        _inline_by_nation(labels, "int").alias("community"),
    )


def _lpa_sql() -> str:
    sql = """
WITH weights AS MATERIALIZED (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey  = c.c_custkey
  JOIN supplier s ON l.l_suppkey  = s.s_suppkey
  GROUP BY 1, 2
  HAVING c.c_nationkey <> s.s_nationkey
),
und AS MATERIALIZED (
  SELECT src, dst, sum(w) AS w FROM (
    SELECT src, dst, w FROM weights
    UNION ALL
    SELECT dst AS src, src AS dst, w FROM weights
  ) GROUP BY 1, 2
),
l0 AS (SELECT n_nationkey AS node, n_nationkey AS lab FROM nation)"""
    prev = "l0"
    for i in range(1, _LPA_ITERS + 1):
        sql += f""",
l{i} AS MATERIALIZED (
  SELECT p.node, COALESCE(w.nlab, p.lab) AS lab
  FROM {prev} p LEFT JOIN (
    SELECT dst AS node, lab AS nlab FROM (
      SELECT dst, lab,
             row_number() OVER (PARTITION BY dst ORDER BY sw DESC, lab) AS rn
      FROM (
        SELECT u.dst, l.lab, sum(u.w) AS sw
        FROM und u JOIN {prev} l ON u.src = l.node
        GROUP BY 1, 2
      )
    ) WHERE rn = 1
  ) w ON p.node = w.node
)"""
        prev = f"l{i}"
    sql += f"""
SELECT n.n_name AS nation, {prev}.lab AS community
FROM nation n JOIN {prev} ON n.n_nationkey = {prev}.node
"""
    return sql


GRAPH_LPA_SQL = _lpa_sql()

QUERIES["graph_label_propagation"] = graph_label_propagation
ORACLES["graph_label_propagation"] = GRAPH_LPA_SQL
