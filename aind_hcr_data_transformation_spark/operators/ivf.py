"""IVF (inverted-file) ANN: a REAL coarse quantizer — k-means trained as
Spark DataFrame iterations — replacing hash stand-ins (SURVEY §2.12;
the scale path the sign-LSH queries document: bucket count = k scales
with corpus size, k ≈ n / target_bucket_size).

Everything is engine-deterministic, so the WHOLE iterative algorithm is
differential-tested against DuckDB (the oracle unrolls the iterations as
chained CTEs):

* init: centroids = the first ``K`` vectors by ``vec_id`` (canonical
  deterministic seeding; production would use k-means‖ with a fixed
  seed).
* assign: squared-L2 distance via a LEFT-ASSOCIATED fold over double
  components — bit-identical IEEE sequences in both engines; ties break
  on cluster id (``row_number`` ordered by (dist, cluster)).
* update: per-dimension sums in exact DECIMAL(30,10) (partition-order
  immune — the float-sum nondeterminism that would otherwise break the
  oracle), then mean = CAST(sum AS DOUBLE) / n (same two deterministic
  operands → same double in both engines).

Scale notes (100 TB): each iteration is one broadcast join (k centroid
rows) + one hash aggregate on ``cluster`` — the canonical Spark k-means
shape (what MLlib does, minus its driver-side collect). Assignment
shuffles only (vec_id, cluster, dist)-sized rows; vectors themselves
shuffle once per update aggregate as 64 decimal partials with map-side
combine. The search is an equi-join on the cluster id: per-bucket
population is n/k and k grows with n.

Reference: the engine's north-star extension surface (BASELINE.json);
the reference repo has no ANN analog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import persist_tracked, shared
from ..functions.compat import dround
from ..session import interpreted_eval, local_frame
from ..functions.vectors import (
    EMB_DIM,
    arr_lit,
    dlit,
    spark_cosine_prenorm,
    spark_dot,
    sparksql_dot,
    sql_cosine,
)
from ..tables import load_table

_K = 8  # coarse-quantizer cells; scale rule: k ≈ n / target_bucket_size
_ITERS = 3  # fixed Lloyd iterations (deterministic, unrollable)
_N_QUERIES = 5
_TOP_K = 3
# Search probes the NPROBE nearest cells, not just the query's own:
# nprobe=1 sacrifices recall at cell boundaries (a neighbor just across
# the Voronoi face is invisible) — the standard IVF fix is multi-probe
# (r3 task 6).  Candidate volume is nprobe·n/k rows per query; recall
# vs brute force is pinned by tests/test_sim_recall.py.
_NPROBE = 2


def _assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast k rows, argmin by
    (score, cluster) — deterministic tie-break.

    ``score = c·c − 2·x·c`` orders identically to squared L2 per vector
    (the ``x·x`` term is constant within a vec_id partition) at half the
    expression size of the subtract-square fold — these 64-term folds
    are codegen-compile-bound, not data-bound, at fixture scale.  The
    oracle computes the same score with the same fold order.

    The argmin is a hash aggregate ``min(struct(score, cluster, …))``,
    NOT a rank-1 window: all k candidate rows for a vector are generated
    map-side from one input row (broadcast join), so partial aggregation
    collapses them before the exchange — the shuffle carries n rows
    instead of n·k and needs no sort.  (score, cluster) pairs are unique
    within a vector, so the struct min is exactly the window's
    (score, cluster) tie-break."""
    cents = centroids.select(
        "cluster",
        "cemb",
        spark_dot(F.col("cemb"), F.col("cemb")).alias("c2"),
    )
    pairs = emb.crossJoin(cents).select(
        "vec_id",
        "embedding",
        "cluster",
        (
            F.col("c2")
            - F.lit(2) * spark_dot(F.col("embedding"), F.col("cemb"))
        ).alias("score"),
    )
    return (
        pairs.groupBy("vec_id")
        .agg(F.min(F.struct("score", "cluster", "embedding")).alias("sc"))
        .select(
            "vec_id",
            F.col("sc.embedding").alias("embedding"),
            F.col("sc.cluster").alias("cluster"),
        )
    )


def _train_values(emb: DataFrame) -> list:
    """K-means codebook values after ``_ITERS`` Lloyd iterations —
    driver-iterated, exactly MLlib's KMeans loop shape: the k×dim
    centroid array lives on the DRIVER between iterations and each
    iteration is ONE distributed job (literal-inlined nearest-centroid
    assignment → per-(cluster, dim) exact decimal sums → collect the
    k×dim sums).  The round-6 DataFrame-chained form (broadcast join +
    argmin aggregate + array rebuild per iteration, persisted lineage)
    computed the identical values in ~3× the wall time at fixture scale
    because each iteration cost several jobs of pure orchestration.

    Bit-equivalence with the previous formulation (and with the
    unrolled-CTE oracle):

    * assignment score ``c·c − 2·x·c`` uses :func:`_cell_candidates` —
      the same left-fold order as ``_assign``'s ``spark_dot``, with the
      driver-held centroids inlined as double literals (Python floats
      ARE IEEE doubles; the ``c²`` Python fold mirrors ``spark_dot(c,
      c)`` term order);
    * the argmin is ``array_min`` over (score, cluster) structs — the
      same deterministic tie-break as ``min(struct(score, cluster,
      …))`` since (score, cluster) pairs are unique per vector;
    * the update sums each dimension as ``DECIMAL(30,10)`` exactly like
      ``_update`` (order-immune, so partial aggregation is free), and
      the driver computes ``mean = double(sum)/n`` — the same
      correctly-rounded decimal→double conversion and IEEE division
      Spark's ``s.cast("double")/n`` performs.

    Collect volume per iteration is k×dim (cluster, dim, sum, count)
    rows — codebook-sized by definition, independent of corpus rows:
    the legitimate MLlib-style driver collect at any scale."""
    # the corpus is re-scanned once per iteration — cache it so
    # iterations 2..N read materialized blocks instead of re-running the
    # scan (+ the spread exchange); released with the query's persists
    emb = persist_tracked(emb)
    init = emb.filter(F.col("vec_id") < _K).select("vec_id", "embedding").collect()
    values = sorted(
        (int(r["vec_id"]), [float(v) for v in r["embedding"]]) for r in init
    )
    # interpreted eval for the Lloyd collects (r13): each iteration's
    # literal-inlined assignment is a brand-new expression tree, so
    # codegen pays a fresh Janino compile per iteration for a job over
    # codebook-training data volumes — see session.interpreted_eval
    with interpreted_eval(emb.sparkSession):
        for _ in range(_ITERS):
            rows = (
                emb.select(
                    # two-step: a struct-field extraction cannot share a
                    # select with a generator (Spark resolves the
                    # generator first and loses the struct's field names)
                    F.array_min(_cell_candidates("embedding", values))[
                        "cluster"
                    ].alias("cluster"),
                    "embedding",
                )
                .select("cluster", F.posexplode("embedding").alias("dim", "v"))
                .select(
                    "cluster",
                    "dim",
                    F.col("v").cast("double").cast("decimal(30,10)").alias("v"),
                )
                .groupBy("cluster", "dim")
                .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            byc: dict[int, dict[int, float]] = {}
            for r in rows:
                byc.setdefault(int(r["cluster"]), {})[int(r["dim"])] = (
                    float(r["s"]) / r["n"]
                )
            values = sorted(
                (c, [dims[d] for d in range(len(dims))])
                for c, dims in byc.items()
            )
    return values


def _train(emb: DataFrame) -> DataFrame:
    """K-means codebook after ``_ITERS`` Lloyd iterations (DataFrame
    wrapper over :func:`_train_values` for the save/load/search API)."""
    values = _train_values(emb)
    return local_frame(emb.sparkSession, values, "cluster bigint, cemb array<double>")


def _train_codebook_values(spark: SparkSession, sf_dir: str) -> list:
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", "embedding"
    )
    return _train_values(emb)


def _trained_codebook_values(spark: SparkSession, sf_dir: str) -> list:
    """Collected (cluster, cemb) centroid values of the session's coarse
    quantizer — train once, search many times (``save_codebook``/
    ``load_codebook`` is the cross-job form): ``ivf_kmeans_ann`` and
    ``ivfpq_search`` share one Lloyd chain, and Python floats round-trip
    the IEEE doubles exactly, so every consumer gets bit-identical
    centroids."""
    return shared("ivf_codebook", spark, sf_dir, _train_codebook_values)


def _trained_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    values = _trained_codebook_values(spark, sf_dir)
    return local_frame(spark, values, "cluster bigint, cemb array<double>")


def ivf_kmeans_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN end-to-end: train the codebook, assign every vector to
    its cell, then answer the standard 5 queries with exact cosine top-3
    over the ``_NPROBE`` nearest cells per query (multi-probe — rank ≤
    nprobe in the same assignment window whose rank-1 is the cell
    assignment).

    The oracle replays the identical Lloyd iterations as unrolled SQL
    CTEs — a differential test of the full iterative algorithm, not just
    the final search."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select("vec_id", "embedding")
    return _search(emb, _trained_codebook(spark, sf_dir))


def save_codebook(codebook: DataFrame, path: str) -> None:
    """Persist a trained codebook as parquet — the IVF operational
    pattern is train ONCE on a sample, then reuse the codebook across
    many search jobs (and for assigning newly-ingested vectors) without
    re-running Lloyd iterations."""
    codebook.select("cluster", "cemb").write.mode("overwrite").parquet(path)


def load_codebook(spark: SparkSession, path: str) -> DataFrame:
    """Reload a :func:`save_codebook` parquet for :func:`_search` /
    :func:`_assign`."""
    return spark.read.parquet(path).select("cluster", "cemb")


def _codebook_values(codebook: DataFrame) -> list:
    """Collect a k-row codebook to driver values.  This is the
    broadcast-the-codebook move in its cheapest form: k is tiny by
    definition (a codebook, not data), and the collected doubles
    round-trip exactly, so downstream literal expressions score
    bit-identically to the broadcast-join formulation."""
    return [(r["cluster"], list(r["cemb"])) for r in codebook.collect()]


def _cell_candidates_sql(emb_sql: str, values) -> str:
    """Spark-SQL text of :func:`_cell_candidates` (see there).

    Shaped as ``transform(<codebook literal>, c -> score struct)`` rather
    than k inline copies of the fold: the codebook array-of-structs is
    wholly foldable, so ConstantFolding collapses it into ONE literal
    that codegen stores as a reference object — the generated source is
    then independent of the centroid VALUES and the compiled kernel is
    reused across Lloyd iterations (scalar literals would be inlined
    into the source, forcing a fresh whole-stage-codegen compile per
    iteration — measured ~1 s each)."""
    entries = []
    for cluster, cemb in values:
        c2 = 0.0
        for v in cemb:
            c2 = c2 + v * v  # same left fold as spark_dot(c, c)
        entries.append(
            f"named_struct('c2', {dlit(c2)}, "
            f"'cluster', CAST({int(cluster)} AS BIGINT), "
            f"'cemb', {arr_lit(cemb)})"
        )
    cb = "array(" + ", ".join(entries) + ")"
    dot = sparksql_dot(emb_sql, "c.cemb")
    return (
        f"transform({cb}, c -> named_struct("
        f"'score', c.c2 - 2.0D * {dot}, 'cluster', c.cluster))"
    )


def _cell_candidates(emb_sql: str, values) -> F.Column:
    """``array<struct<score,cluster>>`` of per-centroid scores with the
    codebook inlined as literals — the same ``c·c − 2·x·c`` formula and
    left-fold order as :func:`_assign`, but evaluated per ROW with no
    join and no aggregate: the cell assignment becomes a map-only
    expression inside whole-stage codegen (FAISS keeps the coarse
    codebook in L1 for exactly this reason).

    ``emb_sql`` is a SQL expression STRING (e.g. ``"embedding"`` or a
    ``slice(...)`` of it), not a Column: the whole candidate array is
    emitted as one SQL string and parsed with a single ``F.expr`` —
    the Column-API form cost one py4j round-trip per double literal
    (~1.5 s of pure DataFrame construction per 8×64 codebook, measured;
    the analyzed expression and every IEEE operation are identical —
    bit-equality is pinned in tests/test_sim_recall.py)."""
    return F.expr(_cell_candidates_sql(emb_sql, values))


def _probe_cells(values) -> F.Column:
    """Exploded probe list of ``embedding``: its ``_NPROBE`` nearest
    cells, ranked by the same (score, cluster) order as the cell
    assignment — ``array_sort`` on the struct is the windowless form."""
    return F.explode(
        F.slice(F.array_sort(_cell_candidates("embedding", values)), 1, _NPROBE)
    )


def _search(emb: DataFrame, codebook: DataFrame) -> DataFrame:
    """Multi-probe IVF search against a (possibly reloaded) codebook.

    The codebook's k rows are collected and inlined as literal
    expressions, so the corpus side is a single map-only projection
    (vec_id, embedding, cell, |x|²) — ZERO shuffles before the final
    per-query top-k window; the round-4 formulation paid a broadcast
    join plus an n-row argmin exchange for the same assignment."""
    values = _codebook_values(codebook)
    corpus = emb.select(
        "vec_id",
        "embedding",
        F.array_min(_cell_candidates("embedding", values))[
            "cluster"
        ].alias("cluster"),
        spark_dot(F.col("embedding"), F.col("embedding")).alias("n2"),
    )
    # query probe list: every corpus vector sits in exactly ONE cell and
    # probe cells are distinct, so no candidate dedup is needed downstream
    queries = (
        emb.filter(F.col("vec_id") < _N_QUERIES)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qe"),
            spark_dot(F.col("embedding"), F.col("embedding")).alias("qn2"),
            _probe_cells(values).alias("pc"),
        )
        .select("qid", "qe", "qn2", F.col("pc.cluster").alias("cluster"))
    )
    scored = (
        corpus.join(queries, "cluster")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.col("cluster"),
            dround(
                spark_cosine_prenorm(
                    spark_dot(F.col("qe"), F.col("embedding")),
                    F.col("qn2"),
                    F.col("n2"),
                ),
                6,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= _TOP_K
    )


# ---------------------------------------------------------------------------
# DuckDB oracle: the same iterations, unrolled as chained CTEs
# ---------------------------------------------------------------------------


def _sql_dot(a: str, b: str) -> str:
    """Left-assoc chain matching :func:`spark_dot`'s IEEE order."""
    return " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, EMB_DIM + 1)
    )


def _sql_score(e: str, c: str) -> str:
    """``c·c − 2·x·c`` — same value and fold order as :func:`_assign`."""
    return f"(({_sql_dot(c, c)}) - 2 * ({_sql_dot(e, c)}))"


def _sql_iteration(i: int, src: str = "embeddings") -> str:
    """assign against c{i-1}, update into c{i} (``src`` = the vector
    relation the Lloyd pass runs over — the raw table for IVF, the
    normalized mutant corpus for SemDeDup)."""
    sums = ", ".join(
        f"sum(CAST(CAST(embedding[{d + 1}] AS DOUBLE) AS DECIMAL(30,10))) AS s{d}"
        for d in range(EMB_DIM)
    )
    means = ", ".join(
        f"CAST(s{d} AS DOUBLE) / n" for d in range(EMB_DIM)
    )
    return f"""
a{i} AS (
  SELECT vec_id, embedding, cluster FROM (
    SELECT e.vec_id, e.embedding, c.cluster,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_score('e.embedding', 'c.cemb')}, c.cluster
           ) AS rn
    FROM {src} e CROSS JOIN c{i - 1} c
  ) WHERE rn = 1
),
c{i} AS (
  SELECT cluster, list_value({means}) AS cemb
  FROM (SELECT cluster, count(*) AS n, {sums} FROM a{i} GROUP BY cluster)
)"""


def _sql_train_ctes(src: str = "embeddings") -> str:
    """c0 (first-K init) + the unrolled Lloyd iterations over ``src``;
    final codebook CTE is ``c{_ITERS}``."""
    init_cemb = ", ".join(
        f"CAST(embedding[{i}] AS DOUBLE)" for i in range(1, EMB_DIM + 1)
    )
    iters = ",".join(_sql_iteration(i + 1, src) for i in range(_ITERS))
    return f"""c0 AS (
  SELECT vec_id AS cluster, list_value({init_cemb}) AS cemb
  FROM {src} WHERE vec_id < {_K}
),{iters}"""


def _build_oracle() -> str:
    final = _ITERS
    return f"""
WITH {_sql_train_ctes()},
assigned AS (
  SELECT vec_id, embedding, cluster FROM (
    SELECT e.vec_id, e.embedding, c.cluster,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_score('e.embedding', 'c.cemb')}, c.cluster
           ) AS rn
    FROM embeddings e CROSS JOIN c{final} c
  ) WHERE rn = 1
),
queries AS (
  SELECT vec_id AS qid, embedding AS qe, cluster FROM (
    SELECT e.vec_id, e.embedding, c.cluster,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_score('e.embedding', 'c.cemb')}, c.cluster
           ) AS rn
    FROM embeddings e CROSS JOIN c{final} c
    WHERE e.vec_id < {_N_QUERIES}
  ) WHERE rn <= {_NPROBE}
),
scored AS (
  SELECT q.qid, a.vec_id, a.cluster,
    CAST(round(CAST(({sql_cosine('q.qe', 'a.embedding')}) AS DECIMAL(30,10)), 6) AS DOUBLE) AS cos
  FROM assigned a JOIN queries q ON a.cluster = q.cluster AND a.vec_id <> q.qid
)
SELECT qid, vec_id, cluster, cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
WHERE rank <= {_TOP_K}
"""


IVF_ANN_SQL = _build_oracle()


# ---------------------------------------------------------------------------
# SemDeDup — semantic deduplication (Abbas et al. 2023, arXiv:2303.09540)
# ---------------------------------------------------------------------------

#: prune a vector when a smaller-id cluster-mate's cosine (on the rounded
#: value, so both engines threshold the same number) reaches this
_SEM_EPS = 0.98
_SEM_MUT_OFFSET = 1_000_000


def _sem_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ planted semantic duplicates: every 50th vector
    re-appears scaled ×1.1 (id + 1e6).  Uniform scaling preserves
    direction exactly, so after L2 normalization each planted pair is
    (numerically) identical — cosine 1.0, same k-means cell — giving the
    recall test an exact ground truth (unlike the single-component
    perturbation ``dedup_embedding_cosine`` plants, which only bounds
    cosine ≥ 0.98)."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", "embedding"
    )
    mutants = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + _SEM_MUT_OFFSET).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(1.1)).cast("float")
        ).alias("embedding"),
    )
    return emb.unionByName(mutants)


def _normalize(df: DataFrame) -> DataFrame:
    """L2-normalize (SemDeDup clusters on the unit sphere, where cosine
    = plain dot): per-component double division by the same
    left-associated norm fold on both engines — deterministic."""
    n = F.sqrt(spark_dot(F.col("embedding"), F.col("embedding")))
    return df.filter(n > 0).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double") / n).alias(
            "embedding"
        ),
    )


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: k-means-cluster the normalized corpus, then prune
    within-cluster semantic duplicates — the embedding-space analog of
    MinHash dedup, and the published recipe (SemDeDup, Abbas et al.
    2023) for shrinking web-scale training corpora with minimal quality
    loss.

    Output: one row per PRUNED vector — ``(vec_id, cluster, pruned_by,
    max_cos)`` where ``pruned_by`` is the smallest-id cluster-mate above
    the threshold (min-id keeper, the same convention as
    ``dedup_exact``) and ``max_cos`` the strongest qualifying cosine.

    Scale design (100 TB): the cluster assignment IS the blocking
    structure — k grows with n (k ≈ n / target_cluster_size), so
    within-cluster pair volume stays (n/k)² per cluster and the
    all-pairs join never materializes; the pair stage is an equi-join on
    ``cluster`` exactly like the LSH band join.  Train on a sample +
    ``save_codebook`` for the production train-once/prune-many split.
    The whole pipeline (normalize → 3 Lloyd iterations → assign →
    within-cluster prune) is differentially tested against DuckDB via
    unrolled CTEs — same fold orders, same decimal update sums, same
    rounded-cosine threshold."""
    # persist the normalized corpus: unlike the IVF path (whose input is
    # a raw parquet scan, cheap to re-read), this union+normalize lineage
    # would otherwise re-run for every Lloyd assign/update consumer —
    # 3 iterations × 2 consumers + the final assignment
    corpus = persist_tracked(_normalize(_sem_corpus(spark, sf_dir)))
    # train-once-per-session + literal-codebook assignment, exactly as
    # the IVF read path (see _trained_codebook_values / _cell_candidates);
    # its own key because it trains on the normalized mutant-augmented
    # corpus
    values = shared(
        "semdedup_codebook", spark, sf_dir, lambda s, d: _train_values(corpus)
    )
    assigned = persist_tracked(
        corpus.select(
            "vec_id",
            "embedding",
            F.array_min(_cell_candidates("embedding", values))[
                "cluster"
            ].alias("cluster"),
        )
    )
    a = assigned.select(
        F.col("vec_id").alias("a_id"), F.col("embedding").alias("aemb"), "cluster"
    )
    b = assigned.select("vec_id", F.col("embedding").alias("bemb"), "cluster")
    pairs = (
        a.join(b, "cluster")
        .filter(F.col("a_id") < F.col("vec_id"))
        .select(
            "vec_id",
            "cluster",
            "a_id",
            # normalized vectors: cosine IS the dot product
            dround(spark_dot(F.col("aemb"), F.col("bemb")), 6).alias("cos"),
        )
    )
    return (
        pairs.filter(F.col("cos") >= _SEM_EPS)
        .groupBy("vec_id", "cluster")
        .agg(
            F.min("a_id").alias("pruned_by"),
            F.max("cos").alias("max_cos"),
        )
    )


def _build_semdedup_oracle() -> str:
    mut_cemb = ", ".join(
        f"CAST(embedding[{i}] * 1.1 AS REAL)" for i in range(1, EMB_DIM + 1)
    )
    norm_cemb = ", ".join(
        f"CAST(embedding[{i}] AS DOUBLE) / nv" for i in range(1, EMB_DIM + 1)
    )
    final = _ITERS
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {_SEM_MUT_OFFSET} AS vec_id,
         list_value({mut_cemb}) AS embedding
  FROM embeddings WHERE vec_id % 50 = 0
),
normd AS (
  SELECT vec_id, list_value({norm_cemb}) AS embedding
  FROM (
    SELECT vec_id, embedding,
           sqrt({_sql_dot('embedding', 'embedding')}) AS nv
    FROM corpus
  ) WHERE nv > 0
),
{_sql_train_ctes('normd')},
assigned AS (
  SELECT vec_id, embedding, cluster FROM (
    SELECT e.vec_id, e.embedding, c.cluster,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_score('e.embedding', 'c.cemb')}, c.cluster
           ) AS rn
    FROM normd e CROSS JOIN c{final} c
  ) WHERE rn = 1
),
pairs AS (
  SELECT b.vec_id AS vec_id, b.cluster AS cluster, a.vec_id AS a_id,
         CAST(round(CAST(({_sql_dot('a.embedding', 'b.embedding')})
           AS DECIMAL(30,10)), 6) AS DOUBLE) AS cos
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
)
SELECT vec_id, cluster, min(a_id) AS pruned_by, max(cos) AS max_cos
FROM pairs WHERE cos >= {_SEM_EPS}
GROUP BY vec_id, cluster
"""


DEDUP_SEMANTIC_SQL = _build_semdedup_oracle()


QUERIES = {
    "ivf_kmeans_ann": ivf_kmeans_ann,
    "dedup_semantic": dedup_semantic,
}

ORACLES = {
    "ivf_kmeans_ann": IVF_ANN_SQL,
    "dedup_semantic": DEDUP_SEMANTIC_SQL,
}


# ---------------------------------------------------------------------------
# IVF-PQ: the composed production ANN index (coarse cells + ADC codes)
# ---------------------------------------------------------------------------


def ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full FAISS-style IVFADC read path (Jégou et al. 2011): the IVF
    coarse quantizer restricts each query to its ``_NPROBE`` nearest
    cells, and ranking inside those cells runs on 4-byte PQ codes via
    per-query lookup tables — vectors are touched only at train time.
    This composes the two trainers this module family already proves
    (:func:`_train` here, ``vectorops._pq_train_values``) into one index.

    Plan: the codebooks (``ivf_codebook``/``pq_codebook``), the encoded
    corpus (``ivfpq_index``: cell + four PQ codes per vector), each
    query's probe cells (``ivfpq_cells``) and the queries' ADC lookup
    tables (``pq_adc_lut``, shared with ``pq_adc_topk``) are built once
    per (session, input) through ``cache.shared``.  A call inlines cells
    and tables as one literal map cell -> [(qid, ADC of the row's
    codes)], so the read path is a map-only ``explode(element_at(map,
    cluster))`` over the index scan plus the per-query top-k window,
    its one exchange: no join, no broadcast, no embeddings scan.  At
    100 TB: cells shard the corpus (n/k vectors each), codes are 16×
    smaller than the embeddings, and the probe list bounds read volume
    per query — the reason this is THE production ANN layout.
    """
    from .vectorops import _adc_dec_sql, _adc_luts

    cells = shared("ivfpq_cells", spark, sf_dir, _collect_ivfpq_cells)
    if not cells:  # no query vectors, so no PQ codebook seeds either
        return load_table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("qid"),
            "vec_id",
            F.lit(1).alias("rank"),
            F.lit(0.0).alias("adc"),
        ).filter(F.lit(False))
    index = _ivfpq_index(spark, sf_dir)
    luts = _adc_luts(spark, sf_dir)  # same queries: _ADC_QUERIES == _N_QUERIES
    entries = ", ".join(
        f"CAST({cluster} AS BIGINT), array("
        + ", ".join(
            f"named_struct('qid', CAST({qid} AS BIGINT), "
            f"'adc_dec', {_adc_dec_sql(luts[qid])})"
            for qid in qids
        )
        + ")"
        for cluster, qids in sorted(cells.items())
    )
    # two-step select: struct-field extraction cannot share a select
    # with a generator; an unprobed cell maps to NULL, which explodes
    # to no rows
    scored = (
        index.select(
            "vec_id",
            F.expr(f"explode(element_at(map({entries}), cluster))").alias("s"),
        )
        .select(
            F.col("s.qid").alias("qid"),
            "vec_id",
            F.col("s.adc_dec").alias("adc_dec"),
        )
        .filter(F.col("vec_id") != F.col("qid"))
    )
    w = Window.partitionBy("qid").orderBy("adc_dec", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select(
            "qid",
            "vec_id",
            "rank",
            F.round("adc_dec", 6).cast("double").alias("adc"),
        )
    )


def _collect_ivfpq_cells(spark: SparkSession, sf_dir: str) -> dict:
    """{cluster: [qid, ...]}: the ``_NPROBE`` nearest cells of each query
    vector, inverted to cell -> the queries probing it (at most
    ``_N_QUERIES × _NPROBE`` pairs, collected once per session)."""
    # without the spread repartition the vec_id predicate pushes into
    # the parquet scan
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _N_QUERIES
    )
    probe = emb.select(
        F.col("vec_id").alias("qid"),
        _probe_cells(_trained_codebook_values(spark, sf_dir)).alias("pc"),
    )
    cells: dict[int, list[int]] = {}
    for qid, pc in sorted(probe.collect()):
        cells.setdefault(int(pc["cluster"]), []).append(int(qid))
    return cells


def _ivfpq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-PQ index: (vec_id, cluster, code0..code3), the corpus
    encoded against both session codebooks, shared per (session, input)
    under the ``cache.shared`` key ``ivfpq_index``.

    A ``localCheckpoint(eager=False)`` relation like ``pq_codes``: the
    first search's action encodes every vector once and leaves ~32 B per
    vector (a bigint id and five int codes) on the executors, never
    collected; later searches scan it instead of re-scanning the
    embeddings and re-analyzing the literal-inlined encoding
    expressions.  A changed input file rebuilds it."""
    return shared("ivfpq_index", spark, sf_dir, _build_ivfpq_index)


def _build_ivfpq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .vectorops import _PQ_M, _pq_centroids_by_m, _pq_sub_sql

    ivf_values = _trained_codebook_values(spark, sf_dir)
    by_m = _pq_centroids_by_m(spark, sf_dir)

    def _code_expr(m) -> F.Column:
        # same score formula and (score, cluster) argmin as the PQ
        # encoder (vectorops._pq_encode): c·c − 2·x·c over the m-th
        # sub-vector (one-F.expr SQL construction — see _cell_candidates)
        sub = _pq_sub_sql(m)
        cands = []
        for cluster, cemb in by_m[m]:
            c2 = 0.0
            for v in cemb:
                c2 = c2 + v * v
            dot = sparksql_dot(sub, arr_lit(cemb))
            cands.append(
                f"named_struct('score', {dlit(c2)} - 2.0D * {dot}, "
                f"'cluster', CAST({int(cluster)} AS INT))"
            )
        return F.expr(
            "array_min(array(" + ", ".join(cands) + "))"
        )["cluster"]

    emb = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", "embedding"
    )
    return emb.select(
        "vec_id",
        F.array_min(_cell_candidates("embedding", ivf_values))[
            "cluster"
        ].alias("cluster"),
        *[_code_expr(m).alias(f"code{m}") for m in range(_PQ_M)],
    ).localCheckpoint(eager=False)


def _build_ivfpq_oracle() -> str:
    from .vectorops import _PQ_ITERS, _PQ_M, _PQ_SUB, _pq_ctes, _sql_pq_err_off

    final = _ITERS
    pq_ctes = ",".join(_pq_ctes())
    lut_ctes = []
    for m in range(_PQ_M):
        off = m * _PQ_SUB
        lut_ctes.append(
            f"""lut{m} AS (
  SELECT q.qid, c.cluster,
         ({_sql_pq_err_off('q.embedding', 'c.cemb', off)}) AS d
  FROM ivq q CROSS JOIN pc{m}_{_PQ_ITERS} c
)"""
        )
    code_joins = " ".join(
        f"JOIN pf{m} f{m} ON f0.vec_id = f{m}.vec_id" for m in range(1, _PQ_M)
    )
    lut_joins = " ".join(
        f"JOIN lut{m} l{m} ON l{m}.qid = l0.qid AND l{m}.cluster = f{m}.code{m}"
        for m in range(1, _PQ_M)
    )
    adc = " + ".join(f"CAST(l{m}.d AS DECIMAL(30,10))" for m in range(_PQ_M))
    return f"""
WITH {_sql_train_ctes()},
{pq_ctes},
iassigned AS (
  SELECT vec_id, cluster FROM (
    SELECT e.vec_id, c.cluster,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_score('e.embedding', 'c.cemb')}, c.cluster
           ) AS rn
    FROM embeddings e CROSS JOIN c{final} c
  ) WHERE rn = 1
),
iprobe AS (
  SELECT qid, cluster FROM (
    SELECT e.vec_id AS qid, c.cluster,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_score('e.embedding', 'c.cemb')}, c.cluster
           ) AS rn
    FROM embeddings e CROSS JOIN c{final} c
    WHERE e.vec_id < {_N_QUERIES}
  ) WHERE rn <= {_NPROBE}
),
ivq AS (
  SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < {_N_QUERIES}
),
{','.join(lut_ctes)},
scored AS (
  SELECT p.qid, f0.vec_id, ({adc}) AS adc_dec
  FROM pf0 f0 {code_joins}
  JOIN iassigned ia ON ia.vec_id = f0.vec_id
  JOIN iprobe p ON p.cluster = ia.cluster
  JOIN lut0 l0 ON l0.qid = p.qid AND l0.cluster = f0.code0
  {lut_joins}
  WHERE f0.vec_id <> p.qid
)
SELECT qid, vec_id, rank, CAST(round(adc_dec, 6) AS DOUBLE) AS adc
FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc_dec, vec_id) AS rank
  FROM scored
)
WHERE rank <= {_TOP_K}
"""


IVFPQ_SQL = _build_ivfpq_oracle()

QUERIES["ivfpq_search"] = ivfpq_search
ORACLES["ivfpq_search"] = IVFPQ_SQL
