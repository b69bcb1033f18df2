"""Embedding-vector transform operators: L2 normalization, int8
quantization, exact per-label centroids.

The storage/bandwidth layer of an embedding pipeline (normalize before
cosine retrieval, quantize for 4× smaller indexes, centroids for
cluster assignment/monitoring).  All JVM-side higher-order array
functions (``transform``/``aggregate``/``zip_with``) inside whole-stage
codegen — no Python UDF.

Determinism rules (see ``functions/vectors`` and the oracle notes):
float folds are explicit left-associated chains on both engines;
row-wise reductions that cross partition boundaries (centroid sums) go
through exact DECIMAL accumulation (``compat.dsum``) because float
groupBy sums are partition-order-dependent; every float output routes
through ``dround``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import persist_tracked, shared
from ..functions.compat import dround, dsum, sql_round
from ..session import interpreted_eval, local_frame
from ..functions.vectors import (
    EMB_DIM,
    arr_lit,
    dlit,
    spark_dot,
    sparksql_dot,
    sparksql_sq_l2,
)
from ..tables import load_table


def _l2_norm(vec) -> F.Column:
    """sqrt of the left-folded sum of squares, in double."""
    return F.sqrt(
        F.aggregate(
            vec,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def _sql_sumsq(col: str) -> str:
    return " + ".join(
        f"CAST({col}[{i}] AS DOUBLE) * CAST({col}[{i}] AS DOUBLE)"
        for i in range(1, EMB_DIM + 1)
    )


def embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization audit: per-vector norm plus the sum of the
    normalized components (an order-pinned scalar digest of the whole
    normalized vector — any component drift moves it).

    Per-row, embarrassingly parallel; the fold and the division happen
    in the same IEEE sequence on both engines, so the digests are
    bit-exact pre-rounding."""
    emb = load_table(spark, sf_dir, "embeddings")
    norm = _l2_norm(F.col("embedding"))
    # the intermediate is named raw_norm, NOT l2_norm: a select list that
    # both aliases `dround(..) AS l2_norm` and references `l2_norm` in a
    # later item hits Spark 4's lateral-column-alias resolution and the
    # later reference silently binds to the ROUNDED value
    comp_sum = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double") / F.col("raw_norm"),
    )
    # No trailing orderBy (guide §2.4): the range sampling re-executes
    # the 64-dim fold projection; ordering is cosmetic to the oracle.
    return emb.select("vec_id", "embedding", norm.alias("raw_norm")).select(
        "vec_id",
        dround("raw_norm", 6).alias("l2_norm"),
        dround(comp_sum, 6).alias("unit_comp_sum"),
    )


_SQL_COMP_SUM = " + ".join(
    f"CAST(embedding[{i}] AS DOUBLE) / l2_norm" for i in range(1, EMB_DIM + 1)
)

EMBED_NORMALIZE_SQL = f"""
WITH normed AS (
  SELECT vec_id, embedding, sqrt({_sql_sumsq('embedding')}) AS l2_norm
  FROM embeddings
)
SELECT vec_id,
       {sql_round('l2_norm', 6)} AS l2_norm,
       {sql_round(f'({_SQL_COMP_SUM})', 6)} AS unit_comp_sum
FROM normed
ORDER BY vec_id
"""


def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|x|/127``,
    ``q_i = round(x_i/scale)`` — the standard 4×-compression step for
    embedding indexes.  Output pins the exact quantized codes
    (md5 over the comma-joined integers — integer-exact cross-engine),
    the code range, and the L2 reconstruction error.

    Rounding double→int goes through the DECIMAL HALF_UP route on both
    engines (``compat.dround`` semantics) — plain float ``round()``
    disagrees between them on ties."""
    emb = load_table(spark, sf_dir, "embeddings")
    maxabs = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, v: F.greatest(acc, F.abs(v.cast("double"))),
    )
    # raw_scale, not scale: see embed_normalize's lateral-alias note
    withscale = emb.select(
        "vec_id", "embedding", (maxabs / F.lit(127.0)).alias("raw_scale")
    )
    q = F.transform(
        F.col("embedding"),
        lambda v: F.round(
            (v.cast("double") / F.col("raw_scale")).cast("decimal(30,10)"), 0
        ).cast("int"),
    )
    quantized = withscale.select(
        "vec_id", "embedding", "raw_scale", q.alias("q")
    )
    err = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("q"),
            lambda x, qi: (
                x.cast("double") - qi.cast("double") * F.col("raw_scale")
            )
            * (x.cast("double") - qi.cast("double") * F.col("raw_scale")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return quantized.select(
        "vec_id",
        dround("raw_scale", 8).alias("scale"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
        F.md5(F.array_join(F.transform("q", lambda v: v.cast("string")), ","))
        .alias("codes_md5"),
        dround(F.sqrt(err), 8).alias("recon_err"),
    )


_SQL_MAXABS = "greatest(" + ", ".join(
    f"abs(CAST(embedding[{i}] AS DOUBLE))" for i in range(1, EMB_DIM + 1)
) + ")"
_SQL_Q = (
    "[CAST(round(CAST(CAST(x AS DOUBLE) / scale AS DECIMAL(30,10)), 0) AS INTEGER)"
    " for x in embedding]"
)
_SQL_RECON = " + ".join(
    f"(CAST(embedding[{i}] AS DOUBLE) - CAST(q[{i}] AS DOUBLE) * scale)"
    f" * (CAST(embedding[{i}] AS DOUBLE) - CAST(q[{i}] AS DOUBLE) * scale)"
    for i in range(1, EMB_DIM + 1)
)

EMBED_QUANTIZE_SQL = f"""
WITH scaled AS (
  SELECT vec_id, embedding, {_SQL_MAXABS} / 127.0 AS scale
  FROM embeddings
),
quantized AS (
  SELECT vec_id, embedding, scale, {_SQL_Q} AS q
  FROM scaled
)
SELECT vec_id,
       {sql_round('scale', 8)} AS scale,
       CAST(list_min(q) AS INTEGER) AS q_min,
       CAST(list_max(q) AS INTEGER) AS q_max,
       md5(array_to_string([CAST(x AS VARCHAR) for x in q], ',')) AS codes_md5,
       {sql_round(f'sqrt({_SQL_RECON})', 8)} AS recon_err
FROM quantized
ORDER BY vec_id
"""


def embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-label centroids — the cluster-statistics pass of an
    embedding pipeline (drift monitoring, IVF codebook refresh).

    Row-wise float sums are partition-order-dependent, so each
    component's sum goes through exact DECIMAL accumulation
    (``compat.dsum``): ``posexplode`` the vectors, aggregate
    (label, dim) cells, divide by the label count — bit-reproducible on
    any cluster layout.  One shuffle of (label, dim, value) triples,
    map-side combinable; at 100 TB the (label × dim) state is tiny."""
    emb = load_table(spark, sf_dir, "embeddings")
    cells = emb.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    )
    return cells.groupBy("label", "dim").agg(
        dround(
            dsum(F.col("v").cast("double")) / F.count(F.lit(1)), 6
        ).alias("centroid"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


EMBED_CENTROIDS_SQL = f"""
SELECT label, dim,
       {sql_round('CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(30,10))) AS DOUBLE) / count(*)', 6)}
         AS centroid,
       count(*) AS n_vectors
FROM (
  SELECT label, unnest(embedding) AS v,
         unnest(range(0, {EMB_DIM})) AS dim
  FROM embeddings
)
GROUP BY label, dim
ORDER BY label, dim
"""


QUERIES = {
    "embed_normalize": embed_normalize,
    "embed_quantize_int8": embed_quantize_int8,
    "embed_centroids": embed_centroids,
}

ORACLES = {
    "embed_normalize": EMBED_NORMALIZE_SQL,
    "embed_quantize_int8": EMBED_QUANTIZE_SQL,
    "embed_centroids": EMBED_CENTROIDS_SQL,
}


# ---------------------------------------------------------------------------
# Product quantization (round 5): per-subspace k-means codebooks
# ---------------------------------------------------------------------------

_PQ_M = 4                    # subspaces
_PQ_SUB = EMB_DIM // _PQ_M   # dims per subspace (16)
_PQ_K = 4                    # codewords per subspace codebook
_PQ_ITERS = 2                # fixed Lloyd iterations per subspace


def _pq_sub_sql(m: int) -> str:
    """SQL for the m-th PQ sub-vector of the ``embedding`` column."""
    return f"slice(embedding, {m * _PQ_SUB + 1}, {_PQ_SUB})"


def _sq_l2(x, c) -> F.Column:
    """Left-folded squared-L2 between two equal-length arrays, double."""
    return F.aggregate(
        F.zip_with(
            x,
            c,
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def embed_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jégou et al. 2011): split each 64-dim vector
    into 4 subspaces of 16 dims, train an independent k-means codebook
    (k=4, 2 Lloyd iterations, first-k deterministic init) per subspace,
    and emit each vector's 4-byte PQ code plus its exact reconstruction
    error — the compression stage between the IVF coarse quantizer
    (``ivf_kmeans_ann``) and a production IVF-PQ index, shrinking a
    64×float32 vector to 4 code bytes (64×) for in-memory search.

    ALL FOUR codebooks train in ONE driver-iterated Lloyd chain
    (:func:`_pq_train_values`), and the corpus is encoded against them
    once per (session, input): the session-shared ``pq_codes`` relation
    (:func:`_pq_codes`).  This query is a map-only projection over those
    codes — no embedding scan, no exchange — so a repeated call reads
    codes instead of re-encoding every vector.  The whole pipeline
    (2 Lloyd rounds × 4 codebooks + assignment + reconstruction error)
    is differentially tested via unrolled CTEs, like the IVF oracle (the
    oracle states the identical VALUES per subspace; plan shape is
    free)."""
    flat = _pq_codes(spark, sf_dir)
    err = F.col("e0")
    for m in range(1, _PQ_M):
        err = err + F.col(f"e{m}")
    return flat.select(
        "vec_id",
        *[
            F.col(f"cl{m}").cast("int").alias(f"code{m}")
            for m in range(_PQ_M)
        ],
        dround(err, 6).alias("sq_err"),
    )


def _pq_codebook_values(spark: SparkSession, sf_dir: str) -> list:
    """Collected (m, cluster, cemb) PQ sub-codebook values for the
    session, training on first use: the m×k tiny rows rebuild exactly,
    so the Lloyd rounds run once per (session, input) and both encoded
    corpora (``pq_codes`` here, ``ivfpq_index`` in ``ivf``) are built
    against the same centroids."""
    return shared("pq_codebook", spark, sf_dir, _pq_train_values)


def _pq_centroids_by_m(spark: SparkSession, sf_dir: str) -> dict:
    """{m: [(cluster, cemb), ...]} of the session PQ codebook."""
    by_m: dict[int, list] = {}
    for m, cluster, cemb in _pq_codebook_values(spark, sf_dir):
        by_m.setdefault(int(m), []).append((int(cluster), list(cemb)))
    return by_m


def _pq_train_values(spark: SparkSession, sf_dir: str) -> list:
    """Driver-iterated PQ training: all four sub-codebooks advance in
    each ONE-job Lloyd iteration — the same MLlib loop shape as
    ``ivf._train_values`` (driver-held centroids inlined as literals for
    the assignment, per-(m, cluster, subdim) exact decimal sums
    collected, means computed on the driver), with the subspace index
    folded into the aggregate key instead of a row fan-out.  Collect
    volume per iteration is M*k*sub-dim (4*4*16 = 256 rows) —
    codebook-sized, corpus-independent.  Values are bit-identical to
    the previous broadcast-join/argmin-aggregate chain: same
    ``c*c - 2*x*c`` fold (``_cell_candidates``), same (score, cluster)
    argmin tie-break, same DECIMAL(30,10) sums and decimal->double/n
    mean — the unrolled-CTE oracle is unchanged."""
    from .ivf import _cell_candidates

    emb = persist_tracked(
        load_table(spark, sf_dir, "embeddings", spread=True).select(
            "vec_id", "embedding"
        )
    )
    init = (
        emb.filter(F.col("vec_id") < _PQ_K).select("vec_id", "embedding").collect()
    )
    by_m = {
        m: sorted(
            (
                int(r["vec_id"]),
                [float(v) for v in r["embedding"][m * _PQ_SUB : (m + 1) * _PQ_SUB]],
            )
            for r in init
        )
        for m in range(_PQ_M)
    }
    # interpreted eval for the Lloyd collects (r13): each iteration's
    # literal-inlined assignment is a brand-new expression tree, so
    # codegen pays a fresh Janino compile per iteration for a job over
    # codebook-training data volumes — see session.interpreted_eval
    with interpreted_eval(spark):
        for _ in range(_PQ_ITERS):
            assigned = emb.select(
                *[
                    F.array_min(
                        _cell_candidates(_pq_sub_sql(m), by_m[m])
                    )["cluster"].alias(f"c{m}")
                    for m in range(_PQ_M)
                ],
                "embedding",
            )
            long = assigned.select(
                *[f"c{m}" for m in range(_PQ_M)],
                F.posexplode("embedding").alias("dim", "v"),
            )
            m_col = F.expr(f"dim DIV {_PQ_SUB}").cast("int")
            rows = (
                long.select(
                    m_col.alias("m"),
                    F.element_at(
                        F.array(*[f"c{m}" for m in range(_PQ_M)]), m_col + 1
                    ).alias("cluster"),
                    F.expr(f"dim % {_PQ_SUB}").alias("subdim"),
                    F.col("v").cast("double").cast("decimal(30,10)").alias("v"),
                )
                .groupBy("m", "cluster", "subdim")
                .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            acc: dict[int, dict[int, dict[int, float]]] = {}
            for r in rows:
                acc.setdefault(int(r["m"]), {}).setdefault(
                    int(r["cluster"]), {}
                )[int(r["subdim"])] = float(r["s"]) / r["n"]
            by_m = {
                m: sorted(
                    (c, [dims[d] for d in range(len(dims))])
                    for c, dims in clusters.items()
                )
                for m, clusters in acc.items()
            }
    return [(m, c, cemb) for m in range(_PQ_M) for c, cemb in by_m[m]]


def _pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus encoded against the trained PQ codebook: the WIDE
    per-vector assignment (vec_id, cl0..cl{M-1}, e0..e{M-1}), one row per
    vector, shared per (session, input) under the ``cache.shared`` key
    ``pq_codes``.  Read by :func:`embed_pq_quantize` (codes +
    reconstruction error) and :func:`pq_adc_topk` (ADC search).

    It is a ``localCheckpoint(eager=False)`` relation, like the
    shingle, band and CC-label checkpoints: the first consumer's action
    encodes every vector once and leaves the rows on the executors
    (72 B per vector: a bigint id, 4 bigint codes, 4 double errors —
    never collected); later calls plan a scan of those rows instead of
    re-scanning the embeddings and re-analyzing the encoding
    expressions.  A changed input file rebuilds it (``cache.shared``
    stamps the input dir)."""
    return shared("pq_codes", spark, sf_dir, _pq_encode)


def _pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build of :func:`_pq_codes`: the final assignment inlines the
    trained sub-codebooks as literal expressions, so it is a single
    map-only projection over the embedding scan — no explode, no
    broadcast join, no argmin aggregate (same score fold, same
    (score, cluster) tie-break, same ``_sq_l2`` error fold on the
    winning codeword as the oracle's ``pf{m}`` CTEs)."""
    by_m = _pq_centroids_by_m(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", "embedding"
    )

    def _win(m: int) -> F.Column:
        # one-F.expr SQL construction, same rationale and bit-identical
        # semantics as ivf._cell_candidates (py4j-per-literal cost)
        sub = _pq_sub_sql(m)
        cands = []
        for cluster, cemb in by_m[m]:
            c2 = 0.0
            for v in cemb:
                c2 = c2 + v * v  # same left fold as spark_dot(c, c)
            arr = arr_lit(cemb)
            cands.append(
                f"named_struct("
                f"'score', {dlit(c2)} - 2.0D * {sparksql_dot(sub, arr)}, "
                f"'cluster', CAST({int(cluster)} AS BIGINT), "
                f"'err', {sparksql_sq_l2(sub, arr)})"
            )
        return F.expr("array_min(array(" + ", ".join(cands) + "))")

    # r13 (guide §2.4): the WIDE assignment (one row per vector,
    # cl0..cl3 / e0..e3 columns) instead of exploding it to
    # (vec_id, m, cluster, err) rows — both consumers used to re-pivot
    # the explode straight back with a groupBy(vec_id) hash aggregate,
    # paying a full exchange over 4x|vectors| rows to undo a generator.
    # Each winner struct is stated once and its two fields read in a
    # second projection (CollapseProject keeps the two apart rather
    # than duplicate the argmin), which halves the expression tree
    # Catalyst analyzes and plans: measured 0.58 → 0.37 s per build
    # at sf0.01, rows identical.
    return (
        emb.select("vec_id", *[_win(m).alias(f"w{m}") for m in range(_PQ_M)])
        .select(
            "vec_id",
            *[F.col(f"w{m}.cluster").alias(f"cl{m}") for m in range(_PQ_M)],
            *[F.col(f"w{m}.err").alias(f"e{m}") for m in range(_PQ_M)],
        )
        .localCheckpoint(eager=False)
    )


def _sql_pq_dot_off(a: str, b: str, off: int) -> str:
    return " + ".join(
        f"CAST({a}[{off + i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, _PQ_SUB + 1)
    )


def _sql_pq_cc(b: str) -> str:
    return " + ".join(
        f"CAST({b}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, _PQ_SUB + 1)
    )


def _sql_pq_err_off(a: str, b: str, off: int) -> str:
    return " + ".join(
        f"(CAST({a}[{off + i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
        f" * (CAST({a}[{off + i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
        for i in range(1, _PQ_SUB + 1)
    )


def _pq_ctes() -> list[str]:
    """The unrolled PQ-training CTE chain (per subspace: first-k init,
    ``_PQ_ITERS`` assign/update rounds, final assignment ``pf{m}`` with
    codes + error). Shared prefix of the PQ oracle and the ADC oracle."""
    dot_off, cc, err_off = _sql_pq_dot_off, _sql_pq_cc, _sql_pq_err_off
    ctes = []
    for m in range(_PQ_M):
        off = m * _PQ_SUB
        init = ", ".join(
            f"CAST(embedding[{off + i}] AS DOUBLE)" for i in range(1, _PQ_SUB + 1)
        )
        ctes.append(
            f"""pc{m}_0 AS (
  SELECT vec_id AS cluster, list_value({init}) AS cemb
  FROM embeddings WHERE vec_id < {_PQ_K}
)"""
        )
        for t in range(1, _PQ_ITERS + 1):
            score = (
                f"(({cc('c.cemb')}) - 2 * ({dot_off('e.embedding', 'c.cemb', off)}))"
            )
            sums = ", ".join(
                f"sum(CAST(CAST(embedding[{off + d}] AS DOUBLE) AS DECIMAL(30,10)))"
                f" AS s{d}"
                for d in range(1, _PQ_SUB + 1)
            )
            means = ", ".join(
                f"CAST(s{d} AS DOUBLE) / n" for d in range(1, _PQ_SUB + 1)
            )
            ctes.append(
                f"""pa{m}_{t} AS (
  SELECT vec_id, embedding, cluster FROM (
    SELECT e.vec_id, e.embedding, c.cluster,
           row_number() OVER (
             PARTITION BY e.vec_id ORDER BY {score}, c.cluster
           ) AS rn
    FROM embeddings e CROSS JOIN pc{m}_{t - 1} c
  ) WHERE rn = 1
)"""
            )
            ctes.append(
                f"""pc{m}_{t} AS (
  SELECT cluster, list_value({means}) AS cemb
  FROM (SELECT cluster, count(*) AS n, {sums} FROM pa{m}_{t} GROUP BY cluster)
)"""
            )
        final_score = (
            f"(({cc('c.cemb')}) - 2 * ({dot_off('e.embedding', 'c.cemb', off)}))"
        )
        ctes.append(
            f"""pf{m} AS MATERIALIZED (
  SELECT vec_id, CAST(cluster AS INTEGER) AS code{m},
         ({err_off('embedding', 'cemb', off)}) AS err{m}
  FROM (
    SELECT e.vec_id, e.embedding, c.cluster, c.cemb,
           row_number() OVER (
             PARTITION BY e.vec_id ORDER BY {final_score}, c.cluster
           ) AS rn
    FROM embeddings e CROSS JOIN pc{m}_{_PQ_ITERS} c
  ) WHERE rn = 1
)"""
        )
    return ctes


def _pq_oracle() -> str:
    """Unrolled-CTE DuckDB twin of :func:`embed_pq_quantize` — the exact
    fold orders and decimal update sums of the Spark side."""
    ctes = _pq_ctes()
    joins = " ".join(
        f"JOIN pf{m} f{m} ON f0.vec_id = f{m}.vec_id" for m in range(1, _PQ_M)
    )
    err_sum = " + ".join(f"f{m}.err{m}" for m in range(_PQ_M))
    codes = ", ".join(f"f{m}.code{m}" for m in range(_PQ_M))
    return f"""
WITH {','.join(ctes)}
SELECT f0.vec_id, {codes},
       CAST(round(CAST(({err_sum}) AS DECIMAL(30,10)), 6) AS DOUBLE) AS sq_err
FROM pf0 f0 {joins}
"""


EMBED_PQ_SQL = _pq_oracle()

QUERIES["embed_pq_quantize"] = embed_pq_quantize
ORACLES["embed_pq_quantize"] = EMBED_PQ_SQL


# ---------------------------------------------------------------------------
# ADC search over PQ codes (the IVF-PQ read path)
# ---------------------------------------------------------------------------

_ADC_QUERIES = 5
_ADC_TOP_K = 10


def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric distance computation (ADC) top-k over PQ codes — the
    FAISS IVFADC read path (Jégou et al. 2011 §IV): each query vector
    precomputes a tiny lookup table of squared-L2 distances from its 16-dim
    subvectors to every codebook centroid (M×k = 16 entries per query),
    and a database vector's approximate distance is the SUM of 4 table
    lookups keyed by its PQ code — the vectors themselves are never
    touched at search time.

    Plan: the codes are the session-shared ``pq_codes`` relation
    (:func:`_pq_codes`, encoded once per session and input), and the
    LUT is (queries × M × k) = 80 rows — corpus-independent, computed
    by ONE tiny Spark job once per session and input (:func:`_adc_luts`)
    and INLINED as per-(query, subspace) literal arrays indexed by code,
    exactly how FAISS holds the ADC tables in registers at search time.
    A call is then a map-only ``element_at`` projection over the codes
    plus one exchange for the final per-query top-k window: no
    embedding scan, no join, no job while building.  At 100 TB the codes
    are 4 bytes/vector (64× smaller than raw), which is the entire
    point: scan codes, not vectors. The 4-term distance sum is exact
    decimal in the same fixed textual order, so both engines rank
    identically.
    """
    codes = _pq_codes(spark, sf_dir).select(
        "vec_id",
        *[
            F.col(f"cl{m}").cast("int").alias(f"code{m}")
            for m in range(_PQ_M)
        ],
    )
    d_by = _adc_luts(spark, sf_dir)
    if not d_by:  # degenerate tiny fixture: no query vectors
        return codes.select(
            F.col("vec_id").alias("qid"),
            "vec_id",
            F.lit(1).alias("rank"),
            F.lit(0.0).alias("adc"),
        ).filter(F.lit(False))
    structs = []
    for qid in sorted(d_by):
        # dense per-subspace distance array indexed by code; a cluster
        # absent from the codebook is unreachable by any code (argmin
        # only ranges over codebook clusters) — 0.0 filler is never read
        terms = " + ".join(
            "CAST(element_at("
            + arr_lit(
                [
                    d_by[qid][m].get(c, 0.0)
                    for c in range(
                        max(d_by[qid][m], default=_PQ_K - 1) + 1
                    )
                ]
            )
            + f", code{m} + 1) AS DECIMAL(30,10))"
            for m in range(_PQ_M)
        )
        structs.append(
            f"named_struct('qid', CAST({qid} AS BIGINT), "
            f"'adc_dec', {terms})"
        )
    # two-step select: struct-field extraction cannot share a select
    # with a generator
    scored = (
        codes.select(
            "vec_id",
            F.expr("explode(array(" + ", ".join(structs) + "))").alias("s"),
        )
        .select("vec_id", F.col("s.qid").alias("qid"), F.col("s.adc_dec").alias("adc_dec"))
        .filter(F.col("vec_id") != F.col("qid"))
    )
    w = Window.partitionBy("qid").orderBy("adc_dec", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _ADC_TOP_K)
        .select(
            "qid",
            "vec_id",
            "rank",
            F.round("adc_dec", 6).cast("double").alias("adc"),
        )
    )


def _adc_luts(spark: SparkSession, sf_dir: str) -> dict:
    """{qid: {m: {cluster: d}}}: the ADC lookup tables of the
    ``_ADC_QUERIES`` query vectors, shared per (session, input) under the
    ``cache.shared`` key ``pq_adc_lut`` (collected driver values,
    O(M·k·|Q|) — bounded by the index shape, never the corpus)."""
    return shared("pq_adc_lut", spark, sf_dir, _collect_adc_luts)


def _collect_adc_luts(spark: SparkSession, sf_dir: str) -> dict:
    cb = local_frame(
        spark,
        _pq_codebook_values(spark, sf_dir),
        "m int, cluster bigint, cemb array<double>",
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qsub = (
        emb.filter(F.col("vec_id") < _ADC_QUERIES)
        .select(
            F.col("vec_id").alias("qid"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("m"),
                            F.slice("embedding", m * _PQ_SUB + 1, _PQ_SUB).alias(
                                "qemb"
                            ),
                        )
                        for m in range(_PQ_M)
                    ]
                )
            ).alias("s"),
        )
        .select("qid", F.col("s.m").alias("m"), F.col("s.qemb").alias("qemb"))
    )
    lut = qsub.join(cb, "m").select(
        "qid", "m", "cluster", _sq_l2(F.col("qemb"), F.col("cemb")).alias("d")
    )
    d_by: dict[int, dict[int, dict[int, float]]] = {}
    for r in lut.collect():
        d_by.setdefault(int(r["qid"]), {}).setdefault(int(r["m"]), {})[
            int(r["cluster"])
        ] = float(r["d"])
    return d_by


def _adc_oracle() -> str:
    ctes = _pq_ctes()
    ctes.append(
        f"""q AS (
  SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < {_ADC_QUERIES}
)"""
    )
    for m in range(_PQ_M):
        off = m * _PQ_SUB
        ctes.append(
            f"""lut{m} AS (
  SELECT q.qid, c.cluster,
         ({_sql_pq_err_off('q.embedding', 'c.cemb', off)}) AS d
  FROM q CROSS JOIN pc{m}_{_PQ_ITERS} c
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
WITH {','.join(ctes)},
scored AS (
  SELECT l0.qid, f0.vec_id, ({adc}) AS adc_dec
  FROM pf0 f0 {code_joins}
  JOIN lut0 l0 ON l0.cluster = f0.code0
  {lut_joins}
  WHERE f0.vec_id <> l0.qid
)
SELECT qid, vec_id, rank, CAST(round(adc_dec, 6) AS DOUBLE) AS adc
FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc_dec, vec_id) AS rank
  FROM scored
)
WHERE rank <= {_ADC_TOP_K}
"""


PQ_ADC_SQL = _adc_oracle()

QUERIES["pq_adc_topk"] = pq_adc_topk
ORACLES["pq_adc_topk"] = PQ_ADC_SQL


# ---------------------------------------------------------------------------
# Power iteration (top principal direction)
# ---------------------------------------------------------------------------

_PI_ITERS = 3
_PI_SCALE = 10_000  # fixed-point 1e4 for both the data and the vector


def embed_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding matrix by power
    iteration — v ← Xᵀ(Xv), renormalized each round — with the 64-long
    fixed-point iterate held on the DRIVER between rounds (the MLlib
    loop shape, like ``ivf._train_values``): each round is ONE
    distributed job computing both matvecs in a single pass — per row,
    ``dot_i = Σ_j xq_ij·v_j`` folds over the literal iterate, then the
    per-dimension products ``xq_ij·dot_i`` aggregate as exact
    DECIMAL(38,0) sums and the 64 component sums are collected.  The
    round-6 form ran two broadcast-join aggregates plus a one-row
    crossJoin per round (43 shuffles total); this is 3 scans, 3
    shuffles, zero joins — and at a billion rows the collect is still
    64 rows.

    Determinism: the data quantizes once to 1e4 fixed point
    (floor-of-decimal — identical engines), every product is an exact
    integer (|xq·dot| ≤ ~1e16 < 2⁶³ — long-safe per term; the SUM
    crosses into DECIMAL(38,0) exactly as before), and the driver
    renormalizes with the same sign·(|w|·1e4 DIV max) magnitude floor
    division the SQL used — pure-integer arithmetic, so Python's ``//``
    on non-negatives is the identical operation.  Both engines (and the
    unrolled-CTE oracle, unchanged) iterate over identical integer
    states.  The fixture embeddings are near-isotropic (eigengap ≈
    0.95), so 3 rounds don't CONVERGE here — the unit test pins exact
    agreement with a float reference of the same 3 rounds.

    Returns (dim, v_e4): the iterate in 1e4 fixed point.
    """
    emb = persist_tracked(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            # float32 → DOUBLE first: Spark's float→decimal cast goes
            # through the float's SHORTEST repr while DuckDB rounds the
            # binary value — through double, both land on the same
            # decimal (the dround convention), so the floor agrees
            F.expr(
                f"transform(embedding, x -> CAST(FLOOR("
                f"CAST(CAST(x AS DOUBLE) AS DECIMAL(30,10)) * {_PI_SCALE}"
                f") AS BIGINT))"
            ).alias("xq"),
        )
    )
    v = [int(_PI_SCALE)] * EMB_DIM
    for _ in range(_PI_ITERS):
        vlit = "array(" + ", ".join(f"{int(c)}L" for c in v) + ")"
        dot_sql = (
            f"aggregate(zip_with(xq, {vlit}, (a, b) -> a * b), "
            "0L, (acc, p) -> acc + p)"
        )
        rows = (
            emb.select(F.expr(dot_sql).alias("dot"), "xq")
            .select("dot", F.posexplode("xq").alias("dim", "xqj"))
            .select(
                "dim",
                (F.col("xqj") * F.col("dot")).cast("decimal(38,0)").alias("p"),
            )
            .groupBy("dim")
            .agg(F.sum("p").alias("w"))
            .collect()
        )
        w = {int(r["dim"]): int(r["w"]) for r in rows}
        m = max(abs(val) for val in w.values())
        v = [
            (0 if w[d] == 0 else (1 if w[d] > 0 else -1))
            * ((abs(w[d]) * _PI_SCALE) // m)
            for d in range(EMB_DIM)
        ]
    return local_frame(spark, [(d, v[d]) for d in range(EMB_DIM)], "dim int, v_e4 long")


def _power_iteration_sql() -> str:
    sql = f"""
WITH dims AS (SELECT unnest(range({EMB_DIM})) AS dim),
x AS MATERIALIZED (
  SELECT e.vec_id, d.dim,
         CAST(FLOOR(CAST(CAST(e.embedding[d.dim + 1] AS DOUBLE) AS DECIMAL(30,10)) * {_PI_SCALE}) AS BIGINT) AS xq
  FROM embeddings e CROSS JOIN dims d
),
v0 AS (
  SELECT DISTINCT dim, CAST({_PI_SCALE} AS BIGINT) AS v FROM x
)"""
    prev = "v0"
    for i in range(1, _PI_ITERS + 1):
        sql += f""",
d{i} AS MATERIALIZED (
  SELECT x.vec_id, sum(CAST(x.xq AS HUGEINT) * {prev}.v) AS dot
  FROM x JOIN {prev} ON x.dim = {prev}.dim
  GROUP BY 1
),
w{i} AS MATERIALIZED (
  SELECT x.dim, sum(CAST(x.xq AS HUGEINT) * d{i}.dot) AS w
  FROM x JOIN d{i} ON x.vec_id = d{i}.vec_id
  GROUP BY 1
),
m{i} AS (SELECT max(abs(w)) AS m FROM w{i}),
v{i} AS (
  SELECT dim,
         CAST(sign(w) AS BIGINT) * CAST((abs(w) * {_PI_SCALE}) // m.m AS BIGINT) AS v
  FROM w{i} CROSS JOIN m{i} m
)"""
        prev = f"v{i}"
    sql += f"""
SELECT dim, v AS v_e4 FROM {prev}
"""
    return sql


EMBED_POWER_ITERATION_SQL = _power_iteration_sql()

QUERIES["embed_power_iteration"] = embed_power_iteration
ORACLES["embed_power_iteration"] = EMBED_POWER_ITERATION_SQL


# ---------------------------------------------------------------------------
# Matryoshka truncation recall (MRL dimensionality-cost analytics)
# ---------------------------------------------------------------------------

_MRL_DIM = 16   # truncated prefix (Matryoshka Representation Learning)
_MRL_NQ = 5     # query vectors: vec_id < _MRL_NQ
_MRL_K = 10     # recall@K


def embed_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of PREFIX-TRUNCATED embeddings against the full-dim
    exact ranking — the evaluation a team runs before adopting
    Matryoshka-style (Kusupati et al. 2022) dimension reduction for a
    vector index: rank the corpus for each query by cosine on the first
    ``_MRL_DIM`` of ``EMB_DIM`` dims, and count how much of the full-dim
    top-10 survives. Cosine on a prefix needs no re-embedding and no
    renormalization beyond the prefix norms — exactly why MRL truncation
    is operationally free to try.

    Both rankings run the engine-deterministic fold (explicit IEEE op
    order, 6-dp decimal-routed rounding, vec_id tie-break), so the
    overlap COUNT — an integer — is oracle-exact. Plan: one broadcast
    of the 5 queries, two window top-10s over the same scored scan, one
    self-join on (qid, vec_id) to intersect; corpus scanned once
    (persisted), never all-pairs.
    """
    emb = persist_tracked(
        load_table(spark, sf_dir, "embeddings", spread=True).select(
            "vec_id",
            "embedding",
            F.slice("embedding", 1, _MRL_DIM).alias("temb"),
        ).withColumn("n2", spark_dot(F.col("embedding"), F.col("embedding")))
        .withColumn("t2", spark_dot(F.col("temb"), F.col("temb")))
    )
    emb.count()
    queries = emb.filter(F.col("vec_id") < _MRL_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("temb").alias("qt"),
        F.col("n2").alias("qn2"),
        F.col("t2").alias("qt2"),
    )
    from ..functions.vectors import spark_cosine_prenorm

    scored = emb.join(
        queries, F.col("vec_id") != F.col("qid")
    ).select(
        "qid",
        "vec_id",
        dround(
            spark_cosine_prenorm(
                spark_dot(F.col("qe"), F.col("embedding")),
                F.col("qn2"),
                F.col("n2"),
            ),
            6,
        ).alias("fcos"),
        dround(
            spark_cosine_prenorm(
                spark_dot(F.col("qt"), F.col("temb")),
                F.col("qt2"),
                F.col("t2"),
            ),
            6,
        ).alias("tcos"),
    )
    scored = persist_tracked(scored)
    scored.count()
    wf = Window.partitionBy("qid").orderBy(F.desc("fcos"), F.asc("vec_id"))
    wt = Window.partitionBy("qid").orderBy(F.desc("tcos"), F.asc("vec_id"))
    full_k = (
        scored.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= _MRL_K)
        .select("qid", "vec_id")
    )
    trunc_k = (
        scored.withColumn("rank", F.row_number().over(wt))
        .filter(F.col("rank") <= _MRL_K)
        .select("qid", "vec_id")
    )
    kept = (
        full_k.join(trunc_k, ["qid", "vec_id"], "left_semi")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    # report zero-recall queries too: an eval metric that silently drops
    # its worst rows is lying
    return (
        queries.select("qid")
        .join(kept, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            dround(
                F.coalesce("n_kept", F.lit(0).cast("long")) / F.lit(_MRL_K), 4
            ).alias("recall_at_10"),
        )
    )


def _matryoshka_sql() -> str:
    from ..functions.vectors import sql_dot

    def cos_prenorm(dotq, n2q, n2e):
        return f"(({dotq}) / (sqrt({n2q}) * sqrt({n2e})))"

    return f"""
WITH base AS MATERIALIZED (
  SELECT vec_id, embedding, embedding[1:{_MRL_DIM}] AS temb,
         {sql_dot('embedding', 'embedding')} AS n2,
         {sql_dot('embedding[1:' + str(_MRL_DIM) + ']', 'embedding[1:' + str(_MRL_DIM) + ']', _MRL_DIM)} AS t2
  FROM embeddings
),
queries AS (
  SELECT vec_id AS qid, embedding AS qe, temb AS qt, n2 AS qn2, t2 AS qt2
  FROM base WHERE vec_id < {_MRL_NQ}
),
scored AS MATERIALIZED (
  SELECT q.qid, e.vec_id,
    CAST(round(CAST(({cos_prenorm(sql_dot('q.qe', 'e.embedding'), 'q.qn2', 'e.n2')})
      AS DECIMAL(30,10)), 6) AS DOUBLE) AS fcos,
    CAST(round(CAST(({cos_prenorm(sql_dot('q.qt', 'e.temb', _MRL_DIM), 'q.qt2', 'e.t2')})
      AS DECIMAL(30,10)), 6) AS DOUBLE) AS tcos
  FROM base e JOIN queries q ON e.vec_id <> q.qid
),
full_k AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY fcos DESC, vec_id) AS r
    FROM scored
  ) WHERE r <= {_MRL_K}
),
trunc_k AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY tcos DESC, vec_id) AS r
    FROM scored
  ) WHERE r <= {_MRL_K}
),
kept AS (
  SELECT f.qid, count(*) AS n_kept
  FROM full_k f SEMI JOIN trunc_k t ON f.qid = t.qid AND f.vec_id = t.vec_id
  GROUP BY f.qid
)
SELECT q.qid,
       COALESCE(k.n_kept, 0) AS n_kept,
       CAST(round(CAST((COALESCE(k.n_kept, 0) / {_MRL_K}.0) AS DECIMAL(30,10)),
                  4) AS DOUBLE) AS recall_at_10
FROM queries q LEFT JOIN kept k ON q.qid = k.qid
"""


EMBED_MATRYOSHKA_SQL = _matryoshka_sql()

QUERIES["embed_matryoshka_recall"] = embed_matryoshka_recall
ORACLES["embed_matryoshka_recall"] = EMBED_MATRYOSHKA_SQL
