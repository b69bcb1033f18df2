"""The engine's one k-means kernel: the codebook format, the
nearest-centroid score and the Lloyd trainer behind every vector
operator (IVF and SemDeDup in ``ivf``, PQ and ADC in ``vectorops``, and
the IVF-PQ index that composes them).

* **Codebook:** collected driver values ``[(cluster, cemb), ...]``, one
  list per subspace.  Python floats are IEEE doubles and ``dlit`` emits
  them repr-exact, so a codebook inlined as a literal scores
  bit-identically on every consumer.
* **Score:** ``c·c − 2·x·c``.  It orders centroids as squared L2 does
  (``x·x`` is constant per vector) at half the expression size.  Both dot
  products are the left fold of ``spark_dot``, and ``c·c`` is folded on
  the driver in the same order.  The DuckDB oracles state the same score
  with the same fold.
* **Argmin:** the smallest ``(score, cluster)`` struct, so ties break on
  the cluster id, as the oracles' ``ORDER BY score, cluster`` does.
* **Empty codebook** (no seed vectors): a vector with no candidate
  centroid gets no row, which is what the oracles' ``CROSS JOIN`` with an
  empty codebook gives.

Reference: Jégou et al. 2011 (PQ/IVFADC); the loop is MLlib's KMeans
shape (driver-held centroids, one distributed job per iteration).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import persist_tracked
from ..functions.vectors import (
    EMB_DIM,
    arr_lit,
    dlit,
    sparksql_dot,
    sparksql_sq_l2,
)
from ..session import interpreted_eval

#: Spark type of a codebook literal; an empty codebook is this type's
#: empty array, so the expressions over it still resolve
_CODEBOOK_TYPE = "array<struct<c2:double,cluster:bigint,cemb:array<double>>>"


def fold_dot(a, b) -> float:
    """Driver twin of ``spark_dot``: the same left fold over doubles."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def fold_sq_l2(a, b) -> float:
    """Driver twin of ``sparksql_sq_l2``: the same left fold."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return acc


def ranked(x, codebook) -> list[tuple[float, int]]:
    """``(score, cluster)`` of the collected vector ``x`` against every
    centroid, nearest first: the driver twin of :func:`candidates_sql`
    under ``array_sort``, for vectors already on the driver."""
    return sorted(
        (fold_dot(c, c) - 2.0 * fold_dot(x, c), int(cluster))
        for cluster, c in codebook
    )


def subvector_sql(m: int, subspaces: int) -> str:
    """SQL of the ``m``-th of ``subspaces`` equal slices of ``embedding``
    (the whole column when there is one subspace)."""
    if subspaces == 1:
        return "embedding"
    width = EMB_DIM // subspaces
    return f"slice(embedding, {m * width + 1}, {width})"


def candidates_sql(emb_sql: str, codebook, err: bool = False) -> str:
    """Spark-SQL ``array<struct<score, cluster[, err]>>``: the vector
    ``emb_sql`` scored against every centroid of ``codebook``, with the
    squared-L2 error to each centroid as ``err`` when asked.

    Shaped as ``transform(<codebook literal>, c -> struct)``.  The
    codebook array is wholly foldable, so ConstantFolding collapses it
    into ONE literal that codegen stores as a reference object: the
    generated source does not depend on the centroid values (scalar
    literals would be inlined into it, forcing a fresh whole-stage
    compile per codebook — measured ~1 s each).
    It is one SQL string parsed by one ``F.expr``: the Column-API form
    cost a py4j round trip per double literal (~1.5 s of DataFrame
    construction per 8×64 codebook).  Bit equality with the Column-API
    folds is pinned in tests/test_sim_recall.py."""
    entries = ", ".join(
        f"named_struct('c2', {dlit(fold_dot(cemb, cemb))}, "
        f"'cluster', CAST({int(cluster)} AS BIGINT), 'cemb', {arr_lit(cemb)})"
        for cluster, cemb in codebook
    )
    cb = f"array({entries})" if entries else f"CAST(array() AS {_CODEBOOK_TYPE})"
    err_sql = f", 'err', {sparksql_sq_l2(emb_sql, 'c.cemb')}" if err else ""
    return (
        f"transform({cb}, c -> named_struct("
        f"'score', c.c2 - 2.0D * {sparksql_dot(emb_sql, 'c.cemb')}, "
        f"'cluster', c.cluster{err_sql}))"
    )


def assign(
    df: DataFrame, codebooks: dict, *keep, err: bool = False
) -> DataFrame:
    """``df`` projected to ``keep`` plus, for each ``name: (emb_sql,
    codebook)``, a column ``name``: the winner ``struct<score, cluster[,
    err]>`` of ``emb_sql``'s nearest centroid.

    A map-only projection with the codebooks inlined as literals: no
    join, no broadcast, no argmin aggregate (FAISS keeps the coarse
    codebook in L1 for the same reason).  If any codebook is empty, no
    row has a winner in it, and the frame is empty."""
    out = df.select(
        *keep,
        *[
            F.expr(f"array_min({candidates_sql(e, cb, err)})").alias(name)
            for name, (e, cb) in codebooks.items()
        ],
    )
    if not all(cb for _, cb in codebooks.values()):
        out = out.filter(F.lit(False))
    return out


def lloyd(emb: DataFrame, k: int, subspaces: int, iters: int) -> list:
    """One codebook per subspace after ``iters`` Lloyd iterations over
    ``emb`` (vec_id, embedding), each seeded with the slices of the
    vectors ``vec_id < k``.  IVF and SemDeDup train one 64-dim
    codebook; PQ trains four 16-dim ones in the same jobs.

    Each iteration is ONE distributed job: :func:`assign` against the
    driver-held codebooks, then exact ``DECIMAL(30,10)`` sums per
    (subspace, cluster, sub-dimension) and their counts are collected,
    and the driver computes ``mean = double(sum) / n``.  That is the
    same correctly rounded decimal→double conversion and IEEE division
    as the oracles' ``CAST(s AS DOUBLE) / n``, and the sums do not
    depend on partition order.  A cluster that wins no vector drops out
    of its codebook, as in the oracles' ``GROUP BY``.  The collect is
    codebook-sized (subspaces × k × sub-dimension rows), independent of
    the corpus."""
    # each iteration re-reads the corpus: iterations 2..N read the
    # persisted blocks, released with the query's persists
    emb = persist_tracked(emb)
    width = EMB_DIM // subspaces
    seeds = emb.filter(F.col("vec_id") < k).select("vec_id", "embedding").collect()
    books = [
        sorted(
            (int(r["vec_id"]), [float(v) for v in r["embedding"][m * width : (m + 1) * width]])
            for r in seeds
        )
        for m in range(subspaces)
    ]
    codes = [f"c{m}" for m in range(subspaces)]
    m_col = F.expr(f"dim DIV {width}").cast("int")
    # interpreted eval: each iteration's literal-inlined assignment is a
    # new expression tree, and codegen would pay a fresh Janino compile
    # per iteration for a job over training-sized data (see
    # session.interpreted_eval)
    with interpreted_eval(emb.sparkSession):
        for _ in range(iters):
            winners = {
                f"w{m}": (subvector_sql(m, subspaces), books[m])
                for m in range(subspaces)
            }
            rows = (
                assign(emb, winners, "embedding")
                # a struct-field extraction cannot share a select with a
                # generator (Spark resolves the generator first and loses
                # the struct's field names)
                .select(
                    *[F.col(f"w{m}.cluster").alias(c) for m, c in enumerate(codes)],
                    "embedding",
                )
                .select(*codes, F.posexplode("embedding").alias("dim", "v"))
                .select(
                    m_col.alias("m"),
                    F.element_at(F.array(*codes), m_col + 1).alias("cluster"),
                    F.expr(f"dim % {width}").alias("subdim"),
                    F.col("v").cast("double").cast("decimal(30,10)").alias("v"),
                )
                .groupBy("m", "cluster", "subdim")
                .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            sums: list[dict[int, dict[int, float]]] = [{} for _ in range(subspaces)]
            for r in rows:
                sums[int(r["m"])].setdefault(int(r["cluster"]), {})[
                    int(r["subdim"])
                ] = float(r["s"]) / r["n"]
            books = [
                sorted((c, [dims[d] for d in range(len(dims))]) for c, dims in byc.items())
                for byc in sums
            ]
    return books
