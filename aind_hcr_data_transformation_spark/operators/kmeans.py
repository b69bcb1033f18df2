"""The engine's one k-means kernel: the codebook format, the
nearest-centroid score and the Lloyd trainer behind every vector
operator (IVF and SemDeDup in ``ivf``, PQ and ADC in ``vectorops``, and
the IVF-PQ index that composes them).

* **Codebook:** collected driver values ``[(cluster, cemb), ...]``, one
  list per subspace.  Python floats are IEEE doubles; the codebook
  reaches Spark as one JSON string whose doubles are Python's
  shortest round-trip ``repr``, parsed back to the same doubles, so it
  scores bit-identically on every consumer.
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

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import persist_tracked
from ..functions.vectors import EMB_DIM, sparksql_dot, sparksql_sq_l2

#: Spark type of a codebook literal
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


def codebook_sql(codebook) -> str:
    """``from_json('<json>', _CODEBOOK_TYPE)``: the codebook as ONE string
    literal, with each centroid's ``c·c`` folded on the driver.  Python
    writes JSON floats as their shortest round-trip ``repr`` and Spark's
    parser reads them back to the same doubles (pinned in
    tests/test_sim_recall.py); a non-finite value raises ValueError."""
    rows = [
        {"c2": fold_dot(cemb, cemb), "cluster": int(cluster), "cemb": cemb}
        for cluster, cemb in codebook
    ]
    text = json.dumps(rows, allow_nan=False, separators=(",", ":"))
    return f"from_json('{text}', '{_CODEBOOK_TYPE}')"


def candidates_sql(emb_sql: str, codebook, err: bool = False) -> str:
    """Spark-SQL ``array<struct<score, cluster[, err]>>``: the vector
    ``emb_sql`` scored against every centroid of ``codebook``, with the
    squared-L2 error to each centroid as ``err`` when asked.

    Shaped as ``transform(<codebook_sql>, c -> struct)``: the codebook is
    one string literal, so the expression has the same shape and size
    for every codebook (an empty one too), and its analysis does not
    grow with k × dim.  ConstantFolding turns the ``from_json`` into one
    array literal, which codegen stores as a reference object: the
    generated class does not depend on the centroid values either, and
    the next codebook reuses it from the session's codegen cache."""
    err_sql = f", 'err', {sparksql_sq_l2(emb_sql, 'c.cemb')}" if err else ""
    return (
        f"transform({codebook_sql(codebook)}, c -> named_struct("
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


def lloyd(emb: DataFrame, specs: list[tuple[int, int, int]]) -> list[list]:
    """For each ``(k, subspaces, iters)`` of ``specs``, one codebook per
    subspace after ``iters`` Lloyd iterations over ``emb`` (vec_id,
    embedding), seeded with the slices of the vectors ``vec_id < k``.
    IVF and SemDeDup train one 64-dim codebook; PQ trains four 16-dim
    ones.  All specs train in the same jobs, over one persist of ``emb``
    and one seed collect; a spec drops out once its iterations are done.

    Each iteration is ONE distributed job: :func:`assign` against every
    live driver-held codebook, then exact ``DECIMAL(30,10)`` sums per
    (codebook, cluster, sub-dimension) and their counts are collected,
    and the driver computes ``mean = double(sum) / n``.  That is the
    same correctly rounded decimal→double conversion and IEEE division
    as the oracles' ``CAST(s AS DOUBLE) / n``, and the sums do not
    depend on partition order or on which other codebooks share the
    job.  A cluster that wins no vector drops out of its codebook, as in
    the oracles' ``GROUP BY``; an empty codebook (no seed vectors) stays
    empty and trains in no job.  The collect is codebook-sized (the
    sum over live codebooks of k × sub-dimension rows), independent of
    the corpus."""
    # each iteration re-reads the corpus: iterations 2..N read the
    # persisted blocks, released with the query's persists
    emb = persist_tracked(emb)
    seeds = (
        emb.filter(F.col("vec_id") < max(k for k, _, _ in specs))
        .select("vec_id", "embedding")
        .collect()
    )
    widths = [EMB_DIM // subspaces for _, subspaces, _ in specs]
    books = [
        [
            sorted(
                (int(r["vec_id"]), [float(v) for v in r["embedding"][m * w : (m + 1) * w]])
                for r in seeds
                if r["vec_id"] < k
            )
            for m in range(subspaces)
        ]
        for (k, subspaces, _), w in zip(specs, widths)
    ]
    for it in range(max(iters for _, _, iters in specs)):
        live = [s for s, (_, _, iters) in enumerate(specs) if it < iters and books[s][0]]
        if not live:
            break
        live_books = [(s, m) for s in live for m in range(specs[s][1])]
        codes = [f"c{s}_{m}" for s, m in live_books]
        winners = {
            f"w{s}_{m}": (subvector_sql(m, specs[s][1]), books[s][m])
            for s, m in live_books
        }
        # every embedding component is summed once per live spec, under
        # the winner of that spec's subspace holding it
        targets = []
        for s in live:
            m_col = F.expr(f"dim DIV {widths[s]}").cast("int")
            spec_codes = [f"c{s}_{m}" for m in range(specs[s][1])]
            targets.append(
                F.struct(
                    F.lit(s).alias("s"),
                    m_col.alias("m"),
                    F.element_at(F.array(*spec_codes), m_col + 1).alias("cluster"),
                    F.expr(f"dim % {widths[s]}").alias("subdim"),
                )
            )
        rows = (
            assign(emb, winners, "embedding")
            # a struct-field extraction cannot share a select with a
            # generator (Spark resolves the generator first and loses
            # the struct's field names)
            .select(
                *[F.col(f"w{s}_{m}.cluster").alias(f"c{s}_{m}") for s, m in live_books],
                "embedding",
            )
            .select(*codes, F.posexplode("embedding").alias("dim", "v"))
            .select(
                F.inline(F.array(*targets)),
                F.col("v").cast("double").cast("decimal(30,10)").alias("v"),
            )
            .groupBy("s", "m", "cluster", "subdim")
            .agg(F.sum("v").alias("s_v"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        sums: dict[tuple[int, int], dict] = {sm: {} for sm in live_books}
        for r in rows:
            sums[(r["s"], r["m"])].setdefault(int(r["cluster"]), {})[
                int(r["subdim"])
            ] = float(r["s_v"]) / r["n"]
        for (s, m), byc in sums.items():
            books[s][m] = sorted(
                (c, [dims[d] for d in range(len(dims))]) for c, dims in byc.items()
            )
    return books
