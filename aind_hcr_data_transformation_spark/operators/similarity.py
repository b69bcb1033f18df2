"""Similarity search over the embeddings table (SURVEY §2.12).

Two paths, as a production ANN stack would have:

* :func:`sim_cosine_topk` — brute-force exact top-k: broadcast the (few)
  query vectors against the (huge) corpus; one scan, per-partition heaps
  via window rank. The O(n·q) baseline and the recall oracle for ANN.
* :func:`sim_ann_signlsh` — random-hyperplane-style LSH using the sign
  pattern of leading components as the bucket key (deterministic, so the
  oracle can replay it): candidates come only from the query's bucket —
  the join is equi on the signature, never a cross product. This is the
  shape that scales: at 100 TB the bucket key becomes an IVF/PQ coarse
  code; the Spark plan (broadcast queries ⋈ bucketed corpus → windowed
  top-k) is unchanged.

Cosine math: engine-deterministic folds from functions/vectors.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import persist_tracked
from ..functions.compat import dround
from ..functions.vectors import spark_cosine_prenorm, spark_dot, sql_cosine
from ..session import local_frame
from ..tables import load_table, table_count

_N_QUERIES = 5
_TOP_K = 10

# Sign-LSH table geometry, DERIVED FROM THE CORPUS SIZE (r3 task 5 —
# the old fixed 6 bits was fixture-scale).  Scale rule: bits =
# clamp(ceil(log2(n / target_bucket_size)), 6, 10) with target bucket
# population 8, computed with EXACT integer arithmetic identically in
# both engines (``bit_length`` in Python, a power-of-two CASE ladder in
# SQL): 6 bits at the 500-vector fixtures, 8 at sf0.1's 2000 — the
# bucket count grows with the corpus and per-bucket population stays
# bounded.  Queries multi-probe every bucket within Hamming distance
# _probe_radius(bits) of their own key (standard multi-probe LSH): for
# weakly-similar nearest neighbours (this corpus' exact top-3 sit at
# cos ≈ 0.4, i.e. ~66°, flipping each sign bit with p ≈ 0.37) a single
# bucket has near-zero recall, while the width-tuned radius recovers a
# measured floor pinned by tests/test_sim_recall.py.  Near-duplicates
# (cos ≥ 0.98) land in the exact bucket with p ≈ 0.96 per 6 bits.
_LSH_TARGET_BUCKET = 8
_LSH_BITS_LO, _LSH_BITS_HI = 6, 10


def _lsh_bits(n_vectors: int) -> int:
    """bits = clamp(ceil(log2(ceil(n / target))), lo, hi), integer-exact."""
    m = max(2, (n_vectors + _LSH_TARGET_BUCKET - 1) // _LSH_TARGET_BUCKET)
    return min(_LSH_BITS_HI, max(_LSH_BITS_LO, (m - 1).bit_length()))


def _probe_radius(bits: int) -> int:
    """Probe radius RE-TUNED WITH THE WIDTH: each extra bit flips with
    the same per-bit probability (p ≈ 0.37 in this corpus' weak-similarity
    regime), so holding radius fixed while bits grow collapses recall
    (measured: 0.53 → 0.27 going 6→8 bits at radius 2).  Growing the
    radius by 1 per 2 extra bits keeps the expected Hamming distance
    covered — and the scanned bucket fraction roughly constant
    (22/64 = 34% at 6 bits, 93/256 = 36% at 8, 386/1024 = 38% at 10)
    while per-bucket population still shrinks with n."""
    return 2 + (bits - _LSH_BITS_LO + 1) // 2


# SQL twin of _lsh_bits (exact integer thresholds, no float log2)
_LSH_BITS_SQL = (
    "(SELECT CASE "
    + " ".join(
        f"WHEN m <= {1 << b} THEN {b}"
        for b in range(_LSH_BITS_LO, _LSH_BITS_HI)
    )
    + f" ELSE {_LSH_BITS_HI} END FROM (SELECT greatest(2, (count(*)"
    f" + {_LSH_TARGET_BUCKET - 1}) // {_LSH_TARGET_BUCKET}) AS m"
    " FROM embeddings))"
)


def _probe_masks(bits: int) -> list[int]:
    """XOR masks enumerating the Hamming ball of radius
    ``_probe_radius(bits)`` (22 probes at 6 bits, 93 at 8) —
    deterministic, so DuckDB replays the identical probe set for the
    same derived width."""
    r = _probe_radius(bits)
    return sorted(m for m in range(1 << bits) if bin(m).count("1") <= r)


def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for query vectors (vec_id < 5)
    against the whole corpus (self excluded); ties broken by vec_id."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True).withColumn(
        "n2", spark_dot(F.col("embedding"), F.col("embedding"))
    )
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("n2").alias("qn2"),
    )
    scored = (
        emb.join(queries, F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
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
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
    )


SIM_TOPK_SQL = f"""
WITH queries AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < {_N_QUERIES}
),
scored AS (
  SELECT q.qid, e.vec_id,
    CAST(round(CAST(({sql_cosine('q.qe', 'e.embedding')}) AS DECIMAL(30,10)), 6) AS DOUBLE) AS cos
  FROM embeddings e JOIN queries q ON e.vec_id <> q.qid
)
SELECT qid, vec_id, cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
WHERE rank <= {_TOP_K}
"""


def sim_ann_signlsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH ANN: bucket = sign bits of the leading
    components (width derived from the corpus size — ``_lsh_bits``);
    each query probes every bucket within Hamming distance
    ``_probe_radius(bits)`` of its own key and takes top-3 by exact cosine
    among the candidates.  Deterministic stand-in for random-hyperplane
    LSH (hyperplanes = coordinate axes) so DuckDB can replay it exactly.

    Plan shape: the (few) queries fan out to (probes × queries) rows,
    broadcast against the bucketed corpus — an equi-join on the bucket
    key, never a cross product.  Each corpus vector sits in exactly one
    bucket and the probe masks are distinct, so no candidate dedup is
    needed."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    bits = _lsh_bits(table_count(spark, sf_dir, "embeddings"))
    masks = _probe_masks(bits)

    def bucket(col: str) -> F.Column:
        b = F.lit(0)
        for i in range(bits):
            b = b + F.when(
                F.element_at(F.col(col), i + 1) >= 0, F.lit(1 << i)
            ).otherwise(F.lit(0))
        return b.cast("int")

    corpus = emb.select(
        "vec_id",
        "embedding",
        bucket("embedding").alias("bucket"),
        spark_dot(F.col("embedding"), F.col("embedding")).alias("n2"),
    )
    queries = (
        corpus.filter(F.col("vec_id") < _N_QUERIES)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qe"),
            F.col("n2").alias("qn2"),
            F.col("bucket").alias("qbucket"),
            F.explode(F.array(*[F.lit(m) for m in masks])).alias("mask"),
        )
        .select(
            "qid",
            "qe",
            "qn2",
            F.expr("int(qbucket ^ mask)").alias("bucket"),
        )
    )
    scored = (
        corpus.join(queries, "bucket")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
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
        F.col("rank") <= 3
    )


def _bucket_sql(col: str, bits: int) -> str:
    return "(" + " + ".join(
        f"(CASE WHEN {col}[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    ) + ")"


# bucket key and probe-mask list for the RUNTIME-derived width: CASE
# over the clamped menu of widths, selected by the same corpus-count
# rule as the Spark side (p.bits)
_BUCKET_DERIVED = "(CASE (SELECT bits FROM p) " + " ".join(
    f"WHEN {w} THEN {_bucket_sql('embedding', w)}"
    for w in range(_LSH_BITS_LO, _LSH_BITS_HI + 1)
) + " END)"

_MASKS_DERIVED = "(CASE (SELECT bits FROM p) " + " ".join(
    f"WHEN {w} THEN {_probe_masks(w)}"
    for w in range(_LSH_BITS_LO, _LSH_BITS_HI + 1)
) + " END)"

SIM_ANN_SQL = f"""
WITH p AS (SELECT {_LSH_BITS_SQL} AS bits),
corpus AS (
  SELECT vec_id, embedding,
         CAST({_BUCKET_DERIVED} AS INTEGER) AS bucket
  FROM embeddings
),
queries AS (
  SELECT qid, qe, CAST(xor(qbucket, mask) AS INTEGER) AS bucket
  FROM (
    SELECT vec_id AS qid, embedding AS qe, bucket AS qbucket
    FROM corpus WHERE vec_id < {_N_QUERIES}
  ), unnest({_MASKS_DERIVED}) u(mask)
),
scored AS (
  SELECT q.qid, c.vec_id,
    CAST(round(CAST(({sql_cosine('q.qe', 'c.embedding')}) AS DECIMAL(30,10)), 6) AS DOUBLE) AS cos
  FROM corpus c JOIN queries q ON c.bucket = q.bucket AND c.vec_id <> q.qid
)
SELECT qid, vec_id, cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# RAG retrieval + context assembly
# ---------------------------------------------------------------------------

_RAG_K = 3         # retrieved passages per query
_RAG_BUDGET = 80   # context token budget (truncate the assembly here)


def rag_retrieve_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RAG data path end to end: retrieve the top-3 passages per
    query by exact cosine, join the document store (the fixture
    convention links ``doc_id = vec_id``), and assemble a token-budgeted
    context string per query in rank order — the retrieve→join→assemble
    shape every retrieval-augmented pipeline runs between the ANN index
    and the prompt builder.

    Assembly is pure built-in expressions: rank-ordered ``collect_list``
    of (rank, text) structs (``array_sort`` on the struct — rank is the
    leading field, so the order is deterministic), joined, then trimmed
    to the first ``_RAG_BUDGET`` whitespace tokens.  At scale the
    retrieval stage swaps for ``sim_ann_signlsh`` / the IVF index — the
    join+assembly plan is identical (document store joined on id, one
    per-query aggregate)."""
    hits = sim_cosine_topk(spark, sf_dir).filter(F.col("rank") <= _RAG_K)
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "text"
    )
    joined = hits.join(docs, "vec_id")
    ctx = joined.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", "text"))),
                lambda s: s["text"],
            ),
            " ",
        ).alias("full_ctx"),
    )
    toks = F.split(F.col("full_ctx"), " ")
    return ctx.select(
        "qid",
        "n_docs",
        F.least(F.size(toks), F.lit(_RAG_BUDGET)).alias("context_tokens"),
        F.array_join(F.slice(toks, 1, _RAG_BUDGET), " ").alias("context"),
    )


RAG_ASSEMBLE_SQL = f"""
WITH queries AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < {_N_QUERIES}
),
scored AS (
  SELECT q.qid, e.vec_id,
    CAST(round(CAST(({sql_cosine('q.qe', 'e.embedding')}) AS DECIMAL(30,10)), 6) AS DOUBLE) AS cos
  FROM embeddings e JOIN queries q ON e.vec_id <> q.qid
),
ranked AS (
  SELECT qid, vec_id, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {_RAG_K}
),
joined AS (
  SELECT r.qid, r.rank, d.text
  FROM ranked r JOIN documents d ON d.doc_id = r.vec_id
),
ctx AS (
  SELECT qid, count(*) AS n_docs,
         string_agg(text, ' ' ORDER BY rank) AS full_ctx
  FROM joined GROUP BY qid
)
SELECT qid, n_docs,
       CAST(least(len(string_split(full_ctx, ' ')), {_RAG_BUDGET}) AS INTEGER) AS context_tokens,
       array_to_string(string_split(full_ctx, ' ')[1:{_RAG_BUDGET}], ' ') AS context
FROM ctx
"""


QUERIES = {
    "sim_cosine_topk": sim_cosine_topk,
    "sim_ann_signlsh": sim_ann_signlsh,
    "rag_retrieve_assemble": rag_retrieve_assemble,
}

ORACLES = {
    "sim_cosine_topk": SIM_TOPK_SQL,
    "sim_ann_signlsh": SIM_ANN_SQL,
    "rag_retrieve_assemble": RAG_ASSEMBLE_SQL,
}


# ---------------------------------------------------------------------------
# MMR diversified rerank (round 5)
# ---------------------------------------------------------------------------

_MMR_K = 3          # diversified selections per query
_MMR_LAMBDA = 0.7   # relevance weight (1-λ penalizes redundancy)


def rag_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance rerank of the retrieval pool: from each
    query's exact-cosine top-10 pool, greedily pick 3 passages maximizing
    ``λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)`` — the standard redundancy
    control between the ANN index and the prompt builder (Carbonell &
    Goldstein 1998).

    The greedy loop is unrolled into ``_MMR_K`` dataframe stages (k is a
    prompt-budget constant, never data-sized), exactly like the IVF
    Lloyd-iteration unroll (``ivf.py``): each stage is a join against the
    previously-selected rows plus one windowed argmax per query.  All
    pairwise similarity lives in a (pool × pool) per-query relation built
    by an equi-join on qid — pool size is a constant, so the pair relation
    is O(queries · pool²) regardless of corpus size; the corpus itself is
    touched only once, by the scorer scan.  Relevance and similarity are
    rounded to 6 dp before any comparison so both engines rank identical
    doubles (ties broken by vec_id).

    Greedy loop IN THE DRIVER (r13, the graph-Pregel pattern): the pool
    (queries·pool rows of already-rounded doubles) and the pairwise sims
    (queries·pool² rows) are constant-size by construction — the same
    driver-state class the previous localCheckpoint form materialized —
    so they are COLLECTED once and the _MMR_K-step argmax recursion runs
    as plain Python over ≤ 500 rows instead of per-step join/anti-join/
    aggregate jobs (the r8 checkpointed form still paid ~8 scheduler
    round-trips + 4 eager checkpoints per call, ~2.8 s of pure
    orchestration at sf0.1 for 0.04 s of execution). Every arithmetic
    step replicates the former expressions op-for-op: λ·rel −
    (1−λ)·max_sim on IEEE doubles (Python floats ARE doubles; the
    λ/1−λ literals were computed in Python before, too), and ``dround``
    = double → DECIMAL(30,10) HALF_UP → 6-dp HALF_UP → double via
    ``decimal.Decimal`` (exact binary expansion in, correctly rounded
    float out — the identical value chain). The argmax tie-break
    max(struct(score, -vec_id)) is ``max((score, -vid))``. The corpus
    is still touched exactly once, by the distributed scorer scan."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True).withColumn(
        "n2", spark_dot(F.col("embedding"), F.col("embedding"))
    )
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("n2").alias("qn2"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("rel"), F.asc("vec_id"))
    cands = (
        emb.join(queries, F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            "embedding",
            "n2",
            dround(
                spark_cosine_prenorm(
                    spark_dot(F.col("qe"), F.col("embedding")),
                    F.col("qn2"),
                    F.col("n2"),
                ),
                6,
            ).alias("rel"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
    )
    cands = persist_tracked(cands)
    a = cands.select(
        "qid",
        F.col("vec_id").alias("vid_a"),
        F.col("embedding").alias("emb_a"),
        F.col("n2").alias("n2_a"),
    )
    b = cands.select(
        "qid",
        F.col("vec_id").alias("vid_b"),
        F.col("embedding").alias("emb_b"),
        F.col("n2").alias("n2_b"),
    )
    pairs = (
        a.join(b, "qid")
        .filter(F.col("vid_a") != F.col("vid_b"))
        .select(
            "qid",
            "vid_a",
            "vid_b",
            dround(
                spark_cosine_prenorm(
                    spark_dot(F.col("emb_a"), F.col("emb_b")),
                    F.col("n2_a"),
                    F.col("n2_b"),
                ),
                6,
            ).alias("sim"),
        )
    )
    # two tiny collects over the cached pool (the first materializes it).
    # Bounded BY CONSTRUCTION: <= _N_QUERIES * _TOP_K pool rows and
    # <= _N_QUERIES * _TOP_K * (_TOP_K - 1) pair rows — driver cost grows
    # as queries * pool^2, so a future constant bump must re-justify the
    # collect (r13 advisor note). The guards below turn a silent O(n^2)
    # driver spill into a loud failure.
    pool_rows = cands.select("qid", "vec_id", "rel").collect()
    assert len(pool_rows) <= _N_QUERIES * _TOP_K, (
        f"MMR pool collect ({len(pool_rows)} rows) exceeds the "
        f"_N_QUERIES*_TOP_K bound that justifies driver-side greedy"
    )
    pair_rows = pairs.collect()
    assert len(pair_rows) <= _N_QUERIES * _TOP_K * (_TOP_K - 1), (
        f"MMR pair collect ({len(pair_rows)} rows) exceeds the "
        f"_N_QUERIES*_TOP_K^2 bound that justifies driver-side greedy"
    )

    from decimal import ROUND_HALF_UP, Decimal

    def dround6(x: float) -> float:
        """Driver twin of ``dround(col, 6)``: the exact decimal expansion
        of the double, HALF_UP to 10 dp (the DECIMAL(30,10) cast), HALF_UP
        to 6 dp (the round), correctly-rounded back to double.

        Residual-risk note (r13 advisor): ``Decimal(x)`` quantizes the
        exact binary expansion of the double, while Spark's
        ``cast(double as decimal(30,10))`` goes through
        ``BigDecimal.valueOf`` (shortest decimal repr) — the two can
        diverge only when the shortest repr and the exact expansion
        fall on opposite sides of an exact 10th-decimal HALF_UP tie,
        which requires the double to have a decimal expansion agreeing
        with a x.xxxxxxxxx5 boundary to >= 17 significant digits. No
        observed value does (the full differential oracle sweep pins
        every emitted score at every fixture SF); kept as the exact
        form rather than repr() because the oracle, not the JVM, is the
        contract this twin must match."""
        d = Decimal(x).quantize(Decimal("1e-10"), rounding=ROUND_HALF_UP)
        return float(d.quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))

    pool: dict[int, dict[int, float]] = {}
    for r in pool_rows:
        pool.setdefault(r["qid"], {})[r["vec_id"]] = r["rel"]
    sims: dict[tuple[int, int], dict[int, float]] = {}
    for r in pair_rows:
        sims.setdefault((r["qid"], r["vid_a"]), {})[r["vid_b"]] = r["sim"]

    lam, mu = _MMR_LAMBDA, 1 - _MMR_LAMBDA
    out_rows: list[tuple[int, int, int, float]] = []
    chosen: dict[int, list[int]] = {}
    for qid, rels in pool.items():
        step1 = [(rel, -vid) for vid, rel in rels.items() if rel is not None]
        if not step1:
            continue
        rel, nv = max(step1)
        chosen[qid] = [-nv]
        out_rows.append((qid, -nv, 1, rel))
    for step in range(2, _MMR_K + 1):
        for qid, sel in list(chosen.items()):
            if len(sel) != step - 1:
                continue  # this qid ran dry at an earlier step
            best = None
            for vid, rel in pool[qid].items():
                if vid in sel:
                    continue
                vid_sims = sims.get((qid, vid), {})
                present = [b for b in sel if b in vid_sims]
                if not present:
                    continue  # inner-join semantics: no pair row, no score
                nn = [vid_sims[b] for b in present if vid_sims[b] is not None]
                # max() skips NULLs like F.max; all-NULL sims (or NULL
                # rel) make the score NULL, which loses to any non-NULL
                if nn and rel is not None:
                    score = dround6(lam * rel - mu * max(nn))
                else:
                    score = None
                key = (score is not None, score if score is not None else 0.0, -vid)
                if best is None or key > best[0]:
                    best = (key, vid, score)
            if best is not None:
                chosen[qid].append(best[1])
                out_rows.append((qid, best[1], step, best[2]))

    return local_frame(
        spark, out_rows, "qid bigint, vec_id bigint, sel_rank int, mmr_score double"
    )


def _mmr_sql() -> str:
    lam, mu = _MMR_LAMBDA, 1 - _MMR_LAMBDA
    steps = []
    prev_sel = "sel1"
    steps.append(
        """
sel1 AS MATERIALIZED (
  SELECT qid, vec_id, 1 AS sel_rank, rel AS mmr_score FROM (
    SELECT qid, vec_id, rel,
           row_number() OVER (PARTITION BY qid ORDER BY rel DESC, vec_id ASC) AS rn
    FROM pool
  ) WHERE rn = 1
)"""
    )
    for step in range(2, _MMR_K + 1):
        steps.append(
            f"""
sel{step} AS MATERIALIZED (
  SELECT * FROM {prev_sel}
  UNION ALL
  SELECT qid, vec_id, {step} AS sel_rank, mmr_score FROM (
    SELECT s.qid, s.vec_id, s.mmr_score,
           row_number() OVER (PARTITION BY s.qid ORDER BY s.mmr_score DESC, s.vec_id ASC) AS rn
    FROM (
      SELECT p.qid, p.vec_id,
             CAST(round(CAST(({lam} * p.rel - {mu} * ms.max_sim) AS DECIMAL(30,10)), 6) AS DOUBLE) AS mmr_score
      FROM pool p
      JOIN (
        SELECT pr.qid, pr.vid_a AS vec_id, max(pr.sim) AS max_sim
        FROM pairs pr JOIN {prev_sel} s ON pr.qid = s.qid AND pr.vid_b = s.vec_id
        GROUP BY pr.qid, pr.vid_a
      ) ms ON ms.qid = p.qid AND ms.vec_id = p.vec_id
      WHERE NOT EXISTS (
        SELECT 1 FROM {prev_sel} s2 WHERE s2.qid = p.qid AND s2.vec_id = p.vec_id
      )
    ) s
  ) WHERE rn = 1
)"""
        )
        prev_sel = f"sel{step}"
    return (
        f"""
WITH queries AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < {_N_QUERIES}
),
scored AS MATERIALIZED (
  SELECT q.qid, e.vec_id, e.embedding,
    CAST(round(CAST(({sql_cosine('q.qe', 'e.embedding')}) AS DECIMAL(30,10)), 6) AS DOUBLE) AS rel
  FROM embeddings e JOIN queries q ON e.vec_id <> q.qid
),
cands AS MATERIALIZED (
  SELECT qid, vec_id, embedding, rel, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, vec_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {_TOP_K}
),
pool AS MATERIALIZED (SELECT qid, vec_id, rel FROM cands),
pairs AS MATERIALIZED (
  SELECT a.qid, a.vec_id AS vid_a, b.vec_id AS vid_b,
    CAST(round(CAST(({sql_cosine('a.embedding', 'b.embedding')}) AS DECIMAL(30,10)), 6) AS DOUBLE) AS sim
  FROM cands a JOIN cands b ON a.qid = b.qid AND a.vec_id <> b.vec_id
),"""
        + ",".join(steps)
        + f"""
SELECT qid, vec_id, sel_rank, mmr_score FROM {prev_sel}
"""
    )


RAG_MMR_SQL = _mmr_sql()

QUERIES["rag_mmr_rerank"] = rag_mmr_rerank
ORACLES["rag_mmr_rerank"] = RAG_MMR_SQL
