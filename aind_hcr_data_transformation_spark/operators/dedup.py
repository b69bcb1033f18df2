"""Deduplication operators for LLM-training-data pipelines (SURVEY §2.12;
BASELINE.json north star): exact, bag-of-words fingerprint, MinHash+LSH,
SimHash, n-gram Jaccard, and embedding-cosine near-dup.

The synthetic corpus has no true duplicates, so near-dup queries PLANT
deterministic mutants inside the query (a mutated copy of every 20th
document / 50th embedding, id offset +1,000,000) — the oracle then pins
both the pipeline mechanics and the recall of the planted pairs.

Scale design (100 TB):

* exact/fingerprint — one hash-shuffle on the key; map-side combine.
* MinHash LSH — explode shingles → min-agg per (doc, hash) → band-key
  shuffle → equi-join on band key. Candidate verification touches only
  bucket-mates, never the cross product. All shuffles are on
  high-cardinality keys (shingle, band) → no skew hot spots.
* SimHash — one explode + two hash-aggregates; the 16-bit signature is an
  equi-join key for near-dup blocking.
* embedding near-dup — label blocking (stand-in for an IVF coarse
  quantizer) turns O(n²) into per-bucket joins.

MinHash here is md5-based (k independent hash functions = md5 of a salted
shingle): md5 is available and bit-identical in both engines, which makes
the whole LSH pipeline oracle-checkable — a seeded murmur/xxhash would be
faster at production scale but unverifiable against DuckDB.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import persist_tracked, shared
from ..functions.compat import dround
from ..functions.vectors import (
    EMB_DIM,
    spark_cosine_prenorm,
    spark_dot,
    sql_cosine,
)
from ..tables import load_table, table_count

# ---------------------------------------------------------------------------
# corpus with planted near-duplicates
# ---------------------------------------------------------------------------

_MUT_OFFSET = 1_000_000


def _corpus_with_mutants(
    spark: SparkSession, sf_dir: str, spread: bool = True
) -> DataFrame:
    """documents ∪ near-dup mutants: every 20th doc re-appears with its
    first two tokens dropped and id offset by 1e6.

    ``spread`` (see :func:`~..tables.load_table`) defaults on because
    most consumers explode shingles — CPU-heavy pre-shuffle work that a
    single-row-group fixture file would otherwise run on one core.
    Consumers whose pre-shuffle stage is trivial (hash the text, one
    md5) pass ``spread=False``: for them the extra exchange costs more
    than the parallelism buys."""
    docs = load_table(spark, sf_dir, "documents", spread=spread).select(
        "doc_id", "text"
    )
    mutants = (
        docs.filter(F.col("doc_id") % 20 == 0)
        .select(
            (F.col("doc_id") + _MUT_OFFSET).alias("doc_id"),
            F.array_join(
                F.slice(F.split(F.col("text"), " "), 3, 100000), " "
            ).alias("text"),
        )
    )
    return docs.unionByName(mutants)


_CORPUS_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_MUT_OFFSET} AS doc_id,
         coalesce(array_to_string(string_split(text, ' ')[3:], ' '), '') AS text
  FROM documents WHERE doc_id % 20 = 0
"""
# ^ coalesce: DuckDB's array_to_string([], ' ') is NULL while Spark's
# array_join is '' — a ≤2-token source doc would otherwise put its
# mutant in a NULL group on the oracle side only (r8 empty-text probe)


# ---------------------------------------------------------------------------
# exact + fingerprint dedup
# ---------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-group identical texts, keep the smallest id.

    Deterministic keeper choice via ``min`` — never ``dropDuplicates``,
    which keeps an arbitrary row per key (same determinism rule as the
    reference's sorted scan, ``zeiss_job.py:56``)."""
    corpus = _corpus_with_mutants(spark, sf_dir, spread=False)
    return corpus.groupBy("text").agg(
        F.min("doc_id").alias("keeper_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select("keeper_id", "n_copies")


DEDUP_EXACT_SQL = f"""
SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
FROM ({_CORPUS_SQL})
GROUP BY text
"""


def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over the sorted distinct token set
    (order/duplication-insensitive content hash)."""
    corpus = _corpus_with_mutants(spark, sf_dir, spread=False)
    fp = corpus.select(
        "doc_id",
        F.md5(
            F.array_join(
                F.array_sort(F.array_distinct(F.split(F.lower(F.col("text")), " "))),
                " ",
            )
        ).alias("fingerprint"),
    )
    return fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keeper_id"),
        F.count(F.lit(1)).alias("n_docs"),
    )


DEDUP_FINGERPRINT_SQL = f"""
SELECT
  md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fingerprint,
  min(doc_id) AS keeper_id,
  count(*)    AS n_docs
FROM ({_CORPUS_SQL})
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------

_N_HASHES = 8  # minhash functions
_BAND_SIZE = 2  # rows per LSH band → 4 bands
_JACCARD_THRESHOLD = 0.5


def _shingles(corpus: DataFrame) -> DataFrame:
    """(doc_id, sid) — distinct 3-word shingles, keyed by a 60-bit
    integer id (first 15 hex nibbles of md5(shingle)).

    Every downstream stage — document-frequency cut, inverted-index
    self-join, salted minhashes — shuffles and compares ``sid`` instead
    of the ~25-byte shingle string: 8-byte fixed-width keys shrink the
    shuffle and make the join comparisons integer-cheap (measured ~40%
    off the self-join at sf0.1).  Collisions fold two shingles into one
    id identically on BOTH engines (same md5 prefix), so the oracle
    stays exact; at 10⁹ shingles the expected collision count under
    2⁶⁰ buckets is < 1.

    Docs under 3 tokens are dropped BEFORE the index transform: Spark's
    ``sequence(1, size-2)`` with ``size < 3`` would generate a *descending*
    sequence and index out of range."""
    toks = corpus.select("doc_id", F.split(F.col("text"), " ").alias("t")).filter(
        F.size("t") >= 3
    )
    exploded = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 2),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("t"), i),
                        F.element_at(F.col("t"), i + 1),
                        F.element_at(F.col("t"), i + 2),
                    ),
                )
            )
        ).alias("shingle"),
    )
    return exploded.select(
        "doc_id",
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
        .cast("long")
        .alias("sid"),
    )


def _sql_md5_prefix_int(expr: str, n: int = 15) -> str:
    """DuckDB twin of ``conv(substring(md5(x), 1, n), 16, 10)`` — no
    conv() in DuckDB, so the hex prefix is folded nibble-by-nibble."""
    terms = [
        f"(instr('0123456789abcdef', substr(md5({expr}), {p + 1}, 1)) - 1) * {16 ** (n - 1 - p)}"
        for p in range(n)
    ]
    return "(" + " + ".join(terms) + ")"


_SHINGLES_SQL = f"""
  SELECT doc_id, {_sql_md5_prefix_int('shingle')} AS sid
  FROM (
    SELECT doc_id, unnest(list_distinct(
             [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]
           )) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM ({_CORPUS_SQL}))
    WHERE len(t) >= 3
  )
"""


def _minhash_bands(sh: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) LSH band signatures from shingle ids.

    k salted hashes per shingle computed inline, then ONE hash-aggregate
    with k positional mins — no ×k row explosion, no second shuffle
    (map-side partial mins shrink the shuffle to one row per doc); band
    key = ordered concat of the band's minhashes, unpivoted via
    ``stack()``."""
    hashed = sh.select(
        "doc_id",
        *[
            F.md5(
                F.concat_ws("|", F.lit(str(h)), F.col("sid").cast("string"))
            ).alias(f"hv{h}")
            for h in range(_N_HASHES)
        ],
    )
    signature = hashed.groupBy("doc_id").agg(
        *[F.min(f"hv{h}").alias(f"minh{h}") for h in range(_N_HASHES)]
    )
    n_bands = _N_HASHES // _BAND_SIZE
    stack_args = ", ".join(
        f"{b}, concat_ws('|', {', '.join(f'minh{h}' for h in range(b * _BAND_SIZE, (b + 1) * _BAND_SIZE))})"
        for b in range(n_bands)
    )
    return signature.select(
        "doc_id",
        F.expr(f"stack({n_bands}, {stack_args}) as (band, band_key)"),
    )


# The shingle/MinHash index is built once and probed by every consumer
# (LSH dedup, exact-Jaccard verify, containment verify): one
# localCheckpoint'd materialization per ``cache.shared`` entry, shared by
# `dedup_minhash_lsh`, `dedup_ngram_jaccard` and `dedup_containment`.
def _shared_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared(
        "shingles",
        spark,
        sf_dir,
        lambda s, d: _shingles(_corpus_with_mutants(s, d)).localCheckpoint(),
    )


def _shared_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash signatures, materialized once per session — the
    k-salted-md5 signature pass is the most expensive stage of the
    index and is identical for every consumer."""
    return shared(
        "bands",
        spark,
        sf_dir,
        lambda s, d: _minhash_bands(_shared_shingles(s, d)).localCheckpoint(),
    )


def _shared_pair_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared(
        "pair_candidates",
        spark,
        sf_dir,
        lambda s, d: _pair_candidates(
            _shared_shingles(s, d), _shared_bands(s, d)
        ).localCheckpoint(),
    )


def _doc_sid_sets(sh: DataFrame) -> DataFrame:
    """(doc_id, sids) — each document's shingle-id set as ONE array row.

    The exact-verify stage used to join candidate pairs against the
    exploded (doc_id, sid) relation twice and aggregate the matches
    (three Exchanges per verify: doc1 join, (doc2, sid) join over
    per-shingle rows, and the (doc1, doc2) count).  Collecting each
    doc's set once and intersecting arrays per candidate row
    (guide §3/§4.1 built-ins) moves the same bytes through ONE
    doc-level relation: the per-shingle rows never shuffle again, and
    the pair count comes from ``array_intersect`` with no aggregation.

    Exactness: sids are distinct per doc by construction
    (``array_distinct`` runs over the shingle strings before hashing),
    so ``size(array_intersect(..))`` equals the old equi-join row
    count; the only divergence would need two distinct shingles of the
    SAME doc folding to one 60/64-bit sid (expected < 1e-15 per doc,
    and the differential oracle at every fixture SF pins the observed
    equality)."""
    return sh.groupBy("doc_id").agg(F.collect_list("sid").alias("sids"))


def _verify_counts(
    candidates: DataFrame, doc_sets: DataFrame, left: str, right: str
) -> DataFrame:
    """(left, right, n_common, n1, n2) for each candidate pair, scored
    by one array intersection over the two docs' sid sets."""
    d1 = doc_sets.select(
        F.col("doc_id").alias(left), F.col("sids").alias("_sids1")
    )
    d2 = doc_sets.select(
        F.col("doc_id").alias(right), F.col("sids").alias("_sids2")
    )
    return (
        candidates.join(d1, left)
        .join(d2, right)
        .select(
            left,
            right,
            F.size(F.array_intersect("_sids1", "_sids2")).alias("n_common"),
            F.size("_sids1").alias("n1"),
            F.size("_sids2").alias("n2"),
        )
    )


def _shared_doc_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared :func:`_doc_sid_sets` over the shared md5 shingle
    relation — probed by the four md5-family verify stages (same
    build-once pattern as ``_shared_bands``)."""
    return shared(
        "doc_sets",
        spark,
        sf_dir,
        lambda s, d: _doc_sid_sets(_shared_shingles(s, d)).localCheckpoint(),
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup pipeline, fully relational:

    shingle → k salted-md5 minhashes → band signatures → bucket join →
    exact-Jaccard verification of bucket-mates only.

    At 100 TB every stage is a hash shuffle on a high-cardinality key;
    no stage materializes candidate pairs beyond actual bucket
    collisions (the LSH guarantee).

    The shingle relation feeds the signature build and the per-doc
    sid-set build, each materialized once per session
    (:func:`_shared_bands` / :func:`_shared_doc_sets`) and probed by
    every verify-stage consumer — the same "materialize the
    posting-list stage" move a production LSH pipeline makes
    (checkpoint/shuffle-stage reuse) at cluster scale."""
    bands = _shared_bands(spark, sf_dir)
    a, b = bands.alias("a"), bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .distinct()
    )
    # exact-Jaccard verification over shingle-id sets, bucket-mates only
    # (r14: one array_intersect per candidate over the shared doc-set
    # relation replaces the exploded two-join + count — see
    # _doc_sid_sets for the Exchange accounting)
    scored = _verify_counts(
        candidates, _shared_doc_sets(spark, sf_dir), "doc1", "doc2"
    )
    jac = scored.select(
        "doc1",
        "doc2",
        dround(
            F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common")), 6
        ).alias("jaccard"),
    )
    return jac.filter(F.col("jaccard") >= _JACCARD_THRESHOLD)


DEDUP_MINHASH_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
hashed AS (
  SELECT doc_id, h, md5(CAST(h AS VARCHAR) || '|' || CAST(sid AS VARCHAR)) AS hv
  FROM sh, unnest(range(0, {_N_HASHES})) u(h)
),
minhashes AS (
  SELECT doc_id, h, min(hv) AS minh FROM hashed GROUP BY doc_id, h
),
bands AS (
  SELECT doc_id, CAST(h // {_BAND_SIZE} AS INTEGER) AS band,
         string_agg(minh, '|' ORDER BY h) AS band_key
  FROM minhashes GROUP BY 1, 2
),
candidates AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc1, c.doc2, count(*) AS n_common
  FROM candidates c
  JOIN sh s1 ON s1.doc_id = c.doc1
  JOIN sh s2 ON s2.doc_id = c.doc2 AND s2.sid = s1.sid
  GROUP BY c.doc1, c.doc2
)
SELECT doc1, doc2, jaccard FROM (
  SELECT doc1, doc2,
    CAST(round(CAST((CAST(n_common AS DOUBLE) / (z1.n_shingles + z2.n_shingles - n_common)) AS DECIMAL(30,10)), 6) AS DOUBLE) AS jaccard
  FROM common
  JOIN sizes z1 ON z1.doc_id = doc1
  JOIN sizes z2 ON z2.doc_id = doc2
)
WHERE jaccard >= {_JACCARD_THRESHOLD}
"""


def _shingles_fast(corpus: DataFrame) -> DataFrame:
    """(doc_id, sid) with ``sid = xxhash64(shingle)`` — the production-hash
    twin of :func:`_shingles`.  One native 64-bit hash replaces
    md5 → hex-substring → base-conv → cast (four expressions, one of them
    a 128-bit cryptographic digest), and the id space widens from 60 to
    64 bits.  Same explode, same distinct, same ≥3-token guard."""
    toks = corpus.select("doc_id", F.split(F.col("text"), " ").alias("t")).filter(
        F.size("t") >= 3
    )
    return toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("t") - 2),
                        lambda i: F.concat_ws(
                            " ",
                            F.element_at(F.col("t"), i),
                            F.element_at(F.col("t"), i + 1),
                            F.element_at(F.col("t"), i + 2),
                        ),
                    )
                ),
                lambda s: F.xxhash64(s),
            )
        ).alias("sid"),
    )


def _minhash_bands_fast(sh: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) like :func:`_minhash_bands`, with two
    production-hash substitutions: the k salted hashes are
    ``xxhash64(h, sid)`` longs (seeded multi-column form — no string
    concat, no md5), and each band key is ONE ``xxhash64`` long over the
    band's minhashes instead of a pipe-joined string.  The bucket join
    downstream then compares 8-byte integers, not ~66-byte strings."""
    hashed = sh.select(
        "doc_id",
        *[
            F.xxhash64(F.lit(h), F.col("sid")).alias(f"hv{h}")
            for h in range(_N_HASHES)
        ],
    )
    signature = hashed.groupBy("doc_id").agg(
        *[F.min(f"hv{h}").alias(f"minh{h}") for h in range(_N_HASHES)]
    )
    n_bands = _N_HASHES // _BAND_SIZE
    band_rows = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.col(f"minh{h}") for h in range(b * _BAND_SIZE, (b + 1) * _BAND_SIZE)]
            ).alias("band_key"),
        )
        for b in range(n_bands)
    ]
    return signature.select(
        "doc_id", F.explode(F.array(*band_rows)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def dedup_minhash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-hash twin of :func:`dedup_minhash_lsh` (rows-only, the
    way ``agg_hll_only`` twins ``agg_approx_distinct``): the identical
    shingle → k-minhash → band → bucket-join → exact-Jaccard-verify
    pipeline keyed end-to-end by ``xxhash64`` instead of md5.

    md5 is the hottest kernel of the oracle-checkable variant's compute
    stages (sf0.1, local[32], best-of-3: signature/banding 1.04 s → 0.61 s
    and shingling 0.50 s → 0.39 s under xxhash64; the end-to-end delta is
    smaller only because the verification join is a fixed cost at fixture
    scale — at 100 TB the signature stage dominates); this
    twin is what a production deployment runs.  DuckDB has no xxhash64,
    so there is no SQL oracle — correctness is pinned by (a) the
    planted-pair recall test, which must match the md5 variant's recall
    exactly at test scale, and (b) the verification stage computing the
    same exact Jaccard over the (collision-free at any real scale)
    64-bit shingle-id sets."""
    corpus = _corpus_with_mutants(spark, sf_dir)
    sh = persist_tracked(_shingles_fast(corpus))
    bands = _minhash_bands_fast(sh)
    a, b = bands.alias("a"), bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .distinct()
    )
    # r14: array-intersect verify (see _doc_sid_sets) — the xxhash64
    # twin builds its doc-set relation from its own private shingles
    scored = _verify_counts(candidates, _doc_sid_sets(sh), "doc1", "doc2")
    jac = scored.select(
        "doc1",
        "doc2",
        dround(
            F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common")), 6
        ).alias("jaccard"),
    )
    return jac.filter(F.col("jaccard") >= _JACCARD_THRESHOLD)


# ---------------------------------------------------------------------------
# n-gram Jaccard (threshold-verified pairwise, blocked by planted ids)
# ---------------------------------------------------------------------------


# Document-frequency cut for the inverted-index self-join, DERIVED FROM
# THE CORPUS SIZE.  Rule: cap = clamp(isqrt(n_docs), 20, 10 000).  A
# shingle with df documents yields df² candidate rows out of the
# self-join, so with cap ≈ √n the per-shingle fan-out is bounded by
# cap² ≈ n and TOTAL pair volume grows ~linearly with the corpus
# instead of ∝ n² (the round-5 SCALE_PROBE measured 17-20× shuffle
# growth at 10× data under the old linear cap = n/25; the sublinear cap
# returns the probe to the linear class).  The floor keeps
# fixture-scale posting lists meaningful; the ceiling bounds fan-out
# absolutely (df² ≤ 10⁸ per shingle) past n = 10⁸ docs.  Both engines
# derive the cap from the same count: Python ``math.isqrt`` and SQL
# ``floor(sqrt(n))`` agree exactly — doubles represent counts < 2⁵³
# exactly and IEEE sqrt is correctly rounded, so floor(sqrt(n)) can
# only differ from isqrt(n) if √n sits within half an ulp of an
# integer, impossible for non-squares at any feasible n.
_NGRAM_DF_LO, _NGRAM_DF_HI = 20, 10_000


def _ngram_df_cap(n_docs: int) -> int:
    return min(_NGRAM_DF_HI, max(_NGRAM_DF_LO, math.isqrt(n_docs)))


_NGRAM_DF_CAP_SQL = (
    f"(SELECT least({_NGRAM_DF_HI}, greatest({_NGRAM_DF_LO}, "
    f"CAST(floor(sqrt(count(*))) AS BIGINT))) FROM documents)"
)


# Absolute rarity bound for the rare-shingle candidate channel: a shingle
# shared by at most this many documents contributes at most cap² = 64
# candidate pairs REGARDLESS of corpus size, so the channel's total pair
# volume is ∝ #rare shingles ∝ corpus — linear by construction.  It is a
# CONSTANT, not corpus-derived: the round-5 SCALE_PROBE showed that any
# cap that grows with n (even isqrt) lets template-shingle df ride
# through it in the measured window (17-20× shuffle at 10× data), and a
# constant as high as 20 still sits above the head-shingle df at sf0.1
# (measured fan-out growth 49× under cap 20 vs 6.7× under cap 8 on the
# driver fixtures).  df ≤ 8 is the distinctive-content regime — true
# near-dup pairs share document-specific shingles with df ≈ 2 — while
# anything broader is template boilerplate whose pairs, if genuinely
# similar, surface through the LSH channel instead.
_RARE_DF_CAP = 8
#: a rare-channel pair must collide on ≥ this many DISTINCT rare
#: shingles — the standard minimum-collision candidate filter.  One
#: coincidental rare 3-gram match between unrelated docs is common in a
#: finite vocabulary (measured: it inflated candidates to 32×/doc at
#: sf0.1); two DISTINCT rare-shingle matches almost never happen by
#: chance, while a genuinely contained document shares its ENTIRE
#: shingle set — rarest members included — with its container, so the
#: bar costs no recall (pinned in tests/test_dedup_recall.py).
_RARE_MIN_COLLISIONS = 2


def _pair_candidates(sh: DataFrame, bands_df: DataFrame | None = None) -> DataFrame:
    """Scale-safe near-dup candidate pairs from a (doc_id, sid) shingle
    relation — the union of two linear-growth channels:

    1. **Banded minhash LSH** (:func:`_minhash_bands` bucket collisions)
       — candidate volume tracks the number of genuinely similar pairs
       (the LSH guarantee), not any posting-list df².
    2. **Rare-shingle inverted index** — pairs sharing a shingle with
       df ≤ ``_RARE_DF_CAP``; per-shingle fan-out is bounded by the
       constant cap², so total volume is ∝ corpus size.  This channel
       catches the asymmetric short-inside-long containment pairs whose
       symmetric Jaccard is too low for LSH to bucket together: a
       contained document shares ALL its shingles with its container,
       including its rarest ones, so one distinctive shingle suffices.

    Neither channel shuffles df² rows for head (template/boilerplate)
    shingles — those carry no discriminative signal; pairs whose ONLY
    overlap is head shingles can still surface through the LSH channel,
    but only with the banding curve's per-pair PROBABILITY
    (1-(1-s^r)^b), not as a guarantee.  Recall is therefore
    probabilistic for pairs whose Jaccard sits between the scoring
    threshold (0.4) and the LSH design point (~0.5) when all their
    shared shingles have df > ``_RARE_DF_CAP``: such a pair can be
    silently missed.  This is the standard candidate-generation
    trade-off (the exact-verify step never creates false positives,
    and the oracle mirrors the same candidate set); the adversarial
    bound is pinned in ``tests/test_dedup_recall.py::
    test_mid_similarity_head_shingle_recall``.  The rare
    channel additionally demands ``_RARE_MIN_COLLISIONS`` distinct
    rare-shingle matches per pair, which collapses the coincidental
    single-3-gram collisions a finite vocabulary produces while keeping
    every containment pair (a contained doc matches on ALL its rare
    shingles)."""
    bands = _minhash_bands(sh) if bands_df is None else bands_df
    a, b = bands.alias("a"), bands.alias("b")
    lsh_pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
    rare = (
        sh.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("sid")))
        .filter(F.col("df") <= _RARE_DF_CAP)
        .drop("df")
    )
    r1 = rare.select(F.col("doc_id").alias("doc1"), "sid")
    r2 = rare.select(F.col("doc_id").alias("doc2"), "sid")
    rare_pairs = (
        r1.join(r2, "sid")
        .filter(F.col("doc1") < F.col("doc2"))
        .groupBy("doc1", "doc2")
        .agg(F.countDistinct("sid").alias("n_rare"))
        .filter(F.col("n_rare") >= _RARE_MIN_COLLISIONS)
        .select("doc1", "doc2")
    )
    return lsh_pairs.unionByName(rare_pairs).distinct()


def _candidates_sql(sh_cte: str = "sh") -> str:
    """DuckDB twin of :func:`_pair_candidates` as a CTE chain ending in
    ``candidates(doc1, doc2)``; splice after a shingle CTE named
    ``sh_cte``."""
    return f"""
hashed AS (
  SELECT doc_id, h, md5(CAST(h AS VARCHAR) || '|' || CAST(sid AS VARCHAR)) AS hv
  FROM {sh_cte}, unnest(range(0, {_N_HASHES})) u(h)
),
minhashes AS (
  SELECT doc_id, h, min(hv) AS minh FROM hashed GROUP BY doc_id, h
),
bands AS (
  SELECT doc_id, CAST(h // {_BAND_SIZE} AS INTEGER) AS band,
         string_agg(minh, '|' ORDER BY h) AS band_key
  FROM minhashes GROUP BY 1, 2
),
lsh_pairs AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sdf AS (SELECT sid, count(*) AS df FROM {sh_cte} GROUP BY sid),
rare AS (
  SELECT s.doc_id, s.sid FROM {sh_cte} s JOIN sdf USING (sid)
  WHERE sdf.df <= {_RARE_DF_CAP}
),
rare_pairs AS (
  SELECT doc1, doc2 FROM (
    SELECT r1.doc_id AS doc1, r2.doc_id AS doc2,
           count(DISTINCT r1.sid) AS n_rare
    FROM rare r1 JOIN rare r2 ON r1.sid = r2.sid AND r1.doc_id < r2.doc_id
    GROUP BY 1, 2
  ) WHERE n_rare >= {_RARE_MIN_COLLISIONS}
),
candidates AS (
  SELECT DISTINCT doc1, doc2 FROM (
    SELECT doc1, doc2 FROM lsh_pairs
    UNION ALL
    SELECT doc1, doc2 FROM rare_pairs
  )
)"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-Jaccard scoring over scale-safe candidate pairs:
    candidates from :func:`_pair_candidates` (banded LSH ∪ rare-shingle
    inverted index — both linear-growth channels), then the TRUE
    raw-universe Jaccard computed per candidate and thresholded at 0.4.

    This is the candidate-generate → exact-verify split every
    production near-dup pipeline runs: the round-5 standalone
    inverted-index self-join scored every pair sharing ANY shingle,
    which shuffles df² rows per shingle and measured 16.9× shuffle
    growth at 10× data (template-shingle df grows with the corpus;
    SCALE_PROBE r5).  Candidate volume now tracks the true near-dup
    pair count (LSH channel) plus a constant-bounded rare-shingle
    fan-out, and the verify join touches only candidate pairs — each
    scored over the documents' FULL shingle sets, so the reported
    Jaccard is the raw-universe similarity (the round-5 capped-universe
    score needed a disclaimer; this one doesn't).

    The shingle relation and the candidate pairs are the session-shared
    materializations (:func:`_shared_shingles` /
    :func:`_shared_pair_candidates`) — built once, probed by this query,
    `dedup_containment`, and `dedup_minhash_lsh`."""
    candidates = _shared_pair_candidates(spark, sf_dir)
    # r14: array-intersect verify over the shared doc-set relation
    # (see _doc_sid_sets)
    scored = _verify_counts(
        candidates, _shared_doc_sets(spark, sf_dir), "doc1", "doc2"
    )
    return (
        scored.select(
            "doc1",
            "doc2",
            dround(
                F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.4)
    )


DEDUP_NGRAM_SQL = f"""
WITH sh AS MATERIALIZED ({_SHINGLES_SQL}),
{_candidates_sql("sh")},
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc1, c.doc2, count(*) AS n_common
  FROM candidates c
  JOIN sh s1 ON s1.doc_id = c.doc1
  JOIN sh s2 ON s2.doc_id = c.doc2 AND s2.sid = s1.sid
  GROUP BY c.doc1, c.doc2
)
SELECT doc1, doc2, jaccard FROM (
  SELECT doc1, doc2,
    CAST(round(CAST((CAST(n_common AS DOUBLE) / (z1.n_shingles + z2.n_shingles - n_common)) AS DECIMAL(30,10)), 6) AS DOUBLE) AS jaccard
  FROM common
  JOIN sizes z1 ON z1.doc_id = doc1
  JOIN sizes z2 ON z2.doc_id = doc2
)
WHERE jaccard >= 0.4
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document: each distinct token votes ±1 on every
    bit of its 16-bit hash (first 4 hex digits of md5); a bit is set when
    the vote sum is positive. Near-dups then block on signature equality.

    Output: (doc_id, simhash) for every corpus document."""
    corpus = _corpus_with_mutants(spark, sf_dir)
    toks = corpus.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("tok"),
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("int").alias("h16"),
    )
    bits = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("b"),
        "h16",
    ).select(
        "doc_id",
        "b",
        # expr form: the python shiftright/shiftleft wrappers take only
        # literal shift amounts, not columns
        F.when(F.expr("shiftright(h16, b) & 1") == 1, 1)
        .otherwise(-1)
        .alias("vote"),
    )
    bitsum = bits.groupBy("doc_id", "b").agg(F.sum("vote").alias("s"))
    return (
        bitsum.select(
            "doc_id",
            F.when(F.col("s") > 0, F.expr("shiftleft(1, b)"))
            .otherwise(0)
            .alias("bitval"),
        )
        .groupBy("doc_id")
        .agg(F.sum("bitval").cast("int").alias("simhash"))
    )


# DuckDB has no conv(hex, 16, 10); reconstruct the 16-bit value from nibble
# positions in a hex alphabet (deterministic, engine-agnostic).
_NIBBLE = "(instr('0123456789abcdef', substr(md5(tok), {pos}, 1)) - 1)"
_H16_SQL = (
    f"({_NIBBLE.format(pos=1)} * 4096 + {_NIBBLE.format(pos=2)} * 256 + "
    f"{_NIBBLE.format(pos=3)} * 16 + {_NIBBLE.format(pos=4)})"
)

DEDUP_SIMHASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM ({_CORPUS_SQL})
),
hashed AS (SELECT doc_id, {_H16_SQL} AS h16 FROM toks),
bits AS (
  SELECT doc_id, b,
         CASE WHEN (h16 >> b) & 1 = 1 THEN 1 ELSE -1 END AS vote
  FROM hashed, unnest(range(0, 16)) u(b)
),
bitsum AS (SELECT doc_id, b, sum(vote) AS s FROM bits GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN 1 << b ELSE 0 END) AS INTEGER) AS simhash
FROM bitsum
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------


# Banded sign-LSH blocking for the embedding near-dup.  Each band hashes
# a disjoint slice of components to its sign pattern; a pair is a
# candidate when ANY band key collides (same AND-OR structure as MinHash
# banding).  Near-identical vectors (cos >= 0.98 → angle < 11.5°) flip a
# given sign bit with probability theta/pi < 0.064, so an 8-bit band
# matches with p >= 0.59 and 4 bands reach recall >= 1-(1-p)^4 ≈ 0.97 —
# while unrelated vectors (angle ≈ 90°) collide in a band with p ≈ 2^-8.
#
# Scale rule (IMPLEMENTED, not just documented — r3 task 5): per-band
# bucket population is n / 2^bits, so bits = ceil(log2(n /
# target_bucket_size)), clamped to [8, 16] (4 bands × 16 bits = all 64
# components; the r9 sf1 probe caught the previous 12-bit clamp
# densifying buckets quadratically past ~8k vectors — 23× shuffle
# growth at 10× data).  Computed from the embeddings row count with
# EXACT integer arithmetic — ``(ceil(n/2) − 1).bit_length()`` in
# Python, the equivalent power-of-two CASE ladder in SQL — so both
# engines derive the identical width from the data: 8 bits at the
# 500-vector fixtures, 10 at sf0.1's 2000, 14 at the derived sf1's
# 20k.  The bucket count is derived from the DATA (sign entropy), not
# a fixed metadata column, so no join key's fan-out is tied to corpus
# size.  Recall floor at full 16-bit width: a 0.98-cosine pair matches
# a band with p ≥ 0.936¹⁶ ≈ 0.35, so 4 bands give ≥ 1−(1−0.35)⁴ ≈ 0.82
# for boundary pairs (planted sign-identical mutants remain 1.0).
# Past the 16-bit clamp (~130k vectors at target occupancy) the band
# key becomes an IVF/PQ coarse code (``dedup_semantic`` is that
# continuation, already implemented); the plan shape (band-key
# equi-join → verify bucket-mates) is unchanged.
_EMB_BANDS = 4
_EMB_TARGET_BUCKET = 2  # aimed per-band bucket population
_EMB_BITS_LO, _EMB_BITS_HI = 8, 16


def _emb_bits(n_vectors: int) -> int:
    """bits = clamp(ceil(log2(ceil(n / target))), lo, hi), integer-exact."""
    m = max(2, (n_vectors + _EMB_TARGET_BUCKET - 1) // _EMB_TARGET_BUCKET)
    return min(_EMB_BITS_HI, max(_EMB_BITS_LO, (m - 1).bit_length()))


# SQL twin of _emb_bits: bit_length as a power-of-two threshold ladder
# (exact integer comparisons — no float log2 cross-engine risk)
_EMB_BITS_SQL = (
    "(SELECT CASE "
    + " ".join(
        f"WHEN m <= {1 << b} THEN {b}"
        for b in range(_EMB_BITS_LO, _EMB_BITS_HI)
    )
    + f" ELSE {_EMB_BITS_HI} END FROM (SELECT greatest(2, (count(*)"
    f" + {_EMB_TARGET_BUCKET - 1}) // {_EMB_TARGET_BUCKET}) AS m"
    " FROM embeddings))"
)


def _emb_band_key(col: str, band: int, bits: int) -> F.Column:
    """Integer sign-pattern key over components [band*bits, band*bits+bits)."""
    b = F.lit(0)
    for i in range(bits):
        b = b + F.when(
            F.element_at(F.col(col), band * bits + i + 1) >= 0,
            F.lit(1 << i),
        ).otherwise(F.lit(0))
    return b.cast("int")


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: planted perturbed copies (every 50th vector,
    first component ×1.1) recovered by cosine ≥ 0.98 among banded
    sign-LSH bucket-mates (see module constants above for the recall
    math).  The mutation scales a component, so every planted pair has
    identical sign patterns — recall 1.0 by construction, pinned by
    tests/test_dedup_recall.py.

    Plan shape: band-key equi-join proposes candidates (ids only),
    verification re-joins embeddings by id — vectors never travel
    through the candidate shuffle.  Cosine folds are bit-identical
    across engines (functions/vectors.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # band width derived from the corpus size (same rule as the oracle)
    bits = _emb_bits(table_count(spark, sf_dir, "embeddings"))
    mutants = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + _MUT_OFFSET).alias("vec_id"),
        F.concat(
            F.array((F.element_at("embedding", 1) * F.lit(1.1)).cast("float")),
            F.slice("embedding", 2, EMB_DIM - 1),
        ).alias("embedding"),
    )
    corpus = (
        emb.select("vec_id", "embedding")
        .unionByName(mutants)
        # squared norm once per vector, not once per pair
        .withColumn("n2", spark_dot(F.col("embedding"), F.col("embedding")))
    )
    stack_args = ", ".join(f"{b}, key{b}" for b in range(_EMB_BANDS))
    # bands feeds both sides of the candidate self-join: unpersisted,
    # the sign-LSH band keys (4 bands x up-to-16 element_at folds per
    # vector — the expensive recompute) were built twice, so cache the
    # small (vec_id, band, bkey) relation. The corpus (vectors + n2)
    # deliberately stays UNPERSISTED (r14, resolving the r13-flagged
    # regression): caching the float-array embedding column forces a
    # row-based in-memory materialization whose memory pressure buys
    # nothing over re-scanning page-cached columnar parquet — the §5
    # cache rule — and the interleaved A/B (7 rounds at 32c AND 8c)
    # measured bands-only at the best median of all three variants.
    bands = persist_tracked(
        corpus.select(
            "vec_id",
            *[
                _emb_band_key("embedding", b, bits).alias(f"key{b}")
                for b in range(_EMB_BANDS)
            ],
        ).select(
            "vec_id",
            F.expr(f"stack({_EMB_BANDS}, {stack_args}) as (band, bkey)"),
        )
    )
    a, b = bands.alias("a"), bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("id1"), F.col("b.vec_id").alias("id2"))
        .distinct()
    )
    c1 = corpus.select(
        F.col("vec_id").alias("id1"), F.col("embedding").alias("e1"), F.col("n2").alias("n2a")
    )
    c2 = corpus.select(
        F.col("vec_id").alias("id2"), F.col("embedding").alias("e2"), F.col("n2").alias("n2b")
    )
    return (
        candidates.join(c1, "id1")
        .join(c2, "id2")
        .select(
            "id1",
            "id2",
            dround(
                spark_cosine_prenorm(
                    spark_dot(F.col("e1"), F.col("e2")),
                    F.col("n2a"),
                    F.col("n2b"),
                ),
                6,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= 0.98)
    )


def _emb_band_key_sql(col: str, band: int, bits: int) -> str:
    return "(" + " + ".join(
        f"(CASE WHEN {col}[{band * bits + i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    ) + ")"


def _emb_band_key_sql_derived(col: str, band: int) -> str:
    """Band key for the RUNTIME-derived width: a CASE over the clamped
    menu of widths, selected by the same corpus-count rule as the Spark
    side (``p.bits`` — see ``_EMB_BITS_SQL``)."""
    arms = " ".join(
        f"WHEN {w} THEN {_emb_band_key_sql(col, band, w)}"
        for w in range(_EMB_BITS_LO, _EMB_BITS_HI + 1)
    )
    return f"(CASE (SELECT bits FROM p) {arms} END)"


_EMB_BAND_CASE = "CASE b " + " ".join(
    f"WHEN {b} THEN k{b}" for b in range(_EMB_BANDS)
) + " END"

DEDUP_EMB_SQL = f"""
WITH p AS (SELECT {_EMB_BITS_SQL} AS bits),
corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {_MUT_OFFSET} AS vec_id,
         list_prepend(CAST(CAST(embedding[1] AS DOUBLE) * 1.1 AS FLOAT), embedding[2:]) AS embedding
  FROM embeddings WHERE vec_id % 50 = 0
),
keyed AS (
  SELECT vec_id,
         {', '.join(f'{_emb_band_key_sql_derived("embedding", b)} AS k{b}' for b in range(_EMB_BANDS))}
  FROM corpus
),
bands AS (
  SELECT vec_id, b, {_EMB_BAND_CASE} AS bkey
  FROM keyed, unnest(range(0, {_EMB_BANDS})) u(b)
),
cand AS (
  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
  FROM bands a JOIN bands b
    ON a.b = b.b AND a.bkey = b.bkey AND a.vec_id < b.vec_id
)
SELECT id1, id2, cos FROM (
  SELECT id1, id2,
    CAST(round(CAST(({sql_cosine('c1.embedding', 'c2.embedding')}) AS DECIMAL(30,10)), 6) AS DOUBLE) AS cos
  FROM cand
  JOIN corpus c1 ON c1.vec_id = cand.id1
  JOIN corpus c2 ON c2.vec_id = cand.id2
)
WHERE cos >= 0.98
"""


# ---------------------------------------------------------------------------
# duplicate-graph resolution: connected components (min-label propagation)
# ---------------------------------------------------------------------------

_CC_ITERS = 4  # propagate+jump rounds: reach ≥ 2^k − 1 = diameter 15


def _cc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected duplicate-graph edges from two cheap, deterministic
    sources: same-fingerprint cliques (star to the min doc) and the
    planted near-dup pairs (every 20th doc ↔ its mutant)."""
    corpus = _corpus_with_mutants(spark, sf_dir)
    fp = corpus.select(
        "doc_id",
        F.md5(
            F.array_join(
                F.array_sort(F.array_distinct(F.split(F.lower(F.col("text")), " "))),
                " ",
            )
        ).alias("fp"),
    )
    # keeper/count via ONE window over fp instead of groupBy + join back
    # (r14, guide §1.2/§2.4): the agg+join form referenced the fp subtree
    # twice, so the per-doc split+sort+distinct+md5 fingerprint ran TWICE
    # over the corpus and the fp relation crossed two Exchanges; the
    # window computes keeper and n in one pass over one hash exchange.
    # Same values by definition (min/count per fp group); dup groups are
    # tiny, so the fp partitioning cannot skew. Interleaved A/B on the
    # edge build: 2.03 -> 1.14 s median, 5/5 pair wins, edge set
    # identical (2732 rows at sf0.1).
    w_fp = Window.partitionBy("fp")
    fp_edges = (
        fp.withColumn("keeper", F.min("doc_id").over(w_fp))
        .withColumn("n", F.count(F.lit(1)).over(w_fp))
        .filter((F.col("n") > 1) & (F.col("doc_id") != F.col("keeper")))
        .select(F.col("doc_id").alias("a"), F.col("keeper").alias("b"))
    )
    planted = corpus.filter(
        (F.col("doc_id") % 20 == 0) & (F.col("doc_id") < _MUT_OFFSET)
    ).select(
        F.col("doc_id").alias("a"),
        (F.col("doc_id") + _MUT_OFFSET).alias("b"),
    )
    und = fp_edges.unionByName(planted)
    return und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()


def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged (node, label) frame of the duplicate graph, shared by
    ``dedup_components`` and ``dedup_canonical_pick`` (the component
    table a production pipeline materializes once for every downstream
    keep/drop stage)."""
    return shared("cc_labels", spark, sf_dir, _build_cc_labels)


def _build_cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _cc_edges(spark, sf_dir).localCheckpoint()
    labels = edges.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(_CC_ITERS):
        # NOTE: the localCheckpoint() calls are not optional — persist()
        # (even materialized by an action) does NOT truncate the
        # *analyzed logical plan*, and with the jump self-join the plan
        # tree quadruples per round (labels feeds both union sides; prop
        # feeds both jump sides), so Catalyst re-analysis goes 4^k and
        # hangs the driver by round 3 even for 122 nodes (observed).
        # localCheckpoint swaps the lineage for a LogicalRDD so every
        # round analyzes a constant-size plan — the same per-iteration
        # truncation GraphX/MLlib perform.  eager=False (r14) only drops
        # the blocking count() (interleaved A/B 5/5 pair wins, median
        # 5.91→4.04 s, labels bit-identical); it does NOT defer the
        # rounds to the consumer's action.  Dataset.checkpoint executes
        # the physical plan to build its RDD, and under AQE that runs
        # every shuffle stage below the final one right here, at call
        # time: a cold build at sf0.01 runs 27 jobs inside this builder
        # and 1 in the consumer's action.  ROADMAP and plans/cold_builds/
        # list the alternatives measured.
        # Executor-local blocks (no checkpoint dir needed); at cluster
        # scale use spark.sparkContext.setCheckpointDir + .checkpoint()
        # if executor loss during the few CC rounds must be survivable.
        # propagate as ONE aggregate: each node's min over its own label
        # and its neighbours' labels.  Every edge end is a node of
        # `labels` (the edges are symmetric), so the value is the
        # oracle's least(label, coalesce(min neighbour label, label)).
        prop = (
            edges.join(labels, edges.b == labels.node)
            .select(F.col("a").alias("node"), "label")
            .unionByName(labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        hop = prop.select(
            F.col("node").alias("h_node"), F.col("label").alias("h_label")
        )
        labels = (
            prop.join(hop, prop.label == F.col("h_node"), "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("h_label", "label")
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
    return labels


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-set resolution: connected components over the duplicate
    graph via min-label propagation — the stage that turns pairwise
    near-dup EVIDENCE into keep/drop DECISIONS (one keeper per
    component) in a training-data pipeline.

    ``_CC_ITERS`` fixed rounds of ``label(v) ← min(label(v), min over
    neighbours)`` followed by POINTER JUMPING (``label(v) ←
    min(label(v), label(label(v)))``) — each round is one min-aggregate
    over (edges ⋈ labels) ∪ labels plus the jump's equi-join, and the
    jump doubles the reached distance per
    round (reach ≥ 2^k − 1), the standard O(log diameter) relational CC
    recipe (GraphX/Pregel large-star).  Fixed round count keeps the
    computation DuckDB-unrollable (the oracle replays the same rounds as
    CTEs); correctness vs an independent union-find is pinned in
    ``tests/test_dedup_recall.py``.

    Output: non-singleton components as (doc_id, component) with the
    component labelled by its minimum doc_id."""
    return _cc_labels(spark, sf_dir).select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )


def _cc_oracle() -> str:
    fp_base = f"""
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp
  FROM ({_CORPUS_SQL})
"""
    rounds = []
    for i in range(_CC_ITERS):
        rounds.append(f"""
n{i + 1} AS (
  SELECT e.a AS node, min(l.label) AS nl
  FROM edges e JOIN l{i} l ON e.b = l.node
  GROUP BY e.a
),
p{i + 1} AS (
  SELECT l.node, least(l.label, coalesce(n.nl, l.label)) AS label
  FROM l{i} l LEFT JOIN n{i + 1} n ON l.node = n.node
),
l{i + 1} AS (
  SELECT p.node, least(p.label, coalesce(h.label, p.label)) AS label
  FROM p{i + 1} p LEFT JOIN p{i + 1} h ON p.label = h.node
)""")
    return f"""
WITH fp AS ({fp_base}),
keeper AS (
  SELECT fp, min(doc_id) AS keeper, count(*) AS n FROM fp GROUP BY fp
),
dir_edges AS (
  SELECT f.doc_id AS a, k.keeper AS b
  FROM fp f JOIN keeper k ON f.fp = k.fp AND k.n > 1
  WHERE f.doc_id <> k.keeper
  UNION
  SELECT doc_id AS a, doc_id + {_MUT_OFFSET} AS b
  FROM documents WHERE doc_id % 20 = 0
),
edges AS (
  SELECT a, b FROM dir_edges
  UNION
  SELECT b AS a, a AS b FROM dir_edges
),
l0 AS (
  SELECT DISTINCT a AS node, a AS label FROM edges
),{','.join(rounds)}
SELECT node AS doc_id, label AS component
FROM l{_CC_ITERS}
ORDER BY doc_id
"""


DEDUP_COMPONENTS_SQL = _cc_oracle()


#: "new batch" designation for incremental dedup: every 7th document
#: plays the freshly-crawled shard, the rest the historical corpus
_BATCH_MOD = 7


def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the nightly-crawl pattern: a NEW batch of
    documents checks its content fingerprints against the HISTORICAL
    corpus and only unseen content survives. Distinct from the
    intra-corpus queries (``dedup_exact``/``dedup_fingerprint``): at
    100 TB you never re-deduplicate the archive; you anti-join the
    day's shard against the fingerprint index.

    Scale shape — the archive is NEVER shuffled and never broadcast:
    the (tiny) batch fingerprint set broadcasts into an inner join the
    archive merely streams through, producing the ``seen`` subset
    (bounded by the batch size); the batch then anti-joins against a
    broadcast of ``seen``. Batch-internal duplicates resolve with the
    standard min-id keeper over the survivors."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    fp = F.md5(
        F.array_join(
            F.array_sort(F.array_distinct(F.split(F.lower(F.col("text")), " "))),
            " ",
        )
    )
    new = persist_tracked(
        docs.filter(F.col("doc_id") % _BATCH_MOD == 0).select(
            "doc_id", fp.alias("fingerprint")
        )
    )
    hist = docs.filter(F.col("doc_id") % _BATCH_MOD != 0).select(
        fp.alias("fingerprint")
    )
    seen = (
        hist.join(
            new.select("fingerprint").distinct(), "fingerprint"
        )
        .select("fingerprint")
        .distinct()
    )
    unseen = new.join(seen, "fingerprint", "left_anti")
    return unseen.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keeper_id"),
        F.count(F.lit(1)).alias("n_in_batch"),
    )


DEDUP_INCREMENTAL_SQL = f"""
WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fingerprint
  FROM documents
),
new AS (SELECT * FROM fp WHERE doc_id % {_BATCH_MOD} = 0),
hist AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % {_BATCH_MOD} <> 0)
SELECT fingerprint,
       min(doc_id) AS keeper_id,
       count(*)    AS n_in_batch
FROM new
WHERE fingerprint NOT IN (SELECT fingerprint FROM hist)
GROUP BY fingerprint
ORDER BY keeper_id
"""


def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup: a new crawl shard's MinHash band signatures
    probe the historical corpus's band index, and only cross-boundary
    candidates verify exact Jaccard — the production shape where the
    archive's signatures are a persisted store and the nightly batch
    never triggers an archive self-join.

    Scale shape: the archive band index stays partitioned (bucketed by
    band key in a real store); the batch's bands are the small side of
    the candidate equi-join, and verification touches only bucket-mate
    pairs. Complements :func:`dedup_incremental_batch` (exact content)
    and :func:`dedup_minhash_lsh` (intra-corpus near-dup)."""
    # r13 (guide §2.3): probe the SESSION-SHARED shingle/band index
    # (identical relations — same `_shingles(_corpus_with_mutants(...))`
    # lineage) instead of rebuilding and persisting a private copy; the
    # incremental query is exactly the "nightly batch probes the
    # standing archive index" shape the shared materialization models.
    bands = _shared_bands(spark, sf_dir)
    newb = bands.filter(F.col("doc_id") % _BATCH_MOD == 0).alias("a")
    histb = bands.filter(F.col("doc_id") % _BATCH_MOD != 0).alias("b")
    candidates = (
        histb.join(
            newb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key")),
        )
        .select(
            F.col("a.doc_id").alias("doc_new"),
            F.col("b.doc_id").alias("doc_hist"),
        )
        .distinct()
    )
    # r14: array-intersect verify over the shared doc-set relation (see
    # _doc_sid_sets)
    scored = _verify_counts(
        candidates, _shared_doc_sets(spark, sf_dir), "doc_new", "doc_hist"
    )
    jac = scored.select(
        "doc_new",
        "doc_hist",
        dround(
            F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common")),
            6,
        ).alias("jaccard"),
    )
    return jac.filter(F.col("jaccard") >= _JACCARD_THRESHOLD)


DEDUP_MINHASH_INCR_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
hashed AS (
  SELECT doc_id, h, md5(CAST(h AS VARCHAR) || '|' || CAST(sid AS VARCHAR)) AS hv
  FROM sh, unnest(range(0, {_N_HASHES})) u(h)
),
minhashes AS (
  SELECT doc_id, h, min(hv) AS minh FROM hashed GROUP BY doc_id, h
),
bands AS (
  SELECT doc_id, CAST(h // {_BAND_SIZE} AS INTEGER) AS band,
         string_agg(minh, '|' ORDER BY h) AS band_key
  FROM minhashes GROUP BY 1, 2
),
candidates AS (
  SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_hist
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key
   AND a.doc_id % {_BATCH_MOD} = 0 AND b.doc_id % {_BATCH_MOD} <> 0
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_new, c.doc_hist, count(*) AS n_common
  FROM candidates c
  JOIN sh s1 ON s1.doc_id = c.doc_new
  JOIN sh s2 ON s2.doc_id = c.doc_hist AND s2.sid = s1.sid
  GROUP BY c.doc_new, c.doc_hist
)
SELECT doc_new, doc_hist, jaccard FROM (
  SELECT doc_new, doc_hist,
    CAST(round(CAST((CAST(n_common AS DOUBLE) / (z1.n_shingles + z2.n_shingles - n_common)) AS DECIMAL(30,10)), 6) AS DOUBLE) AS jaccard
  FROM common
  JOIN sizes z1 ON z1.doc_id = doc_new
  JOIN sizes z2 ON z2.doc_id = doc_hist
)
WHERE jaccard >= {_JACCARD_THRESHOLD}
ORDER BY doc_new, doc_hist
"""


# ---------------------------------------------------------------------------
# content-defined chunk (CDC) dedup — shift-robust paragraph dedup
# ---------------------------------------------------------------------------

_CDC_MOD = 8          # boundary when h16(token) % 8 == 0 → ~8-token chunks
_CDC_MIN_SHARED = 2   # report pairs sharing at least this many chunks


def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level dedup with CONTENT-DEFINED chunk boundaries — the
    Dolma-style "remove duplicated paragraphs" stage made robust to
    boundary shifts: fixed-width windows stop matching after any
    insertion/deletion, but rolling-hash boundaries (chunk ends wherever
    ``h16(token) % 8 == 0``) re-synchronize immediately, so the planted
    mutants (first two tokens dropped) still share every interior chunk
    with their originals.

    Pipeline: per-doc boundary positions (pure array expressions — no
    UDF), chunk strings md5-keyed, distinct (doc, chunk), a
    document-frequency cut (chunks in more than ``cap`` docs are
    boilerplate — the same derived cut as the n-gram join, and exactly
    the frequent-paragraph removal production pipelines apply), then an
    inverted-index self-join on the chunk key.  Output: doc pairs
    sharing ≥ 2 chunks with the shared count.  At 100 TB the chunk key
    becomes an xxhash64 int (the ``dedup_minhash_fast`` trick) and the
    join stays bucketed by key; nothing is all-pairs."""
    corpus = _corpus_with_mutants(spark, sf_dir)
    toks = corpus.select("doc_id", F.split(F.col("text"), " ").alias("t")).filter(
        F.size("t") >= 1
    )
    h16 = lambda c: (  # noqa: E731
        F.conv(F.substring(F.md5(c), 1, 4), 16, 10).cast("int")
    )
    with_bounds = toks.withColumn(
        "bounds",
        F.concat(
            F.array(F.lit(0)),
            F.filter(
                F.sequence(F.lit(1), F.size("t")),
                lambda p: h16(F.element_at(F.col("t"), p)) % _CDC_MOD == 0,
            ),
            F.array(F.size("t")),
        ),
    )
    chunks = with_bounds.select(
        "doc_id",
        F.explode(
            F.transform(
                F.filter(
                    F.sequence(F.lit(1), F.size("bounds") - 1),
                    lambda i: F.element_at(F.col("bounds"), i + 1)
                    > F.element_at(F.col("bounds"), i),
                ),
                lambda i: F.md5(
                    F.array_join(
                        F.slice(
                            F.col("t"),
                            F.element_at(F.col("bounds"), i) + 1,
                            F.element_at(F.col("bounds"), i + 1)
                            - F.element_at(F.col("bounds"), i),
                        ),
                        " ",
                    )
                ),
            )
        ).alias("ck"),
    )
    # cap derived from the RAW documents count (same base as the SQL
    # twin's subquery — the mutant-augmented corpus would give n + n/20)
    cap = _ngram_df_cap(table_count(spark, sf_dir, "documents"))
    # r13 (guide §2.4): ONE exchange by chunk key does everything the
    # old persist + df-aggregate + membership join + inverted-index
    # self-join chain did.  ``repartition(ck)`` clusters each chunk
    # key's rows; HashPartitioning(ck) satisfies the distribution
    # required by the (doc_id, ck) distinct, the per-ck window count,
    # and the per-ck collect, so none of them adds a shuffle.  The df
    # cut runs on the window COUNT before any posting list exists
    # (WindowExec buffers with spilling, and ``collect_list`` only ever
    # sees df ≤ cap groups — bounded at any scale), and the pair
    # explode emits exactly the doc1 < doc2 pairs the self-join
    # produced (doc ids are distinct per chunk and ``array_sort``
    # makes i < j ⇔ doc1 < doc2).
    posting = (
        chunks.repartition("ck")
        .dropDuplicates(["doc_id", "ck"])
        .withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("ck"))
        )
        .filter(F.col("df") <= cap)
        .groupBy("ck")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
    )
    pairs = posting.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("docs"),
                    lambda d1, i: F.transform(
                        F.slice(
                            F.col("docs"), i + 2, F.size(F.col("docs"))
                        ),
                        lambda d2: F.struct(
                            d1.alias("doc1"), d2.alias("doc2")
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    return (
        pairs.groupBy(
            F.col("p.doc1").alias("doc1"), F.col("p.doc2").alias("doc2")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_chunks"))
        .filter(F.col("n_shared_chunks") >= _CDC_MIN_SHARED)
    )


_CDC_NIB = "(instr('0123456789abcdef', substr(md5(t[p]), {q}, 1)) - 1)"
_CDC_H16 = (
    f"({_CDC_NIB.format(q=1)} * 4096 + {_CDC_NIB.format(q=2)} * 256 + "
    f"{_CDC_NIB.format(q=3)} * 16 + {_CDC_NIB.format(q=4)})"
)

DEDUP_CDC_SQL = f"""
WITH toks AS (
  SELECT doc_id, t FROM (
    SELECT doc_id, string_split(text, ' ') AS t FROM ({_CORPUS_SQL})
  ) WHERE len(t) >= 1
),
bounded AS (
  SELECT doc_id, t,
         [0]
           || [p for p in range(1, len(t) + 1) if ({_CDC_H16}) % {_CDC_MOD} = 0]
           || [len(t)] AS bounds
  FROM toks
),
chunks AS (
  SELECT DISTINCT doc_id, ck FROM (
    SELECT doc_id, unnest(
      [md5(array_to_string(t[bounds[i] + 1 : bounds[i + 1]], ' '))
       for i in range(1, len(bounds)) if bounds[i + 1] > bounds[i]]
    ) AS ck
    FROM bounded
  )
),
capped AS (
  SELECT ck FROM chunks GROUP BY ck
  HAVING count(*) <= ({_NGRAM_DF_CAP_SQL})
),
keyed AS (SELECT c.doc_id, c.ck FROM chunks c JOIN capped USING (ck))
SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       count(*) AS n_shared_chunks
FROM keyed a JOIN keyed b ON a.ck = b.ck AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {_CDC_MIN_SHARED}
"""


# Production-hash twin: xxhash64 minhash signatures have no DuckDB
# equivalent, so this runs outside the driver-checked registry; recall and
# pair-set equality vs the md5 oracle twin are pinned by
# tests/test_dedup_recall.py::test_minhash_fast_twin_matches_md5_pairs_and_recall.
PRODUCTION_QUERIES = {
    "dedup_minhash_fast": dedup_minhash_fast,
}

QUERIES = {
    "dedup_incremental_batch": dedup_incremental_batch,
    "dedup_minhash_incremental": dedup_minhash_incremental,
    "dedup_exact": dedup_exact,
    "dedup_fingerprint": dedup_fingerprint,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_cdc_chunks": dedup_cdc_chunks,
    # NOTE: dedup_ngram_jaccard scores RAW-universe Jaccard at 0.4 but
    # only over candidate pairs from the shared LSH ∪ rare-shingle index
    # (see _pair_candidates): recall for pairs between 0.4 and the LSH
    # design point whose shared shingles are all non-rare is
    # probabilistic, not guaranteed.  Both engines mirror the same
    # candidate set, so the differential gate checks exact-verify
    # parity, not absolute recall (that bound is pinned in
    # tests/test_dedup_recall.py).
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_components": dedup_components,
}

ORACLES = {
    "dedup_incremental_batch": DEDUP_INCREMENTAL_SQL,
    "dedup_minhash_incremental": DEDUP_MINHASH_INCR_SQL,
    "dedup_components": DEDUP_COMPONENTS_SQL,
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_fingerprint": DEDUP_FINGERPRINT_SQL,
    "dedup_minhash_lsh": DEDUP_MINHASH_SQL,
    "dedup_cdc_chunks": DEDUP_CDC_SQL,
    "dedup_ngram_jaccard": DEDUP_NGRAM_SQL,
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    "dedup_embedding_cosine": DEDUP_EMB_SQL,
}


# ---------------------------------------------------------------------------
# exact-substring dedup (ExactSubstr, Lee et al. 2022)
# ---------------------------------------------------------------------------

_SUBSTR_K = 20       # token-gram length (the paper's 50-token unit, scaled)
_SUBSTR_MIN = 40     # report pairs sharing a run of >= this many tokens
_SUBSTR_DF_CAP = 20  # posting-list bound for the gram self-join


def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate detection — the relational form of the
    suffix-array ExactSubstr dedup of "Deduplicating Training Data Makes
    Language Models Better" (Lee et al. 2022): find document pairs that
    share a verbatim run of ≥ ``_SUBSTR_MIN`` tokens.

    Shape: positional 20-gram hashes → ONE aggregation per gram that both
    enforces the document-frequency cap (the same quadratic-blowup guard
    as ``dedup_ngram_jaccard``) and emits the candidate pairs: the
    posting list is ``collect_list``-ed (bounded at ``_SUBSTR_DF_CAP``
    occurrences, so group state is O(cap)), then i<j combinations are
    generated with array lambdas — no df-census join-back and no
    self-join, so the gram relation is shuffled exactly once.  Per
    (pair, diagonal pa−pb) the matched start positions form consecutive
    runs, recovered with the gaps-and-islands window
    (``pos − row_number``) — a shared run of r grams is a shared
    substring of r+19 tokens.  State is bounded by actual matches,
    never corpus size.  Matches are exact (no sketch): the planted
    mutants (suffix copies) are recovered with their true overlap
    length."""
    corpus = _corpus_with_mutants(spark, sf_dir)
    # tokenize ONCE into a materialized column: the gram window below
    # slices this array per position — inlining the split would re-split
    # the text O(tokens) times per row inside the lambda.  Gram identity
    # is xxhash64 (8-byte int shuffle key; collision odds over a 100-TB
    # corpus' ~1e12 grams are ~1e-7 — and a collision only merges two
    # candidate groups, the run-length filter still bounds the damage).
    toks = corpus.select("doc_id", F.split(F.col("text"), " ").alias("t")).filter(
        F.size("t") >= _SUBSTR_K
    )
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - (_SUBSTR_K - 1)),
                lambda i: F.xxhash64(
                    F.array_join(F.slice(F.col("t"), i, F.lit(_SUBSTR_K)), " ")
                ),
            )
        ).alias("pos", "g"),
    )
    # collect_list caps at df+1 entries via the size filter below; groups
    # over the cap are dropped whole (hot grams carry no pair signal, and
    # unbounded groups are exactly the state blowup the cap exists for).
    posting = (
        grams.groupBy("g")
        .agg(F.collect_list(F.struct("doc_id", "pos")).alias("m"))
        .filter(F.size("m") <= _SUBSTR_DF_CAP)
    )
    m = F.col("m")
    combos = F.filter(
        F.flatten(
            F.transform(
                m,
                lambda x, i: F.transform(
                    F.slice(m, i + 2, _SUBSTR_DF_CAP),
                    lambda y: F.struct(
                        x["doc_id"].alias("da"),
                        x["pos"].alias("qa"),
                        y["doc_id"].alias("db"),
                        y["pos"].alias("qb"),
                    ),
                ),
            )
        ),
        lambda p: p["da"] != p["db"],
    )
    lt = F.col("p.da") < F.col("p.db")
    pairs = posting.select(F.explode(combos).alias("p")).select(
        F.least("p.da", "p.db").alias("id_a"),
        F.greatest("p.da", "p.db").alias("id_b"),
        F.when(lt, F.col("p.qa")).otherwise(F.col("p.qb")).alias("pa"),
        F.when(lt, F.col("p.qb")).otherwise(F.col("p.qa")).alias("pb"),
    )
    diag = F.col("pa") - F.col("pb")
    w = Window.partitionBy("id_a", "id_b", diag).orderBy("pa")
    islands = pairs.select(
        "id_a",
        "id_b",
        diag.alias("diag"),
        "pa",
        (F.col("pa") - F.row_number().over(w)).alias("island"),
    )
    runs = islands.groupBy("id_a", "id_b", "diag", "island").agg(
        F.count(F.lit(1)).alias("run")
    )
    return (
        runs.groupBy("id_a", "id_b")
        .agg(
            (F.max("run") + (_SUBSTR_K - 1)).alias("longest_shared_tokens"),
            F.sum("run").alias("n_gram_matches"),
        )
        .filter(F.col("longest_shared_tokens") >= _SUBSTR_MIN)
    )


DEDUP_EXACT_SUBSTRING_SQL = f"""
WITH corpus AS ({_CORPUS_SQL}),
toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM corpus
  WHERE len(string_split(text, ' ')) >= {_SUBSTR_K}
),
grams AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(t[i:i+{_SUBSTR_K - 1}], ' ')) AS g
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - {_SUBSTR_K - 2})) AS i
        FROM toks)
),
dfok AS (SELECT g FROM grams GROUP BY g HAVING count(*) <= {_SUBSTR_DF_CAP}),
g2 AS (SELECT grams.doc_id, grams.pos, grams.g FROM grams JOIN dfok USING (g)),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa, b.pos AS pb
  FROM g2 a JOIN g2 b USING (g)
  WHERE a.doc_id < b.doc_id
),
islands AS (
  SELECT id_a, id_b, pa - pb AS diag, pa,
         pa - row_number() OVER (
           PARTITION BY id_a, id_b, pa - pb ORDER BY pa
         ) AS island
  FROM pairs
),
runs AS (
  SELECT id_a, id_b, diag, island, count(*) AS run
  FROM islands GROUP BY id_a, id_b, diag, island
)
SELECT id_a, id_b,
       CAST(max(run) + {_SUBSTR_K - 1} AS BIGINT) AS longest_shared_tokens,
       CAST(sum(run) AS BIGINT) AS n_gram_matches
FROM runs
GROUP BY id_a, id_b
HAVING max(run) + {_SUBSTR_K - 1} >= {_SUBSTR_MIN}
ORDER BY id_a, id_b
"""

QUERIES["dedup_exact_substring"] = dedup_exact_substring
ORACLES["dedup_exact_substring"] = DEDUP_EXACT_SUBSTRING_SQL


# ---------------------------------------------------------------------------
# Quality-weighted canonical selection (round 5)
# ---------------------------------------------------------------------------


def dedup_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: within each duplicate component, keep
    the HIGHEST-QUALITY copy rather than the lowest id.

    Production dedup pipelines don't keep an arbitrary member of a
    duplicate cluster — they keep the best one (longest, least-truncated,
    richest vocabulary; cf. CCNet/RefinedWeb keeping the highest-scoring
    duplicate). Quality here is a deterministic integer score
    (``distinct_tokens · 100000 + char_length`` — lexicographic
    vocabulary-then-length, exact in both engines); ties break to the
    smaller doc_id.

    Plan shape on top of :func:`dedup_components`: one equi-join of the
    component labels against the per-doc score (both keyed by doc_id) and
    ONE hash aggregate on the component key — the argmax is
    ``max(struct(score, -doc_id))`` (score desc, doc_id asc), which
    partial-aggregates map-side, so the exchange carries one row per
    (component, map partition) instead of every member row through a
    window sort. At 100 TB the quality score would come precomputed
    from the scoring stage and the component table materialized once by
    the resolution stage; in-session both consumers share the converged
    labels through :func:`_cc_labels` (the checkpoint cache), so this
    query pays only the join + aggregate when components already ran."""
    labels = _cc_labels(spark, sf_dir).select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )
    corpus = _corpus_with_mutants(spark, sf_dir)
    qual = corpus.select(
        "doc_id",
        (
            F.size(F.array_distinct(F.split(F.lower(F.col("text")), " "))).cast("long")
            * F.lit(100000)
            + F.length("text").cast("long")
        ).alias("score"),
    )
    members = labels.join(qual, "doc_id")
    return (
        members.groupBy("component")
        .agg(
            F.max(F.struct(F.col("score"), (-F.col("doc_id")).alias("nid"))).alias(
                "best"
            ),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            "component",
            (-F.col("best.nid")).alias("keeper"),
            F.col("best.score").alias("keeper_score"),
            "n_members",
        )
    )


# The embedded CC rounds re-inline when nested inside another CTE (each
# l{{i}}/p{{i}} is referenced twice per round, so the expression tree can
# double per round) — at sf0.1 that overran the oracle harness's 16 GB
# DuckDB budget. Forcing every round CTE to MATERIALIZE bounds the work
# to one evaluation per round, like the Spark side's localCheckpoint.
_CC_SQL_MATERIALIZED = DEDUP_COMPONENTS_SQL
for _n in ["fp", "keeper", "dir_edges", "edges", "l0"] + [
    f"{_k}{_i}" for _i in range(1, _CC_ITERS + 1) for _k in ("n", "p", "l")
]:
    _CC_SQL_MATERIALIZED = _CC_SQL_MATERIALIZED.replace(
        f"{_n} AS (", f"{_n} AS MATERIALIZED (", 1
    )

DEDUP_CANONICAL_SQL = f"""
WITH comp AS MATERIALIZED (
{_CC_SQL_MATERIALIZED}
),
qual AS (
  SELECT doc_id,
         CAST(len(list_distinct(string_split(lower(text), ' '))) AS BIGINT) * 100000
           + CAST(len(text) AS BIGINT) AS score
  FROM ({_CORPUS_SQL})
),
ranked AS (
  SELECT c.component, c.doc_id, q.score,
         row_number() OVER (
           PARTITION BY c.component ORDER BY q.score DESC, c.doc_id ASC
         ) AS rn
  FROM comp c JOIN qual q ON c.doc_id = q.doc_id
)
SELECT component,
       max(CASE WHEN rn = 1 THEN doc_id END) AS keeper,
       max(CASE WHEN rn = 1 THEN score END)  AS keeper_score,
       count(*) AS n_members
FROM ranked
GROUP BY component
"""

QUERIES["dedup_canonical_pick"] = dedup_canonical_pick
ORACLES["dedup_canonical_pick"] = DEDUP_CANONICAL_SQL


# ---------------------------------------------------------------------------
# Asymmetric containment dedup (doc-inside-doc)
# ---------------------------------------------------------------------------

#: report (inner, outer) when |inner ∩ outer| / |inner| clears this bar
_CONTAINMENT_THRESHOLD = 0.8
#: inner docs need at least this many capped shingles to be meaningful
_CONTAINMENT_MIN_SHINGLES = 5


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment — the doc-inside-doc near-dup case
    symmetric Jaccard misses: a short document quoted verbatim inside a
    long one has Jaccard |A∩B|/|A∪B| ≈ |A|/|B| (tiny), but containment
    |A∩B|/|A| ≈ 1.  Standard alongside Jaccard in crawl dedup (Broder's
    original resemblance/containment pair).

    Same scale-safe candidate generation as :func:`dedup_ngram_jaccard`
    (:func:`_pair_candidates`: banded LSH ∪ rare-shingle index).  The
    rare-shingle channel is what makes candidate generation sound for
    the ASYMMETRIC case: a short doc quoted inside a long one shares all
    its shingles — including its rarest — with the container, so one
    df ≤ ``_RARE_DF_CAP`` shingle materializes the pair even when the
    symmetric Jaccard is far below the LSH banding curve.  A contained
    doc composed ENTIRELY of head (df > cap) boilerplate shingles is
    the one shape that needs the LSH channel's similarity to surface —
    by construction it has no distinctive content to deduplicate.

    The unordered intersection is computed ONCE per candidate pair over
    the documents' FULL shingle sets, then scored in both directions —
    containment of doc1 in doc2 uses |doc1|, of doc2 in doc1 uses
    |doc2| — so the pair join does not double.  Inner docs below
    ``_CONTAINMENT_MIN_SHINGLES`` shingles are suppressed (a 1-shingle
    doc is "contained" in anything that shares that shingle).

    Output: (inner_id, outer_id, containment) for every direction that
    clears the threshold — the planted suffix mutants (first two tokens
    dropped) are fully contained in their originals (score exactly 1.0
    over the raw universe) even when the symmetric Jaccard is diluted
    by the originals' extra shingles.
    """
    candidates = _shared_pair_candidates(spark, sf_dir)
    # r14: array-intersect verify over the shared doc-set relation (see
    # _doc_sid_sets). A zero-intersection candidate now survives to
    # `scored` (the old inner sid-join dropped it) — its containment is
    # 0.0 in both directions, removed by the same threshold filter, so
    # the output is unchanged.
    scored = _verify_counts(
        candidates, _shared_doc_sets(spark, sf_dir), "doc1", "doc2"
    )
    # both directions from ONE row via explode — a union of two selects
    # over `scored` would recompute the whole candidate+verify subtree
    # twice (Spark reuses exchanges only for identical subplans; the
    # column permutation defeats it)
    directed = scored.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc1").alias("inner_id"),
                    F.col("doc2").alias("outer_id"),
                    F.col("n_common"),
                    F.col("n1").alias("n_inner"),
                ),
                F.struct(
                    F.col("doc2").alias("inner_id"),
                    F.col("doc1").alias("outer_id"),
                    F.col("n_common"),
                    F.col("n2").alias("n_inner"),
                ),
            )
        ).alias("d")
    ).select("d.*")
    return (
        directed.filter(F.col("n_inner") >= _CONTAINMENT_MIN_SHINGLES)
        .select(
            "inner_id",
            "outer_id",
            dround(F.col("n_common") / F.col("n_inner"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= _CONTAINMENT_THRESHOLD)
    )


DEDUP_CONTAINMENT_SQL = f"""
WITH sh AS MATERIALIZED ({_SHINGLES_SQL}),
{_candidates_sql("sh")},
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc1, c.doc2, count(*) AS n_common
  FROM candidates c
  JOIN sh s1 ON s1.doc_id = c.doc1
  JOIN sh s2 ON s2.doc_id = c.doc2 AND s2.sid = s1.sid
  GROUP BY c.doc1, c.doc2
),
scored AS (
  SELECT doc1, doc2, n_common, z1.n_shingles AS n1, z2.n_shingles AS n2
  FROM common
  JOIN sizes z1 ON z1.doc_id = doc1
  JOIN sizes z2 ON z2.doc_id = doc2
),
directed AS (
  SELECT doc1 AS inner_id, doc2 AS outer_id, n_common, n1 AS n_inner FROM scored
  UNION ALL
  SELECT doc2 AS inner_id, doc1 AS outer_id, n_common, n2 AS n_inner FROM scored
)
SELECT inner_id, outer_id, containment FROM (
  SELECT inner_id, outer_id,
    CAST(round(CAST((CAST(n_common AS DOUBLE) / n_inner) AS DECIMAL(30,10)), 6) AS DOUBLE)
      AS containment
  FROM directed
  WHERE n_inner >= {_CONTAINMENT_MIN_SHINGLES}
)
WHERE containment >= {_CONTAINMENT_THRESHOLD}
"""

QUERIES["dedup_containment"] = dedup_containment
ORACLES["dedup_containment"] = DEDUP_CONTAINMENT_SQL


# ---------------------------------------------------------------------------
# URL canonicalization dedup (round 6)
# ---------------------------------------------------------------------------

#: docs per logical URL group — each group's members are 5 distinct messy
#: spellings of one canonical URL
_URL_VARIANTS = 5


def _messy_url() -> F.Column:
    """Deterministic messy-URL synthesis: 5 spelling variants (scheme
    case, www prefix, explicit default port, tracking param, trailing
    slash + fragment) of one logical URL per ``doc_id DIV 5`` group."""
    base = F.expr(f"doc_id DIV {_URL_VARIANTS}")
    host = F.concat(F.lit("site"), (base % 7).cast("string"), F.lit(".example.com"))
    path = F.concat(F.lit("/docs/"), base.cast("string"))
    v = F.col("doc_id") % _URL_VARIANTS
    return (
        F.when(v == 0, F.concat(F.lit("https://"), host, path, F.lit("/")))
        .when(v == 1, F.concat(F.lit("HTTPS://"), host, path, F.lit("#top")))
        .when(v == 2, F.concat(F.lit("https://WWW."), host, path))
        .when(
            v == 3,
            F.concat(
                F.lit("https://"),
                F.regexp_replace(host, r"\.example\.com$", ".example.com:443"),
                path,
            ),
        )
        .otherwise(F.concat(F.lit("https://"), host, path, F.lit("?utm_source=feed")))
    )


def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the FIRST dedup stage of a crawl
    pipeline (CommonCrawl/C4 drop refetches of one resource under many
    spellings before any content hashing).

    Canonical form, derived from the MESSY string on both engines (a
    true differential of the string algebra, not of the synthesis):
    lowercase, strip fragment, strip trailing tracking params, strip
    explicit default port, strip ``www.``, strip trailing slash — each
    one `regexp_replace`/`replace` built-in, whole-stage-codegen'd,
    no UDF. One projection + ONE hash aggregate on the canonical key:
    at 100 TB this is a map-side-combining shuffle of (url-sized key,
    counters), the cheapest possible dedup shape.

    Output per canonical URL: variant count, keeper (min doc_id — the
    first fetch wins), distinct messy spellings seen."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _messy_url().alias("url")
    )
    canon = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(F.lower(F.col("url")), r"#.*$", ""),
                    r"\?utm_[a-z_]+=[a-z]+$",
                    "",
                ),
                r":443/",
                "/",
            ),
            r"^https://www\.",
            "https://",
        ),
        r"/$",
        "",
    )
    return (
        docs.select("doc_id", "url", canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("doc_id").alias("keeper"),
            F.countDistinct("url").alias("n_spellings"),
        )
    )


DEDUP_URL_CANONICAL_SQL = f"""
WITH messy AS (
  SELECT doc_id,
    CASE doc_id % {_URL_VARIANTS}
      WHEN 0 THEN 'https://site' || CAST((doc_id // {_URL_VARIANTS}) % 7 AS VARCHAR)
                  || '.example.com/docs/' || CAST(doc_id // {_URL_VARIANTS} AS VARCHAR) || '/'
      WHEN 1 THEN 'HTTPS://site' || CAST((doc_id // {_URL_VARIANTS}) % 7 AS VARCHAR)
                  || '.example.com/docs/' || CAST(doc_id // {_URL_VARIANTS} AS VARCHAR) || '#top'
      WHEN 2 THEN 'https://WWW.site' || CAST((doc_id // {_URL_VARIANTS}) % 7 AS VARCHAR)
                  || '.example.com/docs/' || CAST(doc_id // {_URL_VARIANTS} AS VARCHAR)
      WHEN 3 THEN 'https://site' || CAST((doc_id // {_URL_VARIANTS}) % 7 AS VARCHAR)
                  || '.example.com:443/docs/' || CAST(doc_id // {_URL_VARIANTS} AS VARCHAR)
      ELSE 'https://site' || CAST((doc_id // {_URL_VARIANTS}) % 7 AS VARCHAR)
                  || '.example.com/docs/' || CAST(doc_id // {_URL_VARIANTS} AS VARCHAR)
                  || '?utm_source=feed'
    END AS url
  FROM documents
),
canon AS (
  SELECT doc_id, url,
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(lower(url), '#.*$', ''),
            '\\?utm_[a-z_]+=[a-z]+$', ''),
          ':443/', '/'),
        '^https://www\\.', 'https://'),
      '/$', '') AS canonical_url
  FROM messy
)
SELECT canonical_url,
       count(*) AS n_variants,
       min(doc_id) AS keeper,
       count(DISTINCT url) AS n_spellings
FROM canon
GROUP BY canonical_url
"""

QUERIES["dedup_url_canonical"] = dedup_url_canonical
ORACLES["dedup_url_canonical"] = DEDUP_URL_CANONICAL_SQL
