"""ANN recall guard: multi-probe sign-LSH vs the exact brute-force
oracle, at the bench scale factor (sf0.1, 2000 vectors).

This corpus' exact nearest neighbours are only weakly similar
(top-3 cosine ≈ 0.4 ≈ 66°), the hardest regime for sign-LSH: each sign
bit disagrees with p ≈ 0.37, so exact-bucket recall is ≈ 0. Radius-2
multi-probing recovers ≈ half the true top-3 while scanning ~34% of the
corpus (22 of 64 buckets). The floor pinned here (0.4) has margin below
the measured 0.53 — a parameter drift (fewer probes, more bits without
re-tuning) that silently loses recall fails this test.

Near-duplicate recall (the cos ≥ 0.98 regime where LSH actually prunes
hard) is pinned separately in test_dedup_recall.py.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.1"
_RECALL_FLOOR = 0.4


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as m

    return m.queries()


def test_ann_multiprobe_recall_vs_bruteforce(spark, queries):
    exact = {
        (r.qid, r.vec_id)
        for r in queries["sim_cosine_topk"](spark, SF).collect()
        if r.rank <= 3
    }
    assert len(exact) == 15  # 5 queries x top-3

    ann = {
        (r.qid, r.vec_id) for r in queries["sim_ann_signlsh"](spark, SF).collect()
    }
    recall = len(exact & ann) / len(exact)
    assert recall >= _RECALL_FLOOR, (
        f"multi-probe ANN recall {recall:.2f} fell below {_RECALL_FLOOR} "
        f"(missed {sorted(exact - ann)})"
    )


def test_ivf_multiprobe_recall_vs_bruteforce(spark, queries):
    """IVF with nprobe=2 must reach at least the sign-LSH recall floor:
    nprobe=1 loses neighbors just across Voronoi faces; probing the 2
    nearest cells is the standard fix (r3 task 6)."""
    from aind_hcr_data_transformation_spark.cache import release_persists

    exact = {
        (r.qid, r.vec_id)
        for r in queries["sim_cosine_topk"](spark, SF).collect()
        if r.rank <= 3
    }
    ivf = {
        (r.qid, r.vec_id) for r in queries["ivf_kmeans_ann"](spark, SF).collect()
    }
    release_persists()
    recall = len(exact & ivf) / len(exact)
    assert recall >= _RECALL_FLOOR, (
        f"IVF nprobe=2 recall {recall:.2f} fell below {_RECALL_FLOOR} "
        f"(missed {sorted(exact - ivf)})"
    )


def test_ivf_codebook_round_trip(spark, tmp_path):
    """Train once, save, reload, search — identical results to searching
    with the in-memory codebook (the IVF operational pattern)."""
    from pyspark.sql import functions as F

    from aind_hcr_data_transformation_spark.operators.ivf import (
        _search,
        _train,
        load_codebook,
        save_codebook,
    )
    from aind_hcr_data_transformation_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    codebook = _train(emb)
    path = str(tmp_path / "codebook.parquet")
    save_codebook(codebook, path)
    direct = sorted(map(tuple, _search(emb, codebook).collect()))
    reloaded = sorted(
        map(tuple, _search(emb, load_codebook(spark, path)).collect())
    )
    assert direct == reloaded and len(direct) > 0


def test_sqlstring_vector_folds_bit_equal_column_api(spark):
    """The SQL-string expression builders (functions/vectors: dlit,
    arr_lit, sparksql_dot, sparksql_sq_l2 — used by the codebook-literal
    assignment paths) must be BIT-identical to the Column-API folds they
    replaced: same zip_with/aggregate tree, repr-exact double literals.
    So must the driver-side folds (kmeans: fold_dot, fold_sq_l2 and the
    ranked score) that derive the ADC tables and probe cells from the
    collected query vectors, on double and on float32 elements."""
    import functools
    import random
    import struct as pystruct

    from pyspark.sql import functions as F

    from aind_hcr_data_transformation_spark.functions.vectors import (
        arr_lit,
        dlit,
        spark_dot,
        sparksql_dot,
        sparksql_sq_l2,
    )
    from aind_hcr_data_transformation_spark.operators.kmeans import (
        fold_dot,
        fold_sq_l2,
        ranked,
    )
    from aind_hcr_data_transformation_spark.operators.vectorops import _sq_l2

    random.seed(7)
    adversarial = [
        1e-17, -0.1, 12345.6789e-12, 2.0**-52, -(2.0**52) + 0.75,
    ] + [random.uniform(-1, 1) * 10 ** random.randint(-10, 10) for _ in range(59)]
    plain = [random.uniform(-3, 3) for _ in range(64)]
    df = spark.createDataFrame(
        [([float(i) for i in range(64)],)], "embedding array<double>"
    ).select(F.expr("transform(embedding, x -> x * 0.123456789 - 3.21)").alias("embedding"))

    def bits(col):
        return pystruct.pack("<d", df.select(col.alias("v")).collect()[0]["v"])

    for arr in (plain, adversarial):
        lit = F.array(*[F.lit(float(v)) for v in arr])
        assert bits(spark_dot(F.col("embedding"), lit)) == bits(
            F.expr(sparksql_dot("embedding", arr_lit(arr)))
        )
        assert bits(_sq_l2(F.col("embedding"), lit)) == bits(
            F.expr(sparksql_sq_l2("embedding", arr_lit(arr)))
        )
        c2 = functools.reduce(lambda acc, v: acc + v * v, arr, 0.0)
        assert bits(
            F.lit(c2) - F.lit(2) * spark_dot(F.col("embedding"), lit)
        ) == bits(
            F.expr(f"{dlit(c2)} - 2.0D * {sparksql_dot('embedding', arr_lit(arr))}")
        )

    # driver folds over the collected vector, as the column holds it
    for elem in ("double", "float"):
        df = df.select(F.col("embedding").cast(f"array<{elem}>").alias("embedding"))
        x = df.collect()[0]["embedding"]
        for arr in (plain, adversarial):
            lit = F.array(*[F.lit(float(v)) for v in arr])
            c2 = functools.reduce(lambda acc, v: acc + v * v, arr, 0.0)
            assert pystruct.pack("<d", fold_dot(x, arr)) == bits(
                spark_dot(F.col("embedding"), lit)
            )
            assert pystruct.pack("<d", fold_sq_l2(x, arr)) == bits(
                _sq_l2(F.col("embedding"), lit)
            )
            assert pystruct.pack("<d", ranked(x, [(0, arr)])[0][0]) == bits(
                F.lit(c2) - F.lit(2) * spark_dot(F.col("embedding"), lit)
            )


def test_dlit_rejects_non_finite():
    """``dlit`` must refuse NaN/inf instead of emitting the unparseable
    tokens ``nanD``/``infD`` that would fail with an opaque Spark parser
    error far from the degenerate training input that produced them."""
    import math

    import pytest

    from aind_hcr_data_transformation_spark.functions.vectors import dlit

    for bad in (float("inf"), float("-inf"), float("nan")):
        with pytest.raises(ValueError, match="non-finite"):
            dlit(bad)
    # finite extremes still round-trip exactly
    for ok in (1.7976931348623157e308, 5e-324, -0.0):
        assert float(dlit(ok)[:-1]) == ok or math.copysign(1, ok) == -1


def _seventeen_digit_doubles(n):
    """``n`` doubles whose shortest round-trip ``repr`` needs all 17
    significant digits."""
    import random

    rng = random.Random(13)
    out = []
    while len(out) < n:
        v = rng.uniform(-1, 1) * 10 ** rng.randint(-30, 30)
        if len(repr(v).split("e")[0].lstrip("-").replace(".", "").lstrip("0")) == 17:
            out.append(v)
    return out


def test_json_codebook_literal_parses_repr_exact(spark):
    """The codebook reaches Spark as one JSON string (``kmeans.
    codebook_sql``): every double must come back repr-equal to the
    driver's value, subnormals, the extremes and -0.0 included."""
    import json

    from aind_hcr_data_transformation_spark.operators.kmeans import (
        _CODEBOOK_TYPE,
        codebook_sql,
        fold_dot,
    )

    edge = [5e-324, 2.2250738585072014e-308, 1.7976931348623157e308, -0.0, 0.1 + 0.2]
    vals = edge + _seventeen_digit_doubles(16)
    # the parser, on every value in every double field of the type
    text = json.dumps([{"c2": v, "cluster": i, "cemb": [v, -v]} for i, v in enumerate(vals)])
    got = spark.sql(f"SELECT from_json('{text}', '{_CODEBOOK_TYPE}') AS cb").collect()[0].cb
    assert [repr((r.c2, r.cluster, r.cemb)) for r in got] == [
        repr((v, i, [v, -v])) for i, v in enumerate(vals)
    ]
    # the literal kmeans writes (c·c of 1.79e308 overflows, so it sits out)
    book = [(7, vals[:2] + vals[3:]), (3, [-0.0] * 4), (11, vals[5:])]
    got = spark.sql(f"SELECT {codebook_sql(book)} AS cb").collect()[0].cb
    assert [repr((r.c2, r.cluster, r.cemb)) for r in got] == [
        repr((fold_dot(c, c), k, c)) for k, c in book
    ]


def test_json_codebook_literal_rejects_non_finite():
    """A non-finite centroid (or an overflowing ``c·c``) raises
    ValueError, as ``dlit`` does, instead of reaching Spark as a
    ``NaN``/``Infinity`` token its JSON parser would accept."""
    from aind_hcr_data_transformation_spark.operators.kmeans import candidates_sql

    for bad in (float("nan"), float("inf"), float("-inf"), 1.7976931348623157e308):
        with pytest.raises(ValueError):
            candidates_sql("embedding", [(0, [1.0, bad])])


def test_assign_plans_no_json_parse(spark):
    """ConstantFolding folds the codebook's ``from_json`` into one
    literal: the optimized plan of an assignment parses no JSON per
    row."""
    from aind_hcr_data_transformation_spark.operators.kmeans import assign, ranked

    vecs = [[float(i * 2 + d) for d in range(4)] for i in range(3)]
    df = spark.createDataFrame(list(enumerate(vecs)), "vec_id bigint, embedding array<double>")
    book = [(0, [0.5] * 4), (1, [3.0] * 4), (2, [5.5] * 4)]
    out = assign(df, {"w": ("embedding", book)}, "vec_id", err=True)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in plan.lower() and "jsontostructs" not in plan.lower()
    assert [r.w.cluster for r in out.orderBy("vec_id").collect()] == [
        ranked(x, book)[0][1] for x in vecs
    ] == [0, 1, 2]


def test_joint_lloyd_equals_separate_runs(spark):
    """IVF and PQ train in the same Lloyd jobs (``vectorops._codebooks``);
    their codebooks must be repr-equal to those of one run per spec."""
    from aind_hcr_data_transformation_spark.cache import release_persists
    from aind_hcr_data_transformation_spark.operators.kmeans import lloyd
    from aind_hcr_data_transformation_spark.operators.vectorops import (
        _IVF_ITERS,
        _IVF_K,
        _PQ_ITERS,
        _PQ_K,
        _PQ_M,
    )
    from aind_hcr_data_transformation_spark.tables import load_table
    from tests.conftest import SF_DIR

    specs = [(_IVF_K, 1, _IVF_ITERS), (_PQ_K, _PQ_M, _PQ_ITERS)]
    emb = load_table(spark, SF_DIR, "embeddings", spread=True).select(
        "vec_id", "embedding"
    )
    try:
        joint = lloyd(emb, specs)
        alone = [lloyd(emb, [spec])[0] for spec in specs]
    finally:
        release_persists()
    assert [len(books) for books in joint] == [1, _PQ_M]
    assert all(len(b) == k for (k, _, _), books in zip(specs, joint) for b in books)
    assert repr(joint) == repr(alone)
