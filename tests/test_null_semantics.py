"""Engine-behavior pins for the r8 NULL-robustness fixes
(tools/null_probe.py found each of these live — see its docstring).

These pin the SPARK semantics the fixed operators rely on, so an engine
upgrade or refactor that changes them breaks here, loudly, instead of
resurfacing as a cross-engine hash-red on mutated production data.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T


def test_struct_key_join_matches_null_fields(spark):
    """mv_incremental_refresh merges base/delta rollups on ONE struct
    key: struct equality must treat NULL fields as equal (GROUP BY
    semantics), unlike plain multi-column equi-join keys."""
    a = spark.createDataFrame(
        [(None, "x", 1), (1, None, 2), (None, None, 3)],
        "u int, e string, n int",
    ).select(F.struct("u", "e").alias("k"), "n")
    b = spark.createDataFrame(
        [(None, "x", 10), (1, None, 20), (None, None, 30)],
        "u int, e string, m int",
    ).select(F.struct("u", "e").alias("k"), "m")
    rows = a.join(b, "k", "full_outer").select("n", "m").collect()
    # every NULL-bearing key pairs up: 3 merged rows, no orphan sides
    assert sorted((r.n, r.m) for r in rows) == [(1, 10), (2, 20), (3, 30)]


def test_struct_key_join_reuses_agg_partitioning(spark):
    """The struct-key form must not cost a re-shuffle: both rollup
    exchanges partition on the struct, and the join consumes them
    directly (eqNullSafe key pairs measured 4 exchanges)."""
    from tools.plan_audit import count_exchanges

    df = spark.createDataFrame(
        [(i % 5, ["a", None][i % 2], float(i)) for i in range(40)],
        "u int, e string, v double",
    )

    def rollup(d):
        return d.groupBy(F.struct("u", "e").alias("k")).agg(
            F.sum("v").alias("s")
        )

    merged = rollup(df.filter("u < 3")).join(
        rollup(df.filter("u >= 3")), "k", "full_outer"
    )
    census = count_exchanges(merged)
    assert census["shuffles"] <= 2, census


def test_csv_null_token_roundtrips_empty_string(spark, tmp_path):
    """source_text_formats' CSV copies: with the default ('' ) null
    token, NULL and '' both serialize to "" and read back as NULL; the
    distinct \\N token makes the roundtrip lossless for both."""
    df = spark.createDataFrame(
        [(1, ""), (2, "x"), (3, None)], "id long, text string"
    )
    p = str(tmp_path / "c.csv")
    (
        df.write.option("header", True)
        .option("quoteAll", True)
        .option("escape", '"')
        .option("nullValue", "\\N")
        .csv(p)
    )
    sch = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("text", T.StringType())]
    )
    back = {
        r.id: r.text
        for r in spark.read.schema(sch)
        .option("header", True)
        .option("escape", '"')
        .option("nullValue", "\\N")
        .csv(p)
        .collect()
    }
    assert back == {1: "", 2: "x", 3: None}


def test_array_join_empty_is_empty_string(spark):
    """Spark's array_join([]) is '' while DuckDB's array_to_string([])
    is NULL — the dedup mutant corpus oracle coalesces for exactly this
    (operators/dedup._CORPUS_SQL). Pin the Spark side so the coalesce
    stays correct."""
    row = spark.sql(
        "SELECT array_join(slice(split('', ' '), 3, 10), ' ') AS t"
    ).collect()[0]
    assert row.t == ""

    import duckdb

    (dk,) = duckdb.sql(
        "SELECT array_to_string(string_split('', ' ')[3:], ' ')"
    ).fetchone()
    assert dk is None  # the divergence the oracle's coalesce bridges


def test_stream_user_totals_raises_on_true_nan(spark, tmp_path):
    """NULL-vs-NaN contract of the stateful totals kernel (r8 advisor):
    parquet NULLs are skipped per SQL sum() semantics via the JVM-side
    isNull mask, but a GENUINE float NaN (validity bit set) must raise
    loudly — SQL sum() would propagate NaN, which the exact-decimal
    state cannot represent, and silently dropping it would diverge from
    the oracle without failing any compare."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from aind_hcr_data_transformation_spark.streaming.events import (
        QUERIES as STREAM_QUERIES,
    )

    src = "/root/testdata/sf0.001"
    dst = tmp_path / "nanfix"
    dst.mkdir()
    for t in (
        "region nation customer supplier part orders lineitem "
        "documents embeddings"
    ).split():
        shutil.copy(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")
    tab = pq.read_table(f"{src}/events.parquet")
    ids = tab["event_id"].to_numpy()
    mask = pa.array(ids == ids[0])  # exactly one row gets a real NaN
    idx = tab.schema.get_field_index("value")
    tab = tab.set_column(
        idx,
        "value",
        pc.if_else(mask, pa.scalar(float("nan"), pa.float64()), tab["value"]),
    )
    pq.write_table(tab, f"{dst}/events.parquet")

    with pytest.raises(Exception, match="non-NULL NaN"):
        STREAM_QUERIES["stream_user_totals"](spark, str(dst)).collect()


def test_stream_user_totals_skips_null_not_nan(spark, tmp_path):
    """The mirror case: a parquet NULL in events.value must NOT trip the
    NaN guard — it is skipped from the sum (SQL semantics) and the query
    completes."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from aind_hcr_data_transformation_spark.streaming.events import (
        QUERIES as STREAM_QUERIES,
    )

    src = "/root/testdata/sf0.001"
    dst = tmp_path / "nullfix"
    dst.mkdir()
    for t in (
        "region nation customer supplier part orders lineitem "
        "documents embeddings"
    ).split():
        shutil.copy(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")
    tab = pq.read_table(f"{src}/events.parquet")
    ids = tab["event_id"].to_numpy()
    mask = pa.array(ids == ids[0])
    idx = tab.schema.get_field_index("value")
    tab = tab.set_column(
        idx, "value", pc.if_else(mask, pa.scalar(None, pa.float64()), tab["value"])
    )
    pq.write_table(tab, f"{dst}/events.parquet")

    rows = STREAM_QUERIES["stream_user_totals"](spark, str(dst)).collect()
    assert rows  # completes; per-user totals emitted


def test_kmv_distinct_keeps_the_null_group(spark, tmp_path):
    """r9 NULL probe: agg_kmv_distinct's threshold-pruned bottom-k joins
    survivors/counts/ranks on the group key — plain equi-joins DROP the
    NULL event_type group the oracle's GROUP BY keeps. The internal
    non-null surrogate key must carry it through every join and restore
    NULL in the output."""
    import shutil

    src = "/root/testdata/sf0.001"
    fx = tmp_path / "fx"
    fx.mkdir()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        shutil.copy(f"{src}/{t}.parquet", fx / f"{t}.parquet")
    ev = spark.read.parquet(f"{src}/events.parquet")
    ev.withColumn(
        "event_type",
        F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(
            F.col("event_type")
        ),
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "ev_out"))
    import glob
    import os

    part = glob.glob(str(tmp_path / "ev_out" / "*.parquet"))[0]
    os.replace(part, fx / "events.parquet")

    from aind_hcr_data_transformation_spark.operators.relational import (
        agg_kmv_distinct,
    )

    rows = {r.event_type: r for r in agg_kmv_distinct(spark, str(fx)).collect()}
    assert None in rows, "NULL event_type group must survive the pruning joins"
    null_row = rows[None]
    # the NULL group's sketch is computed like any other group's
    assert null_row.n_exact > 0 and null_row.kmv_est > 0
    # and the overall group count = distinct non-null types + NULL + ALL
    n_types = (
        spark.read.parquet(str(fx / "events.parquet"))
        .select("event_type")
        .distinct()
        .count()
    )
    assert len(rows) == n_types + 1  # + the merged 'ALL' union sketch


def test_tiny_slice_queries_match_their_oracles(spark, queries, tmp_path):
    """NULL probe ``tiny`` stage: on the truncated slice no line item
    joins a kept order, so there are no trade edges and no customer×brand
    counts. The oracle then reports every nation unreached (hops -1) and
    no brand pairs; the Spark twins divided by a zero edge count and
    typed an empty norm map as ``map<void,void>``."""
    import sys
    from pathlib import Path

    import duckdb
    from conftest import SF_DIR

    import __spark_entry__ as entrymod

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from null_probe import build_tiny_fixture

    build_tiny_fixture(SF_DIR, str(tmp_path))
    con = duckdb.connect()
    for t in ("nation", "customer", "supplier", "part", "orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path}/{t}.parquet')"
        )
    for name in ("graph_bfs_hops", "rec_item_cosine"):
        df = queries[name](spark, str(tmp_path))
        got = sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())
        rel = con.sql(entrymod.oracle_sql()[name])
        want = sorted(con.sql(
            f"SELECT {', '.join(sorted(rel.columns))} FROM rel"
        ).fetchall())
        assert got == want, name


def test_pagerank_on_empty_input_matches_its_oracle(spark, queries, tmp_path):
    """With no nation rows there is no node to rank: the oracle returns
    no row, where the Spark twin divided by the zero node count."""
    import sys
    from pathlib import Path

    import duckdb
    from conftest import SF_DIR

    import __spark_entry__ as entrymod

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from tools.registry_run import TABLES, derive

    derive(SF_DIR, str(tmp_path), dict.fromkeys(TABLES, lambda t: (t.slice(0, 0), 0)))
    con = duckdb.connect()
    for t in ("nation", "customer", "supplier", "orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path}/{t}.parquet')"
        )
    want = con.sql(entrymod.oracle_sql()["graph_pagerank"]).fetchall()
    df = queries["graph_pagerank"](spark, str(tmp_path))
    assert dict(df.dtypes) == {"nation": "string", "rank_e9": "bigint"}
    assert df.collect() == want == []


def test_grouped_zscore_keeps_the_null_user_group(spark, queries, tmp_path):
    """NULL probe ``user_id`` stage: the oracle's ``PARTITION BY
    user_id`` z-scores all NULL users as one group; the grouped-map
    body must not drop them (pandas ``groupby`` defaults to
    ``dropna=True``, which left their zscore NULL)."""
    import sys
    from pathlib import Path

    import duckdb
    from conftest import SF_DIR

    import __spark_entry__ as entrymod

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from null_probe import build_fixture

    assert build_fixture(SF_DIR, str(tmp_path), "user_id") > 1
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    want = sorted(con.sql(entrymod.oracle_sql()["grouped_zscore"]).fetchall())
    null_users = {
        r[0]
        for r in con.sql("SELECT event_id FROM events WHERE user_id IS NULL").fetchall()
    }
    assert any(z is not None for e, z in want if e in null_users)
    df = queries["grouped_zscore"](spark, str(tmp_path))
    got = sorted(tuple(r) for r in df.select("event_id", "zscore").collect())
    assert got == want
