"""The tools' registry runner (``tools/registry_run.py``) without Spark:
the chunked differential's retry rules run against a fake chunk
function, and the in-process loop against a fake registry."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools import registry_run  # noqa: E402

OK = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
BAD = {"rows_match": True, "schema_match": True, "hash_match": False, "err": None}


def fake_chunk(outcome):
    """A ``run_chunk`` whose record for each name is ``outcome(name,
    batch)`` (``None``: no record, as after a crash), returning rc -11
    when a name went unrecorded; it logs every batch it was given."""
    calls = []

    def run(batch):
        calls.append(list(batch))
        recs = {n: outcome(n, batch) for n in batch}
        recs = {n: r for n, r in recs.items() if r is not None}
        return recs, (-11 if len(recs) < len(batch) else 0)

    return run, calls


def test_a_name_its_chunk_dropped_is_retried_alone():
    run, calls = fake_chunk(lambda n, b: None if n == "b" and len(b) > 1 else OK)
    recs, crashed = registry_run.differential(
        ["a", "b", "c", "d"], run, 3, retry_failed=False
    )
    assert calls == [["a", "b", "c"], ["d"], ["b"]]
    assert list(recs) == ["a", "b", "c", "d"]
    assert all(r == OK for r in recs.values())
    assert crashed == [-11]


def test_a_name_missing_twice_gets_the_crash_record():
    run, calls = fake_chunk(lambda n, b: None if n == "b" else OK)
    recs, _ = registry_run.differential(["a", "b"], run, 2, retry_failed=True)
    assert calls == [["a", "b"], ["b"]]
    assert recs["b"]["err"] == "process crashed twice (rc=-11)"
    assert registry_run.failed(recs["b"])
    assert recs["a"] == OK


@pytest.mark.parametrize("retry_failed", [False, True])
def test_the_retry_rules_differ_on_a_failed_query(retry_failed):
    """A query that fails in its chunk and passes alone: the null/skew
    rule retries it and keeps the passing record; the strict sweep's
    rule retries only crashes, so the failure stands."""
    run, calls = fake_chunk(lambda n, b: BAD if n == "b" and len(b) > 1 else OK)
    recs, crashed = registry_run.differential(
        ["a", "b", "c"], run, 40, retry_failed=retry_failed
    )
    assert crashed == []
    if retry_failed:
        assert calls == [["a", "b", "c"], ["b"]]
        assert recs["b"] == OK
    else:
        assert calls == [["a", "b", "c"]]
        assert recs["b"] == BAD


def test_a_failed_query_that_crashes_alone_keeps_its_record():
    run, _ = fake_chunk(lambda n, b: BAD if len(b) > 1 else None)
    recs, _ = registry_run.differential(["a", "b"], run, 2, retry_failed=True)
    assert recs == {"a": BAD, "b": BAD}


def test_each_runs_in_the_given_order_and_releases_after_a_raise(monkeypatch):
    from aind_hcr_data_transformation_spark import cache

    events = []

    def query(name, fail=False):
        def build(spark, sf_dir):
            events.append(("build", name, spark, sf_dir))
            if fail:
                raise ValueError(f"{name} broke")
            return name.upper()

        return build

    monkeypatch.setattr(
        registry_run,
        "registry",
        lambda: {"x": query("x"), "y": query("y", fail=True), "z": query("z")},
    )
    monkeypatch.setattr(cache, "release_persists", lambda: events.append("release"))

    out = list(
        registry_run.each("S", "/sf", ["z", "y", "x"], lambda n, build: build() + n)
    )

    assert [(n, r) for n, r, _ in out] == [("z", "Zz"), ("y", None), ("x", "Xx")]
    assert [type(e) for _, _, e in out] == [type(None), ValueError, type(None)]
    assert events == [
        ("build", "z", "S", "/sf"), "release",
        ("build", "y", "S", "/sf"), "release",
        ("build", "x", "S", "/sf"), "release",
    ]


def test_pick_keeps_the_given_order_and_rejects_unknown_names(capsys):
    known = {"a": 1, "b": 2, "c": 3}
    assert registry_run.pick(["c", "a", "c"], known) == ["c", "a"]
    assert registry_run.pick([], known) == ["a", "b", "c"]
    with pytest.raises(SystemExit) as exc:
        registry_run.pick(["a", "nope"], known)
    assert exc.value.code == 2
    assert "nope" in capsys.readouterr().out


def test_opt_and_flag_pop_their_arguments_anywhere():
    argv = ["sf", "--json", "out.json", "q1", "--full", "q2"]
    assert registry_run.opt(argv, "--json") == "out.json"
    assert registry_run.opt(argv, "--chunk", "12") == "12"
    assert registry_run.flag(argv, "--full") is True
    assert registry_run.flag(argv, "--full") is False
    assert argv == ["sf", "q1", "q2"]
    with pytest.raises(SystemExit) as exc:
        registry_run.opt(["sf", "--json"], "--json")
    assert exc.value.code == 2


#: the record oracle_check writes when the oracle's column is HUGEINT and
#: Spark's a double: rows and columns agree, the type family does not, so
#: the values are never compared
HUGEINT = {
    "rows_match": True,
    "schema_match": True,
    "type_match": False,
    "hash_match": None,
    "err": None,
    "type_diffs": [
        {"col": "revenue", "duckdb": "HUGEINT", "duckdb_family": "decimal",
         "spark": "double", "spark_family": "float"}
    ],
}


@pytest.mark.parametrize(
    "rec, fails",
    [
        (OK, False),
        ({**OK, "type_match": True, "strict_match": True}, False),
        (BAD, True),
        (HUGEINT, True),
        ({**OK, "rows_match": False, "hash_match": None}, True),
        ({**OK, "schema_match": False, "hash_match": None}, True),
        ({**OK, "strict_match": False, "err": "strict divergence"}, True),
        ({**OK, "strict_match": False}, True),
        ({**OK, "err": "no_oracle", "rows_match": None}, True),
        ({"err": "process crashed twice (rc=-11)"}, True),
    ],
    ids=["ok", "ok-strict", "values", "hugeint", "rows", "schema",
         "strict-err", "strict", "no-oracle", "crash"],
)
def test_one_verdict_fails_any_mismatch(rec, fails):
    assert registry_run.failed(rec) is fails


def test_the_strict_sweep_counts_with_the_same_verdict():
    from tools import strict_sweep

    assert strict_sweep.failed is registry_run.failed
