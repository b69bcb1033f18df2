"""``cache.shared``: the one driver-side session cache for build-once/
probe-many artifacts — hit/rebuild rules, file-change invalidation,
build attribution, registry-order independence of its consumers, and a
guard against hand-rolled session caches creeping back in.
"""

from __future__ import annotations

import ast
import os
import re
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aind_hcr_data_transformation_spark import cache
from aind_hcr_data_transformation_spark.cache import (
    clear,
    release_persists,
    shared,
    shared_builds,
)
from aind_hcr_data_transformation_spark.tables import table_count
from tests.conftest import SF_DIR

PKG = Path(cache.__file__).resolve().parent


class Counter:
    """A ``build`` that counts its calls and returns the call number."""

    def __init__(self):
        self.n = 0

    def __call__(self, spark, sf_dir):
        self.n += 1
        return self.n


@pytest.fixture
def src(tmp_path):
    d = tmp_path / "src"
    d.mkdir()
    (d / "t.parquet").write_bytes(b"x" * 10)
    (d / "u.parquet").write_bytes(b"y" * 10)
    clear()
    yield d
    clear()


def _entries(key):
    return [k for k in cache._SHARED if k[0] == key]


def test_second_call_hits(spark, src):
    build = Counter()
    assert shared("k", spark, str(src), build) == 1
    assert shared("k", spark, str(src), build) == 1
    assert build.n == 1


def test_rewritten_file_rebuilds_and_replaces(spark, src):
    build = Counter()
    shared("k", spark, str(src), build)
    (src / "t.parquet").write_bytes(b"x" * 11)  # new size
    assert shared("k", spark, str(src), build) == 2
    st = os.stat(src / "u.parquet")
    os.utime(src / "u.parquet", ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert shared("k", spark, str(src), build) == 3  # new mtime only
    assert shared("k", spark, str(src), build) == 3
    assert len(_entries("k")) == 1


def test_clear_rebuilds(spark, src):
    build = Counter()
    shared("k", spark, str(src), build)
    clear()
    assert shared("k", spark, str(src), build) == 2


def test_other_dir_gets_own_entry(spark, src, tmp_path):
    other = tmp_path / "other"
    other.mkdir()
    build = Counter()
    shared("k", spark, str(src), build)
    assert shared("k", spark, str(other), build) == 2
    assert shared("k", spark, str(src), build) == 1
    assert len(_entries("k")) == 2


def test_hard_linked_copy_gets_own_entry(spark, src, tmp_path):
    """The benchmark's cold passes read hard-linked copies of the input
    dir: same inodes, same mtimes and sizes, another path.  The copy
    must build afresh, and linking (which bumps the source's ctime)
    must leave the source's entry warm."""
    build = Counter()
    shared("k", spark, str(src), build)
    link = tmp_path / "copy"
    link.mkdir()
    for f in src.iterdir():
        os.link(f, link / f.name)
    assert shared("k", spark, str(link), build) == 2
    assert shared("k", spark, str(src), build) == 1


def test_raising_build_stores_nothing(spark, src):
    def boom(spark, sf_dir):
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        shared("k", spark, str(src), boom)
    assert _entries("k") == []
    assert shared_builds() == []
    assert shared("k", spark, str(src), Counter()) == 1


def test_nested_build(spark, src):
    inner = Counter()

    def outer(spark, sf_dir):
        return ("outer", shared("inner", spark, sf_dir, inner))

    assert shared("outer", spark, str(src), outer) == ("outer", 1)
    assert shared("inner", spark, str(src), inner) == 1
    assert inner.n == 1
    assert [b[0] for b in shared_builds()] == ["inner", "outer"]


def test_build_job_description_restored(spark, src):
    sc = spark.sparkContext
    seen = []

    def build(spark, sf_dir):
        seen.append(sc.getLocalProperty("spark.job.description"))
        raise ValueError

    sc.setJobGroup("grp", "before")
    try:
        with pytest.raises(ValueError):
            shared("k", spark, str(src), build)
        assert seen == ["shared:k"]
        assert sc.getLocalProperty("spark.job.description") == "before"
        shared("k", spark, str(src), Counter())
        assert sc.getLocalProperty("spark.job.description") == "before"
        assert sc.getLocalProperty("spark.jobGroup.id") == "grp"
        ((key, sf_dir, seconds, group),) = shared_builds()
        assert (key, sf_dir, group) == ("k", str(src), "grp")
        assert seconds >= 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _write_region(path, n):
    pq.write_table(
        pa.table(
            {
                "r_regionkey": pa.array(range(n), pa.int32()),
                "r_name": [f"R{i}" for i in range(n)],
            }
        ),
        path,
    )


def test_table_count_sees_rewritten_table(spark, tmp_path):
    _write_region(tmp_path / "region.parquet", 3)
    assert table_count(spark, str(tmp_path), "region") == 3
    _write_region(tmp_path / "region.parquet", 7)
    assert table_count(spark, str(tmp_path), "region") == 7


# ---------------------------------------------------------------------------
# consumers of one shared key give the same rows whichever runs first
# ---------------------------------------------------------------------------

PAIRS = [
    ("dedup_minhash_lsh", "dedup_containment"),
    ("dedup_components", "dedup_canonical_pick"),
    ("ivf_kmeans_ann", "ivfpq_search"),
    ("embed_pq_quantize", "pq_adc_topk"),
    ("embed_pq_quantize", "ivfpq_search"),
    ("assoc_basket_rules", "graph_triangle_count"),
    ("bpe_learn_merges", "bpe_tokenize_corpus"),
    ("graph_pagerank", "graph_label_propagation"),
    ("dedup_semantic", "dedup_semantic"),
]


def _rows(spark, queries, name, sf_dir=SF_DIR):
    rows = queries[name](spark, sf_dir).collect()
    release_persists()
    return sorted(rows, key=repr)


@pytest.mark.parametrize("a,b", PAIRS)
def test_registry_order(spark, queries, a, b):
    clear()
    alone = _rows(spark, queries, a)
    clear()
    _rows(spark, queries, b)
    after = _rows(spark, queries, a)
    assert alone == after


def test_build_attributed_once(spark, queries):
    clear()
    queries["dedup_components"](spark, SF_DIR).collect()
    builds = shared_builds()
    assert [b[:2] for b in builds if b[0] == "cc_labels"] == [
        ("cc_labels", SF_DIR)
    ]
    queries["dedup_components"](spark, SF_DIR).collect()
    release_persists()
    assert shared_builds() == builds


# ---------------------------------------------------------------------------
# the encoded corpus (pq_codes, ivfpq_index) is built once per input
# ---------------------------------------------------------------------------

#: query -> parquet scans of ``embeddings`` in a warm call's plan: the
#: corpus side reads the checkpointed codes; only ivfpq_search scans
#: its 5 query vectors
WARM_EMBEDDING_SCANS = {
    "embed_pq_quantize": 0,
    "pq_adc_topk": 0,
    "ivfpq_search": 1,
}


def _embedding_scans(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        "Scan parquet" in line and "embeddings.parquet" in line
        for line in plan.splitlines()
    )


def _group_jobs(spark, group) -> list:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(WARM_EMBEDDING_SCANS))
def test_warm_call_reads_encoded_corpus(spark, queries, name):
    clear()
    first = sorted(queries[name](spark, SF_DIR).collect(), key=repr)
    sc = spark.sparkContext
    group = f"warm-build-{name}"
    sc.setJobGroup(group, group)
    try:
        df = queries[name](spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert _group_jobs(spark, group) == []
    assert _embedding_scans(df) == WARM_EMBEDDING_SCANS[name]
    assert sorted(df.collect(), key=repr) == first
    release_persists()


def _perturb_embeddings(path):
    t = pq.read_table(path)
    emb = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
    emb += np.random.default_rng(7).normal(0, 0.05, emb.shape).astype(np.float32)
    arr = pa.array(list(emb), pa.list_(pa.float32()))
    t = t.set_column(t.schema.get_field_index("embedding"), "embedding", arr)
    pq.write_table(t, path)


def test_rewritten_embeddings_rebuild_encoded_corpus(spark, queries, tmp_path):
    """A rewritten ``embeddings.parquet`` must not be answered from the
    codes of the old file: the next calls return what a fresh session
    cache returns."""
    copy = tmp_path / "sf"
    shutil.copytree(SF_DIR, copy, copy_function=shutil.copyfile)
    names = ("embed_pq_quantize", "ivfpq_search")

    clear()
    try:
        before = {n: _rows(spark, queries, n, str(copy)) for n in names}
        _perturb_embeddings(copy / "embeddings.parquet")
        after = {n: _rows(spark, queries, n, str(copy)) for n in names}
        clear()
        fresh = {n: _rows(spark, queries, n, str(copy)) for n in names}
    finally:
        clear()
    assert after == fresh
    for n in names:
        assert after[n] != before[n], n


# ---------------------------------------------------------------------------
# guard: session caches go through cache.shared
# ---------------------------------------------------------------------------

#: module-level ``_*_CACHE`` dicts that are not session caches:
#: per-executor-Python-worker caches, where a session key does not
#: apply, and memos already keyed by (path, mtime)
EXEMPT_CACHES = {
    ("streaming/feed.py", "_TABLE_CACHE"),
    ("streaming/feed.py", "_SLICE_CACHE"),
    ("streaming/feed.py", "_PLAN_CACHE"),
    ("tables.py", "_TS_NANOS_CACHE"),
}


def _module_cache_dicts(path):
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign):
            targets, value = [node.target], node.value
        else:
            continue
        is_dict = isinstance(value, ast.Dict) or (
            isinstance(value, ast.Call)
            and getattr(value.func, "id", None) == "dict"
        )
        for t in targets:
            if (
                is_dict
                and isinstance(t, ast.Name)
                and re.fullmatch(r"_\w*_CACHE", t.id)
            ):
                yield t.id


def test_session_caches_go_through_shared():
    app_id_users, caches = [], []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel != "cache.py" and "applicationId" in path.read_text():
            app_id_users.append(rel)
        caches += [
            (rel, name)
            for name in _module_cache_dicts(path)
            if (rel, name) not in EXEMPT_CACHES
        ]
    assert app_id_users == []
    assert caches == []
    found = {
        (p.relative_to(PKG).as_posix(), n)
        for p in PKG.rglob("*.py")
        for n in _module_cache_dicts(p)
    }
    assert EXEMPT_CACHES <= found, "stale exemption"
