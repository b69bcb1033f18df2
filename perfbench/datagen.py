"""Seeded input generators for the benchmark workloads.

The relational and text tables follow the fixture contract the engine
codes against (column names and types of ``tables.SCHEMAS``; value
domains of the TPC-H-ish star schema, the 30-word document corpus with
every 20th document a planted near-duplicate, 64-d unit embeddings).
Row counts scale with ``sf`` like TPC-H (lineitem = 6,000,000 × sf).

The CZI fleet is real ZISRAW binaries: one zstd1 (mode 6, hi/lo byte
planed) subblock per z-plane, voxels a smooth background plus shot
noise (Poisson, drawn through its normal approximation), so the codecs
compress it about as well as they compress
microscope data and not as well as a synthetic ramp.

Everything is a pure function of its arguments: the same seed gives
byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
_DAY_US = 86_400 * 1_000_000


def _days(rng, n: int, first: str, last: str) -> pa.Array:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * _DAY_US, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in range(n)])


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(8, 101, n)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # planted near-duplicates: doc k (k % 20 == 11) repeats an earlier
    # document with one extra token, the shape the dedup family recalls
    for k in range(11, n, 20):
        texts[k] = texts[int(rng.integers(0, k))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{k % 20}" for k in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten fixture tables at scale ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(4, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": i32(range(5)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": i32(range(25)),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
            "n_regionkey": i32([k % 5 for k in range(25)]),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": i64(range(n_cust)),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
            "c_mktsegment": _pick(
                rng, ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), n_cust
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": i64(range(n_supp)),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
        }
    )
    adjectives = ("red", "blue", "hot", "cold", "new", "small", "large", "old")
    nouns = ("bolt", "ring", "rod", "plate", "gear", "anvil", "nut", "pin")
    t["part"] = pa.table(
        {
            "p_partkey": i64(range(n_part)),
            "p_name": pa.array(
                [
                    f"{adjectives[a]} {nouns[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(
                rng, ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), n_part
            ),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": i64(range(n_ord)),
            "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0)),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(
                rng, ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), n_ord
            ),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
            "l_partkey": i64(rng.integers(0, n_part, n_line)),
            "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, n_line, 900.0, 105000.0)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _pick(rng, ("F", "O"), n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    start_us = np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": i64(range(n_ev)),
            "ts": pa.array(
                start_us + np.sort(rng.integers(0, 30 * _DAY_US, n_ev)), pa.timestamp("us")
            ),
            "user_id": i64(rng.integers(0, n_users, n_ev)),
            "event_type": _pick(rng, ("click", "error", "purchase", "signup", "view"), n_ev),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    t["documents"] = _documents(rng, max(50, int(50_000 * sf)))
    t["embeddings"] = _embeddings(rng, max(50, int(20_000 * sf)))
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> int:
    """Write every table as single-row-group parquet (the fixture layout)
    under ``out_dir``; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in make_tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        total += os.path.getsize(path)
    return total


#: draws every stack's background layout, so the fleet's brightness, and
#: with it what the codecs cost, is the same for every workload seed
LAYOUT_SEED = 7919


def stack_voxels(rng, noise_rng, shape: tuple[int, int, int]) -> np.ndarray:
    """uint16 volume: a smooth background drawn from ``rng`` (a few broad
    bright regions over a dark floor) with shot noise from
    ``noise_rng`` on top."""
    lam = np.full(shape, float(rng.uniform(90, 110)), dtype=np.float32)
    axes = [np.arange(n, dtype=np.float32) for n in shape]
    for _ in range(4):
        centre = rng.uniform(0, 1, 3) * shape
        r2 = float(rng.uniform(0.05, 0.2) * min(shape)) ** 2
        ez, ey, ex = (np.exp(-((a - c) ** 2) / r2) for a, c in zip(axes, centre))
        lam += float(rng.uniform(200, 800)) * ez[:, None, None] * ey[None, :, None] * ex
    # Poisson shot noise through its normal approximation (exact to well
    # under a grey level at these rates, lam >= 90) -- 10x cheaper to draw
    noise = noise_rng.standard_normal(shape, dtype=np.float32) * np.sqrt(lam)
    return np.rint(lam + noise).clip(0, 65535).astype(np.uint16)


def fleet_stack(seed: int, k: int, shape: tuple[int, int, int]) -> np.ndarray:
    """Voxels of stack ``k`` of the fleet made from ``seed``: the seed
    draws the shot noise, the layout is fixed."""
    return stack_voxels(
        np.random.default_rng([LAYOUT_SEED, k]), np.random.default_rng([seed, k]), shape
    )


def write_fleet(
    out_dir: str, seed: int, n_stacks: int, shape: tuple[int, int, int]
) -> dict[str, str]:
    """Write ``n_stacks`` ZISRAW stacks (zstd1 per-plane subblocks);
    returns stack name → path."""
    from aind_hcr_data_transformation_spark.sources.zisraw import write_czi

    os.makedirs(out_dir, exist_ok=True)
    paths: dict[str, str] = {}
    for k in range(n_stacks):
        vol = fleet_stack(seed, k, shape)
        path = os.path.join(out_dir, f"stack{k}.czi")
        write_czi(path, {z: vol[z] for z in range(shape[0])}, compression=6)
        paths[f"stack{k}"] = path
    return paths
