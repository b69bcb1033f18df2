"""Deterministic fixture scale-up: replicate a driver fixture dir K×
into disjoint replicas, for scale probing past the shipped sf0.1.

VERDICT r8 task 2: the 10× probe (sf0.01→sf0.1) certifies the start of
every query's growth curve; superlinear terms often appear a decade
later. The driver ships no sf1, and /root/testdata is read-only — so
this tool derives one from sf0.1 instead of inventing a new generator.

Replication, not regeneration, is the point: every distribution the
probe's growth ratios depend on (join selectivity per key, group sizes,
duplicate-cluster sizes, time density per event-time window, planted
near-dup structure) is preserved *within* each replica by construction,
and the corpus simply contains K of them. The three places where naive
replication would CHANGE the scale shape are made disjoint per replica:

- **keys** (custkey/orderkey/partkey/suppkey/user_id/doc_id/vec_id/
  event_id) get a per-replica offset at a decimal boundary, so replica
  r's facts join replica r's dimensions and key cardinality grows K×
  like real data — identical keys would instead grow per-key group
  sizes K× (a skew probe, not a scale probe; tools/skew_probe.py covers
  that axis separately);
- **document text**: replicas ≥1 get every 3rd word REPLACED by a
  per-replica salt token (substitution, not insertion: the first sf1
  build spliced salts in, inflating token counts 1.55× and making
  every text-driven query's true data growth ~15× — two borderline
  "superlinear" flags were that fixture artifact). Word-level shingles
  (the minhash/Jaccard/containment unit, w=3..5) all straddle a salt,
  so cross-replica similarity collapses while within-replica
  similarity (including the planted mutant pairs dedup recall tests
  rely on — both members get the same positional substitution) is
  preserved; token counts and doc lengths stay ~flat, so 10× docs
  means 10× tokens;
- **embedding vectors**: replica r's vectors are cyclically rolled by
  r·7+3 positions — a norm- and within-replica-cosine-preserving
  isometry that makes cross-replica cosines near-orthogonal for these
  generic dense vectors (identical copies would hand ANN/semantic
  dedup K× duplicate neighbors at distance 0).

Dimension-only tables (region, nation) are copied as-is — their
cardinality is fixed at every TPC-H scale factor. Timestamps are left
unchanged: 10× events in the same time range is exactly how a busier
deployment scales, and it grows per-window/stream-state pressure the
way the streaming queries must absorb.

Everything goes through pyarrow so untouched columns (including the
events ts physical type the fixture sniff depends on) survive
byte-identical.

Usage::

    python tools/make_sf_scale.py [--src /root/testdata/sf0.1] \
        [--dst .sfscale/sf1] [--k 10]
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parent.parent

#: per-table key columns that get the per-replica offset
KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

COPY_TABLES = ["region", "nation"]


def _offset_base(tab: pa.Table, cols: list[str]) -> dict[str, int]:
    """Smallest power of 10 above each key column's max: replica r adds
    r·base, so replica membership is readable off the leading digit."""
    bases = {}
    for c in cols:
        mx = int(pa.compute.max(tab[c]).as_py() or 0)
        base = 10
        while base <= mx:
            base *= 10
        bases[c] = base
    return bases


def _salt_text(text: str, salt: str) -> str:
    """Replace every 3rd word with ``salt`` — every 3+-gram shingle of
    the result contains a salt token, so replicas never collide in a
    shingle-keyed index, while token count and doc length stay ~flat
    (insertion inflated them 1.55× and skewed growth ratios). Planted
    near-duplicate pairs within a replica get the same positional
    substitution, so their similarity relationship survives."""
    if not text:
        return text
    words = text.split(" ")
    for i in range(2, len(words), 3):
        words[i] = salt
    return " ".join(words)


def _replicate_table(name: str, src_file: str, k: int) -> pa.Table:
    tab = pq.read_table(src_file)
    key_cols = KEY_COLS.get(name, [])
    bases = _offset_base(tab, key_cols)
    parts = []
    for r in range(k):
        rep = tab
        for c in key_cols:
            idx = rep.schema.get_field_index(c)
            col = pa.compute.add(
                rep[c], pa.scalar(r * bases[c], rep.schema.field(c).type)
            )
            rep = rep.set_column(idx, c, col)
        if name == "documents" and r > 0:
            salt = f"zq{r}xj"  # no stopword, no digit-prefix token
            texts = [
                _salt_text(t, salt) if t is not None else None
                for t in rep["text"].to_pylist()
            ]
            idx = rep.schema.get_field_index("text")
            rep = rep.set_column(
                idx, "text", pa.array(texts, rep.schema.field("text").type)
            )
            # keep the length column consistent with the salted text
            idx = rep.schema.get_field_index("n_chars")
            lens = pa.array(
                [len(t) if t is not None else None for t in texts],
                rep.schema.field("n_chars").type,
            )
            rep = rep.set_column(idx, "n_chars", lens)
        if name == "embeddings" and r > 0:
            vecs = rep["embedding"].to_pylist()
            shift = r * 7 + 3
            rolled = [
                None
                if v is None
                else np.roll(np.asarray(v, dtype=np.float32), shift).tolist()
                for v in vecs
            ]
            idx = rep.schema.get_field_index("embedding")
            rep = rep.set_column(
                idx,
                "embedding",
                pa.array(rolled, rep.schema.field("embedding").type),
            )
        parts.append(rep)
    return pa.concat_tables(parts)


def main() -> int:
    sys.path.insert(0, str(REPO))
    from tools.registry_run import opt

    argv = sys.argv[1:]

    def _opt(flag, default):
        return opt(argv, flag, default)

    src = _opt("--src", "/root/testdata/sf0.1")
    dst = _opt("--dst", str(REPO / ".sfscale" / "sf1"))
    k = int(_opt("--k", "10"))

    os.makedirs(dst, exist_ok=True)
    import shutil

    for t in COPY_TABLES:
        shutil.copy(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")
        print(f"{t}: copied (fixed-cardinality dimension)")
    for t in KEY_COLS:
        out = _replicate_table(t, f"{src}/{t}.parquet", k)
        pq.write_table(out, f"{dst}/{t}.parquet")
        print(f"{t}: {out.num_rows} rows ({k} replicas)")
    print(f"wrote {dst}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
