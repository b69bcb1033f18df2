"""Local emulation of the driver's DuckDB differential check.

Runs every ``queries()`` entry from ``__spark_entry__`` and compares against
``oracle_sql()`` on the same parquet tables: row count + order-insensitive
value comparison (values normalized to strings, rows sorted). Columns are
sorted by name before comparison, mirroring the driver contract.

Additionally compares the **physical type family** of every output column
(DuckDB ``DESCRIBE`` vs the Spark schema, via ``tools/type_audit``): the
driver hashes through Arrow, where DuckDB HUGEINT materializes as
``decimal128(38,0)`` — a hash mismatch against a Spark ``bigint`` even
when every value is identical.  Plain ``fetchall()`` collapses both to
Python ``int`` and was blind to the class (the round-5/6 driver reds,
``scalar_variant_json`` / ``layout_compaction_plan``); the family check
makes those trip locally (``type_match`` in the JSON record, with the
differing columns and both types in ``type_diffs``).

Usage: python tools/oracle_check.py [--json OUT.json] [--duckdb-strict]
       [sf_dir] [query ...]

Listed queries run in the order given (all of ``queries()``, in registry
order, when none is listed), so a shuffled name list is a registry-order
sweep.

``--json`` writes a driver-shaped per-query record (rows/schema/hash
match booleans) so the full-registry differential evidence can be
committed each round (VERDICT r3 task #1: the driver samples ~50 of the
registered queries; this artifact covers all of them).

``--duckdb-strict`` probes a second DuckDB-semantics axis (VERDICT r5
task #7): every oracle is re-run with each bare ``CAST(`` rewritten to
``TRY_CAST(`` and the result compared against the normal oracle run.
Where a cast succeeds the two are identical; a divergence means the
oracle RELIES on a throwing/rounding cast — exactly the
version-sensitive surface that made ``scalar_variant_json`` driver-red
in round 5 while staying green locally.  Divergences are reported as
failures (``strict_match`` in the JSON record) so fragile oracles are
caught before the driver's environment does.
"""

from __future__ import annotations

import json
import math
import re
import sys
import time
from datetime import datetime
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        # full repr, no tolerance: the engine guarantees bit-exact doubles
        # vs DuckDB (explicit fold orders, decimal-routed rounding/sums)
        return repr(v)
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _canon(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


#: bare CAST( not already preceded by TRY_ (case-insensitive)
_CAST_RE = re.compile(r"(?<![A-Za-z_])(?<!TRY_)(CAST\s*\()", re.IGNORECASE)


def _strictify(sql: str) -> str:
    """Rewrite every bare ``CAST(`` to ``TRY_CAST(`` — the
    newest-DuckDB-semantics probe: TRY_CAST agrees with CAST wherever
    the cast succeeds and yields NULL where CAST would throw, so any
    result difference marks an oracle leaning on throw/round behavior
    that varies across DuckDB versions."""
    return _CAST_RE.sub("TRY_CAST(", sql)


def main() -> int:
    import __spark_entry__ as entrymod
    from tools.registry_run import each, flag, opt, pick, session
    from tools.type_audit import connect, duckdb_family, spark_family

    argv = sys.argv[1:]
    # --json anywhere (a misplaced flag once silently became a "query
    # name" filter that matched nothing and reported 0 failures)
    json_out = opt(argv, "--json")
    strict = flag(argv, "--duckdb-strict")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    names = pick(argv[1:], entrymod.queries())
    oracles = entrymod.oracle_sql()

    spark = session("oracle-check")

    # bounded memory + disk spill: the heavy unrolled-CTE oracles
    # (SemDeDup's 3 Lloyd iterations over 64-dim folds) can exceed
    # DuckDB's default allocation budget while the Spark JVM holds its
    # own heap on the same host — without a temp_directory DuckDB FAILS
    # with Out of Memory instead of spilling (observed once at sf0.1)
    import tempfile

    def _fresh_con():
        c = connect(sf_dir)
        # 24GB, not 48: the Spark JVM shares this host, and the limit is
        # only a buffer-pool cap — with temp_directory set the heavy
        # unrolled-CTE oracles spill instead of failing. 48GB left too
        # little headroom and the r6 strict sweep died on HOST-level
        # bad_alloc (std::bad_alloc at 16KB blocks ≠ DuckDB's own limit).
        c.execute("SET memory_limit='24GB'")
        c.execute(
            f"SET temp_directory='{tempfile.gettempdir()}/duckdb_oracle_spill'"
        )
        return c

    con = _fresh_con()

    def _dd_execute(sql):
        """Execute on the shared connection; once a heavy oracle trips the
        memory limit the connection's buffer pool stays poisoned and EVERY
        later allocation fails (observed: one OOM → 25 cascading OOMs in
        the r6 strict run), so on an OOM we rebuild the connection and
        retry once on a clean pool."""
        nonlocal con
        try:
            return con.execute(sql)
        except Exception as e:
            # "already been closed": a prior retry's _fresh_con() itself
            # died mid-setup (host-level memory pressure), leaving the
            # closed handle bound — reconnect instead of cascading
            if "Out of Memory" not in str(e) and "already been closed" not in str(e):
                raise
            try:
                con.close()
            except Exception:
                pass
            con = _fresh_con()
            return con.execute(sql)

    failures = []
    records: dict[str, dict] = {}

    def record(name, **kw):
        base = {
            "rows_match": None,
            "schema_match": None,
            "type_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
            "type_diffs": None,
        }
        base.update(kw)
        records[name] = base

    def collect(name, build):
        sdf = build()
        return sdf.columns, sdf.schema, [tuple(r) for r in sdf.collect()]

    for name, got, err in each(spark, sf_dir, names, collect):
        if err is not None:
            failures.append(name)
            record(name, err=f"spark error: {err}")
            print(f"FAIL  {name}: spark error: {err}")
            continue
        scols, sschema, srows = got
        if name not in oracles:
            record(name, spark_rows=len(srows), err="no_oracle")
            print(f"ROWS  {name}: {len(srows)} rows (no oracle)")
            if len(srows) == 0:
                print(f"      WARNING: zero rows")
            continue
        try:
            res = _dd_execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            failures.append(name)
            record(name, spark_rows=len(srows), err=f"duckdb error: {e}")
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        schema_match = sorted(scols) == sorted(dcols)
        rows_match = len(srows) == len(drows)
        # driver-faithful physical-type check: DESCRIBE is free (no
        # re-execution) and catches the Arrow-level HUGEINT class that
        # value comparison through fetchall() cannot see
        try:
            dd_types = dict(
                r[:2]
                for r in _dd_execute(f"DESCRIBE {oracles[name]}").fetchall()
            )
            sp_types = {f.name: f.dataType for f in sschema.fields}
            type_diffs = [
                {
                    "col": c,
                    "duckdb": t,
                    "duckdb_family": duckdb_family(t),
                    "spark": sp_types[c].simpleString(),
                    "spark_family": spark_family(sp_types[c]),
                }
                for c, t in dd_types.items()
                if c in sp_types
                and duckdb_family(t) != spark_family(sp_types[c])
            ]
        except Exception as e:
            type_diffs = [{"col": "<describe failed>", "duckdb": str(e)}]
        if type_diffs:
            failures.append(name)
            record(name, rows_match=rows_match, schema_match=schema_match,
                   type_match=False, spark_rows=len(srows),
                   oracle_rows=len(drows), type_diffs=type_diffs)
            print(f"FAIL  {name}: physical type family differs "
                  f"(driver Arrow-hash hazard): {type_diffs}")
            continue
        if not schema_match:
            failures.append(name)
            record(name, rows_match=rows_match, schema_match=False,
                   spark_rows=len(srows), oracle_rows=len(drows),
                   type_diffs=[])
            print(f"FAIL  {name}: columns differ spark={sorted(scols)} duckdb={sorted(dcols)}")
            continue
        if not rows_match:
            failures.append(name)
            record(name, rows_match=False, schema_match=True,
                   spark_rows=len(srows), oracle_rows=len(drows),
                   type_diffs=[])
            print(f"FAIL  {name}: rowcount spark={len(srows)} duckdb={len(drows)}")
            continue
        sc, dc = _canon(srows, scols), _canon(drows, dcols)
        hash_match = sc == dc
        record(name, rows_match=True, schema_match=True, type_match=True,
               hash_match=hash_match, spark_rows=len(srows),
               oracle_rows=len(drows), type_diffs=[])
        if not hash_match:
            failures.append(name)
            diff = [(a, b) for a, b in zip(sc, dc) if a != b][:3]
            print(f"FAIL  {name}: values differ; first diffs:")
            for a, b in diff:
                print(f"      spark : {a}")
                print(f"      duckdb: {b}")
            continue
        if strict:
            strict_sql = _strictify(oracles[name])
            try:
                sres = _dd_execute(strict_sql)
                stcols = [d[0] for d in sres.description]
                strows = sres.fetchall()
                strict_match = (
                    sorted(stcols) == sorted(dcols)
                    and _canon(strows, stcols) == dc
                )
                strict_err = None
            except Exception as e:  # TRY_CAST on a non-castable TYPE throws
                strict_match, strict_err = False, str(e)
            records[name]["strict_match"] = strict_match
            if not strict_match:
                failures.append(name)
                records[name]["err"] = strict_err or "strict divergence"
                print(
                    f"FAIL  {name}: TRY_CAST strict probe diverges"
                    + (f" ({strict_err})" if strict_err else "")
                )
                continue
        print(f"OK    {name}: {len(srows)} rows")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    if json_out:
        doc = {
            "_meta": {
                "tool": "tools/oracle_check.py",
                "sf_dir": sf_dir,
                "n_queries": len(records),
                "n_failures": len(failures),
                "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
            },
            **records,
        }
        Path(json_out).write_text(json.dumps(doc, indent=1))
        print(f"wrote {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
