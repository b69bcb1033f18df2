"""One registry runner for the tools.

Every tool that walks the ``__spark_entry__`` registry goes through this
module, which does each of these jobs once:

- ``registry``/``pick``: ``queries()`` merged with
  ``production_queries()``; names kept in the order the caller lists
  them, and an unknown name exits 2;
- ``session``: the tool session (``get_spark``, log level ``ERROR``);
- ``each``: the in-process loop. It builds each named query, acts on it,
  calls ``release_persists()`` after every query and records an error
  per query instead of dying;
- ``differential``: the chunked fresh-process ``oracle_check``
  differential. A name a crashed chunk left without a record is retried
  alone, so a crash costs one retried name, not the sweep;
  ``fixture_sweep`` runs it over each derived fixture of a probe;
- ``derive``/``overwrite``: fixtures copied from a source dir with
  per-table pyarrow edits;
- ``opt``/``flag``: ``--flag value`` and bare ``--flag`` options.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def opt(argv: list[str], name: str, default=None):
    """Pop ``name value`` from ``argv`` wherever it stands; ``default``
    when ``name`` is absent. A misplaced flag must not become a query
    name or a fixture dir, so a missing value exits 2."""
    if name not in argv:
        return default
    i = argv.index(name)
    if i + 1 >= len(argv):
        print(f"usage: {name} VALUE")
        raise SystemExit(2)
    value = argv[i + 1]
    del argv[i : i + 2]
    return value


def flag(argv: list[str], name: str) -> bool:
    """Pop the bare option ``name`` from ``argv``; whether it was given."""
    given = name in argv
    argv[:] = [a for a in argv if a != name]
    return given


def registry() -> dict:
    """``queries()`` merged with ``production_queries()``: name -> query
    function."""
    import __spark_entry__ as entrymod

    return {**entrymod.queries(), **entrymod.production_queries()}


def pick(names: list[str], known) -> list[str]:
    """``names`` in the order given, each once, or all of ``known`` when
    none is given; a name not in ``known`` exits 2."""
    unknown = sorted(set(names) - set(known))
    if unknown:
        print(f"unknown query names: {unknown}")
        raise SystemExit(2)
    return list(dict.fromkeys(names or known))


def session(app: str, extra_conf: dict[str, str] | None = None):
    """The tools' Spark session: engine defaults, log level ``ERROR``."""
    from aind_hcr_data_transformation_spark.session import get_spark

    spark = get_spark(app, extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def each(spark, sf_dir: str, names: list[str], action):
    """Yield ``(name, action(name, build), err)`` for each name, in the
    order given. ``build()`` returns the query's DataFrame; the action
    calls it, so whatever the action measures includes the eager jobs of
    the query function itself. An exception from building or acting is yielded as
    ``err`` (result ``None``) and the loop goes on; ``release_persists()``
    runs after every query, whether it raised or not."""
    from aind_hcr_data_transformation_spark import cache

    queries = registry()
    for name in names:
        result = err = None
        try:
            result = action(name, lambda: queries[name](spark, sf_dir))
        except Exception as e:  # noqa: BLE001 - one query must not end the loop
            err = e
        finally:
            cache.release_persists()
        yield name, result, err


def noop_wall(name: str, build) -> float:
    """Seconds to build a query and run it into the noop sink."""
    t0 = time.perf_counter()
    build().write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


def failed(rec: dict) -> bool:
    """The tools' one verdict on a differential record: it fails on an
    error (a crash, no oracle), a rowcount, column-set or type-family
    mismatch, differing values, or a strict-probe divergence."""
    return bool(
        rec.get("err")
        or not rec.get("rows_match")
        or not rec.get("schema_match")
        or rec.get("type_match") is False
        or rec.get("hash_match") is False
        or rec.get("strict_match") is False
    )


def differential(
    names: list[str], run_chunk, chunk: int, retry_failed: bool
) -> tuple[dict, list[int]]:
    """Differential records for ``names``, ``chunk`` names per
    ``run_chunk(batch) -> (records, returncode)`` call (each a fresh
    process: the Spark JVM and DuckDB's buffer pool degrade over a long
    run, and one host-level ``bad_alloc`` can kill the process).

    A name its chunk left without a record is retried alone; one missing
    again gets a ``process crashed twice`` record. With ``retry_failed`` a name
    whose record ``failed`` is retried alone too, and a record from the
    retry replaces it (a transient DuckDB ``bad_alloc`` passes alone).
    Returns (name -> record, in ``names`` order; the return codes of the
    chunks that crashed)."""
    recs: dict[str, dict] = {}
    crashed: list[int] = []
    for i in range(0, len(names), chunk):
        batch = names[i : i + chunk]
        got, rc = run_chunk(batch)
        recs.update((n, got[n]) for n in batch if n in got)
        if rc not in (0, 1):
            crashed.append(rc)
        missing = [n for n in batch if n not in got]
        print(
            f"  chunk {i // chunk}: rc={rc}, {len(batch) - len(missing)}/"
            f"{len(batch)} recorded"
            + (f", missing {missing}: will retry" if missing else ""),
            flush=True,
        )
    for n in names:
        if n in recs and not (retry_failed and failed(recs[n])):
            continue
        got, rc = run_chunk([n])
        print(f"  retried {n} alone: rc={rc}", flush=True)
        if n in got:
            recs[n] = got[n]
        elif n not in recs:
            keys = "rows_match schema_match hash_match spark_rows oracle_rows"
            recs[n] = {**dict.fromkeys(keys.split()),
                       "err": f"process crashed twice (rc={rc})"}
    return {n: recs[n] for n in names}, crashed


def oracle_chunk(sf_dir: str, *flags: str):
    """A ``run_chunk`` for ``differential``: ``tools/oracle_check.py
    [flags] sf_dir batch...`` in a fresh process. Its FAIL lines are
    echoed; a crash that left no records echoes the output's tail."""

    def run(names: list[str]) -> tuple[dict, int]:
        with tempfile.TemporaryDirectory(prefix="oracle_chunk_") as tmp:
            out = os.path.join(tmp, "records.json")
            cmd = [sys.executable, str(REPO / "tools" / "oracle_check.py"),
                   "--json", out, *flags, sf_dir, *names]
            proc = subprocess.run(
                cmd, cwd=REPO, capture_output=True, text=True, timeout=3600
            )
            recs = {}
            if os.path.exists(out) and os.path.getsize(out):
                recs = json.loads(Path(out).read_text())
                recs.pop("_meta", None)
        fails = [l for l in proc.stdout.splitlines() if l.startswith("FAIL")]
        if fails:
            print("\n".join(fails), flush=True)
        if proc.returncode not in (0, 1) and not recs:
            print(f"  rc={proc.returncode}; tail:\n{proc.stdout[-2000:]}"
                  f"{proc.stderr[-500:]}", flush=True)
        return recs, proc.returncode

    return run


def fixture_sweep(doc: dict, json_out: str, stages: dict) -> dict:
    """The fixture-stage loop of the NULL and SKEW probes. Each
    ``stages[stage](dst) -> fields`` derives its fixture into a tmp dir;
    the ``queries()`` differential runs over it, and ``fields`` plus the
    stage's verdict go into ``doc["stages"][stage]``. ``doc`` is written
    to ``json_out`` after every stage, so a crash in a later stage keeps
    the finished stages' evidence. Returns stage -> what failed.

    Chunks hold 40 queries (DuckDB's buffer pool degrades over longer
    runs), and a failed query is retried alone: on a mutated fixture a
    transient ``bad_alloc`` is not the finding."""
    import __spark_entry__ as entrymod

    names = list(entrymod.queries())
    flagged = {}
    for stage, build in stages.items():
        with tempfile.TemporaryDirectory(prefix=f"sf_{stage}_") as dst:
            fields = build(dst)
            print(f"[{stage}] fixture: {dst} {fields}", flush=True)
            recs, crashed = differential(
                names, oracle_chunk(dst), 40, retry_failed=True
            )
        missing = [
            n for n, r in recs.items()
            if str(r["err"]).startswith("process crashed twice")
        ]
        failures = [n for n, r in recs.items() if failed(r) and n not in missing]
        doc["stages"][stage] = {
            **fields,
            "n_queries": len(recs) - len(missing),
            "failures": failures,
            "missing": missing,
            "rc_crashed": crashed,
        }
        Path(json_out).write_text(json.dumps(doc, indent=1))
        if failures or missing or crashed:
            flagged[stage] = failures or missing or f"rc {crashed}"
    return flagged


def derive(src: str, dst: str, edits: dict) -> dict[str, int]:
    """Copy the fixture tables of ``src`` into ``dst``. A table named in
    ``edits`` is read with pyarrow, passed through its edit
    ``tab -> (tab, n)`` and written back, so every column the edit does
    not touch (the events ts physical type included, which varies by
    fixture generation) survives as it is. Returns table -> the edit's
    ``n``."""
    import pyarrow.parquet as pq

    os.makedirs(dst, exist_ok=True)
    counts: dict[str, int] = {}
    for t in TABLES:
        if t not in edits:
            shutil.copy(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")
            continue
        tab, counts[t] = edits[t](pq.read_table(f"{src}/{t}.parquet"))
        pq.write_table(tab, f"{dst}/{t}.parquet")
    return counts


def overwrite(key: str, hit, col: str, value):
    """An edit for ``derive``: ``col`` becomes ``value`` on the rows
    where ``hit(<key column as numpy>)`` holds; ``n`` is their count.
    ``value`` is a plain value (``None`` for NULL) cast to the column's
    type, or a function of the column."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def edit(tab):
        mask = pa.array(hit(tab[key].to_numpy()))
        new = (
            value(tab[col])
            if callable(value)
            else pa.scalar(value, tab.schema.field(col).type)
        )
        tab = tab.set_column(
            tab.schema.get_field_index(col), col, pc.if_else(mask, new, tab[col])
        )
        return tab, int(pc.sum(mask).as_py())

    return edit
