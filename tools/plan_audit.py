"""Shuffle accounting for every registered query — makes the
"one shuffle per logical step" design claim auditable instead of
rhetorical.

For each ``queries()`` entry the physical plan is inspected and the
exchange nodes are counted:

- ``shuffles``  — ``Exchange hashpartitioning/rangepartitioning/
  SinglePartition`` (data movement; the thing that hurts at 100 TB)
- ``broadcasts`` — ``BroadcastExchange`` (small-side replication; cheap)
- ``reused``     — ``ReusedExchange`` (Spark dedup of identical
  subplans; counted separately, they cost nothing at runtime)

Caveat: ``treeString`` prints a persisted subplan once per consumer, so
multi-consumer pipelines (minhash, IVF) OVER-count — the numbers are
regression ceilings (an edit that raises one added a real stage or a
real consumer), not exact runtime shuffle counts.

Each query is also run once through the noop sink, and the initial
(pre-AQE) plan of every SQL execution it starts — the eager jobs of
the query function included — is read back from the session's SQL status store:

- ``joins`` — each join operator with its type and build side
  (``BroadcastHashJoin LeftOuter BuildRight``), in execution order;
- ``plans`` — a digest per execution of its plan tree with operator
  and expression ids stripped.

Two censuses taken before and after an edit show which plans it
changed: ``python tools/plan_audit.py --diff BEFORE.json AFTER.json``.
Streaming entries (their micro-batch count varies run to run) and the
queries in ``RUN_VARYING`` are compared by their distinct joins.

Usage: ``python tools/plan_audit.py [sf_dir] [query ...] [--json PLAN_AUDIT.json]``

The budgets are pinned for headline queries in
``tests/test_plan_budgets.py`` — an edit that sneaks an extra shuffle
into a hot query fails CI, not a future benchmark.
"""

from __future__ import annotations

import hashlib
import json
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def count_exchanges(df) -> dict[str, int]:
    """Exchange census of a DataFrame's physical plan (pre-execution
    AQE initial plan — the shape Catalyst committed to).

    Counts each exchange OPERATOR once, not each tree-string appearance:
    a persisted subtree is reprinted in full under every
    InMemoryRelation scan site, so a naive line count multiplies one
    cache-filling shuffle by its number of consumers (observed 238
    "shuffles" for a plan that executes ~20). Exchange lines carry a
    stable ``[plan_id=N]`` (same JVM node → same id at every
    appearance); dedupe on it, falling back to a raw count for lines
    without one."""
    tree = df._jdf.queryExecution().executedPlan().treeString()
    shuffles = broadcasts = reused = 0
    seen: set[str] = set()
    for line in tree.splitlines():
        if re.search(r"\bReusedExchange\b", line):
            kind = "reused"
        elif re.search(r"\bBroadcastExchange\b", line):
            kind = "broadcasts"
        elif re.search(r"\bExchange\b", line):
            kind = "shuffles"
        else:
            continue
        m = re.search(r"\[plan_id=(\d+)\]", line)
        if m:
            if m.group(1) in seen:
                continue
            seen.add(m.group(1))
        if kind == "reused":
            reused += 1
        elif kind == "broadcasts":
            broadcasts += 1
        else:
            shuffles += 1
    return {"shuffles": shuffles, "broadcasts": broadcasts, "reused": reused}


#: queries besides the streaming entries whose plan text can vary
#: between runs of the same code, compared by their distinct joins
RUN_VARYING = {"join_bucketed_colocated"}

_JOIN = re.compile(
    r"\b((?:BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin|"
    r"BroadcastNestedLoopJoin|CartesianProduct)\b[\w ]*)$",
    re.M,
)


def initial_tree(description: str) -> str:
    """The initial plan tree of a status-store plan description, with
    every adaptive plan's final (or current) section dropped — also the
    ones nested under cached relations, whose state depends on what ran
    before — as a pre-order node list with operator ids, expression ids
    and run-time statistics stripped."""
    kept, skip_col = [], None
    for line in description.split("\n\n")[0].splitlines():
        col = line.find("== ")
        marker = line[col:].strip() if col >= 0 else ""
        if skip_col is not None:
            if col == skip_col and marker == "== Initial Plan ==":
                skip_col = None
        elif marker in ("== Final Plan ==", "== Current Plan =="):
            skip_col = col
        elif marker != "== Initial Plan ==":
            kept.append(line.lstrip(" :|+-"))  # pre-order node list
    tree = "\n".join(kept)
    return re.sub(r" \(\d+\)|#\d+L?|, Statistics\(.*\)$| isFinalPlan=\w+", "", tree, flags=re.M)


def executions(spark) -> list:
    """SQL executions in the session's status store, listener bus drained."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [execs.apply(i) for i in range(execs.size())]


def plan_census(spark, run) -> dict[str, list[str]]:
    """Joins and plan digests of every SQL execution ``run()`` starts."""
    seen = {e.executionId() for e in executions(spark)}
    run()
    trees = [
        initial_tree(e.physicalPlanDescription())
        for e in sorted(executions(spark), key=lambda e: e.executionId())
        if e.executionId() not in seen
    ]
    return {
        "joins": [j for t in trees for j in _JOIN.findall(t)],
        "plans": [hashlib.sha1(t.encode()).hexdigest()[:12] for t in trees],
    }


def diff(before: dict, after: dict, varying: set[str]) -> dict[str, list[str]]:
    """Queries of two censuses grouped as ``same``/``changed``/``missing``."""
    out: dict[str, list[str]] = {"same": [], "changed": [], "missing": []}
    for name in sorted(before.keys() | after.keys()):
        a, b = before.get(name, {}), after.get(name, {})
        if "plans" not in a or "plans" not in b:
            out["missing"].append(name)
        elif name in varying:
            out["same" if set(a["joins"]) == set(b["joins"]) else "changed"].append(name)
        else:
            out["same" if a["plans"] == b["plans"] else "changed"].append(name)
    return out


def main() -> int:
    from aind_hcr_data_transformation_spark import cache
    from tools.registry_run import each, opt, pick, registry, session

    argv = sys.argv[1:]
    queries = registry()
    if argv[:1] == ["--diff"] and len(argv) == 3:
        varying = RUN_VARYING | {
            n for n, fn in queries.items() if ".streaming." in fn.__module__
        }
        before, after = (json.loads(Path(p).read_text()) for p in argv[1:])
        groups = diff(before, after, varying)
        for name in groups["changed"]:
            print(f"changed {name}: {before[name]['joins']} -> {after[name]['joins']}")
        print({k: len(v) for k, v in groups.items()}, "missing:", groups["missing"])
        return 1 if groups["changed"] or groups["missing"] else 0
    json_out = opt(argv, "--json")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    names = pick(argv[1:], queries)

    # every execution of the largest query must stay in the status store
    spark = session(
        "plan-audit", extra_conf={"spark.sql.ui.retainedExecutions": "5000"}
    )

    def census(name, build):
        # each query builds its own shared indexes: its census must not
        # depend on which queries ran before it
        cache.clear()
        spark.catalog.clearCache()
        exchanges = {}

        def run():
            df = build()
            exchanges.update(count_exchanges(df))
            df.write.format("noop").mode("overwrite").save()

        return {**plan_census(spark, run), **exchanges}

    audit: dict[str, dict] = {}
    for name, row, err in each(spark, sf_dir, names, census):
        audit[name] = row if err is None else {"err": str(err)[:200]}
        print(f"{name}: {audit[name]}", flush=True)

    if json_out:
        Path(json_out).write_text(json.dumps(audit, indent=1, sort_keys=True))
        print(f"wrote {json_out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
