"""Regenerate PLAN_BUDGET.json: per query, the plan-shape counts the
default-tier budget test checks.

Usage: python tools/plan_budget.py [repo_root]

Measures the package under <repo_root> (default: this checkout) at
sf0.001 and rewrites this checkout's PLAN_BUDGET.json. An entry whose
counts changed is stamped `since` = the round after the latest
CORRECTNESS_rN.json, so `__spark_entry__` puts it at the head of the
driver's next window; an unchanged entry keeps its `since`.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
BUDGET = ROOT / "PLAN_BUDGET.json"
SF_DIR = "/root/testdata/sf0.001"

# one line of a physical plan's tree string: tree prefix, operator name,
# and the subquery's id on a Subquery line
_LINE = re.compile(r"([\s:|+\-]*)(\w+)(?: (subquery#\d+))?")


def _operators(plan: str) -> list[str]:
    """Operator names of a plan's tree string, with each distinct subquery
    and its plan listed once. The optimizer may inline one scalar
    subquery into several expressions, and whether it does varies from
    one build of the same query to the next; the subquery still runs
    once."""
    names, seen, skip = [], set(), None
    for line in plan.splitlines():
        m = _LINE.match(line)
        if m is None:
            continue
        depth = len(m.group(1))
        if skip is not None and depth > skip:
            continue
        skip, subquery = None, m.group(3)
        if subquery in seen:
            skip = depth
            continue
        if subquery:
            seen.add(subquery)
        names.append(m.group(2))
    return names


def measure(spark, spec, sf_dir: str) -> dict[str, int]:
    """Build `spec`'s DataFrame and count, in its initial (pre-AQE)
    executed plan with each distinct subquery's plan once: shuffle
    Exchanges, BroadcastExchanges and Subqueries; plus the
    `localCheckpoint` calls the build made (every one goes through
    `session.materialize`). The plan is the initial one because the
    frame has not run yet, so AQE has not re-planned any stage."""
    from pyspark.sql.classic.dataframe import DataFrame

    checkpoint = DataFrame.localCheckpoint
    calls = 0

    def counted(self, *args, **kwargs):
        nonlocal calls
        calls += 1
        return checkpoint(self, *args, **kwargs)

    DataFrame.localCheckpoint = counted
    try:
        df = spec.spark_fn(spark, sf_dir)
    finally:
        DataFrame.localCheckpoint = checkpoint
    nodes = _operators(df._jdf.queryExecution().executedPlan().toString())
    return {
        "exchange": nodes.count("Exchange"),
        "broadcast": nodes.count("BroadcastExchange"),
        "subquery": nodes.count("Subquery"),
        "materialize": calls,
    }


def _next_round() -> int:
    rounds = [
        int(p.stem.removeprefix("CORRECTNESS_r"))
        for p in ROOT.glob("CORRECTNESS_r*.json")
    ]
    return max(rounds, default=0) + 1


def main() -> None:
    root = sys.argv[1] if len(sys.argv) > 1 else str(ROOT)
    sys.path.insert(0, root)
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES
    from automated_agro_climatic_data_warehouse_spark.session import (
        drop_checkpoint_blocks,
        get_spark,
    )

    spark = get_spark("plan_budget")
    old = json.loads(BUDGET.read_text()) if BUDGET.exists() else {}
    since = _next_round()
    budget, changed = {}, []
    for name, spec in QUERIES.items():
        counts = measure(spark, spec, SF_DIR)
        drop_checkpoint_blocks(spark)
        prev = old.get(name, {})
        if {k: prev.get(k) for k in counts} == counts:
            budget[name] = {**counts, "since": prev["since"]}
        else:
            budget[name] = {**counts, "since": since}
            changed.append(name)
    lines = [f" {json.dumps(n)}: {json.dumps(e)}" for n, e in budget.items()]
    BUDGET.write_text("{\n" + ",\n".join(lines) + "\n}\n")
    print(f"wrote {BUDGET.name}: {len(budget)} queries, {len(changed)} changed")
    for name in changed:
        print(f"  {name}: {old.get(name)} -> {budget[name]}")


if __name__ == "__main__":
    main()
