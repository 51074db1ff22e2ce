"""`__spark_entry__._ordered_names`: the driver's window order, derived
from the verdict files and the plan budget (rules in the module
docstring), on a synthetic two-round verdict set."""

from __future__ import annotations

import json
from types import SimpleNamespace

import __spark_entry__ as e

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
WRONG_HASH = {**GREEN, "hash_match": False}
RAISED = {"rows_match": None, "schema_match": None, "hash_match": None, "err": "boom"}
NO_ORACLE = {**RAISED, "err": "no_oracle"}

R1 = {
    "changed_r1": GREEN, "raised_r1": RAISED, "green_b": GREEN,
    "green_a": GREEN, "fixed_r2": RAISED, "rows_only": NO_ORACLE,
}
R2 = {"changed_r2": GREEN, "wrong_r2": WRONG_HASH, "green_r2": GREEN, "fixed_r2": GREEN}
SINCE = {
    "changed_r1": 2, "changed_r2": 3, "green_r2": 2, "green_b": 1,
    "green_a": 1, "rows_only": 3,
}
REGISTRY = [
    "rows_only", "green_r2", "fixed_r2", "green_b", "never_b", "wrong_r2",
    "changed_r2", "green_a", "raised_r1", "never_a", "changed_r1",
]


def test_order_rules(tmp_path):
    for rnd, rows in ((1, R1), (2, R2)):
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))
    budget = tmp_path / "PLAN_BUDGET.json"
    budget.write_text(json.dumps({n: {"since": s} for n, s in SINCE.items()}))
    registry = {
        n: SimpleNamespace(oracle=None if n == "rows_only" else "SELECT 1")
        for n in REGISTRY
    }
    assert e._ordered_names(tmp_path, budget, registry) == [
        # 1. plan changed after the verdict round, stalest verdict first
        "changed_r1", "changed_r2",
        # 2. never checked, registry order
        "never_b", "never_a",
        # 3. latest row not green, stalest first
        "raised_r1", "wrong_r2",
        # 4. green, stalest first; ties (and since == verdict round) in
        # registry order; a later green row supersedes an older red one
        "green_b", "green_a", "green_r2", "fixed_r2",
        # 5. rows-only, whatever its plan did
        "rows_only",
    ]
