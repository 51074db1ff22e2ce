"""The committed plan-shape budget matches every query's measured plan.

A change that moves any count, up or down, regenerates the budget in the
same change, which re-stamps the entry's `since` round and so puts the
query at the head of the driver's next verification window.
"""

from __future__ import annotations

import json

from automated_agro_climatic_data_warehouse_spark.plans import QUERIES
from automated_agro_climatic_data_warehouse_spark.session import drop_checkpoint_blocks
from tools.plan_budget import BUDGET, measure


def test_budget_matches_measured_plans(spark, sf_dir):
    budget = json.loads(BUDGET.read_text())
    diffs = []
    for name, spec in QUERIES.items():
        counts = measure(spark, spec, sf_dir)
        drop_checkpoint_blocks(spark)
        committed = {k: v for k, v in budget.pop(name, {}).items() if k != "since"}
        if committed != counts:
            diffs.append(f"{name}: budget {committed or None}, measured {counts}")
    diffs += [f"{name}: in the budget, not in the registry" for name in budget]
    assert not diffs, (
        f"{len(diffs)} queries differ from {BUDGET.name}:\n"
        + "\n".join(diffs)
        + "\nregenerate with: python tools/plan_budget.py"
    )
