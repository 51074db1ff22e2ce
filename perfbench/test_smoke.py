"""One op of each workload through the benchmark's own run and check path.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run.pin_environment(str(tmp_path_factory.mktemp("perfbench") / "env"), trace=False)
    from automated_agro_climatic_data_warehouse_spark.session import get_spark

    session = get_spark("perfbench-smoke")
    yield session
    run.stop_engine(session)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_first_op_of_each_workload_is_correct(spark, tmp_path, name):
    wl = workloads.WORKLOADS[name](str(tmp_path), seed=3)
    wl.stage()
    wl.start(spark)
    op = run.Op("smoke-0", wl.ops()[0])
    problems: list[str] = []
    run.run_op(wl, tracing.NullTracer(), op, problems)
    assert op.ok, problems
    assert op.rows == wl.expected[op.name] > 0
    if isinstance(wl, workloads.QueryWorkload):
        # values of the one kept result against its DuckDB twin
        assert [p for p in wl.verify() if p.startswith(op.name)] == []
