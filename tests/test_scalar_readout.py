"""Scalar readouts: a global aggregate read back onto a frame is a scalar
subquery (`DataFrame.scalar()`), never a crossJoin of the 1-row
aggregate. A readout enters a plan once: each read of a scalar Column
is its own copy of the subquery plan for the analyzer and the
optimizer, so a value used in several expressions is projected once
(`withColumn`) and read by column name, and several columns of one
aggregate are one struct-valued subquery
(`agg.select(F.struct("*")).scalar()`) — Spark merges per-column
subqueries only when their column-pruned plans still merge, which a
Union or a Window under the aggregate prevents."""

from __future__ import annotations

import ast
import pathlib

import pyarrow.parquet as pq
import pytest

from automated_agro_climatic_data_warehouse_spark.oracle import compare
from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

from conftest import SF_DIR

PKG = pathlib.Path(__file__).resolve().parent.parent / (
    "automated_agro_climatic_data_warehouse_spark"
)

# calls that keep a frame at one row when applied to a one-row frame
_PROJECTIONS = {"select", "selectExpr", "withColumn", "withColumns", "drop", "alias"}
_GROUPINGS = {"groupBy", "groupby", "rollup", "cube", "pivot", "groupingSets"}


def _call(node, name=None):
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and (name is None or node.func.attr == name)
    )


def _one_row_aggregate(node, bound, seen=frozenset()) -> bool:
    """`node` is a global aggregate (an `.agg` on a frame, or on a
    `groupBy()` with no keys), possibly projected, or a name bound to one."""
    while _call(node) and node.func.attr in _PROJECTIONS:
        node = node.func.value
    if isinstance(node, ast.Name) and node.id not in seen:
        return any(
            _one_row_aggregate(v, bound, seen | {node.id}) for v in bound.get(node.id, ())
        )
    if not _call(node, "agg"):
        return False
    grouped = node.func.value
    return not (_call(grouped) and grouped.func.attr in _GROUPINGS and grouped.args)


def _cross_joined_aggregates(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text())
    found = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        bound: dict[str, list[ast.expr]] = {}
        for node in ast.walk(fn):
            if isinstance(node, ast.Assign):
                for target in node.targets:
                    if isinstance(target, ast.Name):
                        bound.setdefault(target.id, []).append(node.value)
        for node in ast.walk(fn):
            if not (_call(node, "crossJoin") and node.args):
                continue
            side = node.args[0]
            if _call(side, "broadcast") and side.args:
                side = side.args[0]
            if _one_row_aggregate(side, bound):
                found.append(f"{path.relative_to(PKG)}:{node.lineno} ({fn.name})")
    return found


def _repeated_readouts(path: pathlib.Path) -> list[str]:
    """Scalar readouts that would enter a plan more than once: one frame
    read through `.select("<col>").scalar()` for several columns, or a
    name bound to a `.scalar()` read more than once outside the value of
    a `withColumn`/`withColumns` (each read is its own subquery copy for
    the analyzer and optimizer)."""
    tree = ast.parse(path.read_text())
    found = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        selects: dict[str, set] = {}
        scalars: set[str] = set()
        projected: set[int] = set()
        for node in ast.walk(fn):
            if _call(node, "scalar"):
                sel = node.func.value
                if _call(sel, "select") and isinstance(sel.func.value, ast.Name):
                    selects.setdefault(sel.func.value.id, set()).add(ast.dump(sel))
            if isinstance(node, ast.Assign) and _call(node.value, "scalar"):
                scalars.update(t.id for t in node.targets if isinstance(t, ast.Name))
            values = []
            if _call(node, "withColumn") and len(node.args) == 2:
                values = [node.args[1]]
            if _call(node, "withColumns") and isinstance(node.args[0], ast.Dict):
                values = node.args[0].values
            projected.update(id(n) for v in values for n in ast.walk(v))
        reads: dict[str, int] = {}
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Name)
                and isinstance(node.ctx, ast.Load)
                and node.id in scalars
                and id(node) not in projected
            ):
                reads[node.id] = reads.get(node.id, 0) + 1
        found += [
            f"{path.relative_to(PKG)}:{fn.lineno} ({fn.name}: {name})"
            for name in sorted(
                {n for n, sels in selects.items() if len(sels) > 1}
                | {n for n, k in reads.items() if k > 1}
            )
        ]
    return found


def test_no_crossjoin_reads_back_a_global_aggregate():
    found = [s for p in sorted(PKG.rglob("*.py")) for s in _cross_joined_aggregates(p)]
    assert not found, "use DataFrame.scalar() for a 1-row aggregate readout:\n" + "\n".join(
        found
    )



def test_each_scalar_readout_enters_the_plan_once():
    found = [s for p in sorted(PKG.rglob("*.py")) for s in _repeated_readouts(p)]
    assert not found, (
        "project a reused readout once (withColumn) and read the column; "
        'read several columns of one aggregate as .select(F.struct("*")).scalar():\n'
        + "\n".join(found)
    )


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    """Zero-row copies of the fixture tables, same schemas."""
    out = tmp_path_factory.mktemp("sf_empty")
    for src in sorted(pathlib.Path(SF_DIR).glob("*.parquet")):
        pq.write_table(pq.read_schema(src).empty_table(), out / src.name)
    return str(out)


@pytest.mark.parametrize(
    "name",
    [
        "q11_important_stock",
        "q15_top_supplier",
        "ts_vocab_growth_heaps",
        "a4_completeness_ratio",
        "dq_null_rates_unpivot",
        "dedup_lsh_recall_eval",
        "ev_quantile_sketch",
        "ev_survival_logrank",
    ],
)
def test_scalar_readout_over_empty_input_matches_oracle(spark, empty_sf, name):
    """A global aggregate over zero rows is still one row (NULL sums,
    zero counts), and a ratio or order statistic over it is NULL, as
    DuckDB's `x / 0` is; read as a scalar subquery or not, it must give
    the oracle's answer."""
    problems = compare(spark, QUERIES[name], empty_sf)
    assert not problems, f"{name}: {problems}"
