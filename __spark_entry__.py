"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (the reference's
mv_location_crop_compatibility analog) on sf0.001. ``queries()`` exposes one
named DataFrame builder per implemented operator from SURVEY.md §2;
``oracle_sql()`` exposes the DuckDB twin for each (omitted for genuinely
non-SQL-expressible operators → rows-only check).

The driver checks the first 50 names of ``queries()`` each round, so
their order is derived from the driver's own verdicts
(``CORRECTNESS_rN.json``; a query's verdict round is the latest round
with a row for it) and from ``PLAN_BUDGET.json`` (``since``: the round
in which the query's plan counts last changed):

1. queries whose plan changed after their verdict round;
2. queries the driver has never checked;
3. queries whose latest row is not green;
4. green queries;
5. last, rows-only queries (no oracle twin), whose row cannot go green.

Within a rule, the stalest verdict comes first, then registry order.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Mapping
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from automated_agro_climatic_data_warehouse_spark.plans import QUERIES, QuerySpec

SMOKE_SF_DIR = "/root/testdata/sf0.001"
_ROOT = Path(__file__).resolve().parent


def _ordered_names(
    verdicts: Path, budget: Path, registry: Mapping[str, QuerySpec]
) -> list[str]:
    """`registry`'s names in window order (module docstring), from the
    `CORRECTNESS_rN.json` files in `verdicts` and the `budget` file."""
    latest: dict[str, tuple[int, bool]] = {}
    for path in verdicts.glob("CORRECTNESS_r*.json"):
        rnd = int(path.stem.removeprefix("CORRECTNESS_r"))
        for name, row in json.loads(path.read_text()).items():
            green = row["err"] is None and all(
                row[k] for k in ("rows_match", "schema_match", "hash_match")
            )
            if rnd > latest.get(name, (0, False))[0]:
                latest[name] = (rnd, green)
    since = {n: e["since"] for n, e in json.loads(budget.read_text()).items()}
    index = {n: i for i, n in enumerate(registry)}

    def key(name: str) -> tuple[int, int, int]:
        rnd, green = latest.get(name, (0, False))
        if registry[name].oracle is None:
            rule = 5
        elif name not in latest:
            rule = 2
        elif since.get(name, 0) > rnd:
            rule = 1
        else:
            rule = 4 if green else 3
        return rule, rnd, index[name]

    return sorted(registry, key=key)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["mv_compatibility"].spark_fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    names = _ordered_names(_ROOT, _ROOT / "PLAN_BUDGET.json", QUERIES)
    return {name: QUERIES[name].spark_fn for name in names}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query (same column names).

    Oracle templates reference the parquet files directly via
    ``read_parquet('{sf}/<table>.parquet')``; since the driver pre-registers
    the bare table names as views, we strip the read_parquet wrapper down to
    the view name here.
    """
    out: dict[str, str] = {}
    for name in queries():
        spec = QUERIES[name]
        if spec.oracle is None:
            continue
        sql = re.sub(r"read_parquet\('\{sf\}/(\w+)\.parquet'\)", r"\1", spec.oracle)
        out[name] = sql
    return out
