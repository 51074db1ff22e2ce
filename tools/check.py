"""Local replica of the driver's correctness gate.

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from automated_agro_climatic_data_warehouse_spark.oracle import compare, duckdb_conn  # noqa: E402
from automated_agro_climatic_data_warehouse_spark.plans import QUERIES  # noqa: E402
from automated_agro_climatic_data_warehouse_spark.session import get_spark  # noqa: E402


def check(sf_dir: str, names: list[str] | None = None) -> int:
    spark = get_spark("check")
    con = duckdb_conn(sf_dir)
    failed = []
    selected = names or list(QUERIES)
    unknown = [n for n in selected if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}; available: {sorted(QUERIES)}")
        return 1
    for name in selected:
        spec = QUERIES[name]
        t0 = time.time()
        try:
            # one connection for the run, one cursor per query: a cursor's
            # connection-local allocator state is released at close, so
            # hundreds of heavy unrolled-CTE oracles do not accumulate it
            # (a full 370-query sf0.1 gate passed this way)
            cur = con.cursor()
            try:
                problems = compare(spark, spec, sf_dir, cur)
            finally:
                cur.close()
        except Exception as e:  # noqa: BLE001
            problems = [f"error: {type(e).__name__}: {e}"]
        dt = time.time() - t0
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)[:400]}")
            failed.append(name)
        else:
            tag = "rows" if spec.oracle is None else "OK  "
            print(f"{tag}  {name} [{dt:.1f}s]")
    print(f"\n{len(selected) - len(failed)}/{len(selected)} passed")
    return 1 if failed else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    sf = next((a for a in args if "/" in a), "/root/testdata/sf0.01")
    qnames = [a for a in args if "/" not in a and a != "--first50"] or None
    if "--first50" in args:
        # the driver's verification window: the first 50 entries of
        # __spark_entry__.queries() in its priority ordering
        import __spark_entry__

        qnames = list(__spark_entry__.queries())[:50]
    raise SystemExit(check(sf, qnames))
