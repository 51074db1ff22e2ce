"""Differential property test: asof_join vs pandas.merge_asof.

pandas' merge_asof is the canonical reference implementation of
point-in-time semantics (backward search, allow_exact_matches=True is
the same `right.ts <= left.ts` contract). Hypothesis drives random
key/ts/value layouts — including null right values and keys with no
prior observation — and the Spark plan must agree row-for-row.

Examples are kept small and few (each one runs a Spark job); the value
of the test is the adversarial layouts hypothesis finds (ties at equal
ts, single-sided keys, all-null values), not volume.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from automated_agro_climatic_data_warehouse_spark.operators.asof import asof_join

_KEYS = st.integers(min_value=0, max_value=3)
_TS = st.integers(min_value=0, max_value=20)
_VAL = st.one_of(st.none(), st.integers(min_value=-5, max_value=5))

_LEFT = st.lists(st.tuples(_KEYS, _TS), min_size=1, max_size=15)
_RIGHT = st.lists(st.tuples(_KEYS, _TS, _VAL), min_size=0, max_size=15)


def _reference(left_rows, right_rows, direction="backward") -> pd.DataFrame:
    lf = pd.DataFrame(left_rows, columns=["k", "ts"]).sort_values(
        ["ts", "k"], kind="stable"
    )
    rf = (
        pd.DataFrame(right_rows, columns=["k", "ts", "v"])
        .sort_values(["ts", "k"], kind="stable")
        .astype({"v": "float64"})
    )
    if rf.empty:
        out = lf.copy()
        out["v"] = float("nan")
        return out
    return pd.merge_asof(
        lf, rf, on="ts", by="k", direction=direction, allow_exact_matches=True
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=_LEFT, right=_RIGHT, direction=st.sampled_from(["backward", "forward"]))
def test_asof_matches_pandas_merge_asof(spark, left, right, direction):
    # operator precondition: right unique per (k, ts) — keep first
    seen: dict[tuple[int, int], tuple] = {}
    for k, ts, v in right:
        seen.setdefault((k, ts), (k, ts, v))
    right = list(seen.values())
    # left duplicates are legal but make row-matching ambiguous; dedupe
    left = sorted(set(left))

    ldf = spark.createDataFrame(left, "k int, ts int")
    rdf = spark.createDataFrame(
        [(k, ts, v) for k, ts, v in right], "k int, ts int, v int"
    )
    got = {
        (r["k"], r["ts"]): r["v"]
        for r in asof_join(
            ldf, rdf, on=["k"], direction=direction
        ).collect()
    }
    ref = _reference(left, right, direction)
    assert len(got) == len(ref)
    for row in ref.itertuples(index=False):
        want = None if pd.isna(row.v) else int(row.v)
        assert got[(row.k, row.ts)] == want, (
            f"key={row.k} ts={row.ts}: spark={got[(row.k, row.ts)]} "
            f"pandas={want}\nleft={left}\nright={right}"
        )
