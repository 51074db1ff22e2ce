"""Cross-monitor contracts.

1. Every chain-drain monitor's `empty_schema` must BE the schema its
   merge produces: an empty first drain otherwise returns a frame
   downstream readouts silently mis-bind against — a failure no
   stream≡batch test catches because those always drain data.
2. ann_ivf_spill's build-vs-query trade is MEASURED, not asserted in
   prose: its probe-side candidate frame must be about half
   ann_ivf_topk's (1 probed list vs 2), while its list frame doubles.
3. Every additive merge is split-invariant: merging batch b onto the
   state of batch a equals merging a ∪ b at once, so a drained state
   does not depend on how files fall into micro-batches.
4. The streaming-drain idioms have one implementation each: the file
   source, the memory drain and the commit marker appear in the
   package only in streaming/state_chain.py.
"""

from __future__ import annotations

import ast
import datetime
import pathlib

import pytest
from pyspark.sql import functions as F

from automated_agro_climatic_data_warehouse_spark.operators import quality
from automated_agro_climatic_data_warehouse_spark.operators.survival import (
    km_histogram_merge,
)
from automated_agro_climatic_data_warehouse_spark.session import local_frame
from automated_agro_climatic_data_warehouse_spark.streaming import (
    capture_recapture,
    cms_state,
    grid_quantiles,
    heavy_hitters,
    sprt,
)

PKG = pathlib.Path(__file__).resolve().parent.parent / (
    "automated_agro_climatic_data_warehouse_spark"
)
_D1, _D2 = datetime.date(2024, 1, 1), datetime.date(2024, 1, 2)

# merge(batch, prev), input schema, batch a, batch b — a and b share keys
ADDITIVE = {
    "anova_moments_merge": (
        quality.anova_moments_merge,
        "group string, x bigint",
        [("g", 1), ("h", 3)],
        [("g", 2)],
    ),
    "lb_daily_merge": (quality.lb_daily_merge, "day date", [(_D1,), (_D2,)], [(_D1,)]),
    "ct_merge": (
        quality.ct_merge,
        "event_type string, dow bigint",
        [("t", 0), ("u", 1)],
        [("t", 0), ("t", 2)],
    ),
    "vhist_merge": (
        quality.vhist_merge,
        "event_type string, cents bigint",
        [("t", 1), ("t", 5)],
        [("t", 1)],
    ),
    "kw_histogram_merge": (
        quality.kw_histogram_merge,
        "grp string, cents bigint",
        [("g", 1), ("h", 1)],
        [("g", 1), ("g", 2)],
    ),
    "srm_daily_merge": (
        quality.srm_daily_merge,
        "day date, in_a int",
        [(_D1, 1), (_D2, 0)],
        [(_D1, 0), (_D1, 1)],
    ),
    "mw_histogram_merge": (
        quality.mw_histogram_merge,
        "cents bigint, g1 int",
        [(1, 1), (2, 0)],
        [(1, 0), (3, 1)],
    ),
    "km_histogram_merge": (
        km_histogram_merge,
        "dur bigint, censored int",
        [(1, 0), (4, 1)],
        [(1, 1), (1, 0)],
    ),
    "cms_merge": (
        lambda b, prev: cms_state._cms_merge(b, prev, F.col("user_id")),
        "user_id bigint",
        [(1,), (2,)],
        [(1,), (7,)],
    ),
    "capture_merge": (
        lambda b, prev: capture_recapture._capture_merge(b, prev, "doc_id", "source"),
        "doc_id bigint, source string",
        [(i, "s") for i in range(10)],
        [(i, "s") for i in range(10, 16)] + [(3, "r")],
    ),
    "grid_merge": (
        lambda b, prev: grid_quantiles._grid_merge(b, prev, "value", 0.5),
        "value double",
        [(0.1,), (1.2,)],
        [(0.3,), (4.0,)],
    ),
    "sprt_merge": (
        lambda b, prev: sprt._sprt_merge(b, prev, F.col("arm"), F.col("ok")),
        "arm string, ok int",
        [("A", 1), ("B", 0)],
        [("A", 0), ("A", 1)],
    ),
    # k above the key count: no Misra-Gries cut, only the additive sum
    "mg_merge": (
        lambda b, prev: heavy_hitters._mg_merge(b, prev, "user_id", 8),
        "user_id bigint",
        [(1,), (2,), (1,)],
        [(1,), (3,)],
    ),
}


@pytest.mark.parametrize("case", sorted(ADDITIVE))
def test_additive_merge_is_split_invariant(spark, case):
    merge, schema, a, b = ADDITIVE[case]
    first = merge(local_frame(spark, a, schema), None)
    split = merge(local_frame(spark, b, schema), first)
    whole = merge(local_frame(spark, a + b, schema), None)
    assert split.schema.simpleString() == whole.schema.simpleString()
    assert sorted(split.collect()) == sorted(whole.collect())


def _drain_idioms(tree: ast.AST):
    """(idiom, line) of each file-source option, memory sink and commit
    marker literal."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and node.value in (
            "maxFilesPerTrigger",
            "_SUCCESS",
        ):
            yield node.value, node.lineno
        if (
            isinstance(node, ast.Call)
            and getattr(node.func, "attr", None) == "format"
            and any(
                isinstance(a, ast.Constant) and a.value == "memory"
                for a in node.args
            )
        ):
            yield "memory", node.lineno


def test_drain_idioms_live_only_in_state_chain():
    sites, inside = [], set()
    for path in sorted(PKG.rglob("*.py")):
        found = list(_drain_idioms(ast.parse(path.read_text())))
        if path.relative_to(PKG) == pathlib.Path("streaming/state_chain.py"):
            inside = {idiom for idiom, _ in found}
        else:
            sites += [f"{path.relative_to(PKG)}:{n} {i}" for i, n in found]
    assert sites == []
    assert inside == {"maxFilesPerTrigger", "_SUCCESS", "memory"}


def test_drain_empty_schema_matches_merge_output(spark):
    from automated_agro_climatic_data_warehouse_spark.operators.quality import (
        anova_moments_merge,
        ct_merge,
        kw_histogram_merge,
        lb_daily_merge,
        mw_histogram_merge,
        srm_daily_merge,
        vhist_merge,
    )

    cases = [
        (
            mw_histogram_merge,
            "cents bigint, g1 int",
            [(1, 1)],
            "cents bigint, t bigint, t1 bigint",
        ),
        (
            kw_histogram_merge,
            "grp string, cents bigint",
            [("g", 1)],
            "grp string, cents bigint, tg bigint",
        ),
        (
            srm_daily_merge,
            "day date, in_a int",
            [(datetime.date(2024, 1, 1), 1)],
            "day date, n_a bigint, n_b bigint",
        ),
        (
            vhist_merge,
            "event_type string, cents bigint",
            [("t", 1)],
            "event_type string, cents bigint, n bigint",
        ),
        (
            ct_merge,
            "event_type string, dow bigint",
            [("t", 0)],
            "event_type string, dow bigint, o bigint",
        ),
        (
            anova_moments_merge,
            "group string, x bigint",
            [("g", 1)],
            "group string, n bigint, s1 bigint, s2 bigint",
        ),
        (
            lb_daily_merge,
            "day date",
            [(datetime.date(2024, 1, 1),)],
            "day date, x bigint",
        ),
        (
            km_histogram_merge,
            "dur bigint, censored int",
            [(1, 0)],
            "dur bigint, churned bigint, censored_n bigint",
        ),
    ]
    for merge, in_schema, rows, empty_schema in cases:
        merged = merge(spark.createDataFrame(rows, in_schema), None)
        empty = spark.createDataFrame([], empty_schema)
        assert [f.simpleString() for f in merged.schema.fields] == [
            f.simpleString() for f in empty.schema.fields
        ], f"{merge.__name__}: empty_schema drifted from merge output"


def test_ivf_spill_trades_list_size_for_probe_traffic(spark, sf_dir):
    """Measured candidate counts: spill doubles the list frame and
    halves per-query probe traffic vs the 2-probe IVF."""
    from automated_agro_climatic_data_warehouse_spark.operators.similarity import (
        nearest_centroids,
    )
    from automated_agro_climatic_data_warehouse_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 16)
    lists1 = nearest_centroids(emb, cent, 1)
    lists2 = nearest_centroids(emb, cent, 2)
    assert lists2.count() == 2 * lists1.count()

    probes1 = nearest_centroids(emb.filter(F.col("vec_id") < 30), cent, 1)
    probes2 = nearest_centroids(emb.filter(F.col("vec_id") < 30), cent, 2)
    spill_cands = probes1.join(
        lists2.select(F.col("vec_id").alias("nid"), "centroid_id"),
        "centroid_id",
    ).count()
    topk_cands = probes2.join(
        lists1.select(F.col("vec_id").alias("nid"), "centroid_id"),
        "centroid_id",
    ).count()
    # both scan ~2 lists' worth of corpus per query on average; the
    # spill variant reaches them through ONE probe join whose build
    # side was precomputed — candidate totals must be the same order,
    # with spill never more than topk + one list's slack
    assert 0 < spill_cands <= 2 * topk_cands
    # and the probe SIDE itself halves (1 row per query, not 2)
    assert probes1.count() * 2 == probes2.count()
