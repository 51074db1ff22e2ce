"""Generated classes are compiled once per session.

Spark caches each whole-stage-codegen class by its source, in a cache of
`spark.sql.codegen.cache.maxEntries` classes (a static conf that
`session.get_spark` sets). When the engine's working set does not fit,
every warm query recompiles what it compiled one run earlier and the JVM
JITs the fresh classes again. The two queries here compile 60-110
classes each per run; at Spark's default of 100 entries they evict their
own classes mid-run. Both plan the same generated code on every run: a
query whose adaptive join choice can flip between runs (the
connected-components loop, when its two join sides are close in size)
compiles each variant once, so its second run is not always free.

The check runs in a child process: a static conf cannot change inside
the shared test JVM, and a cache filled by earlier tests may refuse to
admit new entries."""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys

from conftest import SF_DIR

ROOT = pathlib.Path(__file__).resolve().parent.parent

CHILD = """
import json, sys
sys.path.insert(0, {root!r})
from automated_agro_climatic_data_warehouse_spark.plans import QUERIES
from automated_agro_climatic_data_warehouse_spark.session import get_spark

spark = get_spark("codegen-cache-test")
metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
runs = []
for _ in range(2):
    run = {{}}
    for name in ("ev_rfm_scores", "ev_attribution_removal"):
        before = metric.METRIC_COMPILATION_TIME().getCount()
        QUERIES[name].spark_fn(spark, {sf_dir!r}).toArrow()
        run[name] = metric.METRIC_COMPILATION_TIME().getCount() - before
    runs.append(run)
size = int(spark.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries", "100"))
print(json.dumps({{"max_entries": size, "runs": runs}}))
spark.stop()
"""


def test_warm_run_compiles_nothing():
    script = CHILD.format(root=str(ROOT), sf_dir=SF_DIR)
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    first, second = result["runs"]
    assert sum(second.values()) == 0, result
    assert sum(first.values()) < result["max_entries"] / 2, result
