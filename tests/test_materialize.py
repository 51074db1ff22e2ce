"""`session.materialize`: the one eager-checkpoint idiom, with scalar
probes read from the checkpoint job itself."""

from __future__ import annotations

import ast
import pathlib
from decimal import Decimal

from pyspark import TaskContext
from pyspark.sql import functions as F

from automated_agro_climatic_data_warehouse_spark.operators.graph import hits_loop
from automated_agro_climatic_data_warehouse_spark.session import local_frame, materialize

PKG = pathlib.Path(__file__).resolve().parent.parent / (
    "automated_agro_climatic_data_warehouse_spark"
)


def _probes():
    return (
        F.sum(F.col("d")).alias("s"),
        F.max("id").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )


def _frame(spark, n):
    # decimals past the int64 range: the sum must stay exact
    return spark.range(n).withColumn(
        "d", F.expr("cast(id * 100000000000000000000BD as decimal(38,0))")
    )


def _clear_group(sc):
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


def test_probe_values_equal_a_separate_aggregate(spark):
    df = _frame(spark, 1000)
    out, got = materialize(df, "test.probes", *_probes())
    want = out.agg(*_probes()).collect()[0].asDict()
    assert got == want
    assert got["s"] == Decimal(499500) * 10**20
    assert out.count() == 1000


def test_probes_over_an_empty_frame(spark):
    out, got = materialize(_frame(spark, 0), "test.empty", *_probes())
    assert got == {"s": None, "mx": None, "n": 0}
    assert out.count() == 0


def test_probes_add_no_job(spark):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    df = _frame(spark, 1000).groupBy((F.col("id") % 7).alias("id")).agg(
        F.sum("d").alias("d")
    )
    try:
        sc.setJobGroup("materialize_plain", "plain checkpoint")
        materialize(df, "test.plain")
        sc.setJobGroup("materialize_probed", "checkpoint with probes")
        materialize(df, "test.probed", *_probes())
    finally:
        _clear_group(sc)
    plain = tracker.getJobIdsForGroup("materialize_plain")
    probed = tracker.getJobIdsForGroup("materialize_probed")
    assert plain and len(probed) <= len(plain)


def test_job_description_carries_name_after_callers(spark):
    """The task-side local properties are the job's: the description a
    task sees is the caller's followed by the materialization name."""

    @F.udf("string")
    def job_description():
        return TaskContext.get().getLocalProperty("spark.job.description")

    sc = spark.sparkContext
    try:
        sc.setJobDescription("caller op")
        out = materialize(spark.range(1).select(job_description().alias("d")), "m.x")
        assert [r.d for r in out.collect()] == ["caller op > m.x"]
        assert sc.getLocalProperty("spark.job.description") == "caller op"
        sc.setJobDescription(None)
        out = materialize(spark.range(1).select(job_description().alias("d")), "m.y")
        assert [r.d for r in out.collect()] == ["m.y"]
        assert sc.getLocalProperty("spark.job.description") is None
    finally:
        _clear_group(sc)


def test_local_checkpoint_appears_only_in_materialize():
    """Every eager checkpoint in the package goes through materialize."""
    sites, inside = [], 0
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        allowed = set()
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef) and fn.name == "materialize":
                if path.name == "session.py":
                    allowed = {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "localCheckpoint":
                if id(node) in allowed:
                    inside += 1
                else:
                    sites.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert sites == []
    assert inside > 0


def _called(node: ast.AST):
    for n in ast.walk(node):
        if isinstance(n, ast.Call):
            f = n.func
            yield f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


def test_unpersist_appears_only_in_session():
    """Every release of a persisted RDD goes through session.py."""
    sites = [
        f"{path.relative_to(PKG)}:{node.lineno}"
        for path in sorted(PKG.rglob("*.py"))
        if path.name != "session.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Attribute) and node.attr == "unpersistRDD"
    ]
    assert sites == []


def test_only_iterate_loops_over_materialize():
    """No package loop checkpoints outside `session.iterate`: a for/while
    loop may not call materialize, directly or through any package
    function that does. hits_loop is the one exception: each half-round
    reads the previous one's probe."""
    trees = {p: ast.parse(p.read_text()) for p in sorted(PKG.rglob("*.py"))}
    defs = [
        fn
        for tree in trees.values()
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef) and fn.name != "iterate"
    ]
    checkpointing = {"materialize"}
    while grown := {
        fn.name
        for fn in defs
        if fn.name not in checkpointing and checkpointing & set(_called(fn))
    }:
        checkpointing |= grown
    loops = {
        (str(path.relative_to(PKG)), fn.name)
        for path, tree in trees.items()
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef) and fn.name != "iterate"
        for loop in ast.walk(fn)
        if isinstance(loop, (ast.For, ast.While))
        and checkpointing & set(_called(loop))
    }
    assert loops == {("operators/graph.py", "hits_loop")}


def test_hits_loop_on_empty_edge_list(spark):
    e = local_frame(spark, [], "u bigint, v bigint")
    assert hits_loop(e, k=2).count() == 0
