"""Session-builder conf pins (settings with measured rationale)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_codegen_cache_sized_to_plan_working_set(spark):
    """The whole-stage-codegen class cache must hold the app's plan
    working set (~400 generated classes for the bench suite; default 100
    thrashes — ~400 Janino recompilations per bench pass, measured via
    CodegenMetrics in OPTIMIZATION_r06.md #9). Reading the conf is not
    enough: compile more than 100 distinct classes, then re-run the
    first plan and require that nothing is recompiled."""
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 4096
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def plan(i):
        # the literals make each plan's generated code distinct
        return (spark.range(0, 64, 1, 1).selectExpr(f"id * {i + 3} AS x")
                .filter(f"x % {i + 2} = 0").agg(F.sum("x")))

    before = compiles.getCount()
    for i in range(120):
        plan(i).collect()
    assert compiles.getCount() - before > 100
    after = compiles.getCount()
    plan(0).collect()
    assert compiles.getCount() == after
