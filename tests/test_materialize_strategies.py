"""The lineage-cut contract of `textops.materialize` (SCALE.md
materialization section): iterative callers get a frame whose logical
plan no longer carries whatever produced it."""

from __future__ import annotations

from weather_bigdata_project_spark.operators import textops


def test_cut_lineage_truncates_plan(spark):
    """cut_lineage=True must return a LEAF-rooted frame (the
    iterative-loop contract): its logical plan cannot keep growing with
    whatever produced it."""
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        "id", (F.col("id") * 2).alias("v")
    ).groupBy((F.col("id") % 7).alias("k")).agg(F.sum("v").alias("s"))
    cut = textops.materialize(df, cut_lineage=True)
    plan = cut._jdf.queryExecution().logical().toString()
    assert "Aggregate" not in plan, f"lineage not truncated:\n{plan}"
    assert sorted(r["s"] for r in cut.collect()) == sorted(
        r["s"] for r in df.collect()
    )
