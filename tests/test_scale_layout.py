"""Scale-layout checks: the fact table written in its production layout
(parquet partitioned by cc) must give partition pruning and filter/column
pushdown — the scan-side contracts the 100 TB design depends on."""

from __future__ import annotations

from birli_spark import pipeline
from birli_spark.operators import events
from birli_spark.sources import corpus
from birli_spark.sources import synthetic as syn


def test_partition_pruning_and_pushdown(spark, sf_dir, tmp_path):
    out = str(tmp_path / "vis_by_cc")
    syn.load_vis(spark, sf_dir).write.partitionBy("cc").parquet(out)
    df = spark.read.parquet(out)

    pruned = df.filter("cc = 1 AND t >= 4").select("t", "bl", "xx_re")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # partition filter on cc reaches the scan; data filter on t is pushed
    assert "PartitionFilters" in plan and "cc" in plan
    assert "PushedFilters" in plan and "GreaterThanOrEqual(t,4)" in plan
    # column pruning: the 8-pol schema collapses to the 2 needed columns
    assert "xx_im" not in plan.split("ReadSchema")[1][:300]

    got = pruned.count()
    expect = syn.load_vis(spark, sf_dir).filter("cc = 1 AND t >= 4").count()
    assert got == expect


def test_salted_topk_equals_direct(spark, sf_dir):
    ev = corpus.load_events(spark, sf_dir)
    salted = events.top_users_salted(ev, k=10).orderBy("rank").toPandas()
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    direct = (ev.groupBy("user_id")
              .agg(F.count("*").alias("n_events"))
              .withColumn("rank", F.row_number().over(
                  Window.orderBy(F.desc("n_events"), F.asc("user_id"))))
              .filter("rank <= 10").orderBy("rank").toPandas())
    assert salted.user_id.tolist() == direct.user_id.tolist()
    assert salted.n_events.tolist() == direct.n_events.tolist()


def test_averaging_has_partial_aggregation(spark, sf_dir):
    """The flagship groupBy must map-side combine (two HashAggregates
    around one Exchange) so the shuffle moves reduced data."""
    baked = pipeline.preprocess_baked(spark, sf_dir)
    from birli_spark.operators import averaging
    avg = averaging.average_time_freq(baked, 4, 2)
    plan = avg._jdf.queryExecution().executedPlan().toString()
    n_hash_aggs = plan.count("HashAggregate")
    assert n_hash_aggs >= 2, plan[:2000]

def test_plan_audit_has_no_warnings(spark, sf_dir):
    """The physical-plan contract: headline plans stay broadcast-only on
    dims, partial-aggregated, and free of unbounded nested-loop joins
    (tools/plan_audit.py is the full auditor; this pins a representative
    subset so regressions fail CI)."""
    import os
    import sys
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools"))
    import plan_audit
    import __spark_entry__ as entrymod
    qs = entrymod.queries()
    for name in ("pipeline_preprocess", "a1_average_time_freq",
                 "d3_minhash_lsh", "ann_ivf_topk", "pipeline_corpus_clean"):
        plan = plan_audit.formatted_plan(qs[name](spark, sf_dir))
        notes = "; ".join(plan_audit.audit(name, plan))
        assert "WARN" not in notes, f"{name}: {notes}"
