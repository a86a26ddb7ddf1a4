"""Selection operators (P1-P4) on the derived vis table."""

from __future__ import annotations

from pyspark.sql import functions as F

from birli_spark.operators import selection
from birli_spark.sources import synthetic as syn


def test_select_ranges_pushes_down(spark, sf_dir):
    vis = syn.load_vis(spark, sf_dir)
    out = selection.select_ranges(vis, t_min=2, t_max=10, coarse_chans=(0, 2))
    pdf = out.select("t", "cc").distinct().toPandas()
    assert pdf["t"].between(2, 9).all()
    assert set(pdf["cc"]) <= {0, 2}


def test_retain_antennas(spark, sf_dir):
    vis = syn.load_vis(spark, sf_dir)
    out = selection.retain_antennas(vis, (0, 1))
    pdf = out.select("ant1", "ant2").distinct().toPandas()
    assert set(pdf["ant1"]) <= {0, 1} and set(pdf["ant2"]) <= {0, 1}


def test_filter_antennas_anti_join(spark, sf_dir):
    vis = syn.load_vis(spark, sf_dir)
    flagged = syn.load_dim(spark, "antennas").filter(F.col("flagged"))
    out = selection.filter_antennas(vis, flagged)
    pdf = out.select("ant1", "ant2").distinct().toPandas()
    assert 3 not in set(pdf["ant1"]) and 3 not in set(pdf["ant2"])
    # anti-join must not change surviving row count vs a literal filter
    expected = vis.filter((F.col("ant1") != 3) & (F.col("ant2") != 3)).count()
    assert out.count() == expected


def test_filter_autos(spark, sf_dir):
    out = selection.filter_autos(syn.load_vis(spark, sf_dir))
    assert out.filter(F.col("ant1") == F.col("ant2")).count() == 0


def test_plan_has_pushed_filters(spark, sf_dir):
    """Scale check: P1 predicates must reach the parquet scan."""
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plan = lineitem.filter(F.col("l_orderkey") > 100).select("l_orderkey")
    formatted = plan._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert "PushedFilters: [IsNotNull(l_orderkey), GreaterThan(l_orderkey,100)]" in formatted


def test_baseline_selection_predicate_matches_operators(spark):
    """ADVICE r7: the real-input rule-dim gate pool and the vis-side
    P2/P3/P4 operators must select the SAME baselines. The shared
    predicate (baseline_selection_predicate) is the gate pool's
    spelling; this pins it to the operator composition so a change to
    either is caught."""
    from birli_spark.operators import selection
    pairs = [(a1, a2) for a1 in range(6) for a2 in range(a1, 6)]
    bl = spark.createDataFrame([(*p, i) for i, p in enumerate(pairs)],
                               "ant1 int, ant2 int, bl int")
    flagged = spark.createDataFrame([(2,), (5,)], "ant int")
    via_ops = selection.select_ranges(selection.filter_autos(
        selection.filter_antennas(
            selection.retain_antennas(bl, [0, 1, 2, 3, 5]), flagged)),
        baselines=range(8))
    pred = selection.baseline_selection_predicate(
        sel_ants=[0, 1, 2, 3, 5], flagged_ants=[2, 5], no_autos=True,
        baseline_limit=8)
    key = lambda r: (r["ant1"], r["ant2"])  # noqa: E731
    assert (sorted(map(key, via_ops.collect()))
            == sorted(map(key, bl.filter(pred).collect())))
    assert selection.baseline_selection_predicate() is None
