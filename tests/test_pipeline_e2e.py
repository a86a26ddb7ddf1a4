"""s1h — the end-to-end real-format composition
(birli_spark/pipeline_e2e.py): grid shape, quack/edge flag structure,
the v0.18.0 gate surfacing raw values in the all-flagged first block,
and the physical UVFITS write."""

from __future__ import annotations

import os

import numpy as np
import pytest

from birli_spark import pipeline_e2e as E
from birli_spark.sinks import uvfits


@pytest.fixture(scope="module")
def rows(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("e2e") / "e2e.uvfits")
    df = E.e2e_rows(spark, write_path=out).toPandas()
    return df, out


def test_grid_and_flag_structure(rows):
    pdf, _ = rows
    n_bl = E.NUM_ANTS * (E.NUM_ANTS + 1) // 2
    assert len(pdf) == (E.NUM_T // E.AVG_TIME) * n_bl \
        * (E.N_CHAN // E.AVG_FREQ)
    # quack flags the first two timesteps -> output block t_out=0 is
    # entirely flagged (negative weights), block 1+ carries live cells
    b0 = pdf[pdf.t_out == 0]
    assert b0.flag.all() and (b0.weight < 0).all()
    b1 = pdf[pdf.t_out == 1]
    assert not b1.flag.all()
    # 80 kHz edges flag whole OUTPUT channels (both fine chans of the
    # block flagged: fc {0,1} -> group 0, fc {30,31} -> group 15); the
    # DC bin (fc 16) only half-flags its block, so group 8 stays live
    flagged_cols = {cc * (E.NUM_FINE // E.AVG_FREQ) + g
                    for cc in range(E.NUM_CC) for g in (0, 15)}
    by_chan = pdf[pdf.t_out == 1].groupby("chan_out").flag.all()
    assert set(by_chan[by_chan].index) >= flagged_cols


def test_all_flagged_block_carries_raw_values(rows, spark):
    """The v0.18.0 gate end to end: the quacked (all-flagged) first
    averaging block must average UNCORRECTED visibilities — equal to
    the plain mean of the scan's coordinate-encoded values, untouched
    by the cable phasor (geometry still applies, like the reference)."""
    pdf, _ = rows
    from pyspark.sql import functions as F

    from birli_spark.operators import corrections
    from birli_spark.sources import gpubox

    # recompute the expected raw mean for one cross baseline, one
    # output channel, directly from the scan + ungated geometry
    vis = gpubox.vis_relation(
        gpubox.read_gpubox(spark, E.scan_dir() + "/*.fits"),
        E.derived_columns())
    part_uvw = spark.sql(E.part_uvw_values_sql())
    geo = corrections.correct_geometry(
        vis.filter("t < 2 AND ant1 = 0 AND ant2 = 1 AND chan < 2"),
        part_uvw).toPandas()
    want = float(np.float32(geo["xx_re"].mean()))
    got = pdf[(pdf.t_out == 0) & (pdf.bl == geo.bl.iloc[0])
              & (pdf.chan_out == 0)]
    assert len(got) == 1
    assert float(got.xx_re.iloc[0]) == want


def test_physical_uvfits_written(rows):
    pdf, out = rows
    assert os.path.exists(out)
    n_bl = E.NUM_ANTS * (E.NUM_ANTS + 1) // 2
    n_groups = (E.NUM_T // E.AVG_TIME) * n_bl
    rec_floats = 5 + (E.N_CHAN // E.AVG_FREQ) * 4 * 3
    # header (2880-aligned) + groups, 2880-padded
    data = n_groups * rec_floats * 4
    size = os.path.getsize(out)
    assert size >= data
    assert size % 2880 == 0
    hdr = open(out, "rb").read(2880).decode("ascii", "replace")
    assert hdr.startswith("SIMPLE  =                    T")
    assert str(n_groups) in hdr  # GCOUNT records the group count
    # the GROUP DATA was actually written (not just the pre-sized
    # zeros): read the bytes back and check real baseline codes + the
    # averaged values match the returned relation
    from birli_spark.sinks.uvfits import read_uvfits

    _, params, data = read_uvfits(out)
    assert (params[:, 3] >= 257).all()       # bl_code = 256(a1+1)+(a2+1)
    assert np.abs(data[:, :, :, 0]).sum() > 0
    got = np.sort(params[:, 3].astype(int))
    want = np.sort(np.repeat(pdf.bl_code.unique(),
                             E.NUM_T // E.AVG_TIME))
    assert (got == want).all()


def test_rerun_compiles_no_new_class(rows, spark, tmp_path):
    """A second flowchart run in the same session reuses every
    whole-stage-codegen class of the first: the codegen cache holds the
    run's working set (session.CODEGEN_CACHE_ENTRIES; at Spark's default
    of 100 entries the rerun recompiled ~50 evicted classes)."""
    import pandas as pd

    from birli_spark import session

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES)
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    before = compiles.getCount()
    again = E.e2e_rows(spark, write_path=str(tmp_path / "again.uvfits")
                       ).toPandas()
    assert compiles.getCount() - before == 0
    key = ["t_out", "bl", "chan_out"]
    pd.testing.assert_frame_equal(
        again.sort_values(key, ignore_index=True),
        rows[0].sort_values(key, ignore_index=True))


@pytest.mark.parametrize("spelling", ["disk", "memory", "LOCAL"])
def test_fanout_persist_rejects_unknown_spelling(spark, monkeypatch,
                                                 spelling):
    """SPARK_GRAFT_FANOUT_PERSIST takes 'local' or 'reliable'; any other
    value raises instead of silently falling back to 'local'."""
    from birli_spark import pipeline

    monkeypatch.setenv("SPARK_GRAFT_FANOUT_PERSIST", spelling)
    with pytest.raises(ValueError, match="SPARK_GRAFT_FANOUT_PERSIST"):
        pipeline.fanout_materialize(spark.range(3))
