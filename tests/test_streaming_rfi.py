"""st10 — streaming SumThreshold twin (streaming/rfi_stream.py):
drained-image mask parity with the batch relational F9, and the
cell-completeness contract."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from birli_spark.functions import textsql as X
from birli_spark.operators import rfi_sql
from birli_spark.sources import synthetic as syn
from birli_spark.streaming import rfi_stream


def test_stream_mask_equals_batch(spark, sf_dir):
    image = rfi_stream.run_available_now(spark, sf_dir, "t_st10")
    got = rfi_stream.mask_drained(image).toPandas()

    vis = syn.load_vis(spark, sf_dir)
    vis.createOrReplaceTempView("t_st10_vis")
    cell = rfi_sql.cell_dedup_select("t_st10_vis", tuple(vis.columns))
    spark.sql(cell).createOrReplaceTempView("t_st10_cell")
    steps, mask, _ = rfi_sql.sumthreshold_steps("t_st10_cell", "percentile",
                                                prefix="st10b")
    want = spark.sql(f"WITH {X.ctes(steps)} {mask}").toPandas()

    key = ["t", "chan", "ant1", "ant2"]
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    assert len(g) == len(w) > 0
    assert (g[key].values == w[key].values).all()
    assert (g["det"].to_numpy() == w["det"].to_numpy()).all()


def test_fold_is_deterministic_cell_reduction():
    batch = pd.DataFrame({
        "t": [0, 0, 1],
        **{c: [3.0, 1.0, 2.0] for c in rfi_stream.VIS_COLS},
        "flag": [False, True, False],
    })
    out, last = rfi_stream._fold_key(0, 1, 5, batch, None)
    assert last == 1
    assert out.t.tolist() == [0, 1]
    # duplicate t=0 rows: per-column MIN -> amp from 1.0s; prior OR'd
    r = (1.0 + 1.0) / 2.0
    assert out.amp.iloc[0] == pytest.approx(np.sqrt(2 * r * r))
    assert bool(out.prior.iloc[0]) is True
    assert bool(out.prior.iloc[1]) is False


def test_cell_straddle_raises():
    batch = pd.DataFrame({
        "t": [3],
        **{c: [1.0] for c in rfi_stream.VIS_COLS},
        "flag": [False],
    })
    with pytest.raises(RuntimeError, match="cell-completeness"):
        rfi_stream._fold_key(0, 1, 5, batch, last_t=3)
