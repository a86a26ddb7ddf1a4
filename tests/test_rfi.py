"""SumThreshold RFI tests mirroring the reference's synthetic-spike
AOFlagger tests (src/flags.rs:808-878): a single huge value in one
baseline's image is flagged there and nowhere else."""

from __future__ import annotations

import numpy as np
from pyspark.sql import Row

from birli_spark.operators.rfi import flag_rfi, sumthreshold_mask


def test_single_spike_mask():
    rng = np.random.default_rng(42)
    img = rng.normal(10.0, 1.0, size=(64, 64))
    img[32, 32] = 0xFFFFFF
    mask = sumthreshold_mask(img)
    assert mask[32, 32]
    assert mask.sum() < 20  # no blanket flagging of noise


def test_broadband_burst_flagged_across_channels():
    rng = np.random.default_rng(7)
    img = rng.normal(10.0, 1.0, size=(64, 64))
    img[20, :] += 50.0  # one timestep lit across the whole band
    mask = sumthreshold_mask(img)
    assert mask[20, :].mean() > 0.9
    assert mask[~np.isin(np.arange(64), [20])].mean() < 0.05


def test_narrowband_persistent_flagged_across_time():
    rng = np.random.default_rng(3)
    img = rng.normal(10.0, 1.0, size=(64, 64))
    img[:, 5] += 8.0  # persistent moderate narrowband — needs windowed sums
    mask = sumthreshold_mask(img)
    assert mask[:, 5].mean() > 0.9


def test_flat_image_unflagged():
    img = np.full((16, 16), 3.0)
    assert not sumthreshold_mask(img).any()


def test_sparse_image_sigma_from_present_cells_only():
    # Half the grid has no samples (placeholder 0.0). If those zeros
    # leaked into the median/MAD the sigma would be wildly inflated by
    # the bimodal {0, ~10} distribution — and with mostly-absent rows
    # deflated medians over-flag ordinary samples.
    rng = np.random.default_rng(11)
    img = np.zeros((64, 64))
    valid = np.zeros((64, 64), dtype=bool)
    valid[:, ::2] = True  # only even channels sampled
    img[valid] = rng.normal(10.0, 1.0, size=valid.sum())
    img[32, 32] = 1e6  # one genuine spike (chan 32 is sampled)
    mask = sumthreshold_mask(img, valid=valid)
    assert mask[32, 32]
    assert not mask[~valid].any()          # absent cells never flagged
    assert mask.sum() < 20                 # ordinary samples survive
    # and the degenerate empty image returns the prior untouched
    none = sumthreshold_mask(np.zeros((4, 4)),
                             valid=np.zeros((4, 4), dtype=bool))
    assert not none.any()


def test_spark_operator_minimal(spark):
    """Relational analogue of reference test_flag_jones_array_minimal
    (src/flags.rs:808-846): spike at (t=32, chan=32) on baseline (0,1);
    baseline (0,0) clean."""
    rng = np.random.default_rng(1)
    rows = []
    for (a1, a2) in [(0, 0), (0, 1)]:
        for t in range(64):
            for chan in range(64):
                spike = a1 == 0 and a2 == 1 and t == 32 and chan == 32
                v = float(0xFFFFFF) if spike else float(rng.normal(10.0, 1.0))
                rows.append(Row(t=t, ant1=a1, ant2=a2, chan=chan,
                                xx_re=v, xx_im=0.0, xy_re=0.0, xy_im=0.0,
                                yx_re=0.0, yx_im=0.0, yy_re=v, yy_im=0.0,
                                weight=8.0, flag=False))
    vis = spark.createDataFrame(rows)
    out = flag_rfi(vis).toPandas()
    spiked = out[(out.ant1 == 0) & (out.ant2 == 1) & (out.t == 32) & (out.chan == 32)]
    assert spiked["flag"].all()
    clean_bl = out[(out.ant1 == 0) & (out.ant2 == 0)]
    assert clean_bl["flag"].mean() < 0.02
    other = out[(out.ant1 == 0) & (out.ant2 == 1)]
    assert other["flag"].mean() < 0.02


def test_existing_flags_preserved(spark):
    """Detection ORs into the prior flags, the reference's
    re_apply_existing=True (src/flags.rs:414-418)."""
    rows = [Row(t=t, ant1=0, ant2=1, chan=c,
                xx_re=1.0, xx_im=0.0, xy_re=0.0, xy_im=0.0,
                yx_re=0.0, yx_im=0.0, yy_re=1.0, yy_im=0.0,
                weight=8.0, flag=(t == 0 and c == 0))
            for t in range(8) for c in range(8)]
    vis = spark.createDataFrame(rows)
    out = flag_rfi(vis).toPandas()
    assert out[(out.t == 0) & (out.chan == 0)]["flag"].all()
