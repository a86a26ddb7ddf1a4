"""Property tests for the F9f float-mode statistics (operators/rfi.py):
the Winsorized estimators against their brute-force definitions, the
float SumThreshold pass against a per-window brute force, and ladder
invariants."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra import numpy as hnp

from birli_spark.operators import rfi

finite = st.floats(min_value=-1e4, max_value=1e4,
                   allow_nan=False, allow_infinity=False, width=32)


@given(hnp.arrays(np.float64, st.integers(1, 200), elements=finite))
@settings(max_examples=200, deadline=None)
def test_winsorized_mode_brute(vals):
    """WinsorizedMode == 1.0541 * sqrt(mean(clamped^2) / 2) with the
    10%/90% order-statistic clamp."""
    got = rfi.winsorized_mode(vals)
    v = np.sort(vals)
    n = v.size
    lo = v[int(np.floor(0.1 * n))]
    hi = v[max(0, min(n - 1, int(np.ceil(0.9 * n)) - 1))]
    w = np.clip(v, lo, hi)
    want = 1.0541 * np.sqrt((w ** 2).sum() / (2 * n))
    assert got == pytest.approx(want, rel=1e-12, abs=1e-300)
    assert got >= 0.0


@given(hnp.arrays(np.float64, st.integers(1, 200), elements=finite))
@settings(max_examples=200, deadline=None)
def test_winsorized_mean_std_brute(vals):
    mean, std = rfi.winsorized_mean_std(vals)
    v = np.sort(vals)
    n = v.size
    lo = v[int(np.floor(0.1 * n))]
    hi = v[max(0, min(n - 1, int(np.ceil(0.9 * n)) - 1))]
    w = np.clip(v, lo, hi)
    assert mean == pytest.approx(w.mean(), rel=1e-12, abs=1e-300)
    assert std == pytest.approx(
        1.54 * np.sqrt(((w - w.mean()) ** 2).mean()),
        rel=1e-12, abs=1e-300)
    assert std >= 0.0
    assert lo <= mean <= hi


def test_winsorized_mode_robust_to_contamination():
    """Up to 10% enormous outliers barely move the estimate (the whole
    point of the winsorization — a plain RMS would explode)."""
    rng = np.random.default_rng(5)
    clean = rng.normal(0, 1.0, 1000)
    dirty = clean.copy()
    dirty[:90] = 1e6
    m_clean = rfi.winsorized_mode(clean)
    m_dirty = rfi.winsorized_mode(dirty)
    assert m_dirty < m_clean * 3


@given(hnp.arrays(np.float64, (3, 40), elements=finite),
       st.integers(1, 8), st.sampled_from([0.5, 2.0, 50.0]))
@settings(max_examples=100, deadline=None)
def test_st_1d_float_subst_brute(img, m, chi):
    """One substitute-chi pass == brute-force window scan."""
    work = np.zeros(img.shape, dtype=bool)
    rfi._st_1d_float(img, work, m, chi)
    n = img.shape[1]
    want = np.zeros_like(work)
    if m == 1:
        want = img > chi
    else:
        for r in range(img.shape[0]):
            for j in range(n - m + 1):
                if img[r, j:j + m].sum() > chi * m:
                    want[r, j:j + m] = True
    assert (work == want).all()


@given(hnp.arrays(np.float64, (2, 30), elements=finite))
@settings(max_examples=60, deadline=None)
def test_sumthreshold_float_m1_monotone_in_sensitivity(img):
    """For the single-sample window (no substitute-chi interaction
    between passes) a higher threshold never flags more cells. NOTE:
    the FULL ladder is deliberately not monotone — a flagged sample
    contributes chi itself to later windows (Offringa 2012 §2.1), so
    raising chi can push a borderline window over; the m=1 pass is the
    monotone core."""
    lo = np.zeros(img.shape, dtype=bool)
    hi = np.zeros(img.shape, dtype=bool)
    rfi._st_1d_float(img, lo, 1, 4.0)
    rfi._st_1d_float(img, hi, 1, 8.0)
    assert not (hi & ~lo).any()


def test_sumthreshold_float_quiet_on_noise():
    """A pure Gaussian-noise residual (zero mean, as the ladder's
    post-background residuals are) at the published sensitivity flags
    only a small tail fraction."""
    rng = np.random.default_rng(17)
    img = rng.normal(0, 1.0, (8, 256))
    present = np.ones(img.shape, dtype=bool)
    work0 = np.zeros(img.shape, dtype=bool)
    det = rfi.sumthreshold_float(img, work0, present, 6.0)
    assert det.mean() < 0.05


def test_mwa_float_ladder_never_flags_absent_cells():
    rng = np.random.default_rng(11)
    shape = (4, 64)
    pols = {p: np.abs(rng.normal(0, 1, shape)) for p in rfi.MWA_POLS}
    present = rng.uniform(size=shape) > 0.3
    det = rfi.mwa_strategy_mask_pols_float(pols, valid=present)
    assert not (det & ~present).any()


def test_mwa_float_flags_injected_rfi():
    """A strong persistent single-channel spike must be detected."""
    rng = np.random.default_rng(3)
    shape = (8, 96)
    pols = {}
    for p in rfi.MWA_POLS:
        img = np.abs(rng.normal(1.0, 0.1, shape))
        img[:, 40] += 50.0
        pols[p] = img
    det = rfi.mwa_strategy_mask_pols_float(pols)
    assert det[:, 40].all()
    assert det.mean() < 0.3


def test_mwa_float_picket_fence_channel_values():
    """A gappy (picket-fence) channel domain: the ladder runs over the
    compact image of the selected channels (the float fit has no
    downsample, so the channel values never enter); a spike still
    detects."""
    rng = np.random.default_rng(23)
    chans = np.array([c for c in range(256) if (c // 32) % 2 == 0])
    shape = (6, len(chans))
    pols = {}
    for p in rfi.MWA_POLS:
        img = np.abs(rng.normal(1.0, 0.1, shape))
        img[:, 40] += 60.0
        pols[p] = img
    det = rfi.mwa_strategy_mask_pols_float(pols)
    assert det[:, 40].all()
    assert det.mean() < 0.3
