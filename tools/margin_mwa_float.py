"""Margin analysis for the f9e float mode vs the cotter golden: for
every disagreeing cell, how far (in units of the final-pass threshold)
is the decision? Proves/disproves 'the residual is threshold-marginal'.
"""
from __future__ import annotations

import pathlib
import sys

import numpy as np

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1] / "tests"))

from test_golden_mwa_flags import load_golden  # noqa: E402

from birli_spark.operators import rfi  # noqa: E402


def cell_margins(pol_imgs, present=None):
    """Max over pols of (final-pass residual / chi_1) per cell — the
    m=1 decision margin of the FINAL full-sensitivity pass (>1 flags).

    The replay runs the shipped ladder's own functions
    (rfi.sumthreshold_float, rfi.lowpass_float) with no settings of
    its own, so the margins are those of the configuration that runs;
    the residual is thresholded uncentered, as the ladder does."""
    shape = next(iter(pol_imgs.values())).shape
    present = np.ones(shape, bool) if present is None else present
    best = np.full(shape, -np.inf)
    for p in rfi.MWA_POLS:
        img = np.asarray(pol_imgs[p], dtype=np.float64)
        # replay the ladder to the final residual, mask as of final pass
        work = ~present.copy()
        resid = img
        for i in range(1, rfi.AOF_ITERS):
            factor = rfi.AOF_STEP ** (rfi.AOF_ITERS - i)
            work = rfi.sumthreshold_float(resid, work, present,
                                          6.0 * factor)
            resid = img - rfi.lowpass_float(img, ~work & present)
        mode = rfi.winsorized_mode(resid[~work])
        if mode <= 0:
            continue
        best = np.maximum(best, resid / (6.0 * mode))
    return best


def main():
    data = load_golden()
    margins_fp, margins_fn = [], []
    for (a1, a2), (pol_imgs, fl) in data.items():
        if a1 == a2:
            continue
        det = rfi.mwa_strategy_mask_pols_float(pol_imgs)
        marg = cell_margins(pol_imgs)
        fp = det & ~fl
        fn = ~det & fl
        margins_fp.extend(marg[fp].tolist())
        margins_fn.extend(marg[fn].tolist())
    mfp = np.array(margins_fp)
    mfn = np.array(margins_fn)
    print(f"fp cells: {len(mfp)}  margin quartiles "
          f"{np.percentile(mfp, [25, 50, 75, 95]).round(3)}")
    print(f"   within 2x of threshold: {(np.abs(mfp) < 2).mean():.2%}")
    print(f"fn cells: {len(mfn)}  margin quartiles "
          f"{np.percentile(mfn, [25, 50, 75, 95]).round(3)}")
    print(f"   within 2x of threshold: {(np.abs(mfn) < 2).mean():.2%}")


if __name__ == "__main__":
    main()
