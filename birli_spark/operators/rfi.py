"""F9 — RFI detection (SURVEY.md §2.3 F9; reference src/flags.rs:368-437).

The reference marshals each baseline's visibilities into 8 time×chan float
images and runs AOFlagger's Lua strategy (SumThreshold et al., external
C++); the resulting mask is OR-ed into the existing flags
(``re_apply_existing``, src/flags.rs:414-418).

Byte-identical AOFlagger output is out of scope (the strategy is an
external Lua+C++ artifact, SURVEY.md §7 "What's hard"); we pin the
**documented SumThreshold algorithm** (A. R. Offringa et al., "A morphological
algorithm for improving radio-frequency interference detection",
A&A 539 A95, 2012): iterative sum-threshold passes in both time and
frequency directions with window lengths M = 1, 2, 4, ..., thresholds
``chi_M = chi_1 / rho^log2(M)`` (rho = 1.5), noise estimated by MAD.

Spark shape: ``groupBy(ant1, ant2).applyInPandas`` — the one
image-forming shuffle of the pipeline. At 100 TB this is why the fact
table should be written bucketed by baseline: the groupBy then reuses the
bucketing and the shuffle disappears.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

RHO = 1.5
WINDOWS = (1, 2, 4, 8, 16, 32)


def _sumthreshold_1d(img: np.ndarray, flags: np.ndarray, m: int, chi: float) -> None:
    """One SumThreshold pass along axis 1 (vectorized over rows, in place).

    Flagged samples contribute the threshold value chi instead of their own
    (Offringa 2012 §2.1), so already-flagged spikes don't mask neighbours.
    """
    n = img.shape[1]
    if n < m:
        return
    adj = np.where(flags, chi, img)
    if m == 1:
        flags |= adj > chi
        return
    csum = np.cumsum(adj, axis=1)
    wsum = csum[:, m - 1:].copy()
    wsum[:, 1:] -= csum[:, :n - m]
    exceed = wsum > chi * m          # window starting at column j
    hit = np.zeros_like(flags)
    for off in range(m):
        hit[:, off:off + exceed.shape[1]] |= exceed
    flags |= hit


def sumthreshold_mask(img: np.ndarray, base_sensitivity: float = 6.0,
                      existing: np.ndarray | None = None,
                      valid: np.ndarray | None = None) -> np.ndarray:
    """SumThreshold over a 2-D (time × chan) amplitude image → boolean mask.

    chi_1 = base_sensitivity * sigma_MAD; both directions per window length.
    ``valid`` marks cells that actually hold a sample: the median/MAD noise
    estimate is computed over valid cells ONLY (a placeholder 0.0 in absent
    cells would deflate sigma and over-flag sparse baselines), and absent
    cells are treated like already-flagged samples inside the window sums
    (they contribute chi, not their placeholder). Absent cells are never
    reported flagged.
    """
    img = np.asarray(img, dtype=np.float64)
    present = (np.ones(img.shape, dtype=bool) if valid is None
               else np.asarray(valid, dtype=bool))
    prior = np.zeros(img.shape, dtype=bool) if existing is None else existing
    vals = img[present]
    if vals.size == 0:
        return prior.copy()
    med = np.median(vals)
    mad = np.median(np.abs(vals - med))
    sigma = 1.4826 * mad
    if sigma == 0.0 or not np.isfinite(sigma):
        # flat image: anything different from the median is interference
        return ((img != med) & present) | prior
    work = prior | ~present
    resid = img - med
    chi1 = base_sensitivity * sigma
    for m in WINDOWS:
        chi = chi1 / (RHO ** np.log2(m))
        # time direction (axis 0) first, then frequency — the SAME
        # sequential order as the relational ladder
        # (rfi_sql.sumthreshold_steps: per m, the t pass then the chan
        # pass reading the t pass's work state)
        tw = work.T.copy()
        _sumthreshold_1d(resid.T.copy(), tw, m, chi)           # time
        work = tw.T.copy()
        _sumthreshold_1d(resid, work, m, chi)                  # freq
    return (work & present) | prior


def flag_rfi(vis: DataFrame, base_sensitivity: float = 6.0,
             re_apply_existing: bool = True,
             sir_eta: float | None = None) -> DataFrame:
    """Detect RFI per baseline and OR it into ``flag``.

    The per-baseline image is the Stokes-I amplitude
    ``|(xx + yy)| / 2`` over (t, chan) — the same reduction AOFlagger's MWA
    strategy feeds SumThreshold. ``re_apply_existing=True`` ORs with prior
    flags (reference src/flags.rs:414-418); False overwrites.
    ``sir_eta`` appends the SIR morphological dilation (aoflagger's
    post-pass; :func:`sir_mask`) to the detected mask.
    """
    cols = list(vis.columns)
    schema = vis.schema

    def per_baseline(pdf: pd.DataFrame) -> pd.DataFrame:
        ts = np.sort(pdf["t"].unique())
        chans = np.sort(pdf["chan"].unique())
        # vectorized rank lookup (ts/chans are sorted unique): a dict
        # .map here is a Python-level lookup PER CELL — at the scale
        # run's 43k-row groups that alone dominated the island's CPU
        rows = np.searchsorted(ts, pdf["t"].to_numpy())
        cs = np.searchsorted(chans, pdf["chan"].to_numpy())
        img = np.zeros((len(ts), len(chans)), dtype=np.float64)
        re = (pdf["xx_re"].to_numpy() + pdf["yy_re"].to_numpy()) / 2.0
        im = (pdf["xx_im"].to_numpy() + pdf["yy_im"].to_numpy()) / 2.0
        img[rows, cs] = np.hypot(re, im)
        present = np.zeros(img.shape, dtype=bool)
        present[rows, cs] = True
        prior = np.zeros(img.shape, dtype=bool)
        prior[rows, cs] = pdf["flag"].to_numpy(dtype=bool)
        mask = sumthreshold_mask(
            img, base_sensitivity,
            existing=prior if re_apply_existing else None,
            valid=present)
        if sir_eta is not None:
            mask = sir_mask(mask, sir_eta)
        out = pdf.copy()
        detected = mask[rows, cs]
        out["flag"] = (pdf["flag"].to_numpy(dtype=bool) | detected) \
            if re_apply_existing else detected
        return out[cols]

    return vis.groupBy("ant1", "ant2").applyInPandas(per_baseline, schema=schema)


# ------------------------------------- iterative AOFlagger strategy ---
# F9d: the published aoflagger GENERIC strategy structure (Offringa,
# aoflagger.readthedocs.io "the generic strategy"; the reference runs
# the derived mwa-default via FFI, src/flags.rs:368-437): iterate
# {SumThreshold at a decreasing threshold factor -> subtract a
# flag-masked Gaussian sliding-window fit of the ORIGINAL image}, then a
# final full-sensitivity SumThreshold and the SIR morphological pass.
# Byte-parity with AOFlagger stays out of scope (SURVEY.md §7); what is
# pinned here is the strategy SHAPE with the documented parameters:
# 3 iterations, threshold factor step 2 (factors 4, 2, 1), a 21x31
# Gaussian kernel with sigma 2.5 (time) x 5.0 (channels), SIR eta 0.2.
#
# Cross-engine exactness: the image is standardized by its f32-demoted
# median/MAD once and quantized to INTEGER ticks; the Gaussian kernel is
# quantized to integer weights; the sliding-window fit is then exact
# BIGINT arithmetic (separable masked weighted mean, half-up integer
# division), so every engine computes the identical residual image and
# every SumThreshold call sees integer-valued amplitudes.

#: ticks per sigma for the standardized image fed to the strategy
LP_TICKS = 1 << 14
#: clamp on |standardized amp| in sigma units (2^10 sigma) — keeps every
#: windowed BIGINT sum far below 2^63
LP_CLAMP_SIGMA = 1024.0
#: integer scale of the quantized Gaussian kernel weights
LP_KERNEL_SCALE = 1 << 11
#: published generic-strategy kernel: 21 x 31 cells, sigma 2.5 x 5.0
LP_RADIUS_T, LP_SIGMA_T = 10, 2.5
LP_RADIUS_F, LP_SIGMA_F = 15, 5.0
#: published generic-strategy iteration ladder
AOF_ITERS = 3
AOF_STEP = 2.0


def lp_kernel(radius: int, sigma: float) -> tuple[int, ...]:
    """Integer-quantized Gaussian kernel weights for offsets
    -radius..radius (identical literals in the SQL spelling)."""
    return tuple(
        int(round(LP_KERNEL_SCALE * np.exp(-(d * d) / (2.0 * sigma * sigma))))
        for d in range(-radius, radius + 1))


def _f32(a):
    return np.asarray(np.float32(a), dtype=np.float64)


def _round_half_up(v: np.ndarray) -> np.ndarray:
    return np.floor(v + 0.5).astype(np.int64)


def standardize_ticks(img: np.ndarray, present: np.ndarray
                      ) -> np.ndarray:
    """f32-demoted median/MAD standardization -> clamped integer ticks.
    sigma==0 / non-finite arm: off-median cells jump to the clamp (the
    m=1 pass at any sensitivity then flags exactly those)."""
    clamp = int(LP_CLAMP_SIGMA * LP_TICKS)
    vals = img[present]
    if vals.size == 0:
        return np.zeros(img.shape, dtype=np.int64)
    med = float(_f32(np.median(vals)))
    ad = _f32(np.abs(img - med))
    mad = float(_f32(np.median(ad[present])))
    sigma = 1.4826 * mad
    if not (sigma > 0.0 and np.isfinite(sigma)):
        return np.where(img != med, np.int64(clamp), np.int64(0))
    std = np.clip((img - med) / sigma, -LP_CLAMP_SIGMA, LP_CLAMP_SIGMA)
    return _round_half_up(std * float(LP_TICKS))


def _st_1d_ticks(rq: np.ndarray, work: np.ndarray, m: int, cq: int) -> None:
    """Integer-tick SumThreshold pass along axis 1 (in place) — the
    numpy mirror of one rfi_sql ladder step: flagged cells contribute
    the threshold cq, full windows with sum > cq*m dilate."""
    n = rq.shape[1]
    if n < m:
        return
    adj = np.where(work, np.int64(cq), rq)
    if m == 1:
        work |= adj > cq
        return
    csum = np.cumsum(adj, axis=1)
    wsum = csum[:, m - 1:].copy()
    wsum[:, 1:] -= csum[:, :n - m]
    exceed = wsum > np.int64(cq) * m
    for off in range(m):
        work[:, off:off + exceed.shape[1]] |= exceed


def sumthreshold_ticks(x: np.ndarray, work0: np.ndarray,
                       present: np.ndarray,
                       sensitivity: float) -> np.ndarray:
    """Tick-exact SumThreshold over an INTEGER image — the numpy mirror
    of rfi_sql.sumthreshold_parts on a dense tick relation. Returns the
    accumulated mask for ALL grid cells (absent cells stay flagged).
    The call re-standardizes its input by the f32-demoted median/MAD of
    the integer image and re-quantizes at TICKS per sigma, exactly as
    the SQL does for any amp relation."""
    from birli_spark.operators.rfi_sql import TICKS, CLAMP, _chi_ticks

    img = x.astype(np.float64)
    vals = img[present]
    prior = work0 | ~present
    if vals.size == 0:
        return prior.copy()
    med = float(_f32(np.median(vals)))
    ad = _f32(np.abs(img - med))
    mad = float(_f32(np.median(ad[present])))
    sigma = 1.4826 * mad
    if not (sigma > 0.0 and np.isfinite(sigma)):
        return ((img != med) & present) | prior
    rq = _round_half_up(
        np.clip((img - med) / sigma, -CLAMP, CLAMP) * float(TICKS))
    work = prior.copy()
    for m in WINDOWS:
        cq = _chi_ticks(sensitivity, m)
        # time direction (axis 0) first, then frequency — sequential,
        # matching rfi_sql.sumthreshold_steps' ladder order
        tw = work.T.copy()
        _st_1d_ticks(rq.T.copy(), tw, m, cq)          # time
        work = tw.T.copy()
        _st_1d_ticks(rq, work, m, cq)                 # freq
    return work


def lowpass_ticks(x: np.ndarray, unflagged: np.ndarray) -> np.ndarray:
    """Separable flag-masked Gaussian sliding-window fit in exact
    integer arithmetic: per-axis integer kernels, numerator/denominator
    accumulated separately, half-up integer division; windows truncate
    at the image edge (normalized by the weights actually present);
    a fully-flagged window fits 0."""
    gt = np.array(lp_kernel(LP_RADIUS_T, LP_SIGMA_T), dtype=np.int64)
    gf = np.array(lp_kernel(LP_RADIUS_F, LP_SIGMA_F), dtype=np.int64)
    m = unflagged.astype(np.int64)
    xm = np.where(unflagged, x, np.int64(0))
    nt, nc = x.shape
    num1 = np.zeros_like(x)
    den1 = np.zeros_like(x)
    for k, d in enumerate(range(-LP_RADIUS_T, LP_RADIUS_T + 1)):
        lo, hi = max(0, -d), min(nt, nt - d)
        if hi <= lo:        # offset exceeds the image: nothing in range
            continue
        num1[lo:hi] += gt[k] * xm[lo + d:hi + d]
        den1[lo:hi] += gt[k] * m[lo + d:hi + d]
    num = np.zeros_like(x)
    den = np.zeros_like(x)
    for k, d in enumerate(range(-LP_RADIUS_F, LP_RADIUS_F + 1)):
        lo, hi = max(0, -d), min(nc, nc - d)
        if hi <= lo:
            continue
        num[:, lo:hi] += gf[k] * num1[:, lo + d:hi + d]
        den[:, lo:hi] += gf[k] * den1[:, lo + d:hi + d]
    # bg = round_half_up(num / den) via floor((2num + den) / (2den));
    # numpy // IS floor division — the SQL spells the same floor through
    # the math-mod subtraction (both engines' % truncates)
    a = 2 * num + den
    b = np.where(den > 0, 2 * den, np.int64(1))
    return np.where(den > 0, a // b, np.int64(0))


def aoflagger_strategy_mask(img: np.ndarray,
                            base_sensitivity: float = 6.0,
                            existing: np.ndarray | None = None,
                            valid: np.ndarray | None = None,
                            iterations: int = AOF_ITERS,
                            step: float = AOF_STEP,
                            eta: float | None = 0.2) -> np.ndarray:
    """F9d — the iterative strategy over a (time x chan) amplitude
    image: standardize to ticks once, then for each non-final iteration
    SumThreshold at ``base_sensitivity * step^(iterations - i)`` and
    re-fit the residual (original ticks minus the masked Gaussian fit);
    final iteration at full sensitivity, then SIR (``eta=None`` skips).
    Returns the mask for present cells (absent never reported)."""
    img = np.asarray(img, dtype=np.float64)
    present = (np.ones(img.shape, dtype=bool) if valid is None
               else np.asarray(valid, dtype=bool))
    prior = (np.zeros(img.shape, dtype=bool) if existing is None
             else np.asarray(existing, dtype=bool))
    x = standardize_ticks(img, present)
    work = prior | ~present
    resid = x
    for i in range(1, iterations):
        factor = step ** (iterations - i)
        work = sumthreshold_ticks(resid, work, present,
                                  base_sensitivity * factor)
        bg = lowpass_ticks(x, ~work & present)
        resid = x - bg
    work = sumthreshold_ticks(resid, work, present, base_sensitivity)
    det = (work & present) | prior
    if eta is not None:
        det = sir_mask(det, eta)
    return det & present | (prior & present)


def flag_rfi_strategy(vis: DataFrame, base_sensitivity: float = 6.0,
                      eta: float | None = 0.2) -> DataFrame:
    """F9d as the 100 TB UDF island: per-baseline images via ONE
    ``groupBy(ant1, ant2).applyInPandas`` shuffle (bucketing by baseline
    removes it), each image run through the iterative strategy
    (:func:`aoflagger_strategy_mask`); the mask ORs into ``flag``."""
    cols = list(vis.columns)
    schema = vis.schema

    def per_baseline(pdf: pd.DataFrame) -> pd.DataFrame:
        ts = np.sort(pdf["t"].unique())
        chans = np.sort(pdf["chan"].unique())
        # vectorized rank lookup (ts/chans are sorted unique): a dict
        # .map here is a Python-level lookup PER CELL — at the scale
        # run's 43k-row groups that alone dominated the island's CPU
        rows = np.searchsorted(ts, pdf["t"].to_numpy())
        cs = np.searchsorted(chans, pdf["chan"].to_numpy())
        img = np.zeros((len(ts), len(chans)), dtype=np.float64)
        re = (pdf["xx_re"].to_numpy() + pdf["yy_re"].to_numpy()) / 2.0
        im = (pdf["xx_im"].to_numpy() + pdf["yy_im"].to_numpy()) / 2.0
        img[rows, cs] = np.hypot(re, im)
        present = np.zeros(img.shape, dtype=bool)
        present[rows, cs] = True
        prior = np.zeros(img.shape, dtype=bool)
        prior[rows, cs] = pdf["flag"].to_numpy(dtype=bool)
        mask = aoflagger_strategy_mask(
            img, base_sensitivity, existing=prior, valid=present,
            eta=eta)
        out = pdf.copy()
        out["flag"] = pdf["flag"].to_numpy(dtype=bool) | mask[rows, cs]
        return out[cols]

    return vis.groupBy("ant1", "ant2").applyInPandas(per_baseline,
                                                     schema=schema)


# ------------------------------------------------- SIR morphology ---

#: SIR aggressiveness ticks-per-unit: eta quantized to 1/SIR_D so the
#: prefix sums are exact integers (float prefixes break >= ties at the
#: rank boundary, and engines would disagree on sum association)
SIR_D = 1000


def sir_1d(flags: np.ndarray, eta: float = 0.2) -> np.ndarray:
    """Scale-invariant rank (SIR) dilation along axis 1 (Offringa & van
    de Gronde 2012, the morphological post-pass of AOFlagger's strategy
    the reference executes via FFI, src/flags.rs:368-437): sample i is
    flagged iff some window [j, k) containing i has at least
    (1 - eta)(k - j) flagged samples. O(N) via integer-tick prefix
    sums: with w = eta*D for flagged, (eta-1)*D for unflagged and P the
    exclusive prefix sum, the condition is
    max_{k > i} P(k) - min_{j <= i} P(j) >= 0."""
    f = np.asarray(flags, dtype=bool)
    en = int(round(eta * SIR_D))
    w = np.where(f, en, en - SIR_D).astype(np.int64)
    p = np.concatenate(
        [np.zeros((f.shape[0], 1), np.int64), np.cumsum(w, axis=1)],
        axis=1)
    fwd_max = np.maximum.accumulate(p[:, ::-1], axis=1)[:, ::-1]
    back_min = np.minimum.accumulate(p, axis=1)
    return fwd_max[:, 1:] - back_min[:, :-1] >= 0


def sir_mask(flags: np.ndarray, eta: float = 0.2) -> np.ndarray:
    """SIR in both directions — time (axis 0) first, then frequency
    (axis 1) on the time-dilated mask, OR-combined (aoflagger's
    two-pass application; same direction order as the relational
    spelling, rfi_sql.py::sir_parts)."""
    t_pass = sir_1d(np.asarray(flags, dtype=bool).T, eta).T
    f_pass = sir_1d(t_pass, eta)
    return t_pass | f_pass


# -------------------------------- F9e: the mwa-default orchestration ---
# The reference flags RFI by FFI-ing the REAL AOFlagger and loading its
# installed mwa-default.lua (src/flags.rs:354-437; the goldens in
# tests/data/1254670392_avg were produced by `cotter -flag-strategy
# .../strategies/mwa-default.lua`, tests/data/README.md:394-412). f9e
# composes the f9d primitives with that strategy's published
# orchestration (aoflagger.readthedocs.io, "included strategies" /
# data/strategies/*.lua):
#
#   per polarization (amplitude representation):
#     for i in 1..iterations-1:
#       factor = step^(iterations - i)
#       SumThreshold at base_sensitivity * factor (time + freq)
#       threshold_timestep_rms(3.5)   | computed from the same mask,
#       threshold_channel_rms(3*factor, both sides) | then OR-joined
#       background = masked Gaussian fit of the ORIGINAL image on the
#         (time, chan/FREQ_RESIZE) downsampled grid, upsampled back
#       residual = original - background
#     SumThreshold at base_sensitivity
#   join pol masks (OR); flag all-pol-zero samples;
#   scale_invariant_rank_operator(eta, eta); threshold_timestep_rms(4.0)
#
# Byte parity with AOFlagger stays out of scope (float Gaussian kernel
# vs integer ticks, Winsorized stats vs median/MAD); what is gated is
# (a) cross-engine tick-exactness of THIS spelling (tests/
# test_mwa_strategy.py) and (b) the measured flag-for-flag agreement
# against the reference's own cotter mwa-default golden
# (tests/test_golden_mwa_flags.py — ~98% of (bl, t, chan) cells,
# residual concentrated at the legacy DC-spike channel where the
# decision is threshold-marginal).

#: published mwa-default orchestration constants
MWA_FREQ_RESIZE = 3
MWA_CH_RMS = 3.0
MWA_TS_RMS = 3.5
MWA_FINAL_TS_RMS = 4.0
MWA_POLS = ("xx", "xy", "yx", "yy")


def lowpass_resized_ticks(x: np.ndarray, unflagged: np.ndarray,
                          rf: int = MWA_FREQ_RESIZE,
                          chan_values: np.ndarray | None = None
                          ) -> np.ndarray:
    """:func:`lowpass_ticks` on the (time, chan // rf)-downsampled grid,
    replicated back (aoflagger downsample(1, rf, masked) ->
    low_pass_filter -> upsample): per block, the masked mean in half-up
    integer ticks; the separable kernels then run at group resolution
    with the group-occupancy mask.

    ``chan_values`` are the actual channel numbers of the image columns
    — blocks group by VALUE (chan // rf), exactly like the SQL twin's
    ``chan DIV rf``, so a gappy channel domain (picket-fence selection)
    groups identically in both engines; None means columns 0..nc-1."""
    if rf <= 1:
        return lowpass_ticks(x, unflagged)
    nt, nc = x.shape
    vals = (np.arange(nc, dtype=np.int64) if chan_values is None
            else np.asarray(chan_values, dtype=np.int64))
    gid = vals // rf
    groups = np.unique(gid)
    ng = len(groups)
    gix = {int(g): i for i, g in enumerate(groups)}
    col_g = np.array([gix[int(g)] for g in gid])
    xm = np.where(unflagged, x, np.int64(0))
    mi = unflagged.astype(np.int64)
    xg = np.zeros((nt, ng), dtype=np.int64)
    mg = np.zeros((nt, ng), dtype=np.int64)
    for i in range(ng):
        sel = col_g == i
        s = xm[:, sel].sum(axis=1)
        m = mi[:, sel].sum(axis=1)
        a = 2 * s + m
        b = np.where(m > 0, 2 * m, np.int64(1))
        xg[:, i] = np.where(m > 0, a // b, np.int64(0))
        mg[:, i] = (m > 0).astype(np.int64)
    gt = np.array(lp_kernel(LP_RADIUS_T, LP_SIGMA_T), dtype=np.int64)
    gf = np.array(lp_kernel(LP_RADIUS_F, LP_SIGMA_F), dtype=np.int64)
    num1 = np.zeros_like(xg)
    den1 = np.zeros_like(xg)
    for k, d in enumerate(range(-LP_RADIUS_T, LP_RADIUS_T + 1)):
        lo, hi = max(0, -d), min(nt, nt - d)
        if hi <= lo:
            continue
        num1[lo:hi] += gt[k] * (xg * mg)[lo + d:hi + d]
        den1[lo:hi] += gt[k] * mg[lo + d:hi + d]
    num = np.zeros_like(xg)
    den = np.zeros_like(xg)
    for k, d in enumerate(range(-LP_RADIUS_F, LP_RADIUS_F + 1)):
        lo, hi = max(0, -d), min(ng, ng - d)
        if hi <= lo:
            continue
        num[:, lo:hi] += gf[k] * num1[:, lo + d:hi + d]
        den[:, lo:hi] += gf[k] * den1[:, lo + d:hi + d]
    a = 2 * num + den
    b = np.where(den > 0, 2 * den, np.int64(1))
    bg_g = np.where(den > 0, a // b, np.int64(0))
    return bg_g[:, col_g]


def _rms_lines(x: np.ndarray, ok: np.ndarray, axis: int) -> np.ndarray:
    """f32 RMS of the integer image per line perpendicular to ``axis``
    (axis=0 -> one value per channel, axis=1 -> per timestep): the sum
    of squares is an exact BIGINT (association-free), the single
    division + SQRT deterministic, demoted like every scalar both
    engines must agree on. Empty lines -> NaN."""
    sumsq = np.where(ok, x * x, np.int64(0)).sum(axis=axis)
    n = ok.sum(axis=axis)
    with np.errstate(invalid="ignore", divide="ignore"):
        rms = _f32(np.sqrt(sumsq.astype(np.float64)
                           / np.where(n > 0, n, 1)))
    return np.where(n > 0, rms, np.nan)


def _rms_outliers(rms: np.ndarray, thr: float, both: bool) -> np.ndarray:
    """Lines whose RMS deviates more than ``thr`` robust sigmas from the
    median line RMS (median/MAD in place of aoflagger's Winsorized
    mean/stddev — the documented stand-in)."""
    have = np.isfinite(rms)
    if have.sum() < 2:
        return np.zeros(rms.shape, bool)
    med = float(_f32(np.median(rms[have])))
    # f32-demote each deviation BEFORE the median, like the SQL twin
    # (rfi_sql._rms_line_ctes / the f4 CTE) and the established
    # standardize_ticks convention — a raw-f64 MAD can differ by an ulp
    # and flip a threshold-marginal line in one engine only
    mad = float(_f32(np.median(_f32(np.abs(rms[have] - med)))))
    sig = 1.4826 * mad
    if not (sig > 0.0 and np.isfinite(sig)):
        return np.zeros(rms.shape, bool)
    out = rms > med + thr * sig
    if both:
        out = out | (rms < med - thr * sig)
    return np.where(have, out, False)


def channel_rms_ticks(x: np.ndarray, work: np.ndarray,
                      present: np.ndarray, thr: float) -> np.ndarray:
    """aoflagger.threshold_channel_rms(thr, true): whole channels whose
    unflagged RMS is an outlier (both sides)."""
    return _rms_outliers(_rms_lines(x, ~work & present, 0), thr, True)


def timestep_rms_ticks(x: np.ndarray, work: np.ndarray,
                       present: np.ndarray, thr: float) -> np.ndarray:
    """aoflagger.threshold_timestep_rms(thr): whole timesteps whose
    unflagged RMS is a HIGH outlier."""
    return _rms_outliers(_rms_lines(x, ~work & present, 1), thr, False)


def mwa_strategy_mask(img: np.ndarray,
                      base_sensitivity: float = 6.0,
                      existing: np.ndarray | None = None,
                      valid: np.ndarray | None = None,
                      iterations: int = AOF_ITERS,
                      step: float = AOF_STEP,
                      rf: int = MWA_FREQ_RESIZE,
                      ch_rms: float | None = MWA_CH_RMS,
                      ts_rms: float | None = MWA_TS_RMS,
                      chan_values: np.ndarray | None = None) -> np.ndarray:
    """The single-polarization mwa-default iteration ladder (NO SIR and
    no final timestep-RMS — those run once on the joined pol masks,
    :func:`mwa_strategy_mask_pols`). Returns the pre-SIR mask for
    present cells."""
    img = np.asarray(img, dtype=np.float64)
    present = (np.ones(img.shape, dtype=bool) if valid is None
               else np.asarray(valid, dtype=bool))
    prior = (np.zeros(img.shape, dtype=bool) if existing is None
             else np.asarray(existing, dtype=bool))
    x = standardize_ticks(img, present)
    work = prior | ~present
    resid = x
    for i in range(1, iterations):
        factor = step ** (iterations - i)
        work = sumthreshold_ticks(resid, work, present,
                                  base_sensitivity * factor)
        if ts_rms is not None:
            tm = timestep_rms_ticks(resid, work, present, ts_rms)
            work = work | tm[:, None]
        if ch_rms is not None:
            cm = channel_rms_ticks(resid, work, present, ch_rms * factor)
            work = work | cm[None, :]
        bg = lowpass_resized_ticks(x, ~work & present, rf,
                                   chan_values=chan_values)
        resid = x - bg
    work = sumthreshold_ticks(resid, work, present, base_sensitivity)
    return (work & present) | prior


def mwa_strategy_mask_pols(pol_imgs: dict, *,
                           base_sensitivity: float = 6.0,
                           existing: np.ndarray | None = None,
                           valid: np.ndarray | None = None,
                           iterations: int = AOF_ITERS,
                           step: float = AOF_STEP,
                           rf: int = MWA_FREQ_RESIZE,
                           ch_rms: float | None = MWA_CH_RMS,
                           ts_rms: float | None = MWA_TS_RMS,
                           final_ts_rms: float | None = MWA_FINAL_TS_RMS,
                           eta: float | None = 0.2,
                           chan_values: np.ndarray | None = None
                           ) -> np.ndarray:
    """F9e — the full mwa-default orchestration over per-polarization
    amplitude images: per-pol ladders OR-joined, all-pol-zero samples
    flagged (aoflagger flag_zeros), SIR once on the joined mask, final
    threshold_timestep_rms(4.0) over all (chan, pol) cells."""
    shapes = {im.shape for im in pol_imgs.values()}
    assert len(shapes) == 1
    shape = shapes.pop()
    present = (np.ones(shape, dtype=bool) if valid is None
               else np.asarray(valid, dtype=bool))
    prior = (np.zeros(shape, dtype=bool) if existing is None
             else np.asarray(existing, dtype=bool))
    det = np.zeros(shape, dtype=bool)
    for p in MWA_POLS:
        det |= mwa_strategy_mask(
            pol_imgs[p], base_sensitivity, existing=prior, valid=present,
            iterations=iterations, step=step, rf=rf, ch_rms=ch_rms,
            ts_rms=ts_rms, chan_values=chan_values)
    zeros = np.ones(shape, dtype=bool)
    for p in MWA_POLS:
        zeros &= np.asarray(pol_imgs[p], dtype=np.float64) == 0.0
    det |= zeros & present
    if eta is not None:
        det = sir_mask(det, eta)
    if final_ts_rms is not None:
        # joint RMS per timestep over every (chan, pol) unflagged cell
        ok = ~det & ~prior & present
        sumsq = np.zeros(shape[0], dtype=np.int64)
        n = np.zeros(shape[0], dtype=np.int64)
        for p in MWA_POLS:
            xp = standardize_ticks(
                np.asarray(pol_imgs[p], dtype=np.float64), present)
            sumsq += np.where(ok, xp * xp, np.int64(0)).sum(axis=1)
            n += ok.sum(axis=1)
        with np.errstate(invalid="ignore", divide="ignore"):
            rms = _f32(np.sqrt(sumsq.astype(np.float64)
                               / np.where(n > 0, n, 1)))
        tm = _rms_outliers(np.where(n > 0, rms, np.nan),
                           final_ts_rms, False)
        det = det | tm[:, None]
    return (det & present) | (prior & present)


# ------------- F9e float mode: AOFlagger-faithful statistics ---------
# The integer-tick spelling above exists to be hash-gated against the
# relational twin (rfi_sql.mwa_strategy_steps). The UDF island has no
# such constraint, so the CLI / 100 TB path runs THIS float mode, which
# substitutes the two documented divergences from the real AOFlagger
# (tests/test_golden_mwa_flags.py): the noise estimator and the kernel.
#
# Published AOFlagger internals being reproduced (aoflagger
# algorithms/thresholdtools.cpp, algorithms/sumthreshold.cpp,
# lua/default-strategy include — all public source the reference FFIs,
# src/flags.rs:368-437):
#  - SumThreshold's noise scale is ThresholdTools::WinsorizedMode over
#    the unflagged samples: winsorize at the 10%/90% order statistics,
#    sqrt(sum(x^2) / (2N)) * 1.0541 (the Rayleigh-mode estimator with
#    the winsorization correction factor).
#  - The window pass EXCLUDES flagged samples and compares the window
#    MEAN of the remaining samples against chi_M (sum > chi_M * count),
#    rather than the paper's substitute-chi form.
#  - The full default window ladder runs 1..256, not 1..32.
#  - threshold_timestep_rms / threshold_channel_rms deviate lines by
#    ThresholdTools::WinsorizedMeanAndStdDev: 10% winsorized mean and
#    stddev * 1.54 (the Gaussian winsorization correction).
#  - The background fit is the float Gaussian kernel (no integer
#    quantization), masked separable sliding mean.

#: AOFlagger ThresholdConfig::InitializeLengthsDefault — 9 lengths
AOF_WINDOWS_FULL = (1, 2, 4, 8, 16, 32, 64, 128, 256)
#: winsorization correction factors (ThresholdTools, public source)
WINSORIZED_RAYLEIGH_CORR = 1.0541
WINSORIZED_GAUSS_CORR = 1.54


def winsorized_mode(vals: np.ndarray) -> float:
    """ThresholdTools::WinsorizedMode — the Rayleigh-amplitude noise
    estimator AOFlagger feeds SumThreshold: clamp to the 10%/90% order
    statistics, sqrt(mean(x^2) / 2) * 1.0541."""
    v = np.sort(np.asarray(vals, dtype=np.float64).ravel())
    n = v.size
    if n == 0:
        return 0.0
    lo = v[int(np.floor(0.1 * n))]
    hi = v[max(0, min(n - 1, int(np.ceil(0.9 * n)) - 1))]
    w = np.clip(v, lo, hi)
    return float(WINSORIZED_RAYLEIGH_CORR
                 * np.sqrt((w * w).sum() / (2.0 * n)))


def winsorized_mean_std(vals: np.ndarray) -> tuple[float, float]:
    """ThresholdTools::WinsorizedMeanAndStdDev: 10% two-sided winsorized
    mean, and the winsorized stddev corrected by 1.54."""
    v = np.sort(np.asarray(vals, dtype=np.float64).ravel())
    n = v.size
    if n == 0:
        return 0.0, 0.0
    lo = v[int(np.floor(0.1 * n))]
    hi = v[max(0, min(n - 1, int(np.ceil(0.9 * n)) - 1))]
    w = np.clip(v, lo, hi)
    mean = float(w.mean())
    std = float(WINSORIZED_GAUSS_CORR
                * np.sqrt(((w - mean) ** 2).mean()))
    return mean, std


def _st_1d_float(img: np.ndarray, work: np.ndarray, m: int,
                 chi: float, form: str = "subst",
                 two_sided: bool = False) -> None:
    """One float SumThreshold pass along axis 1 (in place).

    ``form='subst'`` — the paper form: flagged samples contribute the
    threshold chi, window flags when sum > chi * m. Self-limiting under
    iteration (a heavily-flagged window still needs its remaining
    samples above chi on average).
    ``form='exclude'`` — flagged samples excluded, remaining mean
    compared (sum > chi * count). ``two_sided`` compares |mean|.
    """
    n = img.shape[1]
    if n < m:
        return
    if m == 1:
        v = np.where(work, 0.0, img)
        hit = (np.abs(v) > chi) if two_sided else (v > chi)
        work |= hit & ~work
        return
    if form == "exclude":
        x = np.where(work, 0.0, img)
        c = (~work).astype(np.int64)
        csum = np.cumsum(x, axis=1)
        ccnt = np.cumsum(c, axis=1)
        wsum = csum[:, m - 1:].copy()
        wsum[:, 1:] -= csum[:, :n - m]
        wcnt = ccnt[:, m - 1:].copy()
        wcnt[:, 1:] -= ccnt[:, :n - m]
        lim = chi * wcnt
        exceed = (wcnt > 0) & ((np.abs(wsum) > lim) if two_sided
                               else (wsum > lim))
    else:
        adj = np.where(work, chi, img)
        csum = np.cumsum(adj, axis=1)
        wsum = csum[:, m - 1:].copy()
        wsum[:, 1:] -= csum[:, :n - m]
        lim = chi * m
        if two_sided:
            adj_lo = np.where(work, -chi, img)
            cl = np.cumsum(adj_lo, axis=1)
            wlo = cl[:, m - 1:].copy()
            wlo[:, 1:] -= cl[:, :n - m]
            exceed = (wsum > lim) | (wlo < -lim)
        else:
            exceed = wsum > lim
    # spread each window hit over its m columns with a difference
    # array + running sum — O(n) instead of the O(n*m) shift loop
    # (m reaches 256 in the full AOFlagger ladder)
    nt = img.shape[0]
    delta = np.zeros((nt, n + 1), dtype=np.int32)
    delta[:, :exceed.shape[1]] += exceed
    delta[:, m:m + exceed.shape[1]] -= exceed
    work |= np.cumsum(delta[:, :n], axis=1) > 0


def sumthreshold_float(resid: np.ndarray, work0: np.ndarray,
                       present: np.ndarray, sensitivity: float,
                       windows: tuple = AOF_WINDOWS_FULL,
                       form: str = "subst",
                       two_sided: bool = False,
                       noise_est: str = "wmode",
                       decay: float = 0.75,
                       noise_over: str = "unflagged",
                       order: str = "interleave",
                       center: bool = True) -> np.ndarray:
    """AOFlagger ThresholdConfig::Execute over a float residual image:
    chi_1 = sensitivity * WinsorizedMode(unflagged), per-length mean
    thresholds chi_M = chi_1 / rho^log2(M). Returns the accumulated
    mask (absent cells stay flagged).

    ``center=True`` subtracts the unflagged median first (the
    long-window mean test needs a zero-centered residual — on a raw
    amplitude image every 256-window mean exceeds a sub-mode
    threshold); ``center=False`` is the literal C++ semantics
    (ThresholdConfig::Execute thresholds the image as-is — workable
    there because the strategy only reaches long windows on post-
    high-pass residuals, whose mean is near zero by construction).

    ``order='interleave'`` runs time-then-frequency per window length;
    ``order='dirs'`` is the C++ loop structure (thresholdconfig.cpp:
    every horizontal/time length first, then every vertical/frequency
    length)."""
    img = np.asarray(resid, dtype=np.float64)
    prior = work0 | ~present
    pool = img[present] if noise_over == "present" else img[~prior]
    vals = img[~prior]
    if vals.size == 0:
        return prior.copy()
    med = float(np.median(vals))
    if noise_est == "wmode":
        mode = winsorized_mode(pool)
    elif noise_est == "wstd":
        mode = winsorized_mean_std(pool)[1]
    else:  # median/MAD, the tick twin's estimator
        mode = 1.4826 * float(np.median(np.abs(pool - np.median(pool))))
    if not (mode > 0.0 and np.isfinite(mode)):
        return ((img != med) & present) | prior
    if center:
        img = img - med
    chi1 = sensitivity * mode
    work = prior.copy()
    if order == "dirs":
        for m in windows:                                        # time
            chi = chi1 * (decay ** np.log2(m))
            tw = work.T.copy()
            _st_1d_float(img.T.copy(), tw, m, chi, form, two_sided)
            work = tw.T.copy()
        for m in windows:                                        # freq
            chi = chi1 * (decay ** np.log2(m))
            _st_1d_float(img, work, m, chi, form, two_sided)
        return work
    for m in windows:
        chi = chi1 * (decay ** np.log2(m))
        tw = work.T.copy()
        _st_1d_float(img.T.copy(), tw, m, chi, form, two_sided)  # time
        work = tw.T.copy()
        _st_1d_float(img, work, m, chi, form, two_sided)         # freq
    return work


def _gauss_kernel_f(radius: int, sigma: float) -> np.ndarray:
    d = np.arange(-radius, radius + 1, dtype=np.float64)
    return np.exp(-(d * d) / (2.0 * sigma * sigma))


def lowpass_resized_float(x: np.ndarray, unflagged: np.ndarray,
                          rf: int = MWA_FREQ_RESIZE,
                          chan_values: np.ndarray | None = None
                          ) -> np.ndarray:
    """Float twin of :func:`lowpass_resized_ticks`: masked mean
    downsample by ``rf`` along frequency, separable masked float
    Gaussian sliding fit (windows truncate at edges), replicate back."""
    nt, nc = x.shape
    x = np.asarray(x, dtype=np.float64)
    vals = (np.arange(nc, dtype=np.int64) if chan_values is None
            else np.asarray(chan_values, dtype=np.int64))
    gid = vals // max(rf, 1)
    groups = np.unique(gid)
    ng = len(groups)
    gix = {int(g): i for i, g in enumerate(groups)}
    col_g = np.array([gix[int(g)] for g in gid])
    xm = np.where(unflagged, x, 0.0)
    mi = unflagged.astype(np.float64)
    if ng == nc:
        # rf <= 1 (the shipped MWA_FLOAT_KW): every column is its own
        # group — the downsample is the identity. The general path
        # below cost O(nc^2 * nt) in boolean indexing and was the
        # single hottest line of the whole f9f island (scale profile
        # r8: ~57% of strategy CPU).
        xg = xm
        mg = mi
    else:
        # chan_values is sorted, so col_g is nondecreasing and groups
        # are contiguous runs: one O(nt * nc) reduceat per plane
        starts = np.concatenate(
            ([0], np.flatnonzero(np.diff(col_g)) + 1))
        s = np.add.reduceat(xm, starts, axis=1)
        m = np.add.reduceat(mi, starts, axis=1)
        xg = np.where(m > 0, s / np.where(m > 0, m, 1.0), 0.0)
        mg = (m > 0).astype(np.float64)
    gt = _gauss_kernel_f(LP_RADIUS_T, LP_SIGMA_T)
    gf = _gauss_kernel_f(LP_RADIUS_F, LP_SIGMA_F)
    num1 = np.zeros_like(xg)
    den1 = np.zeros_like(xg)
    for k, d in enumerate(range(-LP_RADIUS_T, LP_RADIUS_T + 1)):
        lo, hi = max(0, -d), min(nt, nt - d)
        if hi <= lo:
            continue
        num1[lo:hi] += gt[k] * (xg * mg)[lo + d:hi + d]
        den1[lo:hi] += gt[k] * mg[lo + d:hi + d]
    num = np.zeros_like(xg)
    den = np.zeros_like(xg)
    for k, d in enumerate(range(-LP_RADIUS_F, LP_RADIUS_F + 1)):
        lo, hi = max(0, -d), min(ng, ng - d)
        if hi <= lo:
            continue
        num[:, lo:hi] += gf[k] * num1[:, lo + d:hi + d]
        den[:, lo:hi] += gf[k] * den1[:, lo + d:hi + d]
    bg_g = np.where(den > 0, num / np.where(den > 0, den, 1.0), 0.0)
    return bg_g[:, col_g]


def _rms_outliers_w(rms: np.ndarray, thr: float, both: bool) -> np.ndarray:
    """Lines whose RMS deviates more than ``thr`` winsorized stddevs
    from the winsorized mean line RMS (AOFlagger's deviation test)."""
    have = np.isfinite(rms)
    if have.sum() < 2:
        return np.zeros(rms.shape, bool)
    mean, std = winsorized_mean_std(rms[have])
    if not (std > 0.0 and np.isfinite(std)):
        return np.zeros(rms.shape, bool)
    out = rms > mean + thr * std
    if both:
        out = out | (rms < mean - thr * std)
    return np.where(have, out, False)


def _rms_lines_f(x: np.ndarray, ok: np.ndarray, axis: int) -> np.ndarray:
    sumsq = np.where(ok, x * x, 0.0).sum(axis=axis)
    n = ok.sum(axis=axis)
    with np.errstate(invalid="ignore", divide="ignore"):
        rms = np.sqrt(sumsq / np.where(n > 0, n, 1))
    return np.where(n > 0, rms, np.nan)


def mwa_strategy_mask_float(img: np.ndarray,
                            base_sensitivity: float = 6.0,
                            existing: np.ndarray | None = None,
                            valid: np.ndarray | None = None,
                            iterations: int = AOF_ITERS,
                            step: float = AOF_STEP,
                            rf: int = MWA_FREQ_RESIZE,
                            ch_rms: float | None = MWA_CH_RMS,
                            ts_rms: float | None = MWA_TS_RMS,
                            chan_values: np.ndarray | None = None,
                            windows: tuple = AOF_WINDOWS_FULL,
                            form: str = "subst",
                            two_sided: bool = False,
                            noise_est: str = "wmode",
                            decay: float = 0.75,
                            noise_over: str = "unflagged",
                            bg_over: str = "unflagged",
                            order: str = "interleave",
                            center: bool = True,
                            ch_on_copy: bool = False
                            ) -> np.ndarray:
    """Float-mode single-polarization mwa-default iteration ladder
    (pre-SIR; the joined-pols pass lives in
    :func:`mwa_strategy_mask_pols_float`).

    ``bg_over``: which cells feed the background fit — 'unflagged'
    (masked fit, flags excluded) or 'present' (every valid cell,
    letting narrow persistent features like the legacy DC spike
    partly self-subtract, as a plain kernel smoother would).
    ``ch_on_copy=True`` is the Lua strategy's literal dataflow
    (chdata = data:copy() BEFORE threshold_timestep_rms, so the
    channel-RMS test sees the pre-timestep-RMS mask and the two masks
    join afterwards); False applies them sequentially."""
    img = np.asarray(img, dtype=np.float64)
    present = (np.ones(img.shape, dtype=bool) if valid is None
               else np.asarray(valid, dtype=bool))
    prior = (np.zeros(img.shape, dtype=bool) if existing is None
             else np.asarray(existing, dtype=bool))
    work = prior | ~present
    resid = img
    for i in range(1, iterations):
        factor = step ** (iterations - i)
        work = sumthreshold_float(resid, work, present,
                                  base_sensitivity * factor, windows,
                                  form, two_sided, noise_est, decay,
                                  noise_over, order, center)
        pre_ts = work
        if ts_rms is not None:
            tm = _rms_outliers_w(
                _rms_lines_f(resid, ~work & present, 1), ts_rms, False)
            work = work | tm[:, None]
        if ch_rms is not None:
            ch_base = pre_ts if ch_on_copy else work
            cm = _rms_outliers_w(
                _rms_lines_f(resid, ~ch_base & present, 0),
                ch_rms * factor, True)
            work = work | cm[None, :]
        bg_ok = present if bg_over == "present" else (~work & present)
        bg = lowpass_resized_float(img, bg_ok, rf,
                                   chan_values=chan_values)
        resid = img - bg
    work = sumthreshold_float(resid, work, present, base_sensitivity,
                              windows, form, two_sided, noise_est, decay,
                              noise_over, order, center)
    return (work & present) | prior


def mwa_strategy_mask_pols_float(pol_imgs: dict, *,
                                 base_sensitivity: float = 6.0,
                                 existing: np.ndarray | None = None,
                                 valid: np.ndarray | None = None,
                                 iterations: int = AOF_ITERS,
                                 step: float = AOF_STEP,
                                 rf: int = MWA_FREQ_RESIZE,
                                 ch_rms: float | None = MWA_CH_RMS,
                                 ts_rms: float | None = MWA_TS_RMS,
                                 final_ts_rms: float | None =
                                 MWA_FINAL_TS_RMS,
                                 eta: float | None = 0.2,
                                 chan_values: np.ndarray | None = None,
                                 windows: tuple = AOF_WINDOWS_FULL,
                                 form: str = "subst",
                                 two_sided: bool = False,
                                 noise_est: str = "wmode",
                                 decay: float = 0.75,
                                 noise_over: str = "unflagged",
                                 bg_over: str = "unflagged",
                                 order: str = "interleave",
                                 center: bool = True,
                                 ch_on_copy: bool = False,
                                 pol_chain: bool = False
                                 ) -> np.ndarray:
    """F9e float mode — the full mwa-default orchestration with
    AOFlagger's own statistics (see module section comment). Per-pol
    ladders OR-joined, all-pol-zero samples flagged, SIR once, final
    threshold_timestep_rms(4.0) over all (chan, pol) cells pooled in
    raw amplitude units.

    ``pol_chain=True`` threads each polarization's accumulated mask
    into the next pol's ladder as its prior (so later pols estimate
    noise and fit the background with earlier pols' detections
    masked); False runs the pols independently and ORs. The Lua
    strategy's dataflow reads as independent, but chaining measures
    STRICTLY closer to the cotter golden (tools/aof_port_probe.py) —
    kept as a measured, documented choice."""
    shapes = {im.shape for im in pol_imgs.values()}
    assert len(shapes) == 1
    shape = shapes.pop()
    present = (np.ones(shape, dtype=bool) if valid is None
               else np.asarray(valid, dtype=bool))
    prior = (np.zeros(shape, dtype=bool) if existing is None
             else np.asarray(existing, dtype=bool))
    det = np.zeros(shape, dtype=bool)
    for p in MWA_POLS:
        pol_prior = (prior | det) if pol_chain else prior
        det |= mwa_strategy_mask_float(
            pol_imgs[p], base_sensitivity, existing=pol_prior,
            valid=present,
            iterations=iterations, step=step, rf=rf, ch_rms=ch_rms,
            ts_rms=ts_rms, chan_values=chan_values, windows=windows,
            form=form, two_sided=two_sided, noise_est=noise_est,
            decay=decay, noise_over=noise_over, bg_over=bg_over,
            order=order, center=center, ch_on_copy=ch_on_copy)
    zeros = np.ones(shape, dtype=bool)
    for p in MWA_POLS:
        zeros &= np.asarray(pol_imgs[p], dtype=np.float64) == 0.0
    det |= zeros & present
    if eta is not None:
        det = sir_mask(det, eta)
    if final_ts_rms is not None:
        ok = ~det & ~prior & present
        sumsq = np.zeros(shape[0])
        n = np.zeros(shape[0], dtype=np.int64)
        for p in MWA_POLS:
            xp = np.asarray(pol_imgs[p], dtype=np.float64)
            sumsq += np.where(ok, xp * xp, 0.0).sum(axis=1)
            n += ok.sum(axis=1)
        with np.errstate(invalid="ignore", divide="ignore"):
            rms = np.sqrt(sumsq / np.where(n > 0, n, 1))
        tm = _rms_outliers_w(np.where(n > 0, rms, np.nan),
                             final_ts_rms, False)
        det = det | tm[:, None]
    return (det & present) | (prior & present)


#: the MEASURED-best float configuration against the reference's own
#: cotter mwa-default golden (tests/test_golden_mwa_flags.py, real
#: 1254670392 visibilities): Winsorized-mode noise, substitute-chi
#: passes, the AOFlagger threshold decay (chi_1 * 1.5^log2(M) / M), the
#: full 1..256 window ladder, and NO frequency downsample before the
#: Gaussian fit. rf=1 vs the Lua text's 3 is an empirical finding:
#: the cotter-era strategy the golden was made with evidently fits the
#: background at full frequency resolution.
#:
#: Round 7 (tools/aof_port_probe.py, the STRUCTURAL grid beyond the
#: round-6 knob grid): center=False is the literal C++ semantics
#: (ThresholdConfig::Execute thresholds the residual as-is), and
#: pol_chain=True (later pols see earlier pols' detections as priors)
#: measures strictly closer to the golden — agreement 0.9824 -> 0.9837
#: at recall 0.9195, fp 263 -> 240. The full 2^4 structural space
#: (pass order x centering x window form x channel-RMS dataflow) x pol
#: sequencing x iteration schedule contains NO config with agreement
#: >= 0.99 at recall >= 0.90 (front: 0.9864 @ 0.883 / 0.9837 @ 0.9195).
MWA_FLOAT_KW = dict(rf=1, windows=AOF_WINDOWS_FULL, form="subst",
                    two_sided=False, noise_est="wmode", decay=0.75,
                    center=False, pol_chain=True)


def flag_rfi_mwa(vis: DataFrame, base_sensitivity: float = 6.0,
                 eta: float | None = 0.2) -> DataFrame:
    """F9e as the 100 TB UDF island (same shape as
    :func:`flag_rfi_strategy`): per-baseline polarization images via ONE
    ``groupBy(ant1, ant2).applyInPandas`` shuffle, each run through the
    mwa-default orchestration; the joined mask ORs into ``flag``.

    The island runs the AOFlagger-statistics float mode
    (:func:`mwa_strategy_mask_pols_float` with :data:`MWA_FLOAT_KW`) —
    measured at 0.9837 cell agreement / 0.9195 recall against the
    reference's own cotter mwa-default golden, with every disagreeing
    cell within 2x of the decision threshold
    (tests/test_golden_mwa_flags.py), which compare it against the
    integer-tick twin :func:`mwa_strategy_mask_pols`."""
    cols = list(vis.columns)
    schema = vis.schema

    def per_baseline(pdf: pd.DataFrame) -> pd.DataFrame:
        ts = np.sort(pdf["t"].unique())
        chans = np.sort(pdf["chan"].unique())
        # vectorized rank lookup (ts/chans are sorted unique): a dict
        # .map here is a Python-level lookup PER CELL — at the scale
        # run's 43k-row groups that alone dominated the island's CPU
        rows = np.searchsorted(ts, pdf["t"].to_numpy())
        cs = np.searchsorted(chans, pdf["chan"].to_numpy())
        shape = (len(ts), len(chans))
        pol_imgs = {}
        for p in MWA_POLS:
            re = pdf[f"{p}_re"].to_numpy(dtype=np.float64)
            im = pdf[f"{p}_im"].to_numpy(dtype=np.float64)
            img = np.zeros(shape, dtype=np.float64)
            img[rows, cs] = np.hypot(re, im)
            pol_imgs[p] = img
        present = np.zeros(shape, dtype=bool)
        present[rows, cs] = True
        prior = np.zeros(shape, dtype=bool)
        prior[rows, cs] = pdf["flag"].to_numpy(dtype=bool)
        mask = mwa_strategy_mask_pols_float(
            pol_imgs, base_sensitivity=base_sensitivity,
            existing=prior, valid=present, eta=eta,
            chan_values=chans, **MWA_FLOAT_KW)
        out = pdf.copy()
        out["flag"] = pdf["flag"].to_numpy(dtype=bool) | mask[rows, cs]
        return out[cols]

    return vis.groupBy("ant1", "ant2").applyInPandas(per_baseline,
                                                     schema=schema)
