"""F9e golden: flag-for-flag comparison against the reference's own
cotter mwa-default run.

The reference flags RFI by FFI-ing the real AOFlagger with its
installed mwa-default.lua (src/flags.rs:354-437). Its committed fixture
`tests/data/1254670392_avg/1254670392.cotter.none.uvfits.csv` is the
CSV dump of `cotter -flag-strategy .../strategies/mwa-default.lua` on
the real (full-obs, averaged-to-2s/40kHz) 1254670392 visibilities with
every correction and preflag disabled (tests/data/README.md:394-412):
the dumped vis are exactly what the flagger saw, and the weight SIGNS
are its per-(baseline, timestep, channel) flag decisions — 11 cross
baselines x 2 timesteps x 768 channels of real-data golden flags.

Two implementations are gated:

FLOAT MODE (the CLI / 100 TB path, rfi.mwa_strategy_mask_pols_float
with rfi.MWA_FLOAT_KW — AOFlagger's own statistics: Winsorized-mode
noise, the 1.5^log2(M)/M threshold decay, the full 1..256 window
ladder, float Gaussian background fit at full frequency resolution,
uncentered thresholds per the C++ semantics, pol-chained priors).
Measured 2026-08 (round 7) at the published defaults (sensitivity 6):
  agreement 0.9837, recall 0.9195, precision 0.625
  (tp=400, fp=240, fn=35 of 16896 cells)
Residual breakdown (tools/margin_mwa_float.py, replayed at the SHIPPED
MWA_FLOAT_KW configuration — center=False, interleave, wmode —
regenerated round 8): EVERY disagreeing cell — fp and fn both — sits
within 2x of the final-pass decision threshold (fp quartiles
0.72/0.87/1.01, p95 1.18; fn 0.67/0.73/0.85, p95 0.92);
the largest coherent block is the legacy DC-spike channel
(chan % 32 == 16) where cotter itself flags only 352 of 528 cells, and
the rest are isolated single-cell margins spread over
chan % 32 = 3..28.

IRREDUCIBILITY, knobs (round 6, tools/tune_mwa_float.py::pareto_grid):
the full grid over the plausible published-default knobs — sensitivity
6/6.2/6.35/6.5 x final_ts_rms 3.5/4/4.5 x SIR eta 0.1/0.2 x
background-fit scope (masked vs self-subtracting) x noise estimator
(wmode/wstd/mad) — contains NO configuration with agreement >= 0.99 at
recall >= 0.90, and eta/final_ts_rms are inert here.

IRREDUCIBILITY, structure (round 7, tools/aof_port_probe.py): the
DISCRETE structural space of the public AOFlagger source — C++ pass
order (all time lengths then all frequency lengths,
thresholdconfig.cpp) vs interleaved; uncentered vs median-centered
thresholds; the C++ exclude-form window mean vs the paper's
substitute-chi form; the Lua channel-RMS-on-copy dataflow vs
sequential; independent vs chained polarization masks; iteration
count 2/3/4 x step 1.5/2.0; resize 1/3 — ALSO contains no config at
agreement >= 0.99 with recall >= 0.90. Front: 0.9864 @ recall 0.883;
best at recall >= 0.90 is the shipped 0.9837 @ 0.9195.

FIRST DIVERGING INTERMEDIATE (round 7 cell-level trace): at the DC
column, cotter's 352-of-528 flag pattern is NON-MONOTONE in the
locally-normalized spike height — the best single threshold on
spike/local-background misclassifies 141 of 528 DC cells (4.6x spikes
left unflagged by cotter while 1.03x spikes are flagged). No per-cell
statistic can reproduce a non-monotone decision set, so the divergence
enters BEFORE the threshold compare: in the iteration-1 mask state
that feeds the iteration-2 masked background fit and noise pool.
Those early decisions are themselves threshold-marginal (within 2x),
so exact agreement requires bit-level replication of the FFI'd C++
float pipeline's early-pass arithmetic — the published structure and
knobs are exhausted above. This is the committed arithmetic-level
closure of the round-6 ask.

TICK MODE (the hash-gated twin of the relational plan,
rfi.mwa_strategy_mask_pols): agreement 0.9804, recall 0.726 — kept as
a regression gate; its role is cross-engine exactness, not golden
parity.
"""

from __future__ import annotations

import csv
import pathlib

import numpy as np
import pytest

from birli_spark.operators import rfi

GOLDEN_CSV = pathlib.Path(
    "/root/reference/tests/data/1254670392_avg/"
    "1254670392.cotter.none.uvfits.csv")

needs_golden = pytest.mark.needs_reference(GOLDEN_CSV)


def load_golden():
    """-> {(ant1, ant2): (pol amplitude images (2, 768), cotter flags)}"""
    vis: dict = {}
    wt: dict = {}
    with GOLDEN_CSV.open() as f:
        r = csv.reader(f)
        next(r)
        for row in r:
            t, bl, pol, typ = (row[0].strip(), int(row[1]),
                               row[5].strip(), row[6].strip())
            vals = row[7:]
            if typ == "vis":
                vis[(t, bl, pol)] = np.array(
                    [complex(v.strip().replace("(", "").replace(")", ""))
                     for v in vals])
            else:
                wt[(t, bl, pol)] = np.array([float(v) for v in vals])
    ts = sorted({k[0] for k in wt})
    data = {}
    for bl in sorted({k[1] for k in wt}):
        a1, a2 = bl // 256, bl % 256
        pol_imgs = {p: np.abs(np.stack([vis[(t, bl, p)] for t in ts]))
                    for p in rfi.MWA_POLS}
        flags = np.stack([wt[(t, bl, "xx")] < 0 for t in ts])
        # flags are pol-joint in the dump (aoflagger masks are shared)
        for p in ("xy", "yx", "yy"):
            for i, t in enumerate(ts):
                assert ((wt[(t, bl, p)] < 0) == flags[i]).all()
        data[(a1, a2)] = (pol_imgs, flags)
    return data


def _confusion(detector, data, **kw):
    tp = fp = fn = tn = 0
    for (a1, a2), (pol_imgs, fl) in data.items():
        if a1 == a2:
            continue  # cotter never RFI-flags autos (-noflagautos)
        det = detector(pol_imgs, **kw)
        tp += int((det & fl).sum())
        fp += int((det & ~fl).sum())
        fn += int((~det & fl).sum())
        tn += int((~det & ~fl).sum())
    return tp, fp, fn, tn


@needs_golden
def test_mwa_float_agreement_vs_cotter_golden():
    """The CLI-default float mode: the round-5 recall gate (the round-4
    residual 0.726 -> measured 0.9218)."""
    data = load_golden()
    tp, fp, fn, tn = _confusion(rfi.mwa_strategy_mask_pols_float, data,
                                **rfi.MWA_FLOAT_KW)
    n = tp + fp + fn + tn
    agree = (tp + tn) / n
    recall = tp / (tp + fn)
    # measured 2026-08 (round 7 defaults): agree=0.9837, recall=0.9195,
    # fp=240 — regression
    # gate with a small buffer
    assert n == 11 * 2 * 768
    assert agree >= 0.975, (agree, tp, fp, fn)
    assert recall >= 0.90, (recall, tp, fn)
    # neither silent nor storm-flagging (golden rate is 0.0257)
    assert 0.015 <= (tp + fp) / n <= 0.06


@needs_golden
def test_mwa_strategy_agreement_vs_cotter_golden():
    """The integer-tick twin (hash-gated vs the relational plan):
    regression gate at its round-4 measurement."""
    data = load_golden()
    tp, fp, fn, tn = _confusion(rfi.mwa_strategy_mask_pols, data)
    n = tp + fp + fn + tn
    agree = (tp + tn) / n
    recall = tp / (tp + fn)
    # measured 2026-08: agree=0.9804, recall=0.726, fp=212/16896 at the
    # published defaults — regression gate with a small buffer
    assert n == 11 * 2 * 768
    assert agree >= 0.975, (agree, tp, fp, fn)
    assert recall >= 0.65, (recall, tp, fn)
    # the flagger must stay in the golden's order of magnitude: neither
    # silent (no detections) nor storm-flagging
    assert 0.015 <= (tp + fp) / n <= 0.06


@needs_golden
def test_mwa_float_autos_stay_clean_in_band_body():
    """The auto (1, 1) has ZERO golden flags. The float mode's Gaussian
    fit at full frequency resolution tracks the PFB rolloff better than
    the tick mode's integer fit; pin that the mid-subband body stays
    clean (edge channels are F3-preflagged in any real pipeline)."""
    data = load_golden()
    pol_imgs, fl = data[(1, 1)]
    assert fl.sum() == 0
    det = rfi.mwa_strategy_mask_pols_float(pol_imgs, **rfi.MWA_FLOAT_KW)
    edgeish = {0, 1, 2, 3, 16, 28, 29, 30, 31}
    body = np.array([c % 32 not in edgeish for c in range(768)])
    assert det[:, body].mean() < 0.01, det[:, body].mean()
    assert det.mean() < 0.25


@needs_golden
def test_mwa_strategy_autos_residual_confined_to_subband_edges():
    """The auto (1, 1) has ZERO golden flags. Our strategy's documented
    residual on autos: the steep PFB rolloff at the subband EDGE
    channels outruns the integer Gaussian fit and gets flagged (cotter's
    float fit tolerated it). Pin that the mid-subband body stays clean —
    edge channels are F3-preflagged in any real pipeline (the reference
    flags 80 kHz edges by default), so this residual is inert there."""
    data = load_golden()
    pol_imgs, fl = data[(1, 1)]
    assert fl.sum() == 0
    det = rfi.mwa_strategy_mask_pols(pol_imgs)
    edgeish = {0, 1, 2, 3, 16, 28, 29, 30, 31}
    body = np.array([c % 32 not in edgeish for c in range(768)])
    assert det[:, body].mean() < 0.01, det[:, body].mean()
    assert det.mean() < 0.25


# ---------------------------------------------------------------------------
# SECOND independent real golden (VERDICT r8 ask 4): obs 1196175296.
# The reference ships the real 128-tile legacy archive (4 gpubox files,
# 2 coarse channels x 2 fine, 4 scans) TOGETHER with cotter's own
# mwa-default mwaf output (FlagfileCotterMWA01/02.mwaf, COTVER 4.5).
# Decomposing those mwaf bits shows cotter's aoflagger pass flagged
# EXACTLY the metafits-flagged-antenna baselines and nothing else —
# zero RFI detections on the clean baselines. The generalization gate
# is therefore a false-positive bound: the float detector, run on the
# same real visibilities, must stay (near-)silent on the 6.9k clean
# cross baselines. This is measured on a different array config,
# different channel shape (4x4 vs 2x768 images) and different epoch
# than the 1254670392 golden above — the agreement there is not
# fixture-specific.
# ---------------------------------------------------------------------------

MWA_ORD = pathlib.Path("/root/reference/tests/data/1196175296_mwa_ord")

needs_1196 = pytest.mark.needs_reference(MWA_ORD)


def _cotter_mwaf_flags_1196():
    """-> bool[(t=4, bl=8256, chan=4)] from the two CotterMWA mwaf."""
    from birli_spark.sources import fitscore as fc
    per_gp = []
    for gp in (1, 2):
        raw = (MWA_ORD / f"FlagfileCotterMWA{gp:02d}.mwaf").read_bytes()
        primary, off = fc.parse_header(raw)
        hdr, off2 = fc.parse_header(raw, off)
        n2, n1 = int(hdr["NAXIS2"]), int(hdr["NAXIS1"])
        packed = np.frombuffer(raw, np.uint8, count=n2 * n1,
                               offset=off2).reshape(n2, n1)
        bits = np.unpackbits(packed, axis=1, bitorder="big")[:, :2]
        per_gp.append(bits.astype(bool).reshape(4, 8256, 2))
    return np.concatenate(per_gp, axis=2)


@needs_1196
def test_mwa_float_second_golden_1196175296(spark):
    """f9f on REAL 1196175296 visibilities vs cotter's own mwa-default
    flags: cotter's aoflagger found nothing beyond the flagged-antenna
    rule, so the float detector must hold a (near-)zero
    false-positive rate across every clean cross baseline."""
    from birli_spark import real_input
    from birli_spark.sources import metafits as mf

    golden = _cotter_mwaf_flags_1196()
    meta, tiledata = real_input.load_obs(str(MWA_ORD / "1196175296.metafits"))
    flagged_ants = {r["ant"] for r in mf.antenna_rows(tiledata)
                    if r["flagged"]}
    # sanity: cotter's flags are exactly the flagged-antenna baselines
    pairs = np.array([(a1, a2) for a1 in range(128)
                      for a2 in range(a1, 128)])
    bad = np.isin(pairs, sorted(flagged_ants)).any(axis=1)
    assert (golden == bad[None, :, None]).all(), \
        "golden decomposition changed — revisit the gate"

    glob_pat = str(MWA_ORD / "1196175296_*gpubox*.fits")
    vis = real_input.load_vis_real(spark, meta, glob_pat,
                                   metafits_path=str(
                                       MWA_ORD / "1196175296.metafits"))
    pdf = vis.select("t", "ant1", "ant2", "chan",
                     *[f"{p}_re" for p in rfi.MWA_POLS],
                     *[f"{p}_im" for p in rfi.MWA_POLS]).toPandas()
    n_detected = n_cells = n_bl = 0
    for (a1, a2), g in pdf.groupby(["ant1", "ant2"]):
        if a1 == a2 or a1 in flagged_ants or a2 in flagged_ants:
            continue  # autos / rule-flagged: not part of the RFI gate
        ts = np.sort(g["t"].unique())
        chans = np.sort(g["chan"].unique())
        rows = np.searchsorted(ts, g["t"].to_numpy())
        cs = np.searchsorted(chans, g["chan"].to_numpy())
        shape = (len(ts), len(chans))
        pol_imgs = {}
        for p in rfi.MWA_POLS:
            img = np.zeros(shape)
            img[rows, cs] = np.hypot(g[f"{p}_re"].to_numpy(),
                                     g[f"{p}_im"].to_numpy())
            pol_imgs[p] = img
        det = rfi.mwa_strategy_mask_pols_float(pol_imgs,
                                               chan_values=chans,
                                               **rfi.MWA_FLOAT_KW)
        n_detected += int(det.sum())
        n_cells += det.size
        n_bl += 1
    assert n_bl > 6000 and n_cells == n_bl * 16
    fp_rate = n_detected / n_cells
    # Measured 2026-08 (round 8): 0 detections over 110,448 cells /
    # 6,903 clean baselines — EXACT agreement with cotter's own 0.
    # Gate with headroom for platform float jitter.
    assert fp_rate < 0.01, (n_detected, n_cells, fp_rate)
