"""CLI golden acceptance for `--apply-di-cal` on obs 1254670392 — the
reference's compare_cotter_ms_nocorrect_norfi_cal and
compare_cotter_ms_none_norfi_cal_partial (src/cli.rs:3624,3679).

The 1254690096.bin calibration-solutions file those tests consume is not
shipped in the reference repository. It is RECOVERED here from the
reference's own golden dumps by the C7 StEFCal solver
(operators/calibration.solve_di_gains): with model = the `none` dump
(the uncorrected visibilities, conjugated to the MS/internal convention)
and data = the `norfi.cal` dump, the per-fine-channel diagonal system
``D_0q = diag(g_0) M_0q diag(g_q)^H`` is OVERDETERMINED — 33 complex
equations per channel (8 full-pol baselines x 4 pols + the (0,9) xx row)
for 18 free unknowns (2 gains x 10 antennas - 2 phase gauges) — and the
solve closes at ~1e-8 relative residual, which is the f32 precision of
the dumps. That residual is the non-circularity proof: a wrong model
(wrong convention, wrong channel mapping, non-diagonal or
coarser-than-fine solutions) leaves percent-level residuals (measured:
per-COARSE-channel constant full-Jones leaves 2-8%).

The recovered solutions are then written to a real MWAOCAL .bin
(sources/aocal.write_mwaocal — 128 tiles x 768 channels, identity rows
for the antennas the dumps never constrain, NaN Y-gains exactly where
the dump's NaN pattern places them) and the WHOLE CLI runs
`--apply-di-cal` over the reconstructed 24-file archive:

- full variant vs 1254670392.cotter.none.norfi.cal.ms.csv — same args
  as the reference test (no corrections, no rfi, unitary pfb);
- partial variant vs ...cal.partial.ms.csv — only gpubox22/23/24
  provided (= sky channels 133/132/131 = OUTPUT coarse channels 2/1/0
  under the legacy sky-reversed numbering), proving the
  solution-channel slicing the reference implements at
  src/cli.rs:1646-1667 composes with the sky-reversal: the partial
  dump is bit-identical to the full dump's channels 0..95 (verified in
  the fixture), and our output must match it through the 3-file read.

NaN semantics: a NaN Jones entry propagates NaN into exactly the output
pols whose sandwich touches it (diag solutions: Y-row NaN -> xy/yx/yy
of the affected baselines) and the comparator requires our cells to be
non-finite precisely where the golden's are.
"""

from __future__ import annotations

import csv

import numpy as np
import pytest

from test_cli_golden_1254670392 import (  # noqa: F401  (module import)
    REF_DIR, META, compare_ms_with_csv)

pytestmark = pytest.mark.needs_reference(REF_DIR)

POLS = ("xx", "xy", "yx", "yy")
N_CHAN = 768
N_TILE = 128
CAL_CSV = f"{REF_DIR}/1254670392.cotter.none.norfi.cal.ms.csv"
PARTIAL_CSV = f"{REF_DIR}/1254670392.cotter.none.norfi.cal.partial.ms.csv"


def _read_uvfits_vis(path):
    out = {}
    with open(path) as f:
        r = csv.reader(f)
        next(r)
        for rec in r:
            if rec[6].strip() != "vis":
                continue
            key = (float(rec[0]), int(rec[1]), rec[5].strip())
            out[key] = np.array([complex(v.strip()) for v in rec[7:]])
    return out


def _read_ms_vis(path):
    out = {}
    with open(path) as f:
        for rec in csv.reader(f):
            if rec[0].strip() == "time" or rec[6].strip() != "vis":
                continue
            out[(int(rec[1]), int(rec[2]), rec[7].strip())] = np.array(
                [complex(v.strip()) for v in rec[8:]])
    return out


@pytest.fixture(scope="module")
def recovered_bin(spark, tmp_path_factory):
    """Solve for the gains cotter applied and write them as MWAOCAL.

    Runs the DISTRIBUTED solver (groupBy(chan-block).applyInPandas) on a
    pairs DataFrame built from the two dumps — so this fixture is also
    the C7 operator's real-data test."""
    from birli_spark.operators.calibration import (
        SOLVE_IN_COLS, solve_di_gains)
    from birli_spark.sources.aocal import write_mwaocal

    none = _read_uvfits_vis(f"{REF_DIR}/1254670392.cotter.none.uvfits.csv")
    cal = _read_ms_vis(CAL_CSV)
    jd0 = min(k[0] for k in none)         # the dumped MS timestep
    rows = []
    for q in range(1, 10):
        blc = 256 * 1 + (q + 1)
        # model in the MS/internal convention = conj of the uvfits dump
        m = {p: np.conj(none[(jd0, blc, p)]) for p in POLS}
        d = {p: (cal[(0, q, p)] if (0, q, p) in cal
                 else np.full(N_CHAN, np.nan, dtype=complex))
             for p in POLS}
        for c in range(N_CHAN):
            vals = []
            for p in POLS:
                vals += [float(m[p][c].real), float(m[p][c].imag)]
            for p in POLS:
                vals += [float(d[p][c].real), float(d[p][c].imag)]
            rows.append((c, 0, q, *vals))
    pairs = spark.createDataFrame(
        rows, ["chan", "ant1", "ant2", *SOLVE_IN_COLS])
    sol = solve_di_gains(pairs, n_ant=10).toPandas()

    # every channel closes at the dumps' f32 precision (the amplitude-
    # weighted residual is ~1e-8; the per-channel max is set by the
    # faintest channels, where the dumps' f32 quantisation is a larger
    # relative term). A wrong model leaves PERCENT-level residuals.
    med = float(sol["rel_residual"].median())
    worst = float(sol["rel_residual"].max())
    assert med < 1e-6, f"median solver residual {med} — model mismatch"
    assert worst < 1e-4, f"max solver residual {worst} — model mismatch"
    assert sol["chan"].nunique() == N_CHAN

    di = np.zeros((1, N_TILE, N_CHAN, 8), dtype=np.float64)
    di[..., 0] = 1.0    # identity for unconstrained tiles
    di[..., 6] = 1.0
    for r in sol.itertuples():
        di[0, r.ant, r.chan] = (r.gx_re, r.gx_im, 0.0, 0.0,
                                0.0, 0.0, r.gy_re, r.gy_im)
    # dump-truncated rows leave ant 9's Y chain unconstrained (only its
    # xx row survives in the CSV); identity there — the comparator has
    # no cells to check against it
    nine = sol[sol["ant"] == 9]
    assert nine["gy_re"].isna().all()
    di[0, 9, :, 6], di[0, 9, :, 7] = np.where(
        np.isnan(di[0, 9, :, 6]), 1.0, di[0, 9, :, 6]), 0.0
    path = str(tmp_path_factory.mktemp("calsol") / "1254690096.recovered.bin")
    write_mwaocal(path, di)
    return path


CAL_ARGS = ["--no-rfi", "--no-digital-gains", "--pfb-gains", "none",
            "--no-cable-delay", "--no-geometric-delay",
            "--flag-init", "0", "--no-flag-dc", "--no-draw-progress",
            "--sel-ants", *[str(a) for a in range(10)]]


def test_cli_cal_matches_cotter_golden(spark, tmp_path, gpubox_dir,
                                       recovered_bin):
    """`--apply-di-cal` through the WHOLE CLI on all 24 files vs
    Cotter's norfi.cal MS dump (the reference's
    compare_cotter_ms_nocorrect_norfi_cal, src/cli.rs:3624 — same
    args). Tolerance: the recovered solutions carry the dumps' f32
    noise; the applied product stays within ~1e-5 relative."""
    from birli_spark import cli
    out = str(tmp_path / "cal.ms")
    cli.run(["-m", META, "--gpubox", gpubox_dir["glob"],
             *CAL_ARGS, "--apply-di-cal", recovered_bin, "-M", out],
            spark=spark)
    n = compare_ms_with_csv(out, CAL_CSV, vis_rtol=1e-4, vis_atol=1e-2)
    # 8 full-pol baselines x 768 chans x 4 pols + the (0,9) xx row
    assert n == 8 * 768 * 4 + 768


def test_cli_cal_partial_matches_cotter_golden(spark, tmp_path,
                                               gpubox_dir, recovered_bin):
    """The 768-channel solutions applied to a 3-coarse-channel subset
    (gpubox22/23/24 = output coarse 2/1/0 under sky-reversal) vs the
    partial dump — the reference's
    compare_cotter_ms_none_norfi_cal_partial (src/cli.rs:3679,
    gpufits_paths[21..]). Proves the solution-channel slicing
    (src/cli.rs:1646-1667) composed with the legacy sky-reversed file
    numbering."""
    from birli_spark import cli
    glob = gpubox_dir["glob"].replace("*gpubox*", "*gpubox2[234]_00")
    out = str(tmp_path / "cal_partial.ms")
    cli.run(["-m", META, "--gpubox", glob,
             *CAL_ARGS, "--apply-di-cal", recovered_bin, "-M", out],
            spark=spark)
    n = compare_ms_with_csv(out, PARTIAL_CSV, vis_rtol=1e-4,
                            vis_atol=1e-2, n_chan=96)
    assert n == 8 * 96 * 4 + 96
