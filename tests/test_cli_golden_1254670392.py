"""CLI-level golden acceptance on obs 1254670392 — the reference's own
trust anchor (src/cli.rs compare_cotter_uvfits_* / test_common.rs
compare_uvfits_with_csv): run the WHOLE CLI (`-m metafits --gpubox ...
-u out.uvfits`) and compare the physically WRITTEN UVFITS file against
Cotter's golden CSVs, cell for cell and group-param for group-param.

The raw 24-file gpubox archive is not shipped in the reference
repository (only the metafits + golden CSV dumps are), so the input is
reconstructed bit-faithfully from the reference's own `none` dump by
tools/make_1254670392_fixture.py: the `none` variant IS the uncorrected
visibilities, so seeding them back through the inverse legacy slot
layout yields input files whose uncorrected read-back equals the dump
exactly (validated below), and the correction variants then prove the
composed CLI chain — real metafits dims, distributed legacy scan,
leap-second UTC stamping, cable phasor, IAU-2006 precessed UVWs +
geometric phasor, f32 random-groups write — against Cotter's output.

Comparison semantics mirror the reference comparator:
- the file's visibilities are CONJUGATED before matching the CSV
  (src/test_common.rs:386-387 — Cotter's dumps are in the conjugate
  convention relative to the written files),
- autos are skipped (the reference passes ignore_autos=true; Cotter
  zeroes auto cross-hands artificially),
- weights are ignored where Cotter's aoflagger flags enter them (the
  reference's norfi variant does the same, ignore_weights=true).

The `cal`/`cal.partial` MS dumps are covered in
tests/test_cli_golden_cal.py: the unshipped 1254690096.bin calsol file
is RECOVERED from the dumps themselves by the C7 StEFCal solver (the
per-fine-channel diagonal system is overdetermined — 33 complex
equations per channel for 18 unknowns — and closes at ~1e-8 relative
residual, so the recovery is a genuine consistency proof, not a refit).
The one dump NOT covered anywhere: the `phase-point` MS dump is
#[ignore]'d by the reference itself (its issue #164: --pointing-centre
yields the obs-start RA/Dec while Cotter tracked a fixed az/el) —
unmatchable by either engine.
"""

from __future__ import annotations

import csv

import numpy as np
import pytest

REF_DIR = "/root/reference/tests/data/1254670392_avg"
META = f"{REF_DIR}/1254670392.fixed.metafits"

pytestmark = pytest.mark.needs_reference(REF_DIR)

#: UVFITS pol axis order — ours and the reference comparator's
POL_ORDER = ("xx", "yy", "xy", "yx")
_C = 299792458.0


# the shared gpubox_dir fixture (reconstructed 24-file archive) lives in
# conftest.py — it is also used by tests/test_cli_golden_cal.py


def read_csv_records(path: str):
    """[(jd, blc, pol, type, values[f64 complex/float])] in file order."""
    out = []
    with open(path) as f:
        r = csv.reader(f)
        next(r)
        for rec in r:
            typ = rec[6].strip()
            vals = [v.strip() for v in rec[7:]]
            out.append((
                float(rec[0]), int(rec[1]), rec[5].strip(), typ,
                (float(rec[2]), float(rec[3]), float(rec[4])),
                np.array([complex(v) for v in vals]) if typ == "vis"
                else np.array([float(v) for v in vals])))
    return out


def compare_uvfits_with_csv(uvfits_path, csv_path, *, vis_rtol, vis_atol,
                            ignore_weights=True, ignore_autos=True,
                            uvw_atol_s=1e-10, jd_eps_days=1e-5,
                            chan_filter=None, bl_filter=None,
                            check_uvw=True, chan_map=None):
    """Python port of the reference's compare_uvfits_with_csv
    (src/test_common.rs:208-480). Returns the number of compared
    visibility cells; raises AssertionError with context on the first
    mismatch. ``chan_filter(blc) -> iterable`` restricts the compared
    channels per baseline (the averaging variant excludes cells
    Cotter's aoflagger flags fed into). ``chan_map`` (file channel
    index -> CSV channel index, a sequence) compares a CHANNEL-SELECTED
    file against the full-band dump — the selection/picket variants
    write only the selected channels, in sorted global order."""
    from birli_spark.sinks import uvfits as uvsink
    header, params, data = uvsink.read_uvfits(uvfits_path)
    assert int(header["NAXIS3"]) == 4
    n_chan = int(header["NAXIS4"])

    # index file groups by baseline; match times within jd_eps
    by_bl: dict = {}
    for g in range(params.shape[0]):
        by_bl.setdefault(int(round(params[g, 3])), []).append(g)

    def find_group(blc, jd):
        for g in by_bl.get(blc, ()):
            if abs(params[g, 4] - jd) < jd_eps_days:
                return g
        raise AssertionError(
            f"no written group for baseline {blc} at jd {jd!r}; "
            f"file has {params.shape[0]} groups")

    n_cells = 0
    for jd, blc, pol, typ, uvw, vals in read_csv_records(csv_path):
        a1, a2 = blc // 256, blc % 256
        if ignore_autos and a1 == a2:
            continue
        if bl_filter is not None and blc not in bl_filter:
            continue
        g = find_group(blc, jd)
        # group params: u, v, w in seconds
        for i, name in enumerate(("u", "v", "w")):
            if not check_uvw:
                break
            assert abs(params[g, i] - uvw[i]) < uvw_atol_s, (
                f"group param {name} mismatch bl {blc} jd {jd}: "
                f"file {params[g, i]!r} csv {uvw[i]!r}")
        p = POL_ORDER.index(pol)
        if chan_map is None:
            assert len(vals) == n_chan, (len(vals), n_chan)
        else:
            assert len(chan_map) == n_chan, (len(chan_map), n_chan)
        chans = (range(n_chan) if chan_filter is None
                 else chan_filter(blc))

        def csv_c(c):
            return c if chan_map is None else chan_map[c]
        if typ == "vis":
            # conjugate the file, like the reference comparator; the
            # error gate is on the COMPLEX distance (a phase-bounded
            # residual rotates the whole cell, so per-component
            # relative checks misfire on near-axis cells)
            got = data[g, :, p, 0] - 1j * data[g, :, p, 1]
            for c in chans:
                want = vals[csv_c(c)]
                d = abs(got[c] - want)
                lim = vis_atol + vis_rtol * abs(want)
                assert d <= lim, (
                    f"vis mismatch bl {blc} jd {jd} pol {pol} chan {c}: "
                    f"file {got[c]!r} csv {want!r} (|d|={d!r})")
                n_cells += 1
        elif not ignore_weights:
            got_w = data[g, :, p, 2]
            for c in chans:
                assert abs(got_w[c] - vals[csv_c(c)]) <= 1e-4, (
                    f"weight mismatch bl {blc} jd {jd} pol {pol} "
                    f"chan {c}: file {got_w[c]!r} csv {vals[csv_c(c)]!r}")
    return n_cells


SEL_ANTS = [str(a) for a in range(12)]   # the dump's baselines (0, 0..11)

BASE_ARGS = ["--no-rfi", "--no-digital-gains", "--pfb-gains", "none",
             "--flag-init", "0", "--no-flag-dc", "--no-draw-progress",
             "--sel-ants", *SEL_ANTS]


def _run_cli(spark, gpubox_dir, out, extra):
    from birli_spark import cli
    return cli.run(["-m", META, "--gpubox", gpubox_dir["glob"],
                    *BASE_ARGS, *extra, "-u", out], spark=spark)


def test_cli_none_matches_cotter_golden(spark, tmp_path, gpubox_dir):
    """No corrections: the written file must reproduce Cotter's `none`
    dump essentially exactly (the only arithmetic between the input
    and the file is the f32 store), INCLUDING the UVW/DATE group
    params (the reference computes UVWs even with corrections off —
    its nocorrect tests compare them; ignore_uvw=false there)."""
    out = str(tmp_path / "none.uvfits")
    _run_cli(spark, gpubox_dir, out,
             ["--no-cable-delay", "--no-geometric-delay"])
    n = compare_uvfits_with_csv(
        out, f"{REF_DIR}/1254670392.cotter.none.uvfits.csv",
        vis_rtol=1e-6, vis_atol=1e-4,
        # casacore-vs-our-precession residual is < 2 mm (=6.7e-12 s);
        # gate at 1 cm
        uvw_atol_s=3.4e-11)
    # 11 cross baselines x 2 timesteps x 4 pols x 768 chans
    assert n == 11 * 2 * 4 * 768


def test_cli_geom_cable_matches_cotter_golden(spark, tmp_path,
                                              gpubox_dir):
    """Cable + geometric corrections through the WHOLE CLI vs Cotter's
    `corrected` dump — the composition the reference trusts most
    (compare_cotter_uvfits_geom_cable_rfi, src/cli.rs:3368).

    Tolerance physics: the reference FFIs the same casacore Cotter
    used, so its margin is F32Margin(1e-4); our IAU-2006 precession
    chain reproduces casacore's UVWs to |dw| <= 1.3 mm (gated below at
    2 mm), which bounds the phasor-rotated vis error by
    |v| * 2*pi*dw/lambda_min = |v| * 2*pi*0.0013/1.64 = 5.3e-3*|v| —
    the measured max rel error is exactly 5.3e-3 (4e-3 with the real
    UT1-UTC of the epoch), i.e. the residual IS the published-ephemeris
    boundary (UT1/polar motion/nutation tail vs casacore's IERS
    tables), not a pipeline defect."""
    out = str(tmp_path / "corrected.uvfits")
    _run_cli(spark, gpubox_dir, out, [])
    n = compare_uvfits_with_csv(
        out, f"{REF_DIR}/1254670392.cotter.corrected.uvfits.csv",
        vis_rtol=6e-3, vis_atol=5e-2,
        uvw_atol_s=2e-3 / _C)
    assert n > 0


def test_cli_cable_only_matches_cotter_golden(spark, tmp_path,
                                              gpubox_dir):
    """Cable-only variant vs Cotter's `cable` dump
    (compare_cotter_uvfits_cable_only shape)."""
    out = str(tmp_path / "cable.uvfits")
    _run_cli(spark, gpubox_dir, out, ["--no-geometric-delay"])
    n = compare_uvfits_with_csv(
        out, f"{REF_DIR}/1254670392.cotter.cable.uvfits.csv",
        vis_rtol=2e-5, vis_atol=2e-2, uvw_atol_s=3.4e-11)
    assert n == 11 * 2 * 4 * 768


def test_cli_geom_only_matches_cotter_golden(spark, tmp_path,
                                             gpubox_dir):
    """Geometry-only variant vs Cotter's `geom` dump — completes the
    CLI-level matrix over every coverable shipped dump (none/cable/
    geom/corrected/phase0/avg/vv + the MS family): cable OFF, geometric
    phasor + precessed UVWs ON. Same phase-bound tolerance as the
    corrected variant (the residual is the published-ephemeris UVW
    boundary, 2 mm)."""
    out = str(tmp_path / "geom.uvfits")
    _run_cli(spark, gpubox_dir, out, ["--no-cable-delay"])
    n = compare_uvfits_with_csv(
        out, f"{REF_DIR}/1254670392.cotter.geom.uvfits.csv",
        vis_rtol=6e-3, vis_atol=5e-2, uvw_atol_s=2e-3 / _C)
    assert n == 11 * 2 * 4 * 768


def test_cli_avg_matches_cotter_golden(spark, tmp_path, gpubox_dir):
    """Averaging to 4 s / 160 kHz through the CLI vs Cotter's avg dump
    (compare_cotter_uvfits_none_avg_4s_160khz shape). Cotter's average
    excludes ITS aoflagger-flagged cells; ours (--no-rfi) includes all
    — so only output cells with NO flagged contributor are compared
    (the flag set comes from the golden `none` dump's weight signs)."""
    out = str(tmp_path / "avg.uvfits")
    _run_cli(spark, gpubox_dir, out,
             ["--no-cable-delay", "--no-geometric-delay",
              "--avg-time-factor", "2", "--avg-freq-factor", "4"])

    # per baseline: output channels whose full 2 (t) x 4 (chan) input
    # block Cotter averaged unflagged (flag set = the golden `none`
    # dump's own weight signs, i.e. Cotter's aoflagger output)
    flagged_in: dict = {}
    for _jd, blc, _pol, typ, _uvw, vals in read_csv_records(
            f"{REF_DIR}/1254670392.cotter.none.uvfits.csv"):
        if typ != "weight":
            continue
        flagged_in.setdefault(blc, set()).update(
            int(c) for c in np.flatnonzero(vals < 0))
    clean_out = {blc: [c for c in range(192)
                       if c not in {b // 4 for b in bad}]
                 for blc, bad in flagged_in.items()}

    csv_path = f"{REF_DIR}/1254670392.cotter.none.avg_4s_160khz.uvfits.csv"
    n = compare_uvfits_with_csv(
        out, csv_path, vis_rtol=2e-6, vis_atol=1e-3,
        uvw_atol_s=3.4e-11, chan_filter=lambda blc: clean_out[blc])
    # most of the 192 output channels x 11 cross baselines x 4 pols
    # survive the clean-block restriction
    assert n > 11 * 4 * 150


def test_cli_van_vleck_matches_pyuvdata_golden(spark, tmp_path,
                                               gpubox_dir):
    """--van-vleck through the WHOLE CLI on gpubox01 only, vs
    pyuvdata's vvnoc golden — the reference's compare_pyuvdata_vvnoc
    (src/cli.rs:4367: same single file, --sel-time 0 0, margin 1e-3,
    autos and uvws ignored). The sample scale derives from the real
    metadata: fine_width x int_time_ms/500 x gpubox BSCALE
    (src/van_vleck.rs get_vv_sample_scale) = 40 kHz x 4 x 0.125 =
    20000, with BSCALE read from the gpubox headers.

    Comparable set: Van Vleck needs BOTH antennas' autos, and the
    golden dumps carry autos only for ants 0 and 1 — so the gate is
    the (0, 1) cross (every channel, every pol), exactly the scope the
    reference's own operator-level cross-check has on these dumps."""
    from birli_spark import cli
    gp01 = gpubox_dir["glob"].replace("*gpubox*", "*gpubox01_00")
    out = str(tmp_path / "vv.uvfits")
    cli.run(["-m", META, "--gpubox", gp01,
             "--sel-time", "0", "0", "--van-vleck",
             "--no-rfi", "--no-digital-gains", "--pfb-gains", "none",
             "--no-cable-delay", "--no-geometric-delay",
             "--flag-init", "0", "--no-flag-dc", "--no-draw-progress",
             "-u", out], spark=spark)
    n = compare_uvfits_with_csv(
        out, f"{REF_DIR}/pyuvdata_1254670392.vvnoc.csv",
        vis_rtol=2e-4, vis_atol=1e-3,
        bl_filter={257, 258, 514}, check_uvw=False)
    # the (0, 1) cross: 32 chans x 4 pols
    assert n == 32 * 4


def test_cli_custom_phase_centre_matches_cotter_golden(spark, tmp_path,
                                                       gpubox_dir):
    """--phase-centre 0 0 (an ARBITRARY centre, not the metafits
    RAPHASE/DECPHASE) through the whole CLI vs Cotter's phase0 dump —
    the reference's compare_cotter_uvfits_geom_cable_rfi_phase_custom
    (src/cli.rs:3448: cotter ran with `-centre 00h00m00s 00d00m00s`).
    Phase-bound tolerance consistent with the 2 mm UVW gate:
    2*pi*0.002/lambda_min(1.64 m) = 7.7e-3 of |v| (the dec-0 target
    sits lower than the metafits centre, so w and its mm residual are
    slightly larger than the corrected variant's)."""
    out = str(tmp_path / "phase0.uvfits")
    _run_cli(spark, gpubox_dir, out, ["--phase-centre", "0.0", "0.0"])
    n = compare_uvfits_with_csv(
        out, f"{REF_DIR}/1254670392.cotter.corrected.phase0.uvfits.csv",
        vis_rtol=8e-3, vis_atol=5e-2, uvw_atol_s=2e-3 / _C)
    assert n == 11 * 2 * 4 * 768


def test_cli_selection_picket_matches_cotter_golden_subset(
        spark, tmp_path, gpubox_dir):
    """Selection (P2 retain-antennas) composed with PICKET coarse-
    channel ranges (P5, a non-contiguous --sel-chan-ranges) through the
    real-input CLI, gated against the corresponding SUBSET of Cotter's
    `none` dump (VERDICT r6 ask 7). The written file carries ONLY the
    selected baselines and the 4 picket coarse channels (128 of 768
    fine channels, in sorted global order), so the gate proves the
    selection reached the scan (pushdown, not post-filtering) AND that
    the kept cells are byte-equal to the unselected run's — cell
    values, bl codes, UVW/DATE group params."""
    out = str(tmp_path / "sel_picket.uvfits")
    sel = (2, 3, 5, 7, 11)
    _run_cli(spark, gpubox_dir, out,
             ["--no-cable-delay", "--no-geometric-delay",
              "--sel-ants", "0", *[str(a) for a in sel],
              "--sel-chan-ranges", "5-6,9-10"])
    sel_ccs = (5, 6, 9, 10)
    chan_map = [cc * 32 + fc for cc in sel_ccs for fc in range(32)]
    # dump blc codes are 1-based: (0, a) -> 256*1 + (a+1)
    bl_filter = {256 + a + 1 for a in sel}
    n = compare_uvfits_with_csv(
        out, f"{REF_DIR}/1254670392.cotter.none.uvfits.csv",
        vis_rtol=1e-6, vis_atol=1e-4, uvw_atol_s=3.4e-11,
        chan_map=chan_map, bl_filter=bl_filter)
    # 5 retained cross baselines x 2 timesteps x 4 pols x 128 chans
    assert n == 5 * 2 * 4 * 128


def test_cli_none_matches_pyuvdata_golden(spark, tmp_path, gpubox_dir):
    """The WHOLE CLI on gpubox01 with the FULL 128-antenna array vs
    pyuvdata's independent `none` dump — the reference's
    compare_pyuvdata_1254670392_avg_none (src/cli.rs:4294: same args —
    single file, --sel-time 0 0, no corrections, margin 1e-3, autos and
    uvws ignored, weights absent from the dump). Unlike the Cotter-dump
    variants (baselines (0, 0..11) only), this dump carries ~250
    baselines including the (1, 2..122) family — exercising the legacy
    PFB-lane slot layout at antenna indices the ant-0 star never
    touches, against a SECOND independent reader's values."""
    from birli_spark import cli
    gp01 = gpubox_dir["glob"].replace("*gpubox*", "*gpubox01_00")
    out = str(tmp_path / "pyuv_none.uvfits")
    cli.run(["-m", META, "--gpubox", gp01,
             "--sel-time", "0", "0",
             "--no-rfi", "--no-digital-gains", "--pfb-gains", "none",
             "--no-cable-delay", "--no-geometric-delay",
             "--flag-init", "0", "--no-flag-dc", "--flag-edge-chans", "0",
             "--no-draw-progress", "-u", out], spark=spark)
    n = compare_uvfits_with_csv(
        out, f"{REF_DIR}/pyuvdata_1254670392.none.csv",
        vis_rtol=1e-6, vis_atol=1e-3, check_uvw=False)
    # every cross baseline the dump carries, all 32 chans x 4 pols
    assert n >= 240 * 32 * 4


def compare_ms_with_csv(ms_path, csv_path, *, vis_rtol, vis_atol,
                        check_uvw=False, n_chan=768,
                        chan_filter=None):
    """Python port of the reference's compare_ms_with_csv
    (src/test_common.rs:482+): DATA unconjugated, UVW meters, UTC casa
    seconds; autos skipped; weights/flags skipped (they carry Cotter's
    aoflagger decisions). Returns compared vis cells."""
    from birli_spark.sinks.ms_file import main_cells_frame
    pdf = main_cells_frame(ms_path)
    by = {}
    for _, r in pdf.iterrows():
        by[(int(r.antenna1), int(r.antenna2), int(r.chan),
            int(r.time_block))] = r
    n_cells = 0
    for rec in csv.reader(open(csv_path)):
        if rec[0].strip() == "time":
            continue
        t_casa = float(rec[0])
        a1, a2 = int(rec[1]), int(rec[2])
        if a1 == a2:
            continue
        typ, pol = rec[6].strip(), rec[7].strip()
        if typ != "vis":
            continue
        uvw = (float(rec[3]), float(rec[4]), float(rec[5]))
        vals = [complex(v.strip()) for v in rec[8:]]
        assert len(vals) == n_chan
        chans = (range(n_chan) if chan_filter is None
                 else chan_filter(a1, a2))
        for c in chans:
            want = vals[c]
            r = by[(a1, a2, c, 0)]
            if c == 0:
                assert abs(r.time_mjd_s - t_casa) < 1e-3, (
                    r.time_mjd_s, t_casa)
                if check_uvw:
                    for got_u, want_u in zip(
                            (r.uvw_u, r.uvw_v, r.uvw_w), uvw):
                        assert abs(got_u - want_u) < 2e-3, (
                            got_u, want_u)
            got = complex(r[f"data_{pol}_re"], r[f"data_{pol}_im"])
            if not (np.isfinite(want.real) and np.isfinite(want.imag)):
                # NaN-solution channels (the norfi.cal dumps): the cell
                # must be non-finite in our output too
                assert not (np.isfinite(got.real) and np.isfinite(got.imag)), (
                    f"MS vis ({a1},{a2}) pol {pol} chan {c}: golden is "
                    f"NaN but file has {got!r}")
                n_cells += 1
                continue
            d = abs(got - want)
            assert d <= vis_atol + vis_rtol * abs(want), (
                f"MS vis mismatch ({a1},{a2}) pol {pol} chan {c}: "
                f"{got!r} vs {want!r}")
            n_cells += 1
    return n_cells


def test_cli_ms_matches_cotter_golden(spark, tmp_path, gpubox_dir):
    """The MS sink through the WHOLE CLI vs Cotter's corrected MS dump
    — the reference's compare_ms_with_csv gate (src/cli.rs:3584,
    src/test_common.rs:482+). MS conventions checked here: DATA in the
    raw/internal convention (the MS comparator does NOT conjugate,
    unlike the uvfits one), UVW in METERS, TIME_CENTROID in UTC casa
    seconds (MJD-epoch seconds) on the data grid. Same phase-bound vis
    tolerance and 2 mm UVW gate as the uvfits corrected variant;
    weights/flags skipped (they carry Cotter's aoflagger decisions)."""
    from birli_spark import cli
    from birli_spark.sinks.ms_file import main_cells_frame

    out = str(tmp_path / "corrected.ms")
    cli.run(["-m", META, "--gpubox", gpubox_dir["glob"],
             *BASE_ARGS, "-M", out], spark=spark)
    n = compare_ms_with_csv(
        out, f"{REF_DIR}/1254670392.cotter.corrected.ms.csv",
        vis_rtol=6e-3, vis_atol=5e-2, check_uvw=True)
    assert n > 30 * 768


def test_cli_none_timechunk_matches_cotter_golden(spark, tmp_path,
                                                  gpubox_dir):
    """The chunked composition: --time-chunk 1 processes one timestep
    block at a time (the reference's
    compare_cotter_uvfits_nocorrect_norfi_timechunk1, src/cli.rs:3313
    — same args incl. --sel-time over the whole range, ignore_weights
    true) and the WRITTEN file must be identical to the unchunked
    none variant cell-for-cell."""
    out = str(tmp_path / "none_chunked.uvfits")
    _run_cli(spark, gpubox_dir, out,
             ["--no-cable-delay", "--no-geometric-delay",
              "--time-chunk", "1", "--sel-time", "0", "1"])
    n = compare_uvfits_with_csv(
        out, f"{REF_DIR}/1254670392.cotter.none.uvfits.csv",
        vis_rtol=1e-6, vis_atol=1e-4, uvw_atol_s=3.4e-11)
    assert n == 11 * 2 * 4 * 768


def test_cli_digital_gains_matches_cotter_golden(spark, tmp_path,
                                                 gpubox_dir):
    """C4 through the WHOLE CLI: digital gains ON (the real metafits
    /64 gains), everything else off, vs Cotter's norfi.nopfb MS dump —
    the reference's compare_cotter_ms_none_norfi_nopfb
    (src/cli.rs:3761; same args). Division by exact per-ant gain
    products: operator-golden tolerance (rel 2e-4)."""
    from birli_spark import cli
    out = str(tmp_path / "nopfb.ms")
    cli.run(["-m", META, "--gpubox", gpubox_dir["glob"],
             "--no-rfi", "--pfb-gains", "none",
             "--no-cable-delay", "--no-geometric-delay",
             "--flag-init", "0", "--no-flag-dc", "--no-draw-progress",
             "--sel-ants", *SEL_ANTS, "-M", out], spark=spark)
    n = compare_ms_with_csv(
        out, f"{REF_DIR}/1254670392.cotter.none.norfi.nopfb.ms.csv",
        vis_rtol=2e-4, vis_atol=1e-2)
    assert n > 30 * 768


def test_cli_pfb_passband_matches_cotter_golden(spark, tmp_path,
                                                gpubox_dir):
    """C5 through the WHOLE CLI: --pfb-gains cotter (the published
    Cotter 2014 10 kHz table, legacy Simple scrunch to the 40 kHz
    grid), digital gains OFF, vs Cotter's nodigital.pfb-cotter-40 MS
    dump — the reference's
    compare_cotter_ms_none_norfi_nodigital_pfb_cotter_40
    (src/cli.rs:3840; same args)."""
    from birli_spark import cli
    out = str(tmp_path / "pfb.ms")
    cli.run(["-m", META, "--gpubox", gpubox_dir["glob"],
             "--no-rfi", "--no-digital-gains", "--pfb-gains", "cotter",
             "--no-cable-delay", "--no-geometric-delay",
             "--flag-init", "0", "--no-flag-dc", "--no-draw-progress",
             "--sel-ants", *SEL_ANTS, "-M", out], spark=spark)
    n = compare_ms_with_csv(
        out,
        f"{REF_DIR}/"
        "1254670392.cotter.none.norfi.nodigital.pfb-cotter-40.ms.csv",
        vis_rtol=2e-4, vis_atol=1e-2)
    assert n > 30 * 768


def test_cli_avg_ms_matches_cotter_golden(spark, tmp_path, gpubox_dir):
    """Averaging through the MS sink (the reference's
    compare_cotter_ms_none_avg_4s_160khz shape): same clean-contributor
    restriction as the uvfits avg variant (Cotter's average excludes
    ITS aoflagger-flagged inputs; ours includes all)."""
    from birli_spark import cli
    out = str(tmp_path / "avg.ms")
    cli.run(["-m", META, "--gpubox", gpubox_dir["glob"],
             *BASE_ARGS, "--no-cable-delay", "--no-geometric-delay",
             "--avg-time-factor", "2",
             "--avg-freq-factor", "4", "-M", out], spark=spark)
    flagged_in: dict = {}
    for _jd, blc, _pol, typ, _uvw, vals in read_csv_records(
            f"{REF_DIR}/1254670392.cotter.none.uvfits.csv"):
        if typ != "weight":
            continue
        flagged_in.setdefault(blc, set()).update(
            int(c) for c in np.flatnonzero(vals < 0))
    clean_out = {blc: [c for c in range(192)
                       if c not in {b // 4 for b in bad}]
                 for blc, bad in flagged_in.items()}
    n = compare_ms_with_csv(
        out, f"{REF_DIR}/1254670392.cotter.none.avg_4s_160khz.ms.csv",
        vis_rtol=2e-6, vis_atol=1e-3, n_chan=192,
        chan_filter=lambda a1, a2: clean_out[256 * (a1 + 1) + a2 + 1])
    assert n > 25 * 150
