"""REAL-INPUT CLI mode (-m metafits --gpubox glob) on the reference's
own MWAX observation 1297526432: metafits-derived dims, distributed
real-format scan, the full flag/correction chain, physical UVFITS out
— the invocation shape a user of the reference actually has."""

from __future__ import annotations

import os

import numpy as np
import pytest

MWAX_DIR = "/root/reference/tests/data/1297526432_mwax"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(MWAX_DIR), reason="reference test data not present")

META = f"{MWAX_DIR}/1297526432.metafits"
GLOB = f"{MWAX_DIR}/1297526432_*ch11*.fits"


def test_detect_format():
    from birli_spark import real_input
    assert real_input.detect_format(GLOB) == "mwax"


def test_real_vis_relation(spark):
    from birli_spark import real_input
    meta, _ = real_input.load_obs(META)
    assert meta.obsid == 1297526432
    assert meta.num_t == 4 and meta.n_ants == 2
    assert meta.coarse_channels == [117, 118]
    vis = real_input.load_vis_real(spark, meta, GLOB,
                                   metafits_path=META)
    pdf = vis.orderBy("t", "bl", "chan").toPandas()
    # 4 scans x 3 baselines x (2 cc x 2 fine) = 48 cells
    assert len(pdf) == 48
    assert sorted(pdf["t"].unique()) == [0, 1, 2, 3]
    assert sorted(pdf["chan"].unique()) == [0, 1, 2, 3]
    # frequencies: cc 117/118 centres +- the fine offsets
    f0 = 117 * 1_280_000.0 - 640_000.0
    assert pdf[pdf.chan == 0]["freq_hz"].iloc[0] == f0
    assert pdf[pdf.chan == 2]["freq_hz"].iloc[0] == \
        118 * 1_280_000.0 - 640_000.0
    # Cotter weight factor: 640 kHz / 10 kHz * 0.5 s = 32
    assert (pdf["weight"] == 32.0).all()
    # the coordinate-encoded values decode like the raw MWAX scan
    from birli_spark.sources import gpubox
    raw = gpubox.read_mwax_gpubox(spark, GLOB).toPandas()
    assert len(raw) == 48
    assert set(np.float64(raw["xx_re"])) == set(np.float64(pdf["xx_re"]))


def test_cli_real_input_uvfits_roundtrip(spark, tmp_path):
    """The full real-input CLI invocation writes a physical UVFITS
    whose read-back (via the distributed uvfits source path's frame
    reader) reproduces the raw visibilities — corrections disabled, so
    file content == scan content with baked weight signs."""
    from birli_spark import cli
    from birli_spark.sinks import uvfits
    from birli_spark.sources import gpubox

    out = str(tmp_path / "real.uvfits")
    res = cli.run([
        "-m", META, "--gpubox", GLOB,
        "--no-rfi", "--pfb-gains", "none", "--no-cable-delay",
        "--no-digital-gains", "--no-geometric-delay",
        "--quack-time", "0", "--no-flag-dc", "--no-draw-progress",
        "-u", out], spark=spark)
    assert res["rows"] == 48
    frame = uvfits.file_cells_frame(out, 4)
    raw = gpubox.read_mwax_gpubox(spark, GLOB).toPandas()
    # every unflagged file cell's xx value appears in the raw scan
    # (f32 storage; the raw coordinate-encoded floats are f32-exact)
    raw_xx = set(np.float32(raw["xx_re"]).tolist())
    got_xx = set(np.float32(frame["xx_re"]).tolist())
    assert got_xx <= raw_xx
    assert len(got_xx) > 0


def test_cli_real_input_with_corrections_runs(spark, tmp_path):
    """Defaults on (cable, digital gains, geometry from the metafits
    phase centre, float-mwa RFI): the composition executes end to end
    on the real observation."""
    from birli_spark import cli
    out = str(tmp_path / "real_corr.uvfits")
    res = cli.run([
        "-m", META, "--gpubox", GLOB, "--pfb-gains", "none",
        "--no-draw-progress", "-u", out], spark=spark)
    assert res["rows"] == 48
    assert os.path.getsize(out) > 2880


def test_cli_requires_input():
    from birli_spark import cli
    with pytest.raises(SystemExit):
        cli.parse_args(["--no-rfi"])


LEGACY_DIR = "/root/reference/tests/data/1196175296_mwa_ord"


@pytest.mark.skipif(not os.path.isdir(LEGACY_DIR),
                    reason="reference test data not present")
def test_real_input_legacy_format(spark, tmp_path):
    """The legacy Ord format through the same real-input path: the
    format auto-detects from the gpuboxNN filename and the CLI runs
    end to end on the reference's real 1196175296 observation."""
    from birli_spark import cli, real_input
    meta_p = f"{LEGACY_DIR}/1196175296.metafits"
    glob = f"{LEGACY_DIR}/1196175296_*gpubox*.fits"
    assert real_input.detect_format(glob) == "legacy"
    meta, _ = real_input.load_obs(meta_p)
    vis = real_input.load_vis_real(spark, meta, glob, metafits_path=meta_p)
    n = vis.count()
    assert n > 0
    # canonical invariants: every chan belongs to a selected coarse
    pdf = vis.select("t", "cc", "chan").distinct().toPandas()
    assert pdf["cc"].between(0, len(meta.coarse_channels) - 1).all()
    out = str(tmp_path / "legacy.uvfits")
    res = cli.run([
        "-m", meta_p, "--gpubox", glob,
        "--no-rfi", "--pfb-gains", "none", "--no-geometric-delay",
        "--no-draw-progress", "-u", out], spark=spark)
    assert res["rows"] == n
    assert os.path.getsize(out) > 2880


def test_real_input_plan_shape(spark):
    """The 100 TB lens on the real-input chain: dims join by broadcast
    only (no sort-merge join anywhere), the single hash exchange is the
    (t, cc)-sized cell-gate aggregate, and the only cross joins are the
    bounded dim-grid / 1-row-bounds patterns (LocalTableScan sides)."""
    from birli_spark import cli
    ctx = cli.parse_args([
        "-m", META, "--gpubox", GLOB, "--no-rfi",
        "--pfb-gains", "none"])
    baked = cli.build_baked(spark, ctx)
    plan = baked._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 8
    import re
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 2
    # cross joins must sit over local (dim) relations, never the scan
    assert "Scan parquet" not in plan  # real mode scans the gpubox files


def test_cli_real_input_flag_parquet_uses_real_flags(spark, tmp_path):
    """--flag-parquet in real mode derives flags from the run's OWN
    baked weights (rules + RFI on the real obs), not from the synthetic
    dim tables — a quack window computed against syn.GPS_START would
    flag the wrong timesteps of a real observation."""
    from birli_spark import cli
    from birli_spark.sinks import flagsink
    out = str(tmp_path / "real_flags")
    cli.run([
        "-m", META, "--gpubox", GLOB,
        "--no-rfi", "--pfb-gains", "none", "--no-cable-delay",
        "--no-digital-gains", "--no-geometric-delay",
        "--quack-time", "0", "--no-flag-dc", "--no-draw-progress",
        "--flag-parquet", out], spark=spark)
    got = flagsink.read_flags(spark, out).toPandas()
    # the real obs grid, not the synthetic one
    assert len(got) == 48
    assert sorted(got["t"].unique()) == [0, 1, 2, 3]
    # quack 0 + no rules engaged: nothing flagged
    assert not got["flag"].any()


def test_cli_real_legacy_matches_pyuvdata_golden(spark, tmp_path):
    """The WHOLE CLI on the reference's REAL 1196175296 legacy archive
    (no synthesis anywhere) vs pyuvdata's golden dump — the reference's
    compare_pyuvdata_1196175296_mwa_ord_none (src/cli.rs:4220: same
    args, margin 1e-3, uvws/weights ignored). 250 baselines x 4 chans
    of the first captured scan, matched by the leap-corrected UTC JD
    (the dump's 2458089.12129919 is the centroid of the scan captured
    2 s AFTER the scheduled obs start — the data-grid anchoring this
    file pins). The dump is in the engine's internal convention, as
    test_legacy_gpubox's bit-exact decoder golden established."""
    import csv as _csv

    from birli_spark import cli
    from birli_spark.sinks import uvfits as uvsink

    meta_p = f"{LEGACY_DIR}/1196175296.metafits"
    glob = f"{LEGACY_DIR}/1196175296_*gpubox*.fits"
    out = str(tmp_path / "real_none.uvfits")
    cli.run(["-m", meta_p, "--gpubox", glob,
             "--no-rfi", "--no-digital-gains", "--pfb-gains", "none",
             "--no-cable-delay", "--no-geometric-delay",
             "--no-flag-dc", "--flag-edge-width", "0",
             "--flag-init", "0", "--no-draw-progress",
             "-u", out], spark=spark)

    header, params, data = uvsink.read_uvfits(out)
    n_chan = int(header["NAXIS4"])
    assert n_chan == 4
    by_bl: dict = {}
    for g in range(params.shape[0]):
        by_bl.setdefault(int(round(params[g, 3])), []).append(g)

    pol_idx = {"xx": 0, "yy": 1, "xy": 2, "yx": 3}
    n_cells = 0
    path = f"{LEGACY_DIR}/pyuvdata_1196175296.none.csv"
    with open(path) as f:
        r = _csv.reader(f)
        next(r)
        for rec in r:
            jd, blc, pol = float(rec[0]), int(rec[1]), rec[5].strip()
            if blc // 256 == blc % 256:
                continue  # autos skipped like the reference
            g = [gg for gg in by_bl[blc]
                 if abs(params[gg, 4] - jd) < 1e-5]
            assert g, (blc, jd)
            p = pol_idx[pol]
            # this dump is already in the internal convention: compare
            # the file verbatim (no conjugation)
            got = data[g[0], :, p, 0] + 1j * data[g[0], :, p, 1]
            want = [complex(v.strip()) for v in rec[7:]]
            for c in range(n_chan):
                d = abs(got[c] - want[c])
                assert d <= 1e-3 + 1e-6 * abs(want[c]), (
                    blc, pol, c, got[c], want[c])
                n_cells += 1
    # 248 cross baselines x 4 pols... the dump carries 250 rows per pol
    # incl. 2 autos; expected = (dumped cross rows) x 4 chans
    assert n_cells == 248 * 4 * 4


def test_grid_anchor_synthetic_format(spark, tmp_path):
    """grid_anchor on SYNTHETIC-format gpubox files (no TIME scan
    cards) must not raise — it anchors on the schedule with zero
    offset, covering the --van-vleck / UVW-table real-mode branches
    on the teaching format (previously a FileNotFoundError path)."""
    from birli_spark import real_input
    from birli_spark.sources import gpubox
    p = str(tmp_path / "synth_cc0.fits")
    gpubox.write_gpubox(p, 0, 2, 2, 2, 2.0, 1297526432.0)
    a = real_input.grid_anchor(str(tmp_path / "synth_*.fits"),
                               1297526432.0, 2.0, 2)
    assert a["fmt"] == "synthetic"
    assert a["offset_s"] == 0.0 and a["bscale"] == 1.0
    assert a["num_t_data"] == 2


def test_real_mode_flag_init_steps_uses_obs_int_time(spark):
    """--flag-init-steps N converts with the OBSERVATION's int_time
    (0.5 s for 1297526432), not the synthetic surface's 2 s constant:
    1 step quacks exactly the first scan."""
    from birli_spark import cli
    import pyspark.sql.functions as F
    ctx = cli.parse_args([
        "-m", META, "--gpubox", GLOB,
        "--no-rfi", "--pfb-gains", "none", "--no-cable-delay",
        "--no-digital-gains", "--no-geometric-delay", "--no-flag-dc",
        "--no-draw-progress", "--flag-init-steps", "1"])
    b = cli.build_baked(spark, ctx)
    flagged_t = sorted(
        r.t for r in b.filter(F.col("weight") < 0)
        .select("t").distinct().collect())
    assert flagged_t == [0], flagged_t


def test_real_mode_res_options_use_obs_metadata():
    """--avg-time-res/--avg-freq-res/--flag-edge-width resolve against
    the OBSERVATION's metafits facts (0.5 s / 640 kHz for 1297526432),
    not the synthetic surface's 2 s / 40 kHz constants — the same
    real-mode rule as --flag-init-steps."""
    from birli_spark import cli
    ctx = cli.parse_args([
        "-m", META, "--gpubox", GLOB, "--no-draw-progress",
        "--avg-time-res", "1", "--avg-freq-res", "1280",
        "--flag-edge-width", "640"])
    assert ctx.avg_time == 2      # 1 s / 0.5 s (synthetic base: error)
    assert ctx.avg_freq == 2      # 1280 kHz / 640 kHz (synthetic: 32)
    assert ctx.flag_edge_chans == 1   # 640 kHz / 640 kHz (synthetic: 16)
    # non-multiples error like the reference (src/cli.rs:1171-1258)
    with pytest.raises(SystemExit):
        cli.parse_args(["-m", META, "--gpubox", GLOB,
                        "--avg-time-res", "0.75"])


def test_quack_time_must_be_timestep_multiple():
    """--flag-init/--flag-end seconds that are not a multiple of the
    observation's timestep length are rejected (reference
    src/cli.rs:1104-1140), in both real and synthetic mode."""
    from birli_spark import cli
    with pytest.raises(SystemExit):
        cli.parse_args(["-m", META, "--gpubox", GLOB,
                        "--quack-time", "1.3"])
    ok = cli.parse_args(["-m", META, "--gpubox", GLOB,
                         "--quack-time", "1.0", "--flag-end", "0.5"])
    assert ok.quack_time == 1.0 and ok.flag_end == 0.5
    with pytest.raises(SystemExit):
        cli.parse_args(["/root/testdata/sf0.001", "--flag-end", "1.3"])


@pytest.mark.skipif(not os.path.isdir(LEGACY_DIR),
                    reason="reference test data not present")
def test_real_mode_flag_end_flags_last_captured_scan(spark):
    """1196175296's capture starts 2 s AFTER the scheduled obs start:
    the data occupies t=4..7 against a 4-scan schedule. The timestep
    flag dim must cover the CAPTURED scans — --flag-end-steps 1 flags
    the actual final scan t=7, not the scheduled t=3 (which holds no
    data), and not nothing (the pre-fix behavior: t>=NSCANS rows were
    absent from the dim and set_flags left-join silently unflagged)."""
    from birli_spark import cli
    import pyspark.sql.functions as F
    meta_p = f"{LEGACY_DIR}/1196175296.metafits"
    glob = f"{LEGACY_DIR}/1196175296_*gpubox*.fits"
    ctx = cli.parse_args([
        "-m", meta_p, "--gpubox", glob,
        "--no-rfi", "--pfb-gains", "none", "--no-cable-delay",
        "--no-digital-gains", "--no-geometric-delay", "--no-flag-dc",
        "--flag-edge-width", "0", "--quack-time", "0",
        "--no-flag-metafits",   # isolate ts-level flags from F6
        "--no-draw-progress", "--flag-end-steps", "1"])
    b = cli.build_baked(spark, ctx)
    all_t = sorted(r.t for r in b.select("t").distinct().collect())
    flagged_t = sorted(
        r.t for r in b.filter(F.col("weight") < 0)
        .select("t").distinct().collect())
    assert all_t[-1] == 7, all_t
    assert flagged_t == [7], flagged_t


def test_pfb_auto_resolves_from_metafits():
    """--passband-gains auto resolves against the METAFITS correlator
    facts in real mode (reference test_no_pfb_when_deripple_applied,
    src/cli.rs:2157: the 1439922144 metafits carries DERIPPLE=1, so
    auto DISABLES the correction with no flag passed); the legacy
    1254670392 metafits resolves to the cotter table."""
    from birli_spark import cli
    drip = "/root/reference/tests/data/1439922144_deripple/1439922144.metafits"
    ctx = cli.parse_args([
        "-m", drip, "--gpubox", "ignored_*.fits",
        "--passband-gains", "auto", "--no-draw-progress"])
    assert ctx.pfb_gains == "none"
    leg = ("/root/reference/tests/data/1254670392_avg/"
           "1254670392.fixed.metafits")
    ctx2 = cli.parse_args([
        "-m", leg, "--gpubox", "ignored_*.fits",
        "--passband-gains", "auto", "--no-draw-progress"])
    assert ctx2.pfb_gains == "cotter"
