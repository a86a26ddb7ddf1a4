"""CLI (reference-compatible flags): parse validation, plan assembly for
flag combinations, dry run, and an end-to-end invocation."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from birli_spark import cli
from birli_spark.sources import synthetic as syn

#: this checkout (the subprocess CLI runs its package)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_parse_defaults():
    ctx = cli.parse_args(["/data"])
    assert ctx.avg_time == 1 and ctx.avg_freq == 1
    assert ctx.flag_dc is True  # legacy default (reference src/flags.rs:128)
    assert not ctx.dry_run


def test_parse_resolution_to_factor():
    ctx = cli.parse_args(["/data", "--avg-time-res", "8.0",
                          "--avg-freq-res", "80.0"])
    assert ctx.avg_time == 4   # 8s / 2s
    assert ctx.avg_freq == 2   # 80kHz / 40kHz
    with pytest.raises(SystemExit):
        cli.parse_args(["/data", "--avg-time-res", "3.0"])


def test_parse_chunk_validation():
    with pytest.raises(ValueError, match="multiple"):
        cli.parse_args(["/data", "--time-chunk", "6", "--avg-time-factor", "4"])


def test_plan_selection_and_averaging(spark, sf_dir):
    ctx = cli.parse_args([sf_dir, "--sel-time", "2", "9",
                          "--no-sel-autos", "--avg-time-factor", "4",
                          "--avg-freq-factor", "2", "--quack-time", "4"])
    out = cli.build_plan(spark, ctx)
    pdf = out.toPandas()
    assert "t_out" in pdf.columns            # averaged output
    assert (pdf.ant1 != pdf.ant2).all()      # autos gone
    assert pdf.t_out.min() >= 0 and pdf.t_out.max() <= 2  # t in [2, 9]


def test_plan_explicit_flags(spark, sf_dir):
    ctx = cli.parse_args([sf_dir, "--flag-times", "5",
                          "--flag-antennas", "2", "--no-cable-delay",
                          "--no-digital-gains", "--no-geometric-delay"])
    out = cli.build_plan(spark, ctx)
    flagged_t5 = out.filter("t = 5 AND NOT flag").count()
    assert flagged_t5 == 0                   # whole timestep flagged
    ant2 = out.filter("(ant1 = 2 OR ant2 = 2) AND NOT flag").count()
    assert ant2 == 0                         # antenna-2 baselines flagged


def test_cli_dry_run(spark, sf_dir, capsys):
    res = cli.run([sf_dir, "--dry-run"], spark=spark)
    assert res["dry_run"] is True
    out = capsys.readouterr().out
    assert "n_timesteps" in out and str(syn.NUM_T) in out


def test_cli_end_to_end(spark, sf_dir, tmp_path):
    res = cli.run([sf_dir, "--avg-time-factor", "4", "--avg-freq-factor", "2",
                   "--quack-time", "4", "--flag-edge-chans", "1",
                   "-u", str(tmp_path / "out"),
                   "-f", str(tmp_path / "mwaf")], spark=spark)
    assert res["rows"] > 0
    assert res["mwaf_files"] == syn.NUM_CC
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == res["rows"]

def test_passband_gain_selection_match_arms():
    """The reference's --passband-gains match arms (src/cli.rs:1401-1443)."""
    import pytest

    from birli_spark.operators.corrections import select_passband_gains as sel
    assert sel(None, "Legacy") is None
    assert sel("none", "MWAXv2") is None
    assert sel("jake", "Legacy") == "jake"
    assert sel("jake_oversampled", "Legacy") == "jake_oversampled"
    assert sel("cotter", "MWAXv2") == "cotter"
    assert sel("auto", "MWAXv2") == "jake"
    assert sel("auto", "MWAXv2", oversampled=True) == "jake_oversampled"
    assert sel("auto", "Legacy") == "cotter"
    assert sel("auto", "OldLegacy", oversampled=True) == "cotter"
    assert sel("auto", "MWAXv2", deripple_applied=True) is None
    with pytest.raises(ValueError, match="unknown mwa version"):
        sel("auto", "FutureCorr")
    with pytest.raises(ValueError, match="unknown option"):
        sel("bogus", "Legacy")


def test_cli_accepts_reference_passband_flag(tmp_path, spark):
    from birli_spark import cli
    ctx = cli.parse_args(["/root/testdata/sf0.001",
                          "--passband-gains", "auto"])
    assert ctx.pfb_gains == "cotter"           # legacy default obs
    ctx = cli.parse_args(["/root/testdata/sf0.001",
                          "--passband-gains", "auto", "--deripple-applied"])
    assert ctx.pfb_gains == "none"


def test_cli_flag_end_coarse_chans_edge_width(spark, tmp_path):
    from birli_spark import cli
    from birli_spark.sources import synthetic as syn

    # --flag-end flags trailing timesteps; --flag-coarse-chans expands to
    # all fine chans of the coarse channel; --flag-edge-width converts kHz
    ctx = cli.parse_args(["/root/testdata/sf0.001",
                          "--flag-end", "4", "--flag-coarse-chans", "1",
                          "--flag-edge-width",
                          str(syn.FINE_CHAN_WIDTH_HZ / 1000.0)])
    assert ctx.flag_end == 4.0
    assert ctx.flag_coarse_chans == [1]
    assert ctx.flag_edge_chans == 1
    vis = cli.build_plan(spark, ctx)
    from pyspark.sql import functions as F
    agg = vis.agg(
        F.max(F.expr("IF(cc = 1 AND NOT flag, 1, 0)")).alias("cc1_unflagged"),
        F.max(F.expr("IF(fc = 0 AND NOT flag, 1, 0)")).alias("fc0_unflagged"),
    ).collect()[0]
    assert agg.cc1_unflagged == 0          # whole coarse chan flagged
    assert agg.fc0_unflagged == 0          # edge chan flagged


def test_cli_ms_out(spark, tmp_path):
    import os

    from birli_spark import cli
    out = str(tmp_path / "ms_parquet")
    res = cli.run(["/root/testdata/sf0.001", "--avg-time-factor", "4",
                   "--avg-freq-factor", "2", "-M", out], spark=spark)
    assert res["ms_path"] == out
    assert any(n.startswith("time_block=") for n in os.listdir(out))


def test_cli_ms_out_casa_layout(spark, tmp_path):
    """-M path ending .ms writes the PHYSICAL casacore-layout tree
    (reference birli -M out.ms); it parses back with the independent
    reader and carries the full subtable set."""
    import os

    from birli_spark import cli
    from birli_spark.sinks import ms_file

    out = str(tmp_path / "obs.ms")
    res = cli.run(["/root/testdata/sf0.001", "--avg-time-factor", "4",
                   "--avg-freq-factor", "2", "-M", out], spark=spark)
    assert res["ms_path"] == out
    assert os.path.exists(os.path.join(out, "table.dat"))
    t = ms_file.read_ms_casa(out)
    assert t["MAIN"]["nrow"] > 0
    assert "SPECTRAL_WINDOW" in t and "ANTENNA" in t


def test_cli_uvfits_out_physical(spark, tmp_path):
    """-u path ending .uvfits writes the PHYSICAL random-groups file
    (reference birli -u out.uvfits) with obs-anchored DATE PZERO; it
    parses with the standard reader and covers the full group grid."""
    import numpy as np

    from birli_spark import cli
    from birli_spark.sinks import uvfits
    from birli_spark.sources import synthetic as syn

    out = str(tmp_path / "obs.uvfits")
    res = cli.run(["/root/testdata/sf0.001", "--avg-time-factor", "4",
                   "--avg-freq-factor", "2", "-u", out], spark=spark)
    assert res["out_path"] == out
    header, params, data = uvfits.read_uvfits(out)
    assert header["GCOUNT"] == params.shape[0] > 0
    assert header["PZERO5"] == uvfits.obs_jd_zero(syn.GPS_START)
    assert np.isfinite(data).all()


def test_cli_phase_centre(spark):
    """--phase-centre recomputes partial UVWs from antenna positions; the
    first-principles w must differ from the synthetic dim's w."""
    from birli_spark import cli
    base = cli.build_plan(spark, cli.parse_args(["/root/testdata/sf0.001"]))
    pc = cli.build_plan(spark, cli.parse_args(
        ["/root/testdata/sf0.001", "--phase-centre", "75.0", "-26.7"]))
    w0 = base.select("w").filter("t = 1 AND bl = 1").distinct().collect()
    w1 = pc.select("w").filter("t = 1 AND bl = 1").distinct().collect()
    assert len(w0) == 1 and len(w1) == 1
    assert w0[0].w != w1[0].w


def test_cli_precess(spark):
    """--precess swaps the fixed-LST rotation for the IAU-2006 chain
    (operators/precession.py): same schema, different (real) UVWs; and
    --dut1 shifts the Earth rotation angle measurably."""
    from birli_spark import cli
    plain = cli.build_plan(spark, cli.parse_args(
        ["/root/testdata/sf0.001", "--phase-centre", "75.0", "-26.7"]))
    prec = cli.build_plan(spark, cli.parse_args(
        ["/root/testdata/sf0.001", "--phase-centre", "75.0", "-26.7",
         "--precess"]))
    dut = cli.build_plan(spark, cli.parse_args(
        ["/root/testdata/sf0.001", "--phase-centre", "75.0", "-26.7",
         "--precess", "--dut1", "-0.2"]))
    def w(df):
        return df.select("w").filter("t = 1 AND bl = 1").distinct().collect()
    w0, w1, w2 = w(plain), w(prec), w(dut)
    assert len(w0) == len(w1) == len(w2) == 1
    assert w0[0].w != w1[0].w
    assert w1[0].w != w2[0].w


def test_part_uvw_rotation_identities(spark):
    """UVW rotation sanity: at H=0, u = y = east; and u²+v²+w² = x²+y²+z²
    (rotation preserves the norm)."""
    import math

    from birli_spark.operators import geometry
    from birli_spark.sources import synthetic as syn
    ants = syn.load_dim(spark, "antennas")
    # choose ra = lst0 and t=0 so the hour angle is exactly 0
    tbl = geometry.part_uvw_table(
        spark, ants, num_t=1, ra_rad=1.0, dec_rad=-0.5, lst0_rad=1.0,
        int_time_s=2.0)
    rows = {r.ant: r for r in tbl.collect()}
    arows = {r.ant: r for r in ants.collect()}
    lat = geometry.MWA_LAT_RAD
    for ant, r in rows.items():
        a = arows[ant]
        assert abs(r.u - a.east_m) < 1e-9          # H=0 -> u == east
        x = -math.sin(lat) * a.north_m + math.cos(lat) * a.height_m
        z = math.cos(lat) * a.north_m + math.sin(lat) * a.height_m
        n2 = x * x + a.east_m ** 2 + z * z
        assert abs((r.u ** 2 + r.v ** 2 + r.w ** 2) - n2) < 1e-6


def test_aoflagger_strategy_presets():
    import pytest

    from birli_spark.cli import _strategy_sensitivity, parse_args
    assert _strategy_sensitivity("default") == 6.0
    assert _strategy_sensitivity("sensitive") == 4.5
    assert _strategy_sensitivity("7.25") == 7.25
    with pytest.raises(SystemExit):
        _strategy_sensitivity("/path/to/strategy.lua")
    ctx = parse_args(["/root/testdata/sf0.001",
                      "--aoflagger-strategy", "conservative"])
    assert ctx.rfi_sensitivity == 8.0


def test_ms_out_respects_cli_options(spark, tmp_path):
    """Regression: -M writes the context-built plan — CLI flags must
    reach the MS output (it used to write a fixed default pipeline)."""
    import os

    from pyspark.sql import functions as F

    from birli_spark import cli
    out1 = str(tmp_path / "ms_default")
    out2 = str(tmp_path / "ms_flagged")
    cli.run(["/root/testdata/sf0.001", "--avg-time-factor", "4",
             "--avg-freq-factor", "2", "-M", out1], spark=spark)
    cli.run(["/root/testdata/sf0.001", "--avg-time-factor", "4",
             "--avg-freq-factor", "2", "--flag-antennas", "0",
             "-M", out2], spark=spark)
    f1 = (spark.read.parquet(out1)
          .agg(F.sum(F.expr("CAST(flag AS INT)"))).collect()[0][0])
    f2 = (spark.read.parquet(out2)
          .agg(F.sum(F.expr("CAST(flag AS INT)"))).collect()[0][0])
    assert f2 > f1                     # extra antenna flag reached the MS


def test_edge_width_rejects_non_multiple():
    import pytest

    from birli_spark import cli
    with pytest.raises(SystemExit, match="not a multiple"):
        cli.parse_args(["/root/testdata/sf0.001",
                        "--flag-edge-width", "60.0"])


def test_cli_pfb_gains_cotter_uses_real_table(spark, sf_dir, tmp_path):
    import subprocess
    import sys

    out = tmp_path / "out.uvfits.parquet"
    r = subprocess.run(
        [sys.executable, "-m", "birli_spark.cli", sf_dir,
         "-u", str(out), "--pfb-gains", "cotter", "--no-rfi"],
        capture_output=True, text=True, cwd=ROOT)
    assert r.returncode == 0, r.stderr[-2000:]


def test_cli_ssins_rfi_slot(spark, sf_dir):
    ctx = cli.parse_args([sf_dir, "--ssins", "--ssins-threshold", "3"])
    assert ctx.ssins and not ctx.no_rfi and ctx.ssins_threshold == 3.0
    off = cli.build_plan(spark, cli.parse_args([sf_dir, "--no-rfi"]))
    on = cli.build_plan(spark, ctx)
    assert on.columns == off.columns
    # the SSINS mask can only ADD flags on top of the rule flags
    assert (on.filter("flag").count() >= off.filter("flag").count())


def test_cli_iterative_rfi_slot(spark, sf_dir):
    ctx = cli.parse_args([sf_dir, "--rfi-iterative", "--sir-eta", "0.1"])
    assert ctx.rfi_iterative and not ctx.no_rfi and ctx.sir_eta == 0.1
    off = cli.build_plan(spark, cli.parse_args([sf_dir, "--no-rfi"]))
    on = cli.build_plan(spark, ctx)
    assert on.columns == off.columns
    # the iterative-strategy mask can only ADD flags on top of rule flags
    assert (on.filter("flag").count() >= off.filter("flag").count())


def test_cli_flag_init_end_steps(spark, sf_dir):
    """--flag-init-steps/--flag-end-steps are the N x int_time spelling
    of --quack-time/--flag-end (reference src/cli.rs:1141-1146)."""
    from birli_spark.sources import synthetic as syn

    steps = cli.parse_args([sf_dir, "--flag-init-steps", "2",
                            "--flag-end-steps", "1"])
    # steps carry RAW through the context (round 6): they resolve with
    # the OBSERVATION's int_time at build (real mode reads it from the
    # metafits; the synthetic surface uses syn.INT_TIME_S)
    assert steps.flag_init_steps == 2 and steps.flag_end_steps == 1
    assert steps.quack_time is None and steps.flag_end == 0.0
    secs = cli.parse_args([sf_dir, "--quack-time",
                           str(2 * syn.INT_TIME_S),
                           "--flag-end", str(syn.INT_TIME_S)])
    a = cli.build_plan(spark, steps).select("t", "flag")
    b = cli.build_plan(spark, secs).select("t", "flag")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_cli_no_flag_metafits(spark, sf_dir):
    """--no-flag-metafits drops the metadata antenna flags but keeps
    explicit --flag-antennas."""
    base = cli.build_plan(spark, cli.parse_args([sf_dir]))
    off = cli.build_plan(spark, cli.parse_args(
        [sf_dir, "--no-flag-metafits"]))
    assert off.filter("flag").count() <= base.filter("flag").count()
    both = cli.build_plan(spark, cli.parse_args(
        [sf_dir, "--no-flag-metafits", "--flag-antennas", "0"]))
    assert both.filter("flag AND (ant1 = 0 OR ant2 = 0)").count() > 0


def test_cli_limits_and_dump_csv(spark, sf_dir, tmp_path):
    path = str(tmp_path / "dump.csv")
    ctx = cli.parse_args([sf_dir, "--timestep-limit", "2",
                          "--baseline-limit", "3",
                          "--dump-csv", path, "--dump-mode", "both"])
    out = cli.build_plan(spark, ctx)
    assert out.filter("t >= 2").count() == 0
    assert out.filter("bl >= 3").count() == 0
    res = cli.run([sf_dir, "--timestep-limit", "2", "--baseline-limit",
                   "3", "--dump-csv", path, "--dump-mode", "both"],
                  spark=spark)
    import csv
    with open(path) as fh:
        rows = list(csv.reader(fh))
    assert len(rows) - 1 == res["rows"]
    assert "weight" in rows[0] and "xx_re" in rows[0]


def test_cli_emulate_cotter_changes_uvws(spark, sf_dir):
    """--emulate-cotter swaps the array position under the derived UVW
    dim (reference src/cli.rs:1353-1363): same plan shape, different
    u/v/w values."""
    base = cli.build_plan(spark, cli.parse_args(
        [sf_dir, "--phase-centre", "75", "-26.7", "--precess"]))
    cot = cli.build_plan(spark, cli.parse_args(
        [sf_dir, "--phase-centre", "75", "-26.7", "--precess",
         "--emulate-cotter"]))
    assert base.columns == cot.columns
    j = (base.select("t", "bl", "chan", F.col("u").alias("u0"))
         .join(cot.select("t", "bl", "chan", F.col("u").alias("u1")),
               ["t", "bl", "chan"]))
    diff = j.filter("abs(u0 - u1) > 1e-9").count()
    assert diff > 0


#: every user-facing option of the reference CLI (src/cli.rs:636-812,
#: the complete arg! list), by long name
REFERENCE_CLI_OPTIONS = [
    "metafits", "phase-centre", "pointing-centre", "emulate-cotter",
    "dry-run", "no-draw-progress", "sel-time", "sel-ants",
    "no-sel-flagged-ants", "no-sel-autos", "sel-chan-ranges",
    "provided-chan-ranges", "time-chunk", "max-memory", "flag-init",
    "flag-init-steps", "flag-end", "flag-end-steps", "flag-times",
    "flag-coarse-chans", "flag-edge-width", "flag-edge-chans",
    "flag-fine-chans", "flag-dc", "no-flag-dc", "no-flag-metafits",
    "flag-antennas", "flag-autos", "van-vleck", "no-cable-delay",
    "no-geometric-delay", "no-digital-gains", "passband-gains",
    "apply-di-cal", "avg-time-res", "avg-time-factor", "avg-freq-res",
    "avg-freq-factor", "flag-template", "uvfits-out", "ms-out",
    "no-rfi", "aoflagger-strategy",
]


def test_cli_surface_covers_every_reference_option():
    """CLI-surface completeness: every long option the reference's
    parser defines (src/cli.rs:636-812) parses here too — a user can
    paste a reference invocation (plus the input-shape flags) and run
    it. Extras (--ssins, --dump-csv, --flag-parquet, ...)
    are beyond-reference additions, allowed to be ours-only."""
    p = cli.build_parser()
    ours = {o[2:] for a in p._actions
            for o in a.option_strings if o.startswith("--")}
    missing = [o for o in REFERENCE_CLI_OPTIONS if o not in ours]
    assert not missing, missing


@pytest.mark.parametrize("avg_t,avg_f,chunk", [
    (4, 2, None), (4, 2, "8"), (2, 4, None)])
def test_rows_agree_between_plan_and_uvfits_groups(
        spark, sf_dir, avg_t, avg_f, chunk):
    """ADVICE r7 (cli.py physical-uvfits branch): result['rows'] counts
    uvfits_group_rows(build_baked(...)) while the parquet branch counts
    build_plan's out — two separately-built plans that must agree on
    the output grid for every avg-factor/chunk combo (the
    validate_chunk_size invariant made explicit). avg 1/1 is covered
    on the real fixture below: the synthetic oracle fact carries
    duplicate (t, bl, chan) cells by construction, so there the
    un-averaged parquet branch legitimately counts raw rows."""
    from birli_spark.sinks import uvfits as uvsink
    argv = [sf_dir, "--avg-time-factor", str(avg_t),
            "--avg-freq-factor", str(avg_f)]
    if chunk:
        argv += ["--time-chunk", chunk]
    ctx = cli.parse_args(argv)
    out_n = cli.build_plan(spark, ctx).count()
    groups_n = uvsink.uvfits_group_rows(
        cli.build_baked(spark, ctx), ctx.avg_time, ctx.avg_freq,
        syn.GPS_START, syn.INT_TIME_S).count()
    assert out_n == groups_n


@pytest.mark.needs_reference("1297526432_mwax")
@pytest.mark.parametrize("avg_t,avg_f", [(1, 1), (2, 1), (2, 2)])
def test_rows_agree_real_input(spark, avg_t, avg_f):
    """Same invariant on a REAL observation (one row per (t, bl, chan)
    cell — the shape every deployed CLI run has), including the avg 1/1
    identity case the synthetic surface can't express."""
    from birli_spark import real_input
    from birli_spark.sinks import uvfits as uvsink
    mwax = ("/root/reference/tests/data/1297526432_mwax/")
    ctx = cli.parse_args([
        "-m", mwax + "1297526432.metafits",
        "--gpubox", mwax + "1297526432_*ch11*.fits",
        "--no-rfi", "--pfb-gains", "none",
        "--avg-time-factor", str(avg_t),
        "--avg-freq-factor", str(avg_f)])
    meta, _ = real_input.load_obs(ctx.metafits)
    out_n = cli.build_plan(spark, ctx).count()
    groups_n = uvsink.uvfits_group_rows(
        cli.build_baked(spark, ctx), ctx.avg_time, ctx.avg_freq,
        meta.gps_start, meta.int_time_s).count()
    assert out_n == groups_n
