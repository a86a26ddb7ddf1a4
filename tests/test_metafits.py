"""Real-metafits parsing (S3b) against the reference's own test file,
plus an end-to-end real-data slice: REAL metafits dims + REAL MWAX
gpubox visibilities -> cable-length correction."""

from __future__ import annotations

import math

import pytest

MWAX_DIR = "/root/reference/tests/data/1297526432_mwax"

pytestmark = pytest.mark.needs_reference(MWAX_DIR)


def test_obs_context_fields():
    from birli_spark.sources import metafits as mf
    primary, td = mf.read_metafits(f"{MWAX_DIR}/1297526432.metafits")
    ctx = mf.obs_context(primary)
    # values straight from the reference's metafits.txt dump
    assert ctx["obsid"] == 1297526432
    assert ctx["n_scans"] == 4 and ctx["n_ants"] == 2
    assert ctx["int_time_s"] == 0.5
    assert ctx["fine_chan_width_hz"] == 640000.0
    assert ctx["n_fine_per_coarse"] == 2
    assert ctx["quack_s"] == 0.5
    assert ctx["coarse_channels"] == [117, 118]     # CHANSEL 8,9 applied
    assert abs(ctx["phase_ra_deg"] - 139.524) < 1e-9
    assert abs(ctx["phase_dec_deg"] - -12.0956) < 1e-9


def test_electrical_length_conventions():
    from birli_spark.sources import metafits as mf
    assert mf.electrical_length_m("EL_78.72") == 78.72
    assert mf.electrical_length_m("EL_-283.93") == -283.93
    # physical metres get the 1.204 velocity factor (mwalib convention)
    assert abs(mf.electrical_length_m("100.0") - 120.4) < 1e-12


def test_digital_gains_div64(spark):
    from birli_spark.sources import metafits as mf
    _, td = mf.read_metafits(f"{MWAX_DIR}/1297526432.metafits")
    g = {(r.ant, r.cc): r for r in mf.digital_gains_df(spark, td).collect()}
    # dump: Tile051 (ant 0) gains start [60 61 62 ...]; Tile052 [78 78 77...]
    assert g[(0, 0)].gain_x == 60 / 64
    assert g[(0, 1)].gain_x == 61 / 64
    assert g[(1, 0)].gain_x == 78 / 64
    assert len({cc for (_, cc) in g}) == 24


def test_real_pipeline_slice_cable_correction(spark):
    """REAL metafits + REAL gpubox -> cable correction: autos unchanged,
    crosses rotated by exactly exp(-j 2 pi dL f / c) with dL from the
    metafits electrical lengths."""
    from pyspark.sql import functions as F

    from birli_spark.operators import corrections
    from birli_spark.sources import gpubox
    from birli_spark.sources import metafits as mf
    primary, td = mf.read_metafits(f"{MWAX_DIR}/1297526432.metafits")
    ctx = mf.obs_context(primary)
    ants = mf.antennas_df(spark, td)
    vis = gpubox.read_mwax_gpubox(
        spark, f"{MWAX_DIR}/1297526432_*_ch11[78]_00[01].fits")
    # frequency per (cc_recv, fc): coarse centre 1.28 MHz apart
    freq = F.expr(
        "CAST(cc_recv AS DOUBLE) * 1280000.0 + fc * 640000.0")
    vis = vis.withColumn("freq_hz", freq).withColumn(
        "chan", F.expr("(cc_recv - 117) * 2 + fc"))
    out = corrections.correct_cable_lengths(vis, ants)
    rows = {(r.cc_recv, r.unix_ms, r.ant1, r.ant2, r.fc): r
            for r in out.collect()}
    raw = {(r.cc_recv, r.unix_ms, r.ant1, r.ant2, r.fc): r
           for r in vis.collect()}
    el = {r.ant: (r.elec_length_x_m, r.elec_length_y_m)
          for r in ants.collect()}
    n_checked = 0
    for k, r in rows.items():
        r0 = raw[k]
        if r.ant1 == r.ant2:
            assert r.xx_re == r0.xx_re and r.xx_im == r0.xx_im
            continue
        dl = el[r.ant2][0] - el[r.ant1][0]
        theta = -2.0 * math.pi * dl * r0.freq_hz / 299_792_458.0
        want_re = r0.xx_re * math.cos(theta) - r0.xx_im * math.sin(theta)
        # f32 demotion on the operator output
        import numpy as np
        assert r.xx_re == float(np.float32(want_re))
        n_checked += 1
    assert n_checked == 16      # 4 scans x 1 cross bl x 2 cc x 2 fc


@pytest.mark.parametrize("rel,ants,scans,fpc,quack,first_cc,n_cc", [
    pytest.param(*case, marks=pytest.mark.needs_reference(case[0]))
    for case in [
        ("1254670392_avg/1254670392.metafits", 128, 4, 32, 4.0, 131, 24),
        ("1119683928_picket/1119683928.metafits", 128, 224, 32, 3.0, 62, 24),
        ("1439922144_deripple/1439922144.metafits", 128, 60, 128, 2.0, 131,
         24),
        ("1196175296_mwa_ord/1196175296.metafits", 128, 4, 2, 2.5, 157, 2),
        ("1247842824_flags/1247842824.metafits", 128, 2, 128, 1.0, 104, 1),
    ]])
def test_all_reference_metafits_parse(rel, ants, scans, fpc, quack,
                                      first_cc, n_cc):
    """Every real metafits the reference ships parses to a sane obs
    context — including the non-contiguous picket-fence channel list."""
    from birli_spark.sources import metafits as mf
    path = f"/root/reference/tests/data/{rel}"
    primary, td = mf.read_metafits(path)
    ctx = mf.obs_context(primary)
    assert ctx["n_ants"] == ants
    assert ctx["n_scans"] == scans
    assert ctx["n_fine_per_coarse"] == fpc
    assert ctx["quack_s"] == quack
    ccs = ctx["coarse_channels"]
    assert ccs[0] == first_cc and len(ccs) == n_cc
    assert len(mf.antenna_rows(td)) == ants


def test_picket_fence_channels_non_contiguous():
    from birli_spark.sources import metafits as mf
    p, _ = mf.read_metafits(
        "/root/reference/tests/data/1119683928_picket/1119683928.metafits")
    ccs = mf.coarse_channels(p)
    gaps = [b - a for a, b in zip(ccs, ccs[1:])]
    assert any(g > 1 for g in gaps)          # genuinely picket-fence
    assert ccs == sorted(ccs)


def test_freq_offset_hz_across_reference_fixtures():
    """The offline-averaging channel-centre offset (round 6): +15 kHz
    for the two 40 kHz-averaged reference observations (4x native
    10 kHz: (4-1)/2 x 10 kHz), exactly 0 for the two native ones —
    recovered from FREQCENT/CENTCHAN alone."""
    import os

    from birli_spark.sources import metafits as mf
    cases = {
        "1254670392_avg/1254670392.fixed.metafits": 15000.0,
        "1119683928_picket/1119683928.metafits": 15000.0,
        "1297526432_mwax/1297526432.metafits": 0.0,
        "1196175296_mwa_ord/1196175296.metafits": 0.0,
    }
    base = "/root/reference/tests/data"
    for rel, want in cases.items():
        path = os.path.join(base, rel)
        if not os.path.exists(path):
            continue
        primary, _ = mf.read_metafits(path)
        assert mf.obs_context(primary)["freq_offset_hz"] == want, rel
    # missing keys and implausible layouts fall back to 0
    assert mf._freq_offset_hz({}) == 0.0
    assert mf._freq_offset_hz(
        {"FREQCENT": 200.0, "CENTCHAN": 143, "FINECHAN": 40}) == 0.0


def test_digital_gains_remap_to_chansel_positions(spark):
    """A CHANSEL subset obs indexes its vis cc over the SELECTED coarse
    list — digital_gains_df(sel_positions=...) must emit gains from
    those positions, not the first len(sel) entries of the full list
    (which would divide channel k's data by channel 0's gain)."""
    from birli_spark.sources import metafits as mf
    p = ("/root/reference/tests/data/1119683928_picket/"
         "1119683928.metafits")
    primary, tiledata = mf.read_metafits(p)
    full = mf.digital_gains_df(spark, tiledata).toPandas()
    sel = [3, 7, 20]
    sub = mf.digital_gains_df(spark, tiledata,
                              sel_positions=sel).toPandas()
    assert sorted(sub["cc"].unique()) == [0, 1, 2]
    f = full.set_index(["ant", "cc"]).sort_index()
    s = sub.set_index(["ant", "cc"]).sort_index()
    for new_cc, pos in enumerate(sel):
        for ant in (0, 1):
            assert (s.loc[(ant, new_cc), "gain_x"]
                    == f.loc[(ant, pos), "gain_x"])
    # identity CHANSEL (this obs selects all 24) -> None, full map
    assert mf.selected_channel_positions(primary) == list(range(24))


def test_values_df_literal_safety(spark):
    """ADVICE r7: string values must be quoted/escaped, None/NaN/inf
    must survive the VALUES-literal rendering, and an empty row list
    must yield an empty typed relation rather than invalid SQL."""
    from birli_spark.sources.metafits import values_df
    df = values_df(
        spark,
        [(1, "o'brien; DROP TABLE x", 2.5),
         (2, None, float("nan")),
         (3, "plain", float("inf"))],
        "id int, name string, x double")
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["name"] == "o'brien; DROP TABLE x"
    assert rows[2]["name"] is None
    assert rows[2]["x"] != rows[2]["x"]  # NaN
    assert rows[3]["x"] == float("inf")
    empty = values_df(spark, [], "id int, name string")
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["id", "name"]
