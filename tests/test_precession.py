"""Gates for the first-principles precession module
(operators/precession.py): model sanity, SQL-vs-numpy agreement, and
Spark-vs-DuckDB bit-exactness (the driver hash-gate property for
c3c_part_uvw_precessed)."""

from __future__ import annotations

import math

import duckdb
import numpy as np

from birli_spark.functions import textsql as X
from birli_spark.operators import precession as PR
from birli_spark.sources import synthetic as syn

RA0, DEC0 = 0.0, -27.0 * math.pi / 180.0


def test_nutation_magnitude():
    """dpsi/deps at J2019.8 are arcsec-scale with the right sign
    structure (dominant Omega term)."""
    dpsi, deps = PR.nutation00b(0.1977)
    assert 1e-6 < abs(dpsi) < 1e-4
    assert 1e-6 < abs(deps) < 1e-4


def test_npb_is_a_rotation():
    npb, _, _ = PR.npb_matrix(0.1977)
    np.testing.assert_allclose(npb @ npb.T, np.eye(3), atol=1e-12)
    assert abs(np.linalg.det(npb) - 1.0) < 1e-12
    # ~20 years of precession: the (0,1) entry is ~psi*cos(eps) ~ 2.2e-3
    assert 1e-3 < abs(npb[0, 1]) < 1e-2


def test_norm_preserved():
    xyz = np.array([[100.0, -50.0, 25.0]])
    p = PR.part_uvw_j2000(2458766.1478, RA0, DEC0, xyz)
    assert abs(np.linalg.norm(p) - np.linalg.norm(xyz)) < 1e-9


def _sql(d, **kw) -> str:
    """The one-text chain of the synthetic antennas' precessed UVWs."""
    steps, final, _ = PR.part_uvw_precessed_steps(
        d, RA0, DEC0, float(syn.GPS_START), syn.INT_TIME_S, syn.NUM_T,
        antennas="prc_ants", **kw)
    return f"WITH {X.ctes(steps)}\n{final}"


def test_sql_cross_engine_bitexact_and_matches_numpy(spark):
    spark.sql(f"CREATE OR REPLACE TEMP VIEW prc_ants AS "
              f"{syn.ANTENNAS_SQL}")
    s = spark.sql(_sql(X.SPARK)).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW prc_ants AS {syn.ANTENNAS_SQL}")
    d = con.execute(_sql(X.DUCK)).df()
    key = ["t", "ant"]
    s2 = s.sort_values(key).reset_index(drop=True)
    d2 = d.sort_values(key).reset_index(drop=True)
    assert len(s2) == len(d2) > 0
    for c in ("u", "v", "w"):
        a = s2[c].to_numpy(np.float64)
        b = d2[c].to_numpy(np.float64)
        assert (a.view(np.int64) == b.view(np.int64)).all(), c
    # numpy twin within the f32-trig envelope (micron-scale)
    for t in sorted(s2.t.unique()):
        jd = PR.JD_GPS_EPOCH + (syn.GPS_START + (t + 0.5) * syn.INT_TIME_S
                                - PR.GPS_UTC_LEAP_S) / 86400.0
        sub = s2[s2.t == t].sort_values("ant")
        xyz = np.stack([PR.enh_to_xyz(a * 10.0, a * 20.0, 377.0)
                        for a in sub.ant])
        ref = PR.part_uvw_j2000(jd, RA0, DEC0, xyz)
        np.testing.assert_allclose(
            sub[["u", "v", "w"]].to_numpy(), ref, atol=1e-4)


# ---------------------------------------------------- DUT1 (r4 ask 7) ---

DUT1 = 0.3  # seconds — a typical |UT1-UTC| magnitude


def test_dut1_shifts_era_by_exact_rate():
    """ERA is linear in UT1 (Capitaine 2000): a DUT1 of d seconds
    advances the Earth rotation angle by exactly
    2*pi * 1.00273781191135448 * d / 86400."""
    jd = PR.JD_GPS_EPOCH + (syn.GPS_START - PR.GPS_UTC_LEAP_S) / 86400.0
    want = 2.0 * math.pi * 1.00273781191135448 * DUT1 / 86400.0
    got = (PR.era_rad(jd + DUT1 / 86400.0) - PR.era_rad(jd)) % (2 * math.pi)
    # jd ~ 2.46e6 days: the +d/86400 addition itself rounds at the
    # ~1e-9 rad level (ulp of jd x the ERA rate) — assert to that
    # envelope, far below the 2.2e-5 rad signal
    assert abs(got - want) < 5e-9
    # magnitude sanity: ~2.2e-5 rad, i.e. ~4.5 arcsec of rotation
    assert 2.1e-5 < want < 2.3e-5


def test_dut1_rotates_uvws_analytically():
    """part_uvw_j2000 with DUT1=d must equal DUT1=0 on tile positions
    pre-rotated about the pole by the ERA advance — only the sidereal
    angle threads DUT1 (the reference threads dut1 through marlu's
    epochs the same way); everything else (TT, NPB) is UTC/TT-based."""
    jd = PR.JD_GPS_EPOCH + (syn.GPS_START + 1.0
                            - PR.GPS_UTC_LEAP_S) / 86400.0
    xyz = np.stack([PR.enh_to_xyz(a * 10.0, a * 20.0, 377.0)
                    for a in range(4)])
    dtheta = 2.0 * math.pi * 1.00273781191135448 * DUT1 / 86400.0
    got = PR.part_uvw_j2000(jd, RA0, DEC0, xyz, dut1_s=DUT1)
    want = PR.part_uvw_j2000(jd, RA0, DEC0,
                             (PR._r3(-dtheta) @ xyz.T).T, dut1_s=0.0)
    # f64 jd rounding leaves ~1e-9 rad of angle noise -> sub-micron
    # position noise at |r| ~ 400 m; the DUT1 signal itself is ~9 um/m
    np.testing.assert_allclose(got, want, rtol=0, atol=5e-6)
    # and the shift is physically visible: |delta UVW| ~ |r| * dtheta
    base = PR.part_uvw_j2000(jd, RA0, DEC0, xyz, dut1_s=0.0)
    shift = np.linalg.norm(got - base, axis=1)
    r_xy = np.linalg.norm(xyz[:, :2], axis=1)
    np.testing.assert_allclose(shift, r_xy * dtheta, rtol=2e-2)


def test_dut1_sql_cross_engine_and_matches_numpy(spark):
    """The SQL spelling with a nonzero DUT1: Spark and DuckDB bit-equal,
    and within the f32-trig envelope of the numpy model at DUT1=0.3 —
    the c3c path the CLI's --dut1 feeds (cli.py::--dut1)."""
    spark.sql(f"CREATE OR REPLACE TEMP VIEW prc_ants AS "
              f"{syn.ANTENNAS_SQL}")
    s = spark.sql(_sql(X.SPARK, dut1_s=DUT1)).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW prc_ants AS {syn.ANTENNAS_SQL}")
    d = con.execute(_sql(X.DUCK, dut1_s=DUT1)).df()
    key = ["t", "ant"]
    s2 = s.sort_values(key).reset_index(drop=True)
    d2 = d.sort_values(key).reset_index(drop=True)
    assert len(s2) == len(d2) > 0
    for c in ("u", "v", "w"):
        assert (s2[c].to_numpy(np.float64).view(np.int64)
                == d2[c].to_numpy(np.float64).view(np.int64)).all(), c
    t0 = int(s2.t.min())
    jd = PR.JD_GPS_EPOCH + (syn.GPS_START + (t0 + 0.5) * syn.INT_TIME_S
                            - PR.GPS_UTC_LEAP_S) / 86400.0
    sub = s2[s2.t == t0].sort_values("ant")
    xyz = np.stack([PR.enh_to_xyz(a * 10.0, a * 20.0, 377.0)
                    for a in sub.ant])
    ref = PR.part_uvw_j2000(jd, RA0, DEC0, xyz, dut1_s=DUT1)
    np.testing.assert_allclose(sub[["u", "v", "w"]].to_numpy(), ref,
                               atol=1e-4)
    # the DUT1=0 SQL result is materially DIFFERENT (the flag matters)
    s0 = spark.sql(_sql(X.SPARK)).toPandas() \
        .sort_values(key).reset_index(drop=True)
    assert not np.allclose(s2[["u", "v", "w"]].to_numpy(),
                           s0[["u", "v", "w"]].to_numpy(), atol=1e-6)
