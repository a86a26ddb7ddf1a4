"""C3c — IAU-2006 precession-nutation partial-UVW geometry from first
principles (reference ``calc_part_uvws``, src/corrections.rs:652-676,
which delegates to marlu/ERFA's ``precess_time`` + ``precess_xyz``).

Public short-series models only (no ERFA dependency):

- **ERA + GMST(IAU 2006)**: Earth rotation angle (Capitaine 2000) plus
  the IAU 2006 polynomial (arcsec) — the modern GMST.
- **Bias-precession (IAU 2006)**: Fukushima-Williams angles
  gamma_bar, phi_bar, psi_bar, eps_A as published polynomials in TT
  Julian centuries.
- **Nutation (IAU 2000B, leading terms)**: the dominant luni-solar
  terms of the 77-term series (the 10 kept here cover ~99.9% of the
  amplitude; truncation error < 1 mas ~ 5e-9 rad).
- **Equation of the equinoxes**: dpsi * cos(eps), completing GAST.

The frame math collapses: with NM = R1(-eps-deps) R3(-dpsi) R1(eps)
and P = R1(-eps) R3(-psi) R1(phi) R3(gamma), the inner R1(eps) R1(-eps)
cancels and R3(-dpsi) R3(-psi) merges, so

    NPB   = R1(-(eps+deps)) . R3(-(psi+dpsi)) . R1(phi) . R3(gamma)
    NPB^T = R3(-gamma) . R1(-phi) . R3(psi+dpsi) . R1(eps+deps)

i.e. the J2000 antenna position is FOUR successive axis rotations of
the of-date celestial position — each a two-column rotation step, which
is exactly how the SQL spelling executes it (no 3x3 matrix columns).

Per timestep: of-date celestial tile vector = R3(-LAST) . local_xyz,
precessed to J2000 by NPB^T, projected onto (u, v, w) against the J2000
phase centre — marlu's ``UVW::from_xyz(precess_xyz(..), hadec_j2000)``
shape. Validated against Cotter's real UVW dump
(tests/data/1254670392_avg, casacore-computed): max residual ~1.3 mm on
the dump baselines with dut1 = 0 (tests/test_golden_cotter.py), vs the
arcminute-level error of the precession-free C3b.

Cross-engine hashing: SIN/COS are the only non-correctly-rounded
primitives — every trig output is f32-demoted (the vanvleck_sql EXP
technique), making each rotation step a deterministic engine-identical
map. All angle polynomials are exact +-*/ over literals.

Scale shape: a pure (timesteps x antennas) dim computation — T*A rows,
never touching the fact table; the result broadcast-joins into C3.
"""

from __future__ import annotations

import math

import numpy as np

AS2R = math.pi / 648000.0      # arcsec -> rad
#: MWA site (public marlu constants)
MWA_LON_RAD = 2.0362898668561042
MWA_LAT_RAD = -0.4660608448386394
#: Cotter's site (the public mwaconfig.h defines; the reference's
#: COTTER_MWA_* constants feed --emulate-cotter, src/cli.rs:1353-1363)
COTTER_LAT_RAD = math.radians(-26.703319)
COTTER_LON_RAD = math.radians(116.67081)
COTTER_HEIGHT_M = 377.0
#: GPS-UTC leap offset (s) valid 2017+ (the synthetic + fixture era)
GPS_UTC_LEAP_S = 18.0
#: JD of the GPS epoch 1980-01-06T00:00:00 UTC
JD_GPS_EPOCH = 2444244.5
#: TT - UTC (s) for the 2017+ leap era: TAI-UTC(37) + 32.184
TT_MINUS_UTC_S = 37.0 + 32.184

#: IAU 2000B luni-solar nutation, 10 leading terms
#: (l, l', F, D, Om multipliers; psi sin/t*sin/cos, eps cos/t*cos/sin
#: coefficients in 0.1 microarcsec)
NUT2000B = (
    (0, 0, 0, 0, 1, -172064161.0, -174666.0, 33386.0,
     92052331.0, 9086.0, 15377.0),
    (0, 0, 2, -2, 2, -13170906.0, -1675.0, -13696.0,
     5730336.0, -3015.0, -4587.0),
    (0, 0, 2, 0, 2, -2276413.0, -234.0, 2796.0, 978459.0, -485.0, 1374.0),
    (0, 0, 0, 0, 2, 2074554.0, 207.0, -698.0, -897492.0, 470.0, -291.0),
    (0, 1, 0, 0, 0, 1475877.0, -3633.0, 11817.0, 73871.0, -184.0, -1924.0),
    (0, 1, 2, -2, 2, -516821.0, 1226.0, -524.0, 224386.0, -677.0, -174.0),
    (1, 0, 0, 0, 0, 711159.0, 73.0, -872.0, -6750.0, 0.0, 358.0),
    (0, 0, 2, 0, 1, -387298.0, -367.0, 380.0, 200728.0, 18.0, 318.0),
    (1, 0, 2, 0, 2, -301461.0, -36.0, 816.0, 129025.0, -63.0, 367.0),
    (0, -1, 2, -2, 2, 215829.0, -494.0, 111.0, -95929.0, 299.0, 132.0),
)

#: fundamental-argument polynomials (arcsec): Delaunay l, l', F, D, Om
FUND = (
    (485868.249036, 1717915923.2178),
    (1287104.79305, 129596581.0481),
    (335779.526232, 1739527262.8478),
    (1072260.70369, 1602961601.2090),
    (450160.398036, -6962890.5431),
)

#: Fukushima-Williams bias-precession polynomials (arcsec, IAU 2006)
FW_GAM = (-0.052928, 10.556378, 0.4932044, -0.00031238, -0.000002788,
          0.0000000260)
FW_PHI = (84381.412819, -46.811016, 0.0511268, 0.00053289, -0.000000440,
          -0.0000000176)
FW_PSI = (-0.041775, 5038.481484, 1.5584175, -0.00018522, -0.000026452,
          -0.0000000148)
FW_EPS = (84381.406, -46.836769, -0.0001831, 0.00200340, -0.000000576,
          -0.0000000434)
#: GMST(IAU 2006) = ERA + poly (arcsec)
GMST_POLY = (0.014506, 4612.156534, 1.3915817, -0.00000044, -0.000029956)


# ----------------------------------------------------------- numpy path ---

def _poly(coeffs, t):
    acc = 0.0
    for c in reversed(coeffs):
        acc = acc * t + c
    return acc


def nutation00b(t: float) -> tuple[float, float]:
    """(dpsi, deps) in radians from the leading IAU 2000B terms."""
    args = [_poly(c, t) * AS2R for c in FUND]
    dpsi = deps = 0.0
    for (cl, clp, cf, cd, co, ps, pst, pc, ec, ect, es) in NUT2000B:
        a = (cl * args[0] + clp * args[1] + cf * args[2]
             + cd * args[3] + co * args[4])
        dpsi += (ps + pst * t) * math.sin(a) + pc * math.cos(a)
        deps += (ec + ect * t) * math.cos(a) + es * math.sin(a)
    return dpsi * 1e-7 * AS2R, deps * 1e-7 * AS2R


def era_rad(jd_ut1: float) -> float:
    d = jd_ut1 - 2451545.0
    return 2.0 * math.pi * ((0.7790572732640 + 1.00273781191135448 * d)
                            % 1.0)


def gmst06_rad(jd_ut1: float, t_tt: float) -> float:
    return era_rad(jd_ut1) + _poly(GMST_POLY, t_tt) * AS2R


def _r1(a):
    c, s = math.cos(a), math.sin(a)
    return np.array([[1.0, 0.0, 0.0], [0.0, c, s], [0.0, -s, c]])


def _r3(a):
    c, s = math.cos(a), math.sin(a)
    return np.array([[c, s, 0.0], [-s, c, 0.0], [0.0, 0.0, 1.0]])


def npb_matrix(t: float) -> tuple[np.ndarray, float, float]:
    """(NPB, dpsi, eps_total): the combined frame-bias + precession +
    nutation rotation (see module docstring for the collapsed form)."""
    gam = _poly(FW_GAM, t) * AS2R
    phi = _poly(FW_PHI, t) * AS2R
    psi = _poly(FW_PSI, t) * AS2R
    eps = _poly(FW_EPS, t) * AS2R
    dpsi, deps = nutation00b(t)
    npb = _r1(-(eps + deps)) @ _r3(-(psi + dpsi)) @ _r1(phi) @ _r3(gam)
    return npb, dpsi, eps + deps


def enh_to_xyz(east, north, height, lat_rad: float = MWA_LAT_RAD):
    """Local ENH -> geodetic XYZ (marlu XyzGeodetic convention)."""
    sl, cl = math.sin(lat_rad), math.cos(lat_rad)
    return np.array([-sl * north + cl * height,
                     east,
                     cl * north + sl * height])


def part_uvw_j2000(jd_utc: float, ra_rad: float, dec_rad: float,
                   xyz: np.ndarray, dut1_s: float = 0.0,
                   lon_rad: float = MWA_LON_RAD) -> np.ndarray:
    """(n_ant, 3) J2000-frame partial UVWs (meters) for geodetic-XYZ
    tile positions ``xyz`` at UTC ``jd_utc`` — the reference's
    per-(t, ant) table, uvw(bl) = part[a1] - part[a2]."""
    jd_tt = jd_utc + TT_MINUS_UTC_S / 86400.0
    jd_ut1 = jd_utc + dut1_s / 86400.0
    t = (jd_tt - 2451545.0) / 36525.0
    npb, dpsi, eps_t = npb_matrix(t)
    last = gmst06_rad(jd_ut1, t) + dpsi * math.cos(eps_t) + lon_rad
    v_cel = (_r3(-last) @ np.atleast_2d(xyz).T).T
    v_j2000 = (npb.T @ v_cel.T).T
    sr, cr = math.sin(ra_rad), math.cos(ra_rad)
    sd, cd = math.sin(dec_rad), math.cos(dec_rad)
    u = -sr * v_j2000[:, 0] + cr * v_j2000[:, 1]
    v = (-sd * cr * v_j2000[:, 0] - sd * sr * v_j2000[:, 1]
         + cd * v_j2000[:, 2])
    w = (cd * cr * v_j2000[:, 0] + cd * sr * v_j2000[:, 1]
         + sd * v_j2000[:, 2])
    return np.stack([u, v, w], axis=1)


# ------------------------------------------------------------- SQL path ---

def _xt(d: str, fn: str, e: str) -> str:
    """f32-demoted trig — the one non-correctly-rounded primitive class,
    pinned to a cross-engine-stable grid (vanvleck_sql's EXP technique)."""
    return f"CAST(CAST({fn}({e}) AS FLOAT) AS DOUBLE)"


def _rp(v: float) -> str:
    return repr(float(v))


def _poly_sql(coeffs, t: str) -> str:
    acc = _rp(coeffs[-1])
    for c in reversed(coeffs[:-1]):
        acc = f"({acc} * {t} + {_rp(c)})"
    return acc


def part_uvw_precessed_steps(d: str, ra_rad: float, dec_rad: float,
                             gps_start: float, int_time_s: float,
                             num_t: int, antennas: str = "antennas",
                             dut1_s: float = 0.0,
                             lon_rad: float = MWA_LON_RAD,
                             lat_rad: float = MWA_LAT_RAD,
                             ) -> tuple[list[tuple[str, str]], str,
                                        frozenset[str]]:
    """(steps, final SELECT, no barriers) of the (t, ant, u, v, w) precessed
    partial-UVW dim over relation ``antennas`` (ant, east_m, north_m,
    height_m) — identical plan text modulo dialect. Timestep centroids
    mirror the reference (gps_start + (t + 1/2) * int_time,
    src/corrections.rs:239-242); GPS -> UTC JD via the 2017+ leap
    offset."""
    from birli_spark.functions import textsql as X

    tsel = (f"SELECT CAST(range AS INT) AS t FROM RANGE({num_t})"
            if d == X.DUCK else
            f"SELECT CAST(id AS INT) AS t FROM RANGE(0, {num_t})")
    jd_utc = (f"({_rp(JD_GPS_EPOCH)}"
              f" + (({_rp(gps_start)} + (CAST(t AS DOUBLE) + 5E-1)"
              f" * {_rp(int_time_s)}) - {_rp(GPS_UTC_LEAP_S)}) / 864E2)")
    tt = (f"((jd_utc + {_rp(TT_MINUS_UTC_S / 86400.0)} - 2451545E0)"
          f" / 36525E0)")
    # ERA: 2 pi frac(era0 + rate * d); exact FMOD keeps the argument
    # small before the f32-demoted trig sees it
    dd = (f"(jd_utc + {_rp(dut1_s / 86400.0)} - 2451545E0)"
          if dut1_s else "(jd_utc - 2451545E0)")
    era_frac = (f"((0.7790572732640E0 + 1.00273781191135448E0 * {dd})"
                f" % 1E0)")
    args = [f"({_poly_sql(c, 'tc')} * {_rp(AS2R)})" for c in FUND]
    nut_psi = []
    nut_eps = []
    for (cl, clp, cf, cd_, co, ps, pst, pc, ec, ect, es) in NUT2000B:
        terms = []
        for mult, arg in zip((cl, clp, cf, cd_, co), args):
            if mult:
                terms.append(f"{_rp(float(mult))} * {arg}")
        a = "(" + " + ".join(terms) + ")"
        sa, ca = _xt(d, "SIN", a), _xt(d, "COS", a)
        nut_psi.append(f"({_rp(ps)} + {_rp(pst)} * tc) * {sa}"
                       f" + {_rp(pc)} * {ca}")
        nut_eps.append(f"({_rp(ec)} + {_rp(ect)} * tc) * {ca}"
                       f" + {_rp(es)} * {sa}")
    steps: list[tuple[str, str]] = [
        ("prc_t", tsel),
        ("prc_tc",
         f"SELECT t, jd_utc, {tt} AS tc FROM"
         f" (SELECT t, {jd_utc} AS jd_utc FROM prc_t)"),
        ("prc_ang",
         f"SELECT t, tc,"
         f" 2E0 * {_rp(math.pi)} * {era_frac} AS era,"
         f" {_poly_sql(GMST_POLY, 'tc')} * {_rp(AS2R)} AS gmst_poly,"
         f" {_poly_sql(FW_GAM, 'tc')} * {_rp(AS2R)} AS gam,"
         f" {_poly_sql(FW_PHI, 'tc')} * {_rp(AS2R)} AS phi,"
         f" {_poly_sql(FW_PSI, 'tc')} * {_rp(AS2R)} AS psi,"
         f" {_poly_sql(FW_EPS, 'tc')} * {_rp(AS2R)} AS eps,"
         f" ({' + '.join(nut_psi)}) * 1E-7 * {_rp(AS2R)} AS dpsi,"
         f" ({' + '.join(nut_eps)}) * 1E-7 * {_rp(AS2R)} AS deps"
         f" FROM prc_tc"),
        ("prc_last",
         f"SELECT t, gam, phi, psi + dpsi AS psid, eps + deps AS epsd,"
         f" era + gmst_poly + dpsi * {_xt(d, 'COS', 'eps + deps')}"
         f" + {_rp(lon_rad)} AS last FROM prc_ang"),
    ]
    # local geodetic XYZ per antenna (constants per row)
    sl, cl = math.sin(lat_rad), math.cos(lat_rad)
    steps.append((
        "prc_xyz",
        f"SELECT ant, {_rp(-sl)} * north_m + {_rp(cl)} * height_m AS bx,"
        f" east_m AS by, {_rp(cl)} * north_m + {_rp(sl)} * height_m AS bz"
        f" FROM {antennas}"))
    # of-date celestial: R3(-last); then NPB^T as FOUR rotation steps
    # (see module docstring): R3(-gam) R1(-phi) R3(psid) R1(epsd)
    def c_(col):
        return _xt(d, "COS", col)

    def s_(col):
        return _xt(d, "SIN", col)

    steps.extend([
        ("prc_v0",
         f"SELECT l.t, x.ant, l.gam, l.phi, l.psid, l.epsd,"
         f" x.bx * {c_('l.last')} - x.by * {s_('l.last')} AS vx,"
         f" x.bx * {s_('l.last')} + x.by * {c_('l.last')} AS vy,"
         f" x.bz AS vz"
         f" FROM prc_last l CROSS JOIN prc_xyz x"),
        # R1(epsd): rotate (y, z). Outputs get FRESH names per step:
        # both engines support lateral column-alias references, so
        # reusing an input name for a rotated output is ambiguous.
        ("prc_v1",
         f"SELECT t, ant, gam, phi, psid, vx AS wx,"
         f" vy * {c_('epsd')} + vz * {s_('epsd')} AS wy,"
         f" vz * {c_('epsd')} - vy * {s_('epsd')} AS wz FROM prc_v0"),
        # R3(psid): rotate (x, y)
        ("prc_v2",
         f"SELECT t, ant, gam, phi,"
         f" wx * {c_('psid')} + wy * {s_('psid')} AS qx,"
         f" wy * {c_('psid')} - wx * {s_('psid')} AS qy, wz AS qz"
         f" FROM prc_v1"),
        # R1(-phi): rotate (y, z)
        ("prc_v3",
         f"SELECT t, ant, gam, qx AS rx,"
         f" qy * {c_('phi')} - qz * {s_('phi')} AS ry,"
         f" qz * {c_('phi')} + qy * {s_('phi')} AS rz FROM prc_v2"),
        # R3(-gam): rotate (x, y)
        ("prc_v4",
         f"SELECT t, ant,"
         f" rx * {c_('gam')} - ry * {s_('gam')} AS vx,"
         f" ry * {c_('gam')} + rx * {s_('gam')} AS vy, rz AS vz"
         f" FROM prc_v3"),
    ])
    sr, cr = math.sin(ra_rad), math.cos(ra_rad)
    sd, cd_ = math.sin(dec_rad), math.cos(dec_rad)
    final = (
        f"SELECT t, ant,"
        f" CAST(CAST({_rp(-sr)} * vx + {_rp(cr)} * vy AS FLOAT) AS DOUBLE)"
        f" AS u,"
        f" CAST(CAST({_rp(-sd * cr)} * vx + {_rp(-sd * sr)} * vy"
        f" + {_rp(cd_)} * vz AS FLOAT) AS DOUBLE) AS v,"
        f" CAST(CAST({_rp(cd_ * cr)} * vx + {_rp(cd_ * sr)} * vy"
        f" + {_rp(sd)} * vz AS FLOAT) AS DOUBLE) AS w"
        f" FROM prc_v4")
    return steps, final, frozenset()
