"""Synthesize legacy gpubox FITS files for obs 1254670392 from the
reference's OWN golden CSV.

The reference's CLI acceptance tests (src/cli.rs compare_cotter_*) run
the whole binary on the real 24-file 1254670392_avg observation and
compare the written UVFITS against Cotter golden CSVs
(src/test_common.rs:208-480). The raw gpubox files are not shipped in
the repository (only the metafits + golden dumps are), so this tool
reconstructs a bit-faithful INPUT: the `none` CSV is Cotter's dump of
the UNCORRECTED visibilities, i.e. (modulo the dump's conjugate
convention) exactly the raw correlator values — so placing those
values back into legacy gpubox slot layout yields input files whose
uncorrected read-back equals the dump, cell for cell.

Construction:
- values: conj(none-CSV cell) (the dump convention is the conjugate of
  the raw/internal one; the reference's comparator conjugates its own
  output before matching, src/test_common.rs:386-387),
- slot layout: the exact inverse of sources/legacy_gpubox.py's decode
  (PFB-lane station-major lower-triangular + conjugation rule), which
  is itself validated bit-exactly against the reference's pyuvdata
  golden for 1196175296,
- container: tile-compressed FITS (ZIMAGE bintable, GZIP f64 tiles,
  one tile per fine channel, written by legacy_gpubox.scan_hdu) — the
  same physical shape as the real legacy files our reader decodes,
- times: TIME/MILLITIM per scan from the obs GPS schedule
  (leap-corrected to unix),
- cells not covered by the (partial) dump are zero; corrections are
  per-cell, so they never contaminate compared cells.

Usage: python tools/make_1254670392_fixture.py <dest_dir>
(also importable: build(dest_dir) -> metadata dict)
"""

from __future__ import annotations

import csv
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from birli_spark.functions import timeutil  # noqa: E402
from birli_spark.sources import fitscore as fc  # noqa: E402
from birli_spark.sources import legacy_gpubox as lg  # noqa: E402
from birli_spark.sources import metafits as mf  # noqa: E402

REF_DIR = "/root/reference/tests/data/1254670392_avg"
METAFITS = f"{REF_DIR}/1254670392.fixed.metafits"
NONE_CSV = f"{REF_DIR}/1254670392.cotter.none.uvfits.csv"
#: pyuvdata's uncorrected dump — SAME values and convention as the
#: Cotter dump where they overlap (verified equal to the last bit),
#: but covering 250 baselines of gpubox01's coarse channel (sky_cc 23,
#: chans 736..767) incl. the ant-1 auto the Van Vleck golden needs
PYUV_NONE_CSV = f"{REF_DIR}/pyuvdata_1254670392.none.csv"
#: gpubox01's coarse channel in ascending sky order, determined by
#: value-matching the pyuvdata dump against the Cotter dump's chan
#: blocks (and consistent with sky_channel_order)
PYUV_SKY_CC = 23

#: UVFITS DATE group params are UTC JDs; GPS second 0 is JD 2444244.5
GPS_EPOCH_JD = 2444244.5

POL_IDX = {"xx": 0, "xy": 1, "yx": 2, "yy": 3}


def parse_none_csv(path: str = NONE_CSV):
    """-> (sorted jds, {(jd, blc, pol): complex ndarray},
    {(jd, blc, pol): weight ndarray})"""
    vis: dict = {}
    wt: dict = {}
    with open(path) as f:
        r = csv.reader(f)
        next(r)
        for row in r:
            key = (float(row[0]), int(row[1]), row[5].strip())
            vals = [v.strip() for v in row[7:]]
            if row[6].strip() == "vis":
                vis[key] = np.array([complex(v) for v in vals])
            else:
                wt[key] = np.array([float(v) for v in vals])
    jds = sorted({k[0] for k in vis})
    return jds, vis, wt


def build(dest_dir: str) -> dict:
    os.makedirs(dest_dir, exist_ok=True)
    primary, tiledata = mf.read_metafits(METAFITS)
    octx = mf.obs_context(primary)
    obsid = octx["obsid"]
    int_s = octx["int_time_s"]
    nf = octx["n_fine_per_coarse"]
    coarse = octx["coarse_channels"]
    n_cc = len(coarse)

    jds, vis, _wt = parse_none_csv()
    # The dumps' DATE params are centroids at obsid+2 and obsid+4 —
    # i.e. the real archive's scans START at obsid+1/+3 (a +1 s data
    # grid offset from the schedule, witnessed independently by the
    # Cotter AND pyuvdata golden dumps). Recover the offset and scan
    # indices from the dump itself and validate the grid round-trips.
    leap = timeutil.gps_utc_offset_s(obsid)
    cents = [(jd - GPS_EPOCH_JD) * 86400.0 + leap - obsid for jd in jds]
    # offset of scan starts from the scheduled grid, in [0, int_s),
    # snapped to the half-second grid MWA scans start on (the dump JDs
    # carry ~1 ms of float-print noise)
    offset_s = round(((cents[0] - int_s / 2.0) % int_s) * 2.0) / 2.0
    t_of = {}
    for jd, cent in zip(jds, cents):
        t_int = int(round((cent - offset_s - int_s / 2.0) / int_s))
        want_jd = (GPS_EPOCH_JD + (obsid + offset_s + t_int * int_s
                                   + int_s / 2.0 - leap) / 86400.0)
        # dump JDs carry ~1 ms of float-print noise
        assert abs(want_jd - jd) * 86400.0 < 0.002, (jd, want_jd)
        t_of[jd] = t_int
    n_scans = max(t_of.values()) + 1

    amap = lg.input_map(tiledata)
    a1s, a2s, slots, signs = lg.slot_tables(amap)
    bl_of = {(int(a1), int(a2)): i
             for i, (a1, a2) in enumerate(zip(a1s, a2s))}
    n_slots = int(slots.max()) + 1
    order = lg.sky_channel_order(coarse)          # sky_cc -> gpubox idx
    gp_of_sky = {si: gi + 1 for si, gi in enumerate(order)}

    # tiles[t][gp] = (nf, n_slots, 2) float64
    tiles = {(t, gp): np.zeros((nf, n_slots, 2))
             for t in range(n_scans) for gp in gp_of_sky.values()}
    n_cells = 0

    def seed(t: int, blc: int, pol: str, chan0: int, vals) -> int:
        a1, a2 = blc // 256 - 1, blc % 256 - 1
        if a1 == a2 and pol == "xy":
            # Cotter/pyuvdata zero the XY cross-hand of autos in their
            # dumps (the real value is conj(yx), which shares the same
            # correlator slot) — writing the artificial zeros would
            # clobber the yx-seeded slot
            return 0
        bi = bl_of[(a1, a2)]
        pi = POL_IDX[pol]
        slot = int(slots[bi, pi])
        sign = float(signs[bi, pi])
        wrote = 0
        for k, z in enumerate(vals):
            chan = chan0 + k
            sky_cc, fcn = chan // nf, chan % nf
            gp = gp_of_sky[sky_cc]
            # raw = conj(dump); stored im carries the read-side sign
            tiles[(t, gp)][fcn, slot, 0] = float(z.real)
            tiles[(t, gp)][fcn, slot, 1] = -float(z.imag) * sign
            wrote += 1
        return wrote

    for (jd, blc, pol), vals in vis.items():
        assert len(vals) == nf * n_cc
        n_cells += seed(t_of[jd], blc, pol, 0, vals)

    # overlay the pyuvdata dump's 250 baselines of gpubox01's coarse
    # channel (t=0 only; values identical to Cotter's where both dumps
    # cover a cell)
    _, pvis, _ = parse_none_csv(PYUV_NONE_CSV)
    for (_jd, blc, pol), vals in pvis.items():
        assert len(vals) == nf
        n_cells += seed(0, blc, pol, PYUV_SKY_CC * nf, vals)

    stamp = "20191009153257"  # cosmetic (real archives carry one)
    paths = []
    for gp in sorted(gp_of_sky.values()):
        parts = [_primary_hdu(obsid)]
        for t in range(n_scans):
            unix_s = int(timeutil.gps_to_unix_s(
                obsid + offset_s + t * int_s))
            parts.append(lg.scan_hdu(tiles[(t, gp)], unix_s))
        path = os.path.join(
            dest_dir, f"{obsid}_{stamp}_gpubox{gp:02d}_00.fits")
        with open(path, "wb") as f:
            f.write(b"".join(parts))
        paths.append(path)
    return {"paths": paths, "n_scans": n_scans, "n_cells": n_cells,
            "offset_s": offset_s, "metafits": METAFITS,
            "glob": os.path.join(dest_dir, f"{obsid}_*gpubox*.fits")}


def _primary_hdu(obsid: int) -> bytes:
    cards = [fc.card("SIMPLE", True), fc.card("BITPIX", 8),
             fc.card("NAXIS", 0), fc.card("OBSID", obsid),
             fc.card("COMMENT", None),
             fc.end_card()]
    return fc.pad_block(b"".join(cards))


if __name__ == "__main__":
    dest = sys.argv[1] if len(sys.argv) > 1 else "/tmp/fixture_1254670392"
    meta = build(dest)
    print(f"wrote {len(meta['paths'])} gpubox files, "
          f"{meta['n_scans']} scans, {meta['n_cells']} seeded cells")
