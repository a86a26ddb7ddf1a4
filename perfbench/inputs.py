"""Seeded input generation for the preprocessing benchmark.

``legacy_obs`` writes the cli_legacy_obs observation: a metafits with a
TILEDATA bintable plus 24 legacy (Ord correlator) gpubox files whose
scan HDUs use the GZIP-tile container of ``tools/scale_e2e.py``. Only
the visibility payload, the antenna layout (positions, cable lengths,
digital gains, input wiring) and the flagged tiles depend on the seed;
the shape is fixed by the caller. Output is cached per (seed, shape)
under the benchmark's work directory.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

import numpy as np

from birli_spark.functions import timeutil
from birli_spark.sources import fitscore as fc
from birli_spark.sources import legacy_gpubox
from tools import scale_e2e

OBSID = 1196175296
STAMP = "20171201145440"
INT_S = 2.0
N_CC = 24
#: receiver channels crossing the 128 spectral-flip boundary
CHANNELS = list(range(117, 117 + N_CC))


@dataclass(frozen=True)
class LegacyShape:
    n_ants: int
    n_fine: int
    n_scans: int

    @property
    def n_baselines(self) -> int:
        return self.n_ants * (self.n_ants + 1) // 2

    @property
    def n_slots(self) -> int:
        """Complex slots per fine channel: the lower-triangular station
        matrix over the n_ants stations the inputs are wired to."""
        return 4 * self.n_baselines

    @property
    def cube_rows(self) -> int:
        return self.n_scans * N_CC * self.n_fine * self.n_baselines

    @property
    def payload_bytes(self) -> int:
        """f32-equivalent visibility payload (the archive's unit)."""
        return self.n_scans * N_CC * self.n_fine * self.n_slots * 2 * 4

    def tag(self) -> str:
        return f"a{self.n_ants}_f{self.n_fine}_t{self.n_scans}"


def _station_inputs(n_ants: int) -> list[int]:
    """Receiver inputs whose PFB lanes are 0..2*n_ants-1, so the
    correlator stations they feed are exactly 0..n_ants-1 and the scan
    needs only n_ants stations' worth of slots."""
    inv = {legacy_gpubox.pfb_position(i): i for i in range(256)}
    return [inv[p] for p in range(2 * n_ants)]


def _tiledata_hdu(rng: np.random.Generator, n_ants: int) -> tuple[bytes, list]:
    """TILEDATA bintable: two rows (X, Y) per antenna. Returns the HDU
    bytes and the flagged antenna indices."""
    inputs = _station_inputs(n_ants)
    # seeded wiring: which station pair each antenna's inputs feed
    wiring = rng.permutation(n_ants)
    n_flag = max(1, n_ants // 16)
    flagged = sorted(int(a) for a in rng.choice(n_ants, n_flag, replace=False))
    north = rng.uniform(-600.0, 600.0, n_ants)
    east = rng.uniform(-600.0, 600.0, n_ants)
    height = 377.0 + rng.uniform(-2.0, 2.0, n_ants)
    length = rng.uniform(80.0, 520.0, n_ants)
    gains = rng.integers(60, 72, size=(n_ants, N_CC))
    cols = (("Input", "1I"), ("Antenna", "1I"), ("Tile", "1I"),
            ("TileName", "8A"), ("Pol", "1A"), ("Flag", "1I"),
            ("Length", "14A"), ("North", "1E"), ("East", "1E"),
            ("Height", "1E"), ("Gains", f"{N_CC}I"))
    rows = []
    for a in range(n_ants):
        for k, pol in enumerate(("X", "Y")):
            rec = b"".join([
                np.array([inputs[2 * wiring[a] + k], a, 1000 + a],
                         dtype=">i2").tobytes(),
                f"Tile{a:03d}".encode().ljust(8)[:8],
                pol.encode(),
                np.array([a in flagged], dtype=">i2").tobytes(),
                f"EL_{length[a] + 0.25 * k:.3f}".encode().ljust(14)[:14],
                np.array([north[a], east[a], height[a]],
                         dtype=">f4").tobytes(),
                gains[a].astype(">i2").tobytes(),
            ])
            rows.append(rec)
    row_bytes = len(rows[0])
    cards = [fc.card("XTENSION", "BINTABLE"), fc.card("BITPIX", 8),
             fc.card("NAXIS", 2), fc.card("NAXIS1", row_bytes),
             fc.card("NAXIS2", len(rows)), fc.card("PCOUNT", 0),
             fc.card("GCOUNT", 1), fc.card("TFIELDS", len(cols))]
    for i, (name, form) in enumerate(cols, 1):
        cards += [fc.card(f"TTYPE{i}", name), fc.card(f"TFORM{i}", form)]
    cards += [fc.card("EXTNAME", "TILEDATA"), fc.end_card()]
    hdu = (fc.pad_block(b"".join(cards))
           + fc.pad_block(b"".join(rows), fill=b"\x00"))
    return hdu, flagged


def _metafits(path: str, rng: np.random.Generator, shape: LegacyShape) -> list:
    primary = [
        fc.card("SIMPLE", True), fc.card("BITPIX", 8), fc.card("NAXIS", 0),
        fc.card("EXTEND", True),
        fc.card("GPSTIME", OBSID), fc.card("NSCANS", shape.n_scans),
        fc.card("NINPUTS", 2 * shape.n_ants),
        fc.card("INTTIME", INT_S),
        fc.card("FINECHAN", 1280.0 / shape.n_fine),
        fc.card("NCHANS", N_CC * shape.n_fine),
        fc.card("QUACKTIM", 4.0),
        fc.card("EXPOSURE", int(shape.n_scans * INT_S)),
        fc.card("RA", 6.25), fc.card("DEC", -26.5),
        fc.card("RAPHASE", 6.25), fc.card("DECPHASE", -26.5),
    ]
    primary += scale_e2e._long_string_cards(
        "CHANNELS", ",".join(str(c) for c in CHANNELS))
    primary.append(fc.end_card())
    tiledata, flagged = _tiledata_hdu(rng, shape.n_ants)
    with open(path, "wb") as f:
        f.write(fc.pad_block(b"".join(primary)) + tiledata)
    return flagged


def _gpubox(path: str, gp: int, seed: int, shape: LegacyShape) -> None:
    unix0 = timeutil.gps_to_unix_s(float(OBSID))
    with open(path, "wb") as f:
        f.write(fc.pad_block(b"".join([
            fc.card("SIMPLE", True), fc.card("BITPIX", 8),
            fc.card("NAXIS", 0), fc.card("OBSID", OBSID), fc.end_card()])))
        for t in range(shape.n_scans):
            rng = np.random.default_rng((seed, gp, t))
            # correlator-count-like values on the archive's 0.125 grid
            scan = (rng.integers(-2048, 2048,
                                 size=(shape.n_fine, shape.n_slots, 2))
                    .astype(np.float64) * 0.125)
            unix = unix0 + t * INT_S
            f.write(scale_e2e._scan_hdu(
                scan, int(unix), int(round((unix % 1.0) * 1000))))


def legacy_obs(root: str, seed: int, shape: LegacyShape) -> dict:
    """Generate (once per (seed, shape)) and describe the observation:
    {'metafits', 'glob', 'flagged', ...}."""
    d = os.path.join(root, f"legacy_s{seed}_{shape.tag()}")
    marker = os.path.join(d, "obs.json")
    paths = {"metafits": os.path.join(d, f"{OBSID}.metafits"),
             "glob": os.path.join(d, f"{OBSID}_*gpubox*.fits")}
    if os.path.exists(marker):
        with open(marker) as f:
            return {**json.load(f), **paths}
    os.makedirs(d, exist_ok=True)
    flagged = _metafits(paths["metafits"], np.random.default_rng((seed, 0)),
                        shape)
    for gp in range(1, N_CC + 1):
        _gpubox(os.path.join(d, f"{OBSID}_{STAMP}_gpubox{gp:02d}_00.fits"),
                gp, seed, shape)
    info = {"flagged": flagged, "shape": asdict(shape),
            "cube_rows": shape.cube_rows,
            "payload_bytes": shape.payload_bytes}
    with open(marker + ".tmp", "w") as f:
        json.dump(info, f)
    os.replace(marker + ".tmp", marker)
    return {**info, **paths}
