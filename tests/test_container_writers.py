"""Byte pins of the gpubox container writers: the synthetic
``gpubox.write_gpubox``, the legacy ``legacy_gpubox.scan_hdu`` and the
MWAX test writer built on ``fitscore.image_hdu``. Each sha256 was
recorded from the writers these replaced (a per-cell Python loop, a
numpy twin, and two copies each of the scan-HDU and IMAGE-HDU card
blocks), so a pin that moves means a fixture's bytes moved."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from test_gpubox import write_mwax

from birli_spark.sources import fitscore as fc
from birli_spark.sources import gpubox, legacy_gpubox


def _sha(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()


@pytest.mark.parametrize("args,kwargs,want", [
    ((1, 3, 4, 3), {},
     "dc5439faa7242146c95a91084dd4619bffaac2a868402a3b328529aa33fc4592"),
    ((2, 3, 4, 3),
     dict(obsid=1297526432, gps_start=1297526432.0, int_time_s=2.0),
     "80535e08499d2154bf0c067dc29f0278b4e43cb5419565591077635482d793c4"),
    ((0, 3, 4, 4), dict(skip_timesteps=(2,)),
     "e29ae48152a2dea6b2dc90cd867e6f975c1f0258e03b098da2f7418c676302ba"),
    # a later segment with the live-monitor example's injected burst
    ((1, 4, 8, 6), dict(t_start=6, burst=(8, 11, 3000.0)),
     "aa10e8b843fc5fba7f23a78a2bbe151c3718264aa6d295a302196ec53d73d311"),
], ids=["defaults", "obs_cards", "skip_timestep", "segment_burst"])
def test_write_gpubox_pins(tmp_path, args, kwargs, want):
    path = tmp_path / "gpubox.fits"
    gpubox.write_gpubox(str(path), *args, **kwargs)
    assert _sha(path.read_bytes()) == want


def _seeded_scan() -> np.ndarray:
    rng = np.random.default_rng(11)
    return rng.integers(-2048, 2048, size=(4, 40, 2)) * 0.125


@pytest.mark.parametrize("unix_s,millitim,want", [
    (1400000000, 0,
     "1c98e663ee34003909aebf983e25a3a8d23141b15982b939ac342a736dba7b1d"),
    (1400000001, 500,
     "d90e1ded5673df648599d46ab7f12d64d92a0d0a407dac096b2e22b3fa9fcc56"),
], ids=["millitim0", "millitim500"])
def test_legacy_scan_hdu_pins(unix_s, millitim, want):
    assert _sha(legacy_gpubox.scan_hdu(
        _seeded_scan(), unix_s, millitim)) == want


@pytest.mark.parametrize("truncate,want", [
    (False,
     "3349a19f394b4f28a9a71d61561a2d2a7c5728d846b5249b45bf2f43043fd2f5"),
    (True,
     "dae1162bfa7197bfcdc7708b95abf32d282bfd276f056808907e1150b05a655d"),
], ids=["plain", "truncated"])
def test_mwax_writer_pins(tmp_path, truncate, want):
    path = tmp_path / "1297526432_20210216160014_ch117_000.fits"
    write_mwax(str(path), hdu0=3, truncate=truncate)
    assert _sha(path.read_bytes()) == want


def test_legacy_scan_hdu_round_trips():
    """Scans written by ``scan_hdu`` come back from the reader bit for
    bit, with their TIME/MILLITIM as unix milliseconds."""
    rng = np.random.default_rng(3)
    scans = [(1400000000, 0, rng.normal(size=(3, 17, 2)) * 1e3),
             (1400000002, 250, rng.normal(size=(3, 17, 2)))]
    primary = fc.pad_block(b"".join([
        fc.card("SIMPLE", True), fc.card("BITPIX", 8), fc.card("NAXIS", 0),
        fc.end_card()]))
    raw = primary + b"".join(legacy_gpubox.scan_hdu(s, u, m)
                             for u, m, s in scans)
    got = list(legacy_gpubox.iter_legacy_scans(raw))
    assert [ms for ms, _ in got] == [1400000000000, 1400000002250]
    for (_, _, want), (_, tiles) in zip(scans, got):
        assert np.array_equal(tiles, want)
