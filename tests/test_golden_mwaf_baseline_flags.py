"""Bit-exact end-to-end golden on the reference's own fixtures: the
real 1196175296 metafits (S3b reader) + the F6 baseline-flag rule must
reproduce EVERY bit of the committed Cotter flag files
(tests/data/1196175296_mwa_ord/FlagfileCotter*.mwaf).

The observation is 4 scans x 2 fine channels — too small for any RFI
detection to fire — so cotter's output is exactly the metafits
baseline-flag expansion (10 flagged tiles -> 1235 of 8256 baselines),
making it a pure reader + flag-rule + mwaf-layout parity gate with NO
tolerance: 33,024 bits per file, all equal."""

from __future__ import annotations

import pathlib

import numpy as np
import pytest

from birli_spark.operators import flags
from birli_spark.sinks import mwaf
from birli_spark.sources import metafits as mf

ORD = pathlib.Path("/root/reference/tests/data/1196175296_mwa_ord")

needs_ref = pytest.mark.needs_reference(ORD)


@needs_ref
@pytest.mark.parametrize("name", ["FlagfileCotterMWA01",
                                  "FlagfileCotterMWA02",
                                  "FlagfileCotterGeneric01",
                                  "FlagfileCotterGeneric02"])
def test_baseline_flags_match_cotter_mwaf_bit_for_bit(spark, name):
    primary, tiledata = mf.read_metafits(str(ORD / "1196175296.metafits"))
    ants = mf.antennas_df(spark, tiledata)
    bl_f = {(r.ant1, r.ant2): r.bl_flag
            for r in flags.baseline_flags(ants).collect()}
    n_ants = int(primary["NINPUTS"]) // 2
    assert n_ants == 128
    # cotter row order: (scan-major) baselines (a1 <= a2), then chan bits
    pred = np.array([bl_f[(a1, a2)]
                     for a1 in range(n_ants) for a2 in range(a1, n_ants)])
    assert pred.sum() == 1235  # 10 flagged tiles
    hdr, mat = mwaf.read_cotter_mwaf(str(ORD / f"{name}.mwaf"))
    n_scans, n_chans = int(hdr["NSCANS"]), int(hdr["NCHANS"])
    got = mat.reshape(n_scans, len(pred), n_chans)
    # every scan, every channel: the full 8256-baseline bit vector
    assert (got == pred[None, :, None]).all()
