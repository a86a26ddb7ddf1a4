"""P5 picket-fence e2e on the REAL 1119683928 archive (round-5 ask #5).

The reference's picket pipeline derives contiguous coarse-channel runs
from the observation's (non-contiguous) receiver channel list
(ChannelRanges::from_idxs, src/cli.rs:207-230) and re-runs the pipeline
per run with `_ch{lo}-{hi}`-suffixed outputs (run_ranges,
src/cli.rs:1524-1574). The archive ships the real metafits (24
channels in 12 picket runs of 2) and `1119683928_flags.zip` — 24 real
cotter-written per-gpubox .mwaf flag files (COTVER 4.2, 224 scans x
8256 baselines x 32 fine channels each).

This test composes the whole path over real data: metafits -> derived
ranges (pinned against the known picket layout) -> per-gpubox cotter
mwaf read -> per-range suffixed mwaf outputs through OUR distributed
sink -> bit-exact read-back per range.
"""

from __future__ import annotations

import pathlib
import zipfile

import numpy as np
import pandas as pd
import pytest

from birli_spark.operators import picket
from birli_spark.sinks import mwaf
from birli_spark.sources import metafits as mf

ARCHIVE = pathlib.Path("/root/reference/tests/data/1119683928_picket")

needs_archive = pytest.mark.needs_reference(ARCHIVE)

#: the known receiver-channel layout of the real picket obs
PICKET_CHANNELS = [62, 63, 69, 70, 76, 77, 84, 85, 93, 94, 103, 104,
                   113, 114, 125, 126, 139, 140, 153, 154, 169, 170,
                   187, 188]


@needs_archive
def test_ranges_derived_from_real_metafits():
    primary, _ = mf.read_metafits(str(ARCHIVE / "1119683928.metafits"))
    chans = mf.coarse_channels(primary)
    assert chans == PICKET_CHANNELS
    ranges = picket.ranges_from_channels(chans)
    assert ranges == [(62, 63), (69, 70), (76, 77), (84, 85), (93, 94),
                      (103, 104), (113, 114), (125, 126), (139, 140),
                      (153, 154), (169, 170), (187, 188)]
    assert picket.range_suffix(*ranges[0]) == "_ch62-63"
    assert picket.range_suffix(62, 62) == "_ch62"


@needs_archive
def test_legacy_gpubox_mapping_covers_archive():
    """Every gpubox number 1..24 appears exactly once; the high
    (> 128) sky-reversed block maps descending."""
    nums = picket.legacy_gpubox_numbers(PICKET_CHANNELS)
    assert sorted(nums.values()) == list(range(1, 25))
    assert nums[62] == 1 and nums[126] == 16
    assert nums[139] == 24 and nums[188] == 17


def _extract_flags(tmp_path, wanted_gpuboxes):
    out = {}
    with zipfile.ZipFile(ARCHIVE / "1119683928_flags.zip") as z:
        for g in wanted_gpuboxes:
            name = f"1119683928_{g:02d}.mwaf"
            z.extract(name, tmp_path)
            primary, mat = mwaf.read_cotter_mwaf(str(tmp_path / name))
            assert int(primary["GPUBOXNO"]) == g
            assert int(primary["GPSTIME"]) == 1119683928
            out[g] = (primary, mat)
    return out


@needs_archive
def test_picket_pipeline_real_mwaf_roundtrip(spark, tmp_path):
    """Two real picket ranges end to end: read the range's real cotter
    flag files, run them through the per-range suffixed distributed
    mwaf write, read back bit-exact. A one-timestep slice keeps the
    long-format relation test-sized (the full obs is 224 scans; the
    composition is scan-count-independent)."""
    primary, _ = mf.read_metafits(str(ARCHIVE / "1119683928.metafits"))
    chans = mf.coarse_channels(primary)
    ranges = picket.ranges_from_channels(chans)[:2]   # (62,63), (69,70)
    gnum = picket.legacy_gpubox_numbers(chans)
    n_scans_slice = 1
    for lo, hi in ranges:
        suffix = picket.range_suffix(lo, hi)
        gpuboxes = [gnum[c] for c in range(lo, hi + 1)]
        flags = _extract_flags(tmp_path, gpuboxes)
        frames = []
        truth = {}
        for ci, ch in enumerate(range(lo, hi + 1)):
            pri, mat = flags[gnum[ch]]
            n_ants = int(pri["NANTENNA"])
            nbl = n_ants * (n_ants + 1) // 2
            n_chans = int(pri["NCHANS"])
            sl = mat[:n_scans_slice * nbl]
            truth[ci] = sl
            rows = np.arange(sl.shape[0])
            frames.append(pd.DataFrame({
                "t": np.repeat(rows // nbl, n_chans).astype(np.int32),
                "bl": np.repeat(rows % nbl, n_chans).astype(np.int32),
                "cc": np.int32(ci),
                "fc": np.tile(np.arange(n_chans),
                              sl.shape[0]).astype(np.int32),
                "flag": sl.reshape(-1)}))
        vis = spark.createDataFrame(pd.concat(frames, ignore_index=True))
        out_dir = tmp_path / f"out{suffix}"
        manifest = mwaf.write_mwaf_set_distributed(
            vis, str(out_dir), template=f"Flagfile{suffix}_%%.mwaf",
            obsid=1119683928, n_chans=n_chans, nscans=n_scans_slice,
            nbl=nbl).collect()
        assert len(manifest) == hi - lo + 1
        for row in sorted(manifest, key=lambda r: r.cc):
            assert pathlib.Path(row.path).name == \
                f"Flagfile{suffix}_{row.cc:02d}.mwaf"
            _, mat_back, _ = mwaf.read_mwaf(row.path)
            assert (mat_back == truth[row.cc]).all()
