"""Bit-packed .mwaf FITS format: template expansion, write/read
round-trip, occupancy HDU consistency, and bit-order correctness."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from birli_spark import pipeline
from birli_spark.sinks import mwaf
from birli_spark.sources import synthetic as syn


def test_template_expansion():
    assert mwaf.expand_template("Flagfile%%.mwaf", 3) == "Flagfile03.mwaf"
    assert mwaf.expand_template("F%%%.mwaf", 12, digits=3) == "F012.mwaf"
    with pytest.raises(ValueError):
        mwaf.expand_template("noperc.mwaf", 1)


def test_mwaf_roundtrip(spark, sf_dir, tmp_path):
    vis = pipeline.rule_flags(spark, syn.load_vis(spark, sf_dir))
    out = str(tmp_path / "mwaf")
    paths = mwaf.write_mwaf_set(vis, out, obsid=1254670392,
                                gps_start=syn.GPS_START)
    assert len(paths) == syn.NUM_CC
    assert paths[0].endswith("Flagfile00.mwaf")

    # primary header carries the reference's metadata fields
    primary, mat, ch_occ = mwaf.read_mwaf(paths[1])
    assert primary["VERSION"] == mwaf.VERSION
    assert primary["OBSID"] == 1254670392
    assert primary["NCHANS"] == syn.NUM_FC
    assert mat.shape == (primary["NSCANS"] * primary["NBL"], syn.NUM_FC)

    # CH_OCC counts equal column sums of the flag matrix
    assert (ch_occ["Count"].to_numpy() == mat.sum(axis=0)).all()
    np.testing.assert_allclose(
        ch_occ["Occupancy"], mat.sum(axis=0) / mat.shape[0])

    # full read-back equals the (OR-reduced) input flags at observed cells
    back = mwaf.read_mwaf_set(spark, out)
    cell = (vis.groupBy("t", "bl", "cc", "fc")
            .agg(F.max("flag").alias("flag")))
    joined = (cell.alias("a")
              .join(back.alias("b"), ["t", "bl", "cc", "fc"])
              .select(F.expr("a.flag = b.flag").alias("eq")))
    assert joined.filter(~F.col("eq")).count() == 0
    assert back.count() == (
        syn.NUM_CC * syn.NUM_FC
        * (int(cell.agg(F.max("t")).collect()[0][0]) + 1)
        * (int(cell.agg(F.max("bl")).collect()[0][0]) + 1))


def test_explicit_dims_uniform_grid(spark, tmp_path):
    # cc=0 has a row at (t=2, bl=1); cc=1's last rows stop at (t=0, bl=0).
    # With metadata-supplied dims both files must still share one grid, and
    # read-back must reconstruct identical (t, bl) coordinates per file.
    rows = [(2, 1, 0, 3, True), (0, 0, 1, 0, True)]
    df = spark.createDataFrame(rows, ["t", "bl", "cc", "fc", "flag"])
    out = str(tmp_path / "m")
    paths = mwaf.write_mwaf_set(df, out, n_chans=8, nscans=3, nbl=2)
    hdrs = [mwaf.read_mwaf(p)[0] for p in paths]
    assert [(h["NSCANS"], h["NBL"], h["NCHANS"]) for h in hdrs] == [(3, 2, 8)] * 2
    back = mwaf.read_mwaf_set(spark, out)
    assert back.count() == 2 * 3 * 2 * 8
    flagged = {(r.t, r.bl, r.cc, r.fc)
               for r in back.filter("flag").collect()}
    assert flagged == {(2, 1, 0, 3), (0, 0, 1, 0)}

    # inferred dims (no metadata) use GLOBAL maxima: same uniform grid
    paths2 = mwaf.write_mwaf_set(df, str(tmp_path / "m2"))
    hdrs2 = [mwaf.read_mwaf(p)[0] for p in paths2]
    assert [(h["NSCANS"], h["NBL"]) for h in hdrs2] == [(3, 2)] * 2

    # cells outside a metadata-declared grid are an error, not a mispack
    with pytest.raises(Exception):
        mwaf.write_mwaf_set(df, str(tmp_path / "m3"), n_chans=2)


def test_bit_packing_msb_first(spark, tmp_path):
    # single flagged cell at fc=0 must set the MSB of the first byte
    rows = [(0, 0, 0, f, f == 0) for f in range(8)]
    df = spark.createDataFrame(rows, ["t", "bl", "cc", "fc", "flag"])
    paths = mwaf.write_mwaf_set(df, str(tmp_path / "m"))
    with open(paths[0], "rb") as f:
        raw = f.read()
    _, mat, _ = mwaf.read_mwaf(paths[0])
    assert mat[0, 0] and not mat[0, 1:].any()
    # locate the FLAGS data unit: single row, one byte, value 0b10000000
    from birli_spark.sources import fitscore as fc_
    _, off = fc_.parse_header(raw)
    hdr, off = fc_.parse_header(raw, off)
    assert raw[off] == 0b10000000

def test_mwaf_datasource_matches_driver_read(spark, sf_dir, tmp_path):
    """spark.read.format("mwaf") — one partition per flag file — must
    equal the driver-side read_mwaf_set row set exactly."""
    vis = pipeline.rule_flags(spark, syn.load_vis(spark, sf_dir))
    out = str(tmp_path / "mwaf_ds")
    mwaf.write_mwaf_set(vis, out, obsid=1254670392, gps_start=syn.GPS_START)
    mwaf.register_mwaf_source(spark)
    via_ds = spark.read.format("mwaf").load(out)
    assert via_ds.rdd.getNumPartitions() == syn.NUM_CC
    a = via_ds.orderBy("cc", "t", "bl", "fc").toPandas()
    b = (mwaf.read_mwaf_set(spark, out)
         .orderBy("cc", "t", "bl", "fc").toPandas())
    assert a.astype(b.dtypes.to_dict()).equals(b)


def test_distributed_writer_byte_identical(spark, sf_dir, tmp_path):
    import hashlib
    import os
    flags = pipeline.rule_flags(spark, syn.load_vis(spark, sf_dir)) \
        .select("t", "bl", "cc", "fc", "flag")
    d1 = str(tmp_path / "driver")
    d2 = str(tmp_path / "dist")
    paths = mwaf.write_mwaf_set(flags, d1)
    manifest = {r.cc: r for r in
                mwaf.write_mwaf_set_distributed(flags, d2).collect()}
    assert len(paths) == len(manifest)
    for p in paths:
        name = os.path.basename(p)
        blob = open(p, "rb").read()
        dist_blob = open(os.path.join(d2, name), "rb").read()
        assert blob == dist_blob
        cc = int(name.replace("Flagfile", "").replace(".mwaf", ""))
        assert manifest[cc].file_md5 == hashlib.md5(blob).hexdigest()


def test_bl_occ_hdu_roundtrip(spark, sf_dir, tmp_path):
    flags = pipeline.rule_flags(spark, syn.load_vis(spark, sf_dir)) \
        .select("t", "bl", "cc", "fc", "flag")
    out = str(tmp_path / "occ")
    paths = mwaf.write_mwaf_set(flags, out)
    for p in paths:
        primary, mat, ch_occ = mwaf.read_mwaf(p)
        ch2, bl2 = mwaf.read_occupancy(p)
        nbl = int(primary["NBL"])
        nscans = int(primary["NSCANS"])
        n_chans = int(primary["NCHANS"])
        assert bl2 is not None and len(bl2) == nbl
        exp = mat.reshape(nscans, nbl, n_chans).sum(axis=(0, 2))
        assert bl2.Count.tolist() == exp.tolist()
        import numpy as np
        assert np.allclose(bl2.Occupancy, exp / (nscans * n_chans))
        assert ch2.Count.tolist() == ch_occ.Count.tolist()


@pytest.mark.needs_reference("1196175296_mwa_ord")
def test_read_cotter_mwaf_reference_files():
    """Read the reference's own Cotter-written flag files
    (tests/data/1196175296_mwa_ord/FlagfileCotter*.mwaf) and verify the
    decode against the repo's human-readable dumps: header keys, row
    count NSCANS*NBL, and every (baseline, timestep, chan) bit shown in
    the dump ('#' = flagged), confirming the (timestep, baseline)-major
    row order the reference's open_cotter assumes
    (src/io/mwaf.rs:719-795)."""
    import re

    import numpy as np

    from birli_spark.sinks import mwaf
    base = "/root/reference/tests/data/1196175296_mwa_ord"
    for name in ("FlagfileCotterMWA01", "FlagfileCotterGeneric02"):
        hdr, mat = mwaf.read_cotter_mwaf(f"{base}/{name}.mwaf")
        n_ants = int(hdr["NANTENNA"])
        nbl = n_ants * (n_ants + 1) // 2
        nscans = int(hdr["NSCANS"])
        assert hdr["GPSTIME"] == 1196175296
        assert mat.shape == (nscans * nbl, int(hdr["NCHANS"]))
        assert mat.sum() > 0
        txt = open(f"{base}/{name}.mwaf.txt").read()
        cells = 0
        for m in re.finditer(r"-> bl (\d+):((?:\s+--> ts \d+: [.#]+)+)",
                             txt):
            bl = int(m.group(1))
            for mm in re.finditer(r"--> ts (\d+): ([.#]+)", m.group(2)):
                t = int(mm.group(1))
                want = np.array([c == "#" for c in mm.group(2)])
                assert (mat[t * nbl + bl] == want).all(), (name, bl, t)
                cells += 1
        assert cells >= 48


def test_read_cotter_mwaf_rejects_birli_format(tmp_path, spark):
    """Our own (Birli-format) mwaf files lack the cotter header keys."""
    import pytest
    from pyspark.sql import Row

    from birli_spark.sinks import mwaf
    flags = spark.createDataFrame(
        [Row(t=0, bl=0, cc=1, fc=0, flag=True)])
    paths = mwaf.write_mwaf_set(flags, str(tmp_path), n_chans=1, nscans=1,
                                nbl=1)
    with pytest.raises(ValueError, match="not a cotter mwaf"):
        mwaf.read_cotter_mwaf(paths[0])


@pytest.mark.needs_reference("1119683928_picket/1119683928_flags.zip")
def test_read_cotter_mwaf_picket_archive(tmp_path):
    """The picket-fence obs ships 24 real Cotter-4.2 flag files
    (1119683928_flags.zip): our cotter reader decodes them at full scale
    (224 scans x 8256 baselines x 32 chans)."""
    import zipfile

    from birli_spark.sinks import mwaf
    zpath = ("/root/reference/tests/data/1119683928_picket/"
             "1119683928_flags.zip")
    with zipfile.ZipFile(zpath) as z:
        name = "1119683928_01.mwaf"
        z.extract(name, tmp_path)
    hdr, mat = mwaf.read_cotter_mwaf(str(tmp_path / name))
    assert hdr["GPSTIME"] == 1119683928
    assert hdr["COTVER"] == "4.2"
    assert mat.shape == (224 * 8256, 32)
    # a real RFI run flags some but not all cells
    frac = mat.mean()
    assert 0.0 < frac < 1.0


@pytest.mark.needs_reference("1247842824_flags")
def test_read_reference_birli_written_mwaf(spark):
    """Read-back of mwaf files the REFERENCE ITSELF wrote (its own test
    fixtures tests/data/1247842824_flags/FlagfileBirli01*.mwaf) — the
    engine's S5 reader handles the reference's real output format, not
    just Cotter's legacy variant."""
    import os

    from birli_spark.sinks import mwaf

    base = "/root/reference/tests/data/1247842824_flags"
    # v1.0 (Birli 0.1.3): the Cotter-style header incl. the literal
    # "EXTNAME" quirk
    hdr, flags = mwaf.read_cotter_mwaf(
        os.path.join(base, "FlagfileBirli01.mwaf"))
    nbl = hdr["NANTENNA"] * (hdr["NANTENNA"] + 1) // 2
    assert flags.shape == (hdr["NSCANS"] * nbl, hdr["NCHANS"])
    assert hdr["COTVER"].startswith("Birli")
    # v2.0 (Birli 0.7.0): the modern OBSID/GPSSTART header + FLAGS HDU
    for name in ("FlagfileBirli01_ts1", "FlagfileBirli01_ts2"):
        hdr2, flags2, _occ = mwaf.read_mwaf(
            os.path.join(base, f"{name}.mwaf"))
        assert hdr2["SOFTWARE"].startswith("Birli")
        assert flags2.shape == (hdr2["NSCANS"] * nbl, hdr2["NCHANS"])


def test_dense_flags_duplicate_cells_or_together():
    """_dense_flags must OR duplicate (t, bl, fc) cells: numpy's
    buffered fancy-index `|=` applies only the LAST duplicate, which
    silently dropped a set flag when a True preceded a False for the
    same cell (the writer's docstring contract is 'duplicates OR')."""
    import pandas as pd
    from birli_spark.sinks.mwaf import _dense_flags
    pdf = pd.DataFrame({
        "t": [0, 0], "bl": [1, 1], "fc": [2, 2],
        "flag": [True, False],   # True first — the lost-update order
    })
    mat = _dense_flags(pdf, n_chans=4, nscans=1, nbl=2)
    assert mat[1, 2]          # 0*nbl+1 row, fc 2: True survives
    assert mat.sum() == 1


def test_writer_without_dims_decodes_once(spark, tmp_path, decoded_files):
    """Without grid dims the writer probes the grid and writes from ONE
    materialization of the flag cells: over an archive scan, each
    gpubox file decodes once."""
    import glob

    from test_cli_flowchart import legacy_obs

    from birli_spark import real_input

    obs = legacy_obs(str(tmp_path / "obs"))
    vis = real_input.ArchiveObservation(spark, obs["metafits"],
                                        obs["glob"]).scan()
    manifest = mwaf.write_mwaf_set_distributed(
        vis.select("t", "bl", "cc", "fc", "flag"), str(tmp_path / "mwaf"))
    assert manifest.count() > 0
    assert decoded_files.value / len(glob.glob(obs["glob"])) == 1.0
