"""Distributed FITS gpubox source: fixture round-trip, value lineage
(coordinate-encoded cells), baseline ordering, and missing-HDU handling."""

from __future__ import annotations

import numpy as np
import pytest

from birli_spark.sources import gpubox

N_ANTS, N_FINE, N_TS, N_CC = 4, 8, 4, 2


@pytest.fixture(scope="module")
def gpubox_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("gpubox")
    for cc in range(N_CC):
        gpubox.write_gpubox(str(d / f"gpubox_{cc:02d}.fits"), cc, N_ANTS,
                            N_FINE, N_TS, obsid=1297526432)
    return str(d)


def test_baseline_order_upper_triangular():
    pairs = gpubox.baseline_pairs(3)
    assert pairs == [(0, 0), (0, 1), (0, 2), (1, 1), (1, 2), (2, 2)]


def test_scan_shape_and_lineage(spark, gpubox_dir):
    df = gpubox.read_gpubox(spark, gpubox_dir + "/*.fits")
    n_bl = len(gpubox.baseline_pairs(N_ANTS))
    pdf = df.toPandas()
    assert len(pdf) == N_TS * N_CC * n_bl * N_FINE
    # every cell decodes back to its own coordinates (reference
    # tests/data/README.md fixture design)
    for r in pdf.sample(50, random_state=1).itertuples():
        assert r.xx_re == gpubox.encoded_value(r.t, r.bl, r.chan, 0)
        assert r.yy_im == gpubox.encoded_value(r.t, r.bl, r.chan, 7)
        assert r.chan == r.cc * N_FINE + r.fc
    # f32-exact values survive the f32->f64 promotion
    assert (pdf.xx_re == pdf.xx_re.astype(np.float32).astype(np.float64)).all()


def test_scan_matches_closed_form_oracle(spark, gpubox_dir):
    import duckdb
    df = gpubox.read_gpubox(spark, gpubox_dir + "/*.fits")
    got = df.toPandas().sort_values(
        ["t", "bl", "chan"], ignore_index=True)
    exp = duckdb.sql(gpubox.expected_grid_sql(
        N_CC, N_ANTS, N_FINE, N_TS)).df().sort_values(
        ["t", "bl", "chan"], ignore_index=True)
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    assert (got.values == exp.values).all()


def test_missing_hdu_detectable(spark, tmp_path):
    path = str(tmp_path / "gap.fits")
    gpubox.write_gpubox(path, 0, N_ANTS, N_FINE, N_TS, skip_timesteps=(2,))
    df = gpubox.read_gpubox(spark, path)
    ts = sorted(r.t for r in df.select("t").distinct().collect())
    assert ts == [0, 1, 3]  # flag_missing_slabs (S2) fills the gap downstream

def test_scan_paths_one_file_per_task(spark, tmp_path, gpubox_dir):
    """24 files -> 24 tasks of exactly one file each, in sorted path
    order, with no exchange in the plan; every reader's scan is that
    relation under exactly one MapInPandas over ``path``."""
    names = [f"gpubox{i:02d}_00.fits" for i in range(1, 25)]
    for name in names:
        (tmp_path / name).write_bytes(b"")
    files = gpubox.scan_paths_df(spark, str(tmp_path / "*.fits"))
    parts = files.rdd.glom().collect()
    assert [len(p) for p in parts] == [1] * 24
    assert [p[0].path for p in parts] == [str(tmp_path / n) for n in names]
    plan = files._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    from perfbench import inputs

    from birli_spark.sources import legacy_gpubox as lg

    legacy = inputs.legacy_obs(str(tmp_path / "legacy"), 0,
                               inputs.LegacyShape(2, 2, 2))
    mwax = tmp_path / "mwax"
    mwax.mkdir()
    for ci, ch in enumerate((117, 118)):
        write_mwax(str(mwax / f"1297526432_20210216160014_ch{ch}_000.fits"),
                   hdu0=ci * 2)
    for scan, n_files in (
            (gpubox.read_gpubox(spark, gpubox_dir + "/*.fits"), N_CC),
            (gpubox.read_mwax_gpubox(spark, str(mwax / "*.fits")), 2),
            (lg.read_legacy_gpubox(spark, legacy["glob"],
                                   legacy["metafits"]), 24)):
        plan = scan._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1 and "(path#" in plan
        assert "Exchange" not in plan
        assert scan.rdd.getNumPartitions() == n_files


def test_list_gpubox_formats(tmp_path):
    """One listing names each glob's format from its file names and
    refuses a glob that mixes formats."""
    for name in ("1297526432_20210216160014_ch117_000.fits",
                 "1196175296_20171205150149_gpubox01_00.fits",
                 "gpubox_00.fits"):
        (tmp_path / name).write_bytes(b"")
    assert gpubox.list_gpubox(str(tmp_path / "*_ch*.fits")) == (
        "mwax", [str(tmp_path / "1297526432_20210216160014_ch117_000.fits")])
    assert gpubox.list_gpubox(str(tmp_path / "*_gpubox*.fits"))[0] == \
        "legacy"
    assert gpubox.list_gpubox(str(tmp_path / "gpubox_*.fits"))[0] == \
        "synthetic"
    with pytest.raises(ValueError, match="legacy and mwax"):
        gpubox.list_gpubox(str(tmp_path / "1*.fits"))
    with pytest.raises(FileNotFoundError):
        gpubox.list_gpubox(str(tmp_path / "none_*.fits"))
    assert gpubox.gpubox_name("x/obs_ch101_001.fits") == ("mwax", 101)
    assert gpubox.gpubox_name("x/obs_gpubox07_01.fits") == ("legacy", 7)
    assert gpubox.gpubox_name("x/aaa_gpubox.fits") == ("synthetic", None)


def test_scan_paths_file_uri_is_the_local_path(spark, tmp_path):
    """A file: URI names a local path: the scan strips the scheme and
    globs it like the bare path ('?' included)."""
    for name in ("gpubox01_00.fits", "gpubox02_00.fits"):
        (tmp_path / name).write_bytes(b"")
    want = [str(tmp_path / n) for n in ("gpubox01_00.fits",
                                        "gpubox02_00.fits")]
    for uri in (f"file://{tmp_path}/gpubox0?_00.fits",
                f"file:{tmp_path}/*.fits"):
        got = [r.path for r in gpubox.scan_paths_df(spark, uri).collect()]
        assert got == want


@pytest.mark.parametrize("uri", ["s3://bucket/obs/*.fits",
                                 "hdfs://nn:8020/obs/*.fits"])
def test_scan_paths_rejects_remote_scheme(spark, uri):
    """The driver-side glob cannot see object stores: a remote scheme
    raises naming the scheme, not a misleading 'no files match'."""
    scheme = uri.split(":")[0]
    with pytest.raises(ValueError, match=f"{scheme}://"):
        gpubox.scan_paths_df(spark, uri)


def test_python_datasource_matches_mapinpandas(spark, gpubox_dir):
    """spark.read.format("gpubox") — the registered Python DataSource —
    must produce exactly the mapInPandas scan's rows, with one input
    partition per file."""
    gpubox.register_gpubox_source(spark)
    via_ds = (spark.read.format("gpubox")
              .load(gpubox_dir + "/*.fits"))
    assert via_ds.rdd.getNumPartitions() == N_CC
    a = (via_ds.orderBy("cc", "t", "bl", "fc").toPandas())
    b = (gpubox.read_gpubox(spark, gpubox_dir + "/*.fits")
         .orderBy("cc", "t", "bl", "fc").toPandas())
    assert a.equals(b.astype(a.dtypes.to_dict()))


@pytest.mark.needs_reference("1297526432_mwax")
def test_mwax_real_reference_files(spark):
    """Read the REFERENCE's own MWAX gpubox test data (reference
    tests/data/1297526432_mwax, format documented in its README) and
    verify every coordinate-encoded cell: value = 0x41<<16 |
    global_hdu_index<<8 | (bl*16 + fc*8 + pol*2 + reim)."""
    from birli_spark.sources import gpubox
    glob_ = ("/root/reference/tests/data/1297526432_mwax/"
             "1297526432_*_ch11[78]_00[01].fits")
    pdf = (gpubox.read_mwax_gpubox(spark, glob_)
           .toPandas().sort_values(["cc_recv", "unix_ms", "bl", "fc"])
           .reset_index(drop=True))
    # 2 cc x 4 scans x 3 baselines x 2 fine chans
    assert len(pdf) == 48
    cc_idx = {117: 0, 118: 1}
    names = ["xx_re", "xx_im", "xy_re", "xy_im",
             "yx_re", "yx_im", "yy_re", "yy_im"]
    for _, r in pdf.iterrows():
        batch = (r.unix_ms // 1000) - 1613491214
        scan = (r.unix_ms % 1000) // 500
        hdu = cc_idx[r.cc_recv] * 4 + batch * 2 + scan
        for k, nm in enumerate(names):
            want = (0x41 << 16) + hdu * 256 + r.bl * 16 + r.fc * 8 + k
            assert r[nm] == want, (nm, dict(r))
        assert r.w_xx == 1.0 and r.w_yy == 1.0
    # scan index within file
    assert set(pdf.t) == {0, 1}


def write_mwax(path: str, hdu0: int, n_scans: int = 2, num_ants: int = 2,
               num_fine: int = 2, obs_unix: int = 1613491214,
               truncate: bool = False) -> None:
    """A small MWAX (v2) gpubox file in the reference's coordinate
    encoding (reference tests/data/README.md): scan ``s`` is global HDU
    ``hdu0 + s`` and each int32 cell is ``0x41<<16 | hdu<<8 | offset``
    with offset ``bl*16 + fc*8 + pol*2 + reim``; unit weights; scans
    every 500 ms. ``truncate`` drops the last scan's weights HDU."""
    from birli_spark.sources import fitscore as fc

    n_bl = num_ants * (num_ants + 1) // 2
    blobs = [fc.pad_block(b"".join([
        fc.card("SIMPLE", True), fc.card("BITPIX", 8), fc.card("NAXIS", 0),
        fc.card("CORR_VER", 2), fc.card("NFINECHS", num_fine),
        fc.card("NINPUTS", 2 * num_ants), fc.end_card()]))]

    def hdu(bitpix, naxis1, data, s):
        blobs.append(fc.pad_block(b"".join([
            fc.card("XTENSION", "IMAGE"), fc.card("BITPIX", bitpix),
            fc.card("NAXIS", 2), fc.card("NAXIS1", naxis1),
            fc.card("NAXIS2", n_bl), fc.card("PCOUNT", 0),
            fc.card("GCOUNT", 1), fc.card("TIME", obs_unix),
            fc.card("MILLITIM", s * 500), fc.end_card()])))
        blobs.append(fc.pad_block(data.tobytes(), b"\x00"))

    offset = (np.arange(n_bl)[:, None] * 16
              + np.arange(num_fine * 8)[None, :])
    for s in range(n_scans):
        hdu(32, num_fine * 8,
            ((0x41 << 16) + (hdu0 + s) * 256 + offset).astype(">i4"), s)
        if not (truncate and s == n_scans - 1):
            hdu(-32, 4, np.ones((n_bl, 4), dtype=">f4"), s)
    with open(path, "wb") as f:
        f.write(b"".join(blobs))


def test_mwax_scan_matches_closed_form_oracle(spark, tmp_path):
    """Two receiver channels x two scans of generated MWAX files decode
    to exactly the closed-form DuckDB twin of the encoding."""
    import duckdb

    for ci, ch in enumerate((117, 118)):
        write_mwax(str(tmp_path / f"1297526432_20210216160014_ch{ch}_000"
                       ".fits"), hdu0=ci * 2)
    keys = ["cc_recv", "unix_ms", "bl", "fc"]
    got = (gpubox.read_mwax_gpubox(spark, str(tmp_path / "*.fits"))
           .toPandas().sort_values(keys, ignore_index=True))
    exp = duckdb.sql(gpubox.mwax_expected_sql(
        (117, 118), n_batches=1, scans_per_batch=2)).df().sort_values(
        keys, ignore_index=True)
    assert len(got) == 2 * 2 * 3 * 2
    assert got.equals(exp.astype(got.dtypes.to_dict()))


def test_mwax_truncated_file_raises(tmp_path):
    """A trailing visibility HDU without its weights HDU (a file still
    being written) fails loudly instead of dropping the scan."""
    path = tmp_path / "1297526432_20210216160014_ch117_000.fits"
    write_mwax(str(path), hdu0=0, truncate=True)
    with pytest.raises(ValueError, match="truncated MWAX"):
        gpubox.parse_mwax_gpubox_bytes(path.read_bytes(), 117)


def test_mwax_rejects_legacy(spark):
    import pytest

    from birli_spark.sources import gpubox
    with pytest.raises(ValueError, match="CORR_VER"):
        gpubox.parse_mwax_gpubox_bytes(
            b"SIMPLE  =                    T" + b" " * 50 + b"END" + b" " * 77
            + b" " * (2880 - 160), 117)
