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

def test_scan_paths_one_file_per_task(spark, tmp_path):
    """24 files -> 24 tasks of exactly one file each, in sorted path
    order, with no exchange in the plan."""
    names = [f"gpubox{i:02d}_00.fits" for i in range(1, 25)]
    for name in names:
        (tmp_path / name).write_bytes(b"")
    files = gpubox.scan_paths_df(spark, str(tmp_path / "*.fits"))
    parts = files.rdd.glom().collect()
    assert [len(p) for p in parts] == [1] * 24
    assert [p[0].path for p in parts] == [str(tmp_path / n) for n in names]
    plan = files._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_python_datasource_matches_mapinpandas(spark, gpubox_dir):
    """spark.read.format("gpubox") — the registered Python DataSource —
    must produce exactly the binaryFile+mapInPandas scan's rows, with
    one input partition per file."""
    gpubox.register_gpubox_source(spark)
    via_ds = (spark.read.format("gpubox")
              .load(gpubox_dir + "/*.fits"))
    assert via_ds.rdd.getNumPartitions() == N_CC
    a = (via_ds.orderBy("cc", "t", "bl", "fc").toPandas())
    b = (gpubox.read_gpubox(spark, gpubox_dir + "/*.fits")
         .orderBy("cc", "t", "bl", "fc").toPandas())
    assert a.equals(b.astype(a.dtypes.to_dict()))


def test_mwax_real_reference_files(spark):
    """Read the REFERENCE's own MWAX gpubox test data (reference
    tests/data/1297526432_mwax, format documented in its README) and
    verify every coordinate-encoded cell: value = 0x41<<16 |
    global_hdu_index<<8 | (bl*16 + fc*8 + pol*2 + reim)."""
    import os

    from birli_spark.sources import gpubox
    glob_ = ("/root/reference/tests/data/1297526432_mwax/"
             "1297526432_*_ch11[78]_00[01].fits")
    if not os.path.isdir("/root/reference/tests/data/1297526432_mwax"):
        import pytest
        pytest.skip("reference test data not present")
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


def test_mwax_rejects_legacy(spark):
    import pytest

    from birli_spark.sources import gpubox
    with pytest.raises(ValueError, match="CORR_VER"):
        gpubox.parse_mwax_gpubox_bytes(
            b"SIMPLE  =                    T" + b" " * 50 + b"END" + b" " * 77
            + b" " * (2880 - 160), 117)
