"""MO1 — multi-observation catalogue pipeline (operators/multiobs.py)."""

from __future__ import annotations

import numpy as np
import pytest

from birli_spark.operators import multiobs
from birli_spark.sources import synthetic as syn


@pytest.fixture(scope="module")
def mo_out(spark, sf_dir):
    syn.load_vis(spark, sf_dir)
    return spark.sql(multiobs.multi_obs_preprocess_sql()).toPandas()


def test_obs_axis_shape(mo_out):
    """N_OBS observations, each the full single-obs output grid."""
    counts = mo_out.groupby("obs_id").size()
    assert sorted(counts.index) == list(range(multiobs.N_OBS))
    assert counts.nunique() == 1  # identical per-obs grids


def test_per_obs_gain_drift(mo_out):
    """The corrections chain is linear in the visibilities, so obs o's
    averaged output is obs 0's scaled by (8+o)/8 — up to the f32/tick
    rounding of the stage demotions."""
    blocks = syn.NUM_T // 4  # AVG_TIME
    base = mo_out[mo_out.obs_id == 0].set_index(
        ["t_out", "chan_out", "bl"]).sort_index()
    for o in range(1, multiobs.N_OBS):
        sub = mo_out[mo_out.obs_id == o].copy()
        sub["t_out"] = sub["t_out"] - o * blocks
        sub = sub.set_index(["t_out", "chan_out", "bl"]).sort_index()
        scale = (8 + o) / 8
        for c in ("xx_re", "yy_im"):
            np.testing.assert_allclose(
                sub[c].to_numpy(), base[c].to_numpy() * scale,
                rtol=2e-4, atol=2e-5)
        # flag pattern identical per obs (quack re-anchored at each
        # obs start, same baseline/edge rules)
        assert (sub["flag"].to_numpy() == base["flag"].to_numpy()).all()


def test_obs_axis_adds_no_shuffles(spark, sf_dir):
    """The catalogue plan has exactly TWO hash exchanges, neither keyed
    on obs: the averaging aggregate (the one fact shuffle) and the
    v0.18.0 cell-gate aggregate (r4) whose exchange carries only the
    map-side-combined (t, cc) dimension rows, never fact rows — the
    gate joins back broadcast. The obs axis appears in no join or group
    key, so it scales as input splits only."""
    syn.load_vis(spark, sf_dir)
    plan = spark.sql(
        multiobs.multi_obs_preprocess_sql())._jdf.queryExecution() \
        .executedPlan().toString()
    fact_shuffles = plan.count("Exchange hashpartitioning")
    assert fact_shuffles == 2, plan[:2000]
    # the gate's exchange is keyed (t, cc) — the dimension grid, never
    # fact keys and never obs
    import re
    keys = [m.group(1) for m in
            re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan)]
    gate_keys = [k for k in keys if k.startswith("t#")]
    assert len(gate_keys) == 1 and ", cc#" in gate_keys[0], keys
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_per_obs_ssins_scale_invariance(spark, sf_dir):
    """MO2: SSINS z-scores are scale-invariant ((amp-med)/MAD), so with
    per-obs statistics every observation's RFI mask must be IDENTICAL
    across the catalogue despite the per-obs gain drift. Pooled
    (non-per-obs) statistics would mix the three scale populations and
    break this equality — this is the sharp test that the scoring is
    truly per observation."""
    from birli_spark.operators import ssins as ssins_mod

    syn.load_vis(spark, sf_dir)
    ctes, final = ssins_mod.ssins_parts(
        "visq", obs_expr=f"CAST(FLOOR(t / {syn.NUM_T}) AS INT)")
    mask = spark.sql(
        f"WITH visq AS ({multiobs.multi_vis_cte()}), {ctes} {final}"
    ).toPandas()
    assert mask["obs_id"].nunique() == multiobs.N_OBS
    base = mask[mask.obs_id == 0].sort_values(["t", "chan"])
    for o in range(1, multiobs.N_OBS):
        sub = mask[mask.obs_id == o].sort_values(["t", "chan"])
        assert (sub["rfi_flag"].to_numpy()
                == base["rfi_flag"].to_numpy()).all()
        # and the underlying z-scores agree to f32 rounding
        np.testing.assert_allclose(sub["z_xx"].to_numpy(),
                                   base["z_xx"].to_numpy(),
                                   rtol=1e-5, atol=1e-6)


def test_mo2_matches_duckdb_oracle(spark, sf_dir):
    import duckdb

    import __spark_entry__ as entry

    sdf = entry.queries()["mo2_multi_obs_ssins"](spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                f"read_parquet('{sf_dir}/lineitem.parquet')")
    ddf = con.execute(entry.oracle_sql()["mo2_multi_obs_ssins"]).df()
    key = sorted(sdf.columns)
    sdf = sdf.sort_values(key).reset_index(drop=True)
    ddf = ddf.sort_values(key).reset_index(drop=True)
    assert len(sdf) == len(ddf) > 0
    for c in key:
        assert (sdf[c].to_numpy() == ddf[c].to_numpy()).all(), c


def test_mo3_occupancy_per_obs_identical(spark, sf_dir):
    """MO3: the rule-flag pattern (quack re-anchored per obs, shared
    baseline/edge rules) is identical per observation, so every obs's
    occupancy rollup must match obs 0's exactly."""
    syn.load_vis(spark, sf_dir)
    occ = spark.sql(multiobs.mo_occupancy_sql()).toPandas()
    assert occ["obs_id"].nunique() == multiobs.N_OBS
    base = occ[occ.obs_id == 0].sort_values(["cc", "fc"])
    for o in range(1, multiobs.N_OBS):
        sub = occ[occ.obs_id == o].sort_values(["cc", "fc"])
        assert (sub["n_flagged"].to_numpy()
                == base["n_flagged"].to_numpy()).all()
        assert (sub["occupancy"].to_numpy()
                == base["occupancy"].to_numpy()).all()


def test_mo4_uvfits_fanout(spark, sf_dir, tmp_path):
    """MO4: one physical UVFITS per obs, written in one distributed
    job; every file parses standalone with the standard reader and its
    DATE PZERO anchors at ITS OWN obs start."""
    import os

    from birli_spark.operators import multiobs as mo
    from birli_spark.sinks import uvfits

    out = str(tmp_path / "cat")
    df = mo.mo_uvfits_gate_rows(spark, sf_dir, out)
    n = df.count()
    assert n > 0 and df.select("obs_id").distinct().count() == mo.N_OBS
    files = sorted(os.listdir(out))
    assert files == [f"obs_{o}.uvfits" for o in range(mo.N_OBS)]
    for o in range(mo.N_OBS):
        header, params, data = uvfits.read_uvfits(
            os.path.join(out, f"obs_{o}.uvfits"))
        assert header["PZERO5"] == uvfits.obs_jd_zero(
            syn.GPS_START + o * mo.OBS_STRIDE_S)
        assert params.shape[0] == header["GCOUNT"]
        # every group's JD sits inside this obs's span
        lo = uvfits.GPS_EPOCH_JD + (syn.GPS_START
                                    + o * mo.OBS_STRIDE_S) / 86400.0
        hi = lo + syn.NUM_T * syn.INT_TIME_S / 86400.0
        assert ((params[:, 4] >= lo - 1e-6)
                & (params[:, 4] <= hi + 1e-6)).all()


def test_mo4_matches_duckdb_oracle(spark, sf_dir, tmp_path):
    import duckdb

    from birli_spark.operators import multiobs as mo

    sdf = mo.mo_uvfits_gate_rows(
        spark, sf_dir, str(tmp_path / "cat2")).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                f"read_parquet('{sf_dir}/lineitem.parquet')")
    ddf = con.execute(mo.mo_uvfits_files_oracle_sql()).df()
    key = sorted(sdf.columns)
    assert key == sorted(ddf.columns)
    sdf = sdf.sort_values(key).reset_index(drop=True)
    ddf = ddf.sort_values(key).reset_index(drop=True)
    assert len(sdf) == len(ddf) > 0
    for c in key:
        assert (sdf[c].to_numpy() == ddf[c].to_numpy()).all(), c


def test_mo5_ms_fanout(spark, sf_dir, tmp_path):
    """MO5: one physical casacore-layout MS per obs, written in one
    distributed job; every tree parses standalone with the independent
    reader, scans restart at 1 per obs, and TIME anchors at each obs's
    own epoch."""
    import os

    from birli_spark import pipeline
    from birli_spark.operators import multiobs as mo
    from birli_spark.sinks import ms as ms_rel
    from birli_spark.sinks import ms_file

    out = str(tmp_path / "cat_ms")
    df = mo.mo_ms_gate_rows(spark, sf_dir, out)
    assert df.count() > 0
    assert df.select("obs_id").distinct().count() == mo.N_OBS
    assert sorted(os.listdir(out)) == \
        [f"obs_{o}.ms" for o in range(mo.N_OBS)]
    t0 = None
    for o in range(mo.N_OBS):
        t = ms_file.read_ms_casa(os.path.join(out, f"obs_{o}.ms"))
        main = t["MAIN"]
        assert "SPECTRAL_WINDOW" in t
        scans = main["columns"]["SCAN_NUMBER"]
        assert scans.min() == 1  # per-obs restart
        times = main["columns"]["TIME"]
        lo = (ms_rel.GPS_EPOCH_MJD * 86400.0 + syn.GPS_START
              + o * mo.OBS_STRIDE_S + ms_rel.GPS_TAI_OFFSET_S)
        hi = lo + syn.NUM_T * syn.INT_TIME_S
        assert ((times >= lo) & (times <= hi)).all()
        if o == 0:
            t0 = main["nrow"]
        else:
            assert main["nrow"] == t0  # uniform catalogue grid
    assert pipeline.AVG_TIME  # anchor the import


def test_mo5_matches_duckdb_oracle(spark, sf_dir, tmp_path):
    import duckdb

    from birli_spark.operators import multiobs as mo

    sdf = mo.mo_ms_gate_rows(
        spark, sf_dir, str(tmp_path / "cat_ms2")).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                f"read_parquet('{sf_dir}/lineitem.parquet')")
    ddf = con.execute(mo.mo_ms_files_oracle_sql()).df()
    key = sorted(sdf.columns)
    assert key == sorted(ddf.columns)
    sdf = sdf.sort_values(key).reset_index(drop=True)
    ddf = ddf.sort_values(key).reset_index(drop=True)
    assert len(sdf) == len(ddf) > 0
    for c in key:
        assert (sdf[c].to_numpy() == ddf[c].to_numpy()).all(), c


def test_st11_stream_catalogue_parity(spark, sf_dir):
    """st11: the streaming catalogue SSINS (state key (obs, bl, chan))
    drains to the SAME per-obs scored mask as the batch catalogue
    derivation — flags AND z-scores, not just the image."""
    from birli_spark.operators import ssins as ssins_mod
    from birli_spark.streaming import ssins as sssins

    updates = sssins.run_available_now_multiobs(
        spark, sf_dir, "t_mo_ssins_parity")
    scored = sssins.score_drained_multiobs(
        sssins.ins_from_updates(updates)).toPandas()

    syn.load_vis(spark, sf_dir)
    ctes, final = ssins_mod.ssins_parts(
        "visq", obs_expr=f"CAST(FLOOR(t / {syn.NUM_T}) AS INT)")
    batch = spark.sql(
        f"WITH visq AS ({multiobs.multi_vis_cte()}), {ctes} {final}"
    ).toPandas()
    key = ["obs_id", "t", "chan"]
    scored = scored.sort_values(key).reset_index(drop=True)
    batch = batch.sort_values(key).reset_index(drop=True)
    assert len(scored) == len(batch) > 0
    for c in ("rfi_flag", "z_xx", "xx_amp", "n_bl"):
        assert (scored[c].to_numpy() == batch[c].to_numpy()).all(), c


def test_matches_duckdb_oracle(spark, sf_dir):
    import duckdb

    import __spark_entry__ as entry

    sdf = entry.queries()["mo1_multi_obs_pipeline"](spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                f"read_parquet('{sf_dir}/lineitem.parquet')")
    ddf = con.execute(entry.oracle_sql()["mo1_multi_obs_pipeline"]).df()
    key = sorted(sdf.columns)
    assert key == sorted(ddf.columns)
    sdf = sdf.sort_values(key).reset_index(drop=True)
    ddf = ddf.sort_values(key).reset_index(drop=True)
    assert len(sdf) == len(ddf) > 0
    for c in key:
        assert (sdf[c].to_numpy() == ddf[c].to_numpy()).all(), c


@pytest.mark.parametrize("relation", ["baked", "flagged"])
def test_one_obs_catalogue_is_single_obs_chain(sf_dir, relation):
    """A one-observation catalogue is the single-observation flowchart:
    obs 0's global t, epochs and gain drift are the identity, so its
    ``flagged`` and ``baked`` rows equal the single-obs text's in
    DuckDB — the equivalence the shared composition relies on."""
    import duckdb

    from birli_spark import pipeline
    from tools.oracle_check import compare

    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                f"read_parquet('{sf_dir}/lineitem.parquet')")
    surfaces = (multiobs.mo_surface(n_obs=1), pipeline.SURFACE)
    cat, single = (con.execute(
        f"WITH {pipeline.baked_oracle_ctes(s)} SELECT * FROM {relation}"
    ).df() for s in surfaces)
    assert len(single) > 0
    assert compare(relation, cat, single) == []
