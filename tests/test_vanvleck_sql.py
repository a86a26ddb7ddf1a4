"""Gates for the relational (oracle-checkable) Van Vleck correction
(operators/vanvleck_sql.py) against the reference's pyuvdata fixtures
(src/van_vleck.rs:394-465 sigma vectors, :886-1323 480-element cross
vectors), the full-f64 UDF twin (operators/vanvleck.py), and DuckDB
cross-engine bit-exactness — the property the driver's hash gate needs."""

from __future__ import annotations

import json
import os

import duckdb
import numpy as np
import pandas as pd
import pytest

from birli_spark.functions import textsql as X
from birli_spark.operators import vanvleck as vv
from birli_spark.operators import vanvleck_sql as V
from birli_spark.sources import synthetic as syn

GOLDEN = json.load(open(os.path.join(os.path.dirname(__file__),
                                     "data_vanvleck_golden.json")))


def _duck_chain(steps, final, src_df, src_name):
    con = duckdb.connect()
    con.register(src_name, src_df)
    return con.execute(f"WITH {X.ctes(steps)} SELECT * FROM {final}").df()


def test_sigma_chain_golden_duckdb():
    """The fixed-unroll Newton inverts every golden sighat to its sigma
    within the f32-transcendental tolerance (fixtures span sigma
    0.9 — 9.6, i.e. the whole real correlator range)."""
    src = pd.DataFrame({"s": np.array(GOLDEN["SIGHATS"], dtype=np.float64)})
    steps, final, _ = V.sigma_chain_steps(X.DUCK, "golden_sighats")
    out = _duck_chain(steps, final, src, "golden_sighats")
    got = out.set_index("s")["sigma"]
    for sh, sig in zip(GOLDEN["SIGHATS"], GOLDEN["SIGMAS"]):
        assert got[sh] == pytest.approx(sig, rel=2e-5), sh


def test_cross_chain_golden_duckdb():
    """All 480 golden cross solves accept and land within f32-grade
    relative error of the reference kappas."""
    ka = np.abs(np.array(GOLDEN["K_HATS"], dtype=np.float64))
    src = pd.DataFrame({
        "ka": ka,
        "sa": np.array(GOLDEN["SIGMAS1"], dtype=np.float64),
        "sb": np.array(GOLDEN["SIGMAS2"], dtype=np.float64),
    }).drop_duplicates()
    steps, final, _ = V.cross_chain_steps(X.DUCK, "golden_triples")
    out = _duck_chain(steps, final, src, "golden_triples")
    out = out.assign(kappa=out["rho"] * out["sa"] * out["sb"])
    # golden kappas are signed; the chain solves |khat| -> rho >= 0
    full = pd.DataFrame({
        "ka": ka,
        "sa": np.array(GOLDEN["SIGMAS1"], dtype=np.float64),
        "sb": np.array(GOLDEN["SIGMAS2"], dtype=np.float64),
        "kexp": np.abs(np.array(GOLDEN["KAPPAS"], dtype=np.float64)),
    })
    j = full.merge(out, on=["ka", "sa", "sb"], how="left")
    assert len(j) == 480
    assert j["accepted"].all()
    np.testing.assert_allclose(j["kappa"], j["kexp"], rtol=5e-5, atol=1e-9)


def test_cross_chain_unsolvable_passthrough_duckdb():
    """khat/(sa*sb) outside [0,1) (or zero sigmas) must come back
    accepted=false — the assembly then passes khat through, mirroring
    the UDF/reference unwrap_or (van_vleck.rs:764)."""
    src = pd.DataFrame({
        "ka": [0.9 * 0.3 * 0.3, 2.0, 0.5],
        "sa": [0.3, 1.0, 0.0],
        "sb": [0.3, 1.0, 2.0],
    })
    steps, final, _ = V.cross_chain_steps(X.DUCK, "bad_triples")
    out = _duck_chain(steps, final, src, "bad_triples")
    m = src.merge(out, on=["ka", "sa", "sb"], how="left")
    # row 0: g0 = 0.9 -> solvable, but Newton wanders (reference
    # passthrough case) — either way no garbage: accepted implies the
    # residual gate held, so only check the hard-unsolvable rows
    assert not m.loc[1, "accepted"]          # g0 = 2.0 >= 1
    assert not m.loc[2, "accepted"]          # sa = 0


def _by_row(df: pd.DataFrame) -> pd.DataFrame:
    """The wide plan's rows in one canonical order: sorted by every
    non-pol column, then by the pol values (rows of one cell may repeat)."""
    other = [c for c in df.columns if c not in V._COMPS]
    return df.sort_values(other + list(V._COMPS)).reset_index(drop=True)


def test_full_plan_cross_engine_bitexact(spark, sf_dir):
    """Spark (``run_steps``: stepwise + localCheckpoint barriers) and
    DuckDB (one WITH text over ``ctes``) produce value-identical doubles
    on every (row, pol) — the exact property the driver's hash compare
    requires."""
    scale = syn.VV_SAMPLE_SCALE
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')")
    steps, final, _ = V.van_vleck_wide_steps(X.DUCK, scale, (3,))
    d = _by_row(con.execute(
        f"WITH {X.ctes(steps, V.DUCK_MATERIALIZED)}\n{final}").df())
    s = _by_row(V.van_vleck_spark_wide(spark, sf_dir, scale, (3,))
                .toPandas())
    assert len(d) == len(s) and len(s) > 0
    other = [c for c in s.columns if c not in V._COMPS]
    assert (s[other].to_numpy() == d[other].to_numpy()).all()
    for c in V._COMPS:
        a = s[c].to_numpy(np.float64)
        b = d[c].to_numpy(np.float64)
        eq = (a.view(np.int64) == b.view(np.int64)) | (
            np.isnan(a) & np.isnan(b))
        assert eq.all(), f"{c}: {(~eq).sum()} of {len(a)} values differ in bits"


def test_full_plan_matches_udf(spark, sf_dir):
    """The relational plan agrees with the full-f64 UDF island within the
    documented f32-transcendental envelope (no NaN disagreements)."""
    scale = syn.VV_SAMPLE_SCALE
    key = ["t", "chan", "ant1", "ant2"]
    rel = V.van_vleck_spark_wide(spark, sf_dir, scale, (3,)).toPandas() \
        .melt(id_vars=key, value_vars=list(V._COMPS), var_name="comp",
              value_name="val")
    vis = syn.load_vis_legacy(spark, sf_dir)
    u = vv.correct_van_vleck(vis, scale, flagged_ants=[3]).toPandas()
    um = u.melt(id_vars=key, value_vars=list(V._COMPS), var_name="comp",
                value_name="uval").drop_duplicates(subset=key + ["comp"])
    m = rel.merge(um, on=key + ["comp"], how="left")
    assert len(m) == len(rel)
    a = m["val"].to_numpy(np.float64)
    b = m["uval"].to_numpy(np.float64)
    assert (np.isnan(a) == np.isnan(b)).all()
    fin = ~np.isnan(a)
    rel_err = np.abs(a[fin] - b[fin]) / np.maximum(np.abs(b[fin]), 1e-30)
    assert rel_err.max() < 1e-4, rel_err.max()
