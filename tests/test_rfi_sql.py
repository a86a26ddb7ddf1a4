"""Gates for the relational window-function SumThreshold
(operators/rfi_sql.py) against the f64 UDF island (operators/rfi.py),
the reference's synthetic-spike behavior (src/flags.rs:808-846), and
DuckDB cross-engine bit-exactness — the driver's hash-gate property."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from birli_spark import pipeline
from birli_spark.functions import textsql as X
from birli_spark.operators import rfi, rfi_sql
from birli_spark.sources import synthetic as syn

COLS = ("t", "ant1", "ant2", "chan",
        "xx_re", "xx_im", "xy_re", "xy_im",
        "yx_re", "yx_im", "yy_re", "yy_im", "weight", "flag")


def _run_duck(pdf: pd.DataFrame) -> pd.DataFrame:
    con = duckdb.connect()
    con.register("visin", pdf)
    steps, final, _ = rfi_sql.flag_rfi_steps(
        "visin", "quantile_cont", tuple(pdf.columns))
    return con.execute(f"WITH {X.ctes(steps)} {final}").df()


def _mk_rows(rng, baselines, nt=64, nc=64, spike=None):
    rows = []
    for a1, a2 in baselines:
        for t in range(nt):
            for c in range(nc):
                v = (float(0xFFFFFF) if spike == (a1, a2, t, c)
                     else float(rng.normal(10.0, 1.0)))
                rows.append(dict(
                    t=t, ant1=a1, ant2=a2, chan=c,
                    xx_re=v, xx_im=0.0, xy_re=0.0, xy_im=0.0,
                    yx_re=0.0, yx_im=0.0, yy_re=v, yy_im=0.0,
                    weight=8.0, flag=False))
    return pd.DataFrame(rows)[list(COLS)]


def test_spike_flagged_relationally():
    """Single huge value on one baseline -> that cell flagged; the quiet
    baseline untouched (reference spike fixture behavior)."""
    rng = np.random.default_rng(7)
    pdf = _mk_rows(rng, [(0, 1), (0, 2)], spike=(0, 1, 32, 32))
    out = _run_duck(pdf)
    hit = out[(out.ant1 == 0) & (out.ant2 == 1)
              & (out.t == 32) & (out.chan == 32)]
    assert hit["flag"].all()
    other = out[(out.ant1 == 0) & (out.ant2 == 2)]
    # gaussian noise at 6 sigma: a few false positives allowed, but far
    # from blanket flagging
    assert other["flag"].mean() < 0.05


def test_flat_image_off_median_flagged():
    """sigma == 0 arm: only values differing from the median flag."""
    rows = []
    for t in range(8):
        for c in range(8):
            v = 5.0 if not (t == 3 and c == 4) else 9.0
            rows.append(dict(t=t, ant1=0, ant2=1, chan=c,
                             xx_re=v, xx_im=0.0, xy_re=0.0, xy_im=0.0,
                             yx_re=0.0, yx_im=0.0, yy_re=v, yy_im=0.0,
                             weight=8.0, flag=False))
    out = _run_duck(pd.DataFrame(rows)[list(COLS)])
    assert out["flag"].sum() == 1
    assert out[(out.t == 3) & (out.chan == 4)]["flag"].all()


def test_prior_flags_survive():
    """re_apply_existing: prior flags are OR-ed into the result."""
    rng = np.random.default_rng(11)
    pdf = _mk_rows(rng, [(1, 2)], nt=16, nc=16)
    pdf.loc[(pdf.t == 5) & (pdf.chan == 5), "flag"] = True
    out = _run_duck(pdf)
    assert out[(out.t == 5) & (out.chan == 5)]["flag"].all()


def test_sparse_grid_absent_cells_not_emitted():
    """A baseline missing a whole (t, chan) block still emits only its
    present rows, and the noise estimate ignores the holes."""
    rng = np.random.default_rng(3)
    pdf = _mk_rows(rng, [(0, 3)], nt=32, nc=32, spike=(0, 3, 8, 8))
    keep = ~((pdf.t >= 20) & (pdf.chan >= 20))
    pdf = pdf[keep].reset_index(drop=True)
    out = _run_duck(pdf)
    assert len(out) == len(pdf)
    assert out[(out.t == 8) & (out.chan == 8)]["flag"].all()


def test_matches_udf_and_duckdb(spark, sf_dir):
    """Driver-shape gate: the relational plan's flags equal the UDF
    island's flag-for-flag on the cell-unique synthetic vis, and Spark
    vs DuckDB values are bit-identical (hash-gate property)."""
    vis = pipeline.rule_flags(spark, syn.load_vis(spark, sf_dir))
    vis.createOrReplaceTempView("t_f9_flagged")
    cols = tuple(vis.columns)
    cell_sql = rfi_sql.cell_dedup_select("t_f9_flagged", cols)
    cell = spark.sql(cell_sql)
    cell.createOrReplaceTempView("t_f9_cell")
    steps, final, _ = rfi_sql.flag_rfi_steps("t_f9_cell", "percentile", cols)
    s = spark.sql(f"WITH {X.ctes(steps)} {final}").toPandas()
    u = rfi.flag_rfi(cell).toPandas()
    key = ["t", "chan", "ant1", "ant2"]
    s2 = s.sort_values(key).reset_index(drop=True)
    u2 = u.sort_values(key).reset_index(drop=True)
    assert len(s2) == len(u2) > 0
    assert (s2["flag"].to_numpy() == u2["flag"].to_numpy()).all()

    con = duckdb.connect()
    con.register("cellpd", cell.toPandas())
    dsteps, dfinal, _ = rfi_sql.flag_rfi_steps("cellpd", "quantile_cont",
                                               cols)
    d = con.execute(f"WITH {X.ctes(dsteps)} {dfinal}").df()
    d2 = d.sort_values(key).reset_index(drop=True)
    assert len(d2) == len(s2)
    for c in s2.columns:
        a, b = s2[c].to_numpy(), d2[c].to_numpy()
        if a.dtype.kind == "f":
            a64 = a.astype(np.float64)
            b64 = b.astype(np.float64)
            eq = (a64.view(np.int64) == b64.view(np.int64)) | (
                np.isnan(a64) & np.isnan(b64))
        else:
            eq = a == b
        assert eq.all(), f"col {c}: {(~eq).sum()} cross-engine diffs"


# ------------------------------------------------- SIR morphology ---

def test_sir_1d_matches_brute_force():
    """Integer-tick SIR equals the O(N^3) definition on random masks
    (windows containing i with >= (1-eta)|w| flagged samples)."""
    from birli_spark.operators.rfi import SIR_D, sir_1d

    def brute(f, eta):
        en = int(round(eta * SIR_D))
        n = len(f)
        out = np.zeros(n, bool)
        for i in range(n):
            for j in range(i + 1):
                for k in range(i + 1, n + 1):
                    if int(f[j:k].sum()) * SIR_D >= (SIR_D - en) * (k - j):
                        out[i] = True
        return out

    rng = np.random.default_rng(1)
    for _ in range(100):
        f = rng.random(14) < 0.3
        eta = float(rng.choice([0.1, 0.2, 0.25, 0.4]))
        assert (sir_1d(f[None, :], eta)[0] == brute(f, eta)).all()


def test_sir_is_extensive_and_fills_gaps():
    from birli_spark.operators.rfi import sir_mask
    f = np.zeros((1, 20), bool)
    f[0, [5, 6, 7, 9, 10]] = True
    out = sir_mask(f, eta=0.2)
    assert (out[f]).all()                 # extensive: keeps inputs
    assert out[0, 8]                      # bridges the 1-gap at 80% density
    assert not out[0, 0] and not out[0, 19]


def test_sir_sql_matches_numpy():
    from birli_spark.operators.rfi import sir_mask

    rng = np.random.default_rng(9)
    nt, nc = 24, 16
    f = rng.random((nt, nc)) < 0.25
    pdf = pd.DataFrame([
        dict(ant1=0, ant2=2, t=t, chan=c, det=bool(f[t, c]))
        for t in range(nt) for c in range(nc)])
    con = duckdb.connect()
    con.register("m0", pdf)
    steps, final, _ = rfi_sql.sir_steps("m0", 0.2)
    out = con.execute(f"WITH {X.ctes(steps)} {final}").df()
    got = np.zeros((nt, nc), bool)
    for _, r in out.iterrows():
        got[int(r.t), int(r.chan)] = bool(r.det)
    assert (got == sir_mask(f, 0.2)).all()


def test_f9c_composition_matches_numpy(spark, sf_dir):
    """The composed SumThreshold->SIR query equals the numpy pipeline
    (sumthreshold_mask then sir_mask) on every baseline image."""
    from birli_spark.operators.rfi import sir_mask, sumthreshold_mask
    import __spark_entry__ as e

    out = e.queries()["f9c_rfi_sir"](spark, sf_dir).toPandas()
    vis = pipeline.rule_flags(spark, syn.load_vis(spark, sf_dir))
    vis.createOrReplaceTempView("t_f9c_flagged")
    cell = spark.sql(rfi_sql.cell_dedup_select(
        "t_f9c_flagged", tuple(vis.columns))).toPandas()
    for (a1, a2), grp in cell.groupby(["ant1", "ant2"]):
        ts = np.sort(grp.t.unique())
        cs = np.sort(grp.chan.unique())
        ti = {v: i for i, v in enumerate(ts)}
        ci = {v: i for i, v in enumerate(cs)}
        img = np.zeros((len(ts), len(cs)))
        prior = np.zeros(img.shape, bool)
        present = np.zeros(img.shape, bool)
        for _, r in grp.iterrows():
            i, j = ti[r.t], ci[r.chan]
            img[i, j] = np.hypot((r.xx_re + r.yy_re) / 2.0,
                                 (r.xx_im + r.yy_im) / 2.0)
            prior[i, j] = bool(r.flag)
            present[i, j] = True
        st = sumthreshold_mask(img, existing=prior, valid=present)
        want = sir_mask(st, eta=0.2)
        sub = out[(out.ant1 == a1) & (out.ant2 == a2)]
        for _, r in sub.iterrows():
            assert bool(r.det) == bool(want[ti[r.t], ci[r.chan]]), (
                a1, a2, r.t, r.chan)
