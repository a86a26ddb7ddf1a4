"""F9d — iterative AOFlagger-strategy gates: the relational chain
(operators/rfi_sql.py::aoflagger_strategy_steps) against the integer-
tick numpy twin (operators/rfi.py::aoflagger_strategy_mask), the
behavioral point of iterating (background-ridden spikes that a single
SumThreshold pass misses), and DuckDB/Spark cross-engine exactness —
the driver's hash-gate property for f9d_aoflagger_strategy."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from birli_spark.functions import textsql as X
from birli_spark.operators import rfi, rfi_sql

COLS = ("t", "ant1", "ant2", "chan",
        "xx_re", "xx_im", "xy_re", "xy_im",
        "yx_re", "yx_im", "yy_re", "yy_im", "weight", "flag")


def _mk_rows(values: dict, baselines, nt=48, nc=48, flags=()):
    """values: (a1, a2) -> (nt, nc) image; missing cells default 10."""
    rows = []
    for a1, a2 in baselines:
        img = values[(a1, a2)]
        for t in range(nt):
            for c in range(nc):
                v = float(img[t, c])
                rows.append(dict(
                    t=t, ant1=a1, ant2=a2, chan=c,
                    xx_re=v, xx_im=0.0, xy_re=0.0, xy_im=0.0,
                    yx_re=0.0, yx_im=0.0, yy_re=v, yy_im=0.0,
                    weight=8.0, flag=(a1, a2, t, c) in flags))
    return pd.DataFrame(rows)[list(COLS)]


def _run_duck(pdf: pd.DataFrame) -> pd.DataFrame:
    con = duckdb.connect()
    con.register("visin", pdf)
    steps, final, _ = rfi_sql.aoflagger_strategy_steps("visin",
                                                       "quantile_cont")
    out = con.execute(f"WITH {X.ctes(steps)} {final}").df()
    out["det"] = out["det"].astype(bool)
    return out.sort_values(["ant1", "ant2", "t", "chan"]) \
              .reset_index(drop=True)


def _run_numpy(pdf: pd.DataFrame) -> pd.DataFrame:
    out = []
    for (a1, a2), g in pdf.groupby(["ant1", "ant2"]):
        ts = np.sort(g["t"].unique())
        cs = np.sort(g["chan"].unique())
        ti = {v: i for i, v in enumerate(ts)}
        ci = {v: i for i, v in enumerate(cs)}
        r = g["t"].map(ti).to_numpy()
        c = g["chan"].map(ci).to_numpy()
        img = np.zeros((len(ts), len(cs)))
        pres = np.zeros(img.shape, bool)
        pri = np.zeros(img.shape, bool)
        re = (g["xx_re"].to_numpy() + g["yy_re"].to_numpy()) / 2
        im = (g["xx_im"].to_numpy() + g["yy_im"].to_numpy()) / 2
        img[r, c] = np.hypot(re, im)
        pres[r, c] = True
        pri[r, c] = g["flag"].to_numpy(bool)
        det = rfi.aoflagger_strategy_mask(img, existing=pri, valid=pres)
        for i, tv in enumerate(ts):
            for j, cv in enumerate(cs):
                if pres[i, j]:
                    out.append((int(a1), int(a2), int(tv), int(cv),
                                bool(det[i, j])))
    return pd.DataFrame(out, columns=["ant1", "ant2", "t", "chan", "det"]) \
             .sort_values(["ant1", "ant2", "t", "chan"]) \
             .reset_index(drop=True)


def _noise_img(rng, nt=48, nc=48):
    return rng.normal(10.0, 1.0, size=(nt, nc))


def test_sql_matches_numpy_twin():
    rng = np.random.default_rng(3)
    imgs = {(0, 1): _noise_img(rng), (0, 2): _noise_img(rng)}
    imgs[(0, 1)][20, 20] = imgs[(0, 1)][20, 21] = 1000.0
    imgs[(0, 2)][5, 40] = 1000.0
    pdf = _mk_rows(imgs, [(0, 1), (0, 2)], flags={(0, 2, 0, 0)})
    d = _run_duck(pdf)
    n = _run_numpy(pdf)
    assert len(d) == len(n)
    assert (d["det"].to_numpy() == n["det"].to_numpy()).all()
    assert d["det"].sum() >= 3           # both spikes + the prior flag


def test_background_ridden_spike_needs_the_iteration():
    """The point of the strategy: a spike riding a strong smooth
    background. The global-median single pass (F9) drowns — its MAD is
    inflated by the ramp — while the iterated high-pass subtracts the
    ramp and catches the spike."""
    rng = np.random.default_rng(11)
    nt = nc = 48
    ramp = np.linspace(0.0, 40.0, nc)[None, :] * np.ones((nt, 1))
    img = 10.0 + ramp + rng.normal(0.0, 1.0, size=(nt, nc))
    # 14 sigma LOCAL at mid-ramp: ~1 ramp-inflated "sigma" above the
    # global median, far below the single-pass 6 sigma threshold
    img[24, 20] += 14.0
    present = np.ones(img.shape, bool)
    single = rfi.sumthreshold_mask(img, 6.0, valid=present)
    strat = rfi.aoflagger_strategy_mask(img, 6.0, valid=present, eta=None)
    assert not single[24, 20]
    assert strat[24, 20]
    # and the strategy doesn't blanket-flag the clean ramp (kernel-edge
    # residual bias does legitimately catch some large-window cells on a
    # background this strong — but far from everything)
    assert strat.mean() < 0.35


def test_prior_flags_survive_and_absent_cells_not_emitted():
    rng = np.random.default_rng(7)
    imgs = {(1, 2): _noise_img(rng, 16, 16)}
    pdf = _mk_rows(imgs, [(1, 2)], nt=16, nc=16, flags={(1, 2, 5, 5)})
    pdf = pdf[~((pdf.t == 9) & (pdf.chan == 9))]   # absent cell
    out = _run_duck(pdf)
    assert len(out) == 16 * 16 - 1
    assert out[(out.t == 5) & (out.chan == 5)]["det"].all()
    assert not ((out.t == 9) & (out.chan == 9)).any()
    n = _run_numpy(pdf)
    assert (out["det"].to_numpy() == n["det"].to_numpy()).all()


def test_lowpass_fits_constant_masked_image():
    """Masked separable fit of a constant image is exactly that
    constant wherever any unflagged weight is in range; fully-flagged
    neighbourhoods fit 0."""
    x = np.full((12, 12), 7777, dtype=np.int64)
    m = np.ones((12, 12), bool)
    m[:, 6] = False
    bg = rfi.lowpass_ticks(x, m)
    assert (bg == 7777).all()
    bg0 = rfi.lowpass_ticks(x, np.zeros((12, 12), bool))
    assert (bg0 == 0).all()


def test_flat_image_off_median_flagged():
    img = np.full((8, 8), 5.0)
    img[3, 4] = 9.0
    pdf = _mk_rows({(0, 1): img}, [(0, 1)], nt=8, nc=8)
    out = _run_duck(pdf)
    hit = out[out["det"]]
    assert len(hit) >= 1
    assert ((hit.t == 3) & (hit.chan == 4)).any()
    n = _run_numpy(pdf)
    assert (out["det"].to_numpy() == n["det"].to_numpy()).all()


def test_spark_matches_duckdb(spark, sf_dir):
    """Cross-engine hash-gate on the driver tables (the f9d oracle
    pairing, at the tests' sf)."""
    import __spark_entry__ as entry

    sdf = entry.queries()["f9d_aoflagger_strategy"](spark, sf_dir) \
        .toPandas().sort_values(["ant1", "ant2", "t", "chan"]) \
        .reset_index(drop=True)
    con = duckdb.connect()
    for t in ("lineitem",):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    ddf = con.execute(entry.oracle_sql()["f9d_aoflagger_strategy"]).df() \
        .sort_values(["ant1", "ant2", "t", "chan"]).reset_index(drop=True)
    assert len(sdf) == len(ddf)
    assert (sdf["det"].astype(bool).to_numpy()
            == ddf["det"].astype(bool).to_numpy()).all()
