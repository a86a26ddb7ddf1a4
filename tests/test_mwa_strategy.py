"""F9e — the relational mwa-default chain (rfi_sql.mwa_strategy_steps)
against its integer-tick numpy twin (rfi.mwa_strategy_mask_pols):
cross-engine exactness on DuckDB (the driver's hash-gate property for
f9e_rfi_mwa_strategy), orchestration behaviour (channel-RMS kills a hot
channel a plain SumThreshold leaves ragged; all-pol-zero samples
flagged), and prior-flag / absent-cell handling."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from birli_spark.functions import textsql as X
from birli_spark.operators import rfi, rfi_sql

COLS = ("t", "ant1", "ant2", "chan",
        "xx_re", "xx_im", "xy_re", "xy_im",
        "yx_re", "yx_im", "yy_re", "yy_im", "weight", "flag")


def _mk_rows(values: dict, baselines, nt=32, nc=34, flags=(),
             holes=()):
    """values: (a1, a2) -> {pol: (nt, nc) amplitude image}."""
    rows = []
    for a1, a2 in baselines:
        pols = values[(a1, a2)]
        for t in range(nt):
            for c in range(nc):
                if (a1, a2, t, c) in holes:
                    continue
                r = dict(t=t, ant1=a1, ant2=a2, chan=c, weight=8.0,
                         flag=(a1, a2, t, c) in flags)
                for p in rfi.MWA_POLS:
                    r[f"{p}_re"] = float(pols[p][t, c])
                    r[f"{p}_im"] = 0.0
                rows.append(r)
    return pd.DataFrame(rows)[list(COLS)]


def _run_duck(pdf: pd.DataFrame) -> pd.DataFrame:
    con = duckdb.connect()
    con.register("visin", pdf)
    steps, final, barriers = rfi_sql.mwa_strategy_steps("visin",
                                                        "quantile_cont")
    out = con.execute(f"WITH {X.ctes(steps, barriers)} {final}").df()
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
        shape = (len(ts), len(cs))
        pres = np.zeros(shape, bool)
        pres[r, c] = True
        pri = np.zeros(shape, bool)
        pri[r, c] = g["flag"].to_numpy(bool)
        pol_imgs = {}
        for p in rfi.MWA_POLS:
            img = np.zeros(shape)
            img[r, c] = np.hypot(g[f"{p}_re"].to_numpy(),
                                 g[f"{p}_im"].to_numpy())
            pol_imgs[p] = img
        det = rfi.mwa_strategy_mask_pols(pol_imgs, existing=pri,
                                         valid=pres)
        for i, tv in enumerate(ts):
            for j, cv in enumerate(cs):
                if pres[i, j]:
                    out.append((int(a1), int(a2), int(tv), int(cv),
                                bool(det[i, j])))
    return pd.DataFrame(out, columns=["ant1", "ant2", "t", "chan", "det"]) \
             .sort_values(["ant1", "ant2", "t", "chan"]) \
             .reset_index(drop=True)


def _noise_pols(rng, nt=32, nc=34):
    return {p: rng.normal(10.0, 1.0, size=(nt, nc)) + 20.0
            for p in rfi.MWA_POLS}


def test_sql_matches_numpy_twin():
    rng = np.random.default_rng(11)
    vals = {}
    # baseline A: clean noise + one strong spike (one pol only)
    pa = _noise_pols(rng)
    pa["xy"][7, 12] += 300.0
    vals[(0, 1)] = pa
    # baseline B: a hot channel (all pols) + a broad weak time blob the
    # iterative re-fit must dig out
    pb = _noise_pols(rng)
    for p in rfi.MWA_POLS:
        pb[p][:, 20] += 25.0
        pb[p][14:19, 5:9] += 4.0
    vals[(2, 3)] = pb
    flags = {(0, 1, 3, 3), (2, 3, 0, 0)}
    holes = {(0, 1, 9, 9)}
    pdf = _mk_rows(vals, [(0, 1), (2, 3)], flags=flags, holes=holes)
    duck = _run_duck(pdf)
    twin = _run_numpy(pdf)
    pd.testing.assert_frame_equal(duck, twin)
    # the detector actually fired
    d = duck.set_index(["ant1", "ant2", "t", "chan"])["det"]
    assert d[(0, 1, 7, 12)]
    assert d[(0, 1, 3, 3)]  # prior flags survive


def test_channel_rms_kills_hot_channel():
    """A channel hot in EVERY cell (so per-cell SumThreshold sees it as
    background after re-standardization) is removed whole by the
    threshold_channel_rms pass — the orchestration piece f9d lacks."""
    rng = np.random.default_rng(5)
    pols = _noise_pols(rng)
    for p in rfi.MWA_POLS:
        pols[p][:, 17] += 30.0
    pdf = _mk_rows({(0, 1): pols}, [(0, 1)])
    duck = _run_duck(pdf)
    col = duck[duck.chan == 17]["det"]
    assert col.all()
    # and the clean neighbours stay mostly clean
    rest = duck[duck.chan != 17]["det"]
    assert rest.mean() < 0.2


def test_all_pol_zero_samples_flagged():
    """aoflagger flag_zeros: correlator dropouts (all four pols exactly
    zero) are flagged even in an otherwise clean image."""
    rng = np.random.default_rng(9)
    pols = _noise_pols(rng)
    for p in rfi.MWA_POLS:
        pols[p][4, 8] = 0.0
    pdf = _mk_rows({(0, 1): pols}, [(0, 1)])
    duck = _run_duck(pdf)
    twin = _run_numpy(pdf)
    pd.testing.assert_frame_equal(duck, twin)
    d = duck.set_index(["t", "chan"])["det"]
    assert d[(4, 8)]
