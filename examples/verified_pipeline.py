"""Run the COMPLETE preprocessing pipeline twice — Spark and DuckDB —
and prove the outputs bit-identical.

Round 3 made the whole reference flowchart (Van Vleck -> rule flags ->
cable -> digital gains -> PFB passband -> SumThreshold RFI -> geometry
-> DI calibration -> flag baking -> averaging) ONE relational plan with
a one-text DuckDB twin (pipeline.preprocess_full_rel /
preprocess_full_oracle_sql). That means every production run can be
spot-audited by an independent engine: same parquet in, value-identical
doubles out — no golden files, no tolerances.

Usage: python examples/verified_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from birli_spark import pipeline  # noqa: E402
from birli_spark.session import get_spark  # noqa: E402


def main(sf_dir: str = "/root/testdata/sf0.001") -> int:
    spark = get_spark("verified_pipeline")
    try:
        got = pipeline.preprocess_full_rel(spark, sf_dir).toPandas()
    finally:
        spark.stop()

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')")
    want = con.execute(pipeline.preprocess_full_oracle_sql()).df()

    key = [c for c in ("t_out", "chan_out", "bl") if c in got.columns]
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    if len(g) != len(w):
        print(f"FAIL row count {len(g)} vs {len(w)}")
        return 1
    n_bits = 0
    for c in sorted(g.columns):
        a, b = g[c].to_numpy(), w[c].to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            a64, b64 = a.astype(np.float64), b.astype(np.float64)
            eq = (a64.view(np.int64) == b64.view(np.int64)) | (
                np.isnan(a64) & np.isnan(b64))
        else:
            eq = np.asarray(a == b)
        bad = int((~eq).sum())
        n_bits += bad
        if bad:
            print(f"  col {c}: {bad} value diffs")
    verdict = "BIT-IDENTICAL" if n_bits == 0 else f"{n_bits} DIFFS"
    print(f"pipeline x2 engines: {len(g)} rows x {len(g.columns)} cols "
          f"-> {verdict}")
    return 0 if n_bits == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main(*sys.argv[1:]))
