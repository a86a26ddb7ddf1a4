"""Empirical cross-engine EXP/LN bit-parity probe.

The Van Vleck relational oracle needs Newton iterations whose only
non-IEEE-exact primitive is EXP (erf is built from EXP + polynomials;
+ - * / sqrt are correctly rounded by IEEE 754 and therefore identical
everywhere). This probe measures, over the actual domain the solves use
(exponents in [-60, 0] for the erf/pdf terms), how often Spark's JVM
Math.exp and DuckDB's libm exp disagree, and by how many ULPs.

Usage: python tools/exp_parity_probe.py [n]
"""

from __future__ import annotations

import os
import struct
import sys

import duckdb
import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from birli_spark.session import get_spark  # noqa: E402


def bits(a: np.ndarray) -> np.ndarray:
    return a.view(np.int64)


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    rng = np.random.default_rng(42)
    # erf arguments (k+.5)/(s sqrt2) for sigma in [0.5, 30] → x in
    # [0.015, 9.2]; exp sees -x^2 in [-85, 0]. Cover it log-uniformly.
    x = -np.exp(rng.uniform(np.log(1e-6), np.log(85.0), n))
    import pandas as pd
    pdf = pd.DataFrame({"x": x})

    con = duckdb.connect()
    con.register("t", pdf)
    d = con.execute("SELECT exp(x) AS e, ln(1.0 - x) AS l FROM t").df()

    spark = get_spark("exp_probe")
    sdf = spark.createDataFrame(pdf)
    s = (sdf.selectExpr("EXP(x) AS e", "LN(1.0 - x) AS l")
         .toPandas())

    for col in ("e", "l"):
        a = s[col].to_numpy(dtype=np.float64)
        b = d[col].to_numpy(dtype=np.float64)
        ulp = np.abs(bits(a) - bits(b))
        neq = int((ulp > 0).sum())
        print(f"{col}: {neq}/{n} differ "
              f"({neq / n:.2e}), max ulp diff {ulp.max()}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
