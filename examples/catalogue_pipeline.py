"""Run a whole observation CATALOGUE through one engine invocation —
the 100 TB shape (hundreds of ~200 GB observations) demonstrated end
to end at toy scale:

  1. MO1/MO2: the catalogue preprocess (per-obs quack windows, per-epoch
     UVW dims, per-obs SSINS RFI statistics) as ONE declarative plan
     whose obs axis appears in no join or group key;
  2. MO3: the per-obs flag-occupancy QA rollup an archive run records;
  3. MO4: the write stage — one physical random-groups UVFITS file per
     observation, all written executor-parallel in a single job, each
     DATE PZERO anchored at its own obs start.

The reference (Birli) is invoked once per observation; this engine
treats the catalogue as the fact table's outermost dimension, so a
night of observations is one Spark job whose parallelism is
input-splits, not process count.

Usage: python examples/catalogue_pipeline.py [sf_dir] [n_obs]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from birli_spark.operators import multiobs  # noqa: E402
from birli_spark.session import get_spark  # noqa: E402
from birli_spark.sources import synthetic as syn  # noqa: E402


def main(sf_dir: str = "/root/testdata/sf0.001",
         n_obs: int | None = None) -> dict:
    spark = get_spark("catalogue_pipeline")
    try:
        n = n_obs or multiobs.N_OBS
        syn.load_vis(spark, sf_dir)

        out = spark.sql(multiobs.multi_obs_preprocess_sql(
            ssins=True, n_obs=n))
        per_obs = {r["obs_id"]: r["rows"] for r in
                   out.groupBy("obs_id")
                      .agg(F.count("*").alias("rows")).collect()}
        print(f"averaged output rows per obs: {per_obs}")

        occ = spark.sql(multiobs.mo_occupancy_sql(n_obs=n))
        worst = occ.orderBy(occ.occupancy.desc()).limit(3).collect()
        print("worst-occupancy channels:",
              [(r.obs_id, r.cc, r.fc, round(r.occupancy, 3))
               for r in worst])

        uv_dir = os.path.join(tempfile.mkdtemp(), "catalogue_uvfits")
        gate = multiobs.mo_uvfits_gate_rows(spark, sf_dir, uv_dir,
                                            n_obs=n)
        n_cells = gate.count()
        files = sorted(os.listdir(uv_dir))
        print(f"wrote {len(files)} uvfits files "
              f"({n_cells} stored cells verified): {files}")
        return {"obs": n, "per_obs_rows": per_obs, "files": files,
                "cells": n_cells}
    finally:
        spark.stop()


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else None
    main(sf, n)
