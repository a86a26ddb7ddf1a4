"""Smoke test of the end-to-end example (gpubox FITS → pipeline →
UVFITS + mwaf): the reference's examples/preprocess.rs analogue."""

from __future__ import annotations

import runpy
import sys

import numpy as np
import pytest


def test_example_end_to_end(tmp_path, monkeypatch):
    # the example manages its own SparkSession (getOrCreate reuses ours)
    sys.modules.pop("examples.preprocess", None)
    mod = runpy.run_path("examples/preprocess.py")
    # prevent the example from stopping the shared test session
    import birli_spark.session as sess
    real_stop = None
    result = None
    spark = sess.get_spark("birli_spark_tests")
    real_stop = spark.stop
    try:
        spark.stop = lambda: None
        result = mod["main"](str(tmp_path / "demo"))
    finally:
        spark.stop = real_stop
    assert result["raw_files"] == 3 and result["mwaf_files"] == 3
    assert result["uvfits_groups"] == 20  # 10 baselines x 2 avg blocks
    from birli_spark.sinks import uvfits
    header, params, data = uvfits.read_uvfits(result["uvfits_path"])
    assert header["GCOUNT"] == 20
    assert np.isfinite(data).all()

def test_corpus_example_end_to_end(tmp_path):
    sys.modules.pop("examples.corpus_pipeline", None)
    mod = runpy.run_path("examples/corpus_pipeline.py")
    import birli_spark.session as sess
    spark = sess.get_spark("birli_spark_tests")
    real_stop = spark.stop
    try:
        spark.stop = lambda: None
        result = mod["main"](out_dir=str(tmp_path / "corpus"))
    finally:
        spark.stop = real_stop
    assert result["n_in"] == 500
    assert 0 < result["n_out"] < result["n_in"]
    assert result["lang_partitions"] >= 1
    curated = spark.read.parquet(result["dataset_path"])
    assert {"doc_id", "cluster_id", "cluster_size", "fingerprint",
            "quality_score", "lang", "source"} <= set(curated.columns)
    # survivors of the pairwise policy may still carry a cluster_id of a
    # removed doc, but every doc_id is unique
    assert curated.count() == curated.select("doc_id").distinct().count()


def test_search_example_end_to_end(tmp_path):
    sys.modules.pop("examples.search_pipeline", None)
    mod = runpy.run_path("examples/search_pipeline.py")
    import birli_spark.session as sess
    spark = sess.get_spark("birli_spark_tests")
    real_stop = spark.stop
    try:
        spark.stop = lambda: None
        result = mod["main"](out_dir=str(tmp_path / "search"))
    finally:
        spark.stop = real_stop
    assert result["n_docs"] == 500
    assert result["n_index_rows"] > 0
    assert result["n_bm25_hits"] == 40      # 4 queries x k=10
    assert result["n_pq_rows"] == 500
    assert result["n_rerank_hits"] == 40    # 8 queries x k=5
    # sharded layout on disk: one directory per posting shard
    import os
    shards = [d for d in os.listdir(tmp_path / "search" / "index")
              if d.startswith("shard=")]
    assert len(shards) == 8


def test_events_example_end_to_end(tmp_path):
    sys.modules.pop("examples.events_pipeline", None)
    mod = runpy.run_path("examples/events_pipeline.py")
    import birli_spark.session as sess
    spark = sess.get_spark("birli_spark_tests")
    real_stop = spark.stop
    try:
        spark.stop = lambda: None
        result = mod["main"](out_dir=str(tmp_path / "events"))
    finally:
        spark.stop = real_stop
    assert result["n_events"] > 0
    assert result["n_sessions"] > 0
    assert result["n_history_rows"] > 0
    assert set(result["funnel"]) == {"signup", "view", "click", "purchase"}
    assert result["stream_parity"] is True


@pytest.mark.needs_reference("1196175296_mwa_ord")
def test_real_obs_pipeline_example(tmp_path, spark):
    """The all-real-inputs pipeline (reference metafits + legacy gpubox
    -> flags -> cable -> average -> sinks) runs end-to-end with sane
    shapes and a readable mwaf set."""
    mod = runpy.run_path("examples/real_obs_pipeline.py")
    result = mod["run"](str(tmp_path / "real_obs"), spark=spark)
    assert result["obsid"] == 1196175296
    # 128 ants -> 8256 baselines; 4 ts / 2 x 4 chans / 2 = 2 x 2 blocks
    assert result["n_avg_rows"] == 8256 * 2 * 2
    assert result["mwaf_files"] == 2         # one per coarse channel
    from birli_spark.sinks import mwaf
    primary, mat, ch_occ = mwaf.read_mwaf(
        str(tmp_path / "real_obs" / "mwaf" / "Flagfile00.mwaf"))
    assert primary["OBSID"] == 1196175296
    assert mat.shape == (4 * 8256, 2)
    # quack time (0.5 s) flags the first timestep -> first nbl rows set
    assert mat[:8256].all()


def test_pretrain_data_pipeline_example(spark, tmp_path):
    import runpy
    import sys
    sys.modules.pop("examples.pretrain_data_pipeline", None)
    mod = runpy.run_path("examples/pretrain_data_pipeline.py")
    stats = mod["main"]("/root/testdata/sf0.001", str(tmp_path))
    assert 0 < stats["n_out"] < stats["n_in"]
    assert stats["n_sequences"] > 0
    out = spark.read.parquet(str(tmp_path / "curated"))
    assert out.count() == stats["n_out"]
    rep = spark.read.parquet(str(tmp_path / "survival_report"))
    rows = {r.source: (r.n_docs, r.n_kept) for r in rep.collect()}
    assert sum(n for n, _ in rows.values()) == stats["n_in"]
    assert sum(k for _, k in rows.values()) == stats["n_out"]


def test_live_rfi_monitor_example(spark):
    sys.modules.pop("examples.live_rfi_monitor", None)
    mod = runpy.run_path("examples/live_rfi_monitor.py")
    real_stop = spark.stop
    try:
        spark.stop = lambda: None
        result = mod["main"]()
    finally:
        spark.stop = real_stop
    assert result["crossed_boundary"] is True
    burst_t, burst_chan = mod["BURST"][0], mod["BURST"][1]
    assert (burst_t, burst_chan) in result["flagged"]
    assert (burst_t + 1, burst_chan) in result["flagged"]


def test_verified_pipeline_example(spark):
    """The cross-engine verification demo: complete relational pipeline
    run on Spark and DuckDB, bit-identical."""
    import runpy

    sys.modules.pop("examples.verified_pipeline", None)
    mod = runpy.run_path("examples/verified_pipeline.py")
    import birli_spark.session as sess
    s = sess.get_spark("birli_spark_tests")
    real_stop = s.stop
    try:
        s.stop = lambda: None
        rc = mod["main"]("/root/testdata/sf0.001")
    finally:
        s.stop = real_stop
    assert rc == 0


def test_catalogue_example_end_to_end():
    sys.modules.pop("examples.catalogue_pipeline", None)
    mod = runpy.run_path("examples/catalogue_pipeline.py")
    import birli_spark.session as sess
    spark = sess.get_spark("birli_spark_tests")
    real_stop = spark.stop
    try:
        spark.stop = lambda: None
        result = mod["main"]("/root/testdata/sf0.001")
    finally:
        spark.stop = real_stop
    assert result["obs"] == 3
    assert set(result["per_obs_rows"].values()) == {384}
    assert result["files"] == [f"obs_{o}.uvfits" for o in range(3)]
    assert result["cells"] > 0


def test_calibration_loop_example(spark):
    """solve -> MWAOCAL .bin -> apply closes at the f32 demotion floor
    (the example asserts err < 1e-6 internally)."""
    mod = runpy.run_path("examples/calibration_loop.py")
    mod["run"](spark)
