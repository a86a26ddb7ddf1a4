"""Byte pins for the catalogue sinks: the sha256 of every file MO4
(``multiobs.mo_uvfits_gate_rows``, one UVFITS per observation) and MO5
(``multiobs.mo_ms_gate_rows``, one casacore-layout MS tree per
observation) write on the sf0.001 fixture, pinned in
``data_catalogue_sink_pins.json``, plus a cross-check that every MO4 file
is the single-file writer's output over that observation's rows.

Re-record the pins (only when an output change is intended):

    python tests/test_catalogue_sinks.py --record SF_DIR

with SF_DIR the sf0.001 directory the ``sf_dir`` fixture names.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

from test_cli_flowchart import output_digests

PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                    "data_catalogue_sink_pins.json")


def write_catalogue(spark, sink: str, sf_dir: str, out: str) -> None:
    from birli_spark.operators import multiobs as mo

    gate = {"mo4": mo.mo_uvfits_gate_rows, "mo5": mo.mo_ms_gate_rows}[sink]
    gate(spark, sf_dir, out)


@pytest.fixture(scope="module")
def pins():
    with open(PINS) as f:
        return json.load(f)


@pytest.mark.parametrize("sink", ["mo4", "mo5"])
def test_catalogue_files_match_pins(spark, sf_dir, pins, sink, tmp_path):
    out = str(tmp_path / sink)
    write_catalogue(spark, sink, sf_dir, out)
    assert output_digests(out) == pins[sink]


def test_mo4_file_is_the_single_file_writer(spark, sf_dir, tmp_path):
    """obs_k.uvfits equals write_uvfits_distributed over obs k's rows,
    with t_out rebased to the observation, its object name and its own
    DATE PZERO."""
    from pyspark.sql import functions as F

    from birli_spark import pipeline
    from birli_spark.operators import multiobs as mo
    from birli_spark.sinks import uvfits
    from birli_spark.sources import synthetic as syn

    out = str(tmp_path / "cat")
    write_catalogue(spark, "mo4", sf_dir, out)
    rows = spark.sql(mo.mo_uvfits_rows_sql(pipeline.AVG_TIME,
                                           pipeline.AVG_FREQ))
    blocks = syn.NUM_T // pipeline.AVG_TIME
    for k in range(mo.N_OBS):
        one = str(tmp_path / f"one_{k}.uvfits")
        uvfits.write_uvfits_distributed(
            rows.filter(F.col("obs_id") == k)
            .withColumn("t_out", F.col("t_out") - k * blocks),
            one, object_name=f"obs_{k}",
            jd_zero=uvfits.obs_jd_zero(syn.GPS_START
                                       + k * mo.OBS_STRIDE_S))
        with open(one, "rb") as a, \
                open(os.path.join(out, f"obs_{k}.uvfits"), "rb") as b:
            assert a.read() == b.read(), k


def record(sf_dir: str, path: str = PINS) -> None:
    import tempfile

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from birli_spark.session import get_spark

    spark = get_spark("catalogue_sinks_record", cpus=8)
    pinned = {}
    try:
        with tempfile.TemporaryDirectory() as tmp:
            for sink in ("mo4", "mo5"):
                out = os.path.join(tmp, sink)
                write_catalogue(spark, sink, sf_dir, out)
                pinned[sink] = output_digests(out)
    finally:
        spark.stop()
    with open(path, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "--record":
        raise SystemExit(__doc__)
    record(sys.argv[2])
