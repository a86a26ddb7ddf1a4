"""O3/S5 — flag sink + read-back (SURVEY.md §2.7; reference
``FlagFileSet`` .mwaf writer, src/io/mwaf.rs:175-628, and readers
:676-893).

The reference writes one FITS file per coarse channel (a `%`-template
name), a primary header of observation metadata, one bit-packed FLAGS row
per (timestep, baseline), and CH_OCC / BL_OCC / TILES occupancy HDUs on
finalise. The Spark-native sink keeps the same logical content with
cluster-friendly physics:

- ``flags/``     parquet **partitioned by cc** (the per-coarse-channel
  file split, preserved as partition pruning on read-back), rows sorted
  (t, bl, fc) within partitions (the reference's append order,
  src/io/mwaf.rs:451-495);
- ``ch_occ/`` and ``bl_occ/`` parquet — the A2/A3 occupancy HDUs;
- ``header.json`` — the primary-HDU metadata (VERSION/OBSID/GPSSTART/
  NCHANS/NANTENNA/NSCANS/SOFTWARE, src/io/mwaf.rs:263-349).

Row-count validation (A4, src/io/mwaf.rs:504-512) is opt-in because the
synthetic fact table is not a complete (t, bl, chan) grid.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from birli_spark.operators import occupancy

VERSION = "2.0"
FLAG_COLS = ("t", "bl", "ant1", "ant2", "cc", "fc", "chan", "flag")


def write_flags(vis: DataFrame, out_dir: str, obsid: int = 0,
                gps_start: float = 0.0, software: str = "birli_spark",
                validate_complete: bool = False) -> dict:
    """Write the flag set + occupancy stats + header; returns the header
    dict. One shuffle (repartition by cc) — each output partition is one
    coarse channel, matching the reference's per-gpubox parallel write
    (src/io/mwaf.rs:399-407)."""
    flags = vis.select(*FLAG_COLS)
    counts = flags.agg(
        F.countDistinct("t").alias("nscans"),
        F.countDistinct("ant1", "ant2").alias("nbl"),
        F.countDistinct("chan").alias("nchans"),
        F.countDistinct("cc").alias("ncc"),
        F.count("*").alias("n_rows")).collect()[0]
    if validate_complete:
        expected = counts.nscans * counts.nbl * counts.nchans
        if counts.n_rows != expected:
            raise ValueError(
                f"row count {counts.n_rows} != timesteps*baselines*chans "
                f"{expected} (reference FlagFileSet write check, "
                f"src/io/mwaf.rs:504-512)")
    (flags
     .repartition("cc")
     .sortWithinPartitions("t", "bl", "fc")
     .write.mode("overwrite").partitionBy("cc")
     .parquet(os.path.join(out_dir, "flags")))
    occupancy.channel_occupancy(vis).write.mode("overwrite").parquet(
        os.path.join(out_dir, "ch_occ"))
    occupancy.baseline_occupancy(vis).write.mode("overwrite").parquet(
        os.path.join(out_dir, "bl_occ"))
    header = {
        "VERSION": VERSION, "OBSID": obsid, "GPSSTART": gps_start,
        "NCHANS": counts.nchans, "NANTENNA": None, "NSCANS": counts.nscans,
        "NBL": counts.nbl, "NCC": counts.ncc, "N_ROWS": counts.n_rows,
        "SOFTWARE": software,
    }
    with open(os.path.join(out_dir, "header.json"), "w") as f:
        json.dump(header, f)
    return header


def read_flags(spark: SparkSession, out_dir: str,
               coarse_chans: tuple[int, ...] | None = None) -> DataFrame:
    """S5 read-back; ``coarse_chans`` prunes partitions like the
    reference's per-coarse-channel file selection."""
    df = spark.read.parquet(os.path.join(out_dir, "flags"))
    if coarse_chans is not None:
        df = df.filter(F.col("cc").isin(list(coarse_chans)))
    return df.select(*FLAG_COLS)


def read_header(out_dir: str) -> dict:
    with open(os.path.join(out_dir, "header.json")) as f:
        return json.load(f)


def read_channel_occupancy(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "ch_occ"))

