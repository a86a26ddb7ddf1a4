"""Weights (SURVEY.md §2.5, W1-W3 + F10 flag→weight baking)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def weight_factor(fine_chan_width_hz: float, int_time_s: float) -> float:
    """W1 — Cotter-compatible sample-count weight
    ``w0 = (fine_chan_width / 10kHz) * (int_time / 1s)``
    (reference get_weight_factor, src/flags.rs:564-575)."""
    return (fine_chan_width_hz / 10_000.0) * int_time_s


def bake_flags_into_weights(vis: DataFrame) -> DataFrame:
    """F10/W2 — encode the flag as the weight's sign just before
    averaging/write: ``weight = flag ? -|w| : |w|``
    (reference flag_to_weight_array src/flags.rs:577-584; applied at
    src/cli.rs:1874-1880)."""
    return vis.withColumn(
        "weight",
        F.when(F.col("flag"), -F.abs(F.col("weight"))).otherwise(F.abs(F.col("weight"))),
    )


def bake_oracle_columns(vis_columns) -> str:
    """Oracle SQL select list twin of :func:`bake_flags_into_weights`."""
    return ", ".join(
        "CASE WHEN flag THEN -ABS(weight) ELSE ABS(weight) END AS weight"
        if c == "weight" else c for c in vis_columns)
