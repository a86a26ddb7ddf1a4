"""Streaming SumThreshold (st10): the stateful twin of the relational
F9 flagger (operators/rfi_sql.py) — the image accumulates while the
observation is still being written; the mask is computed relationally
over the drained image.

SumThreshold is a whole-image operator (every pass reads flags the
previous pass wrote across the full (t, chan) plane), so unlike SSINS
it cannot emit per-micro-batch verdicts; the streaming half's job is
the IMAGE: per (bl, chan) the transition folds each arriving time
sample to its deterministic cell reduction (per-column MIN over
duplicate rows, prior = OR — exactly operators/rfi_sql.py::
cell_dedup_select) and appends (t, chan, ant1, ant2, amp, prior) rows.
State is one long (the last folded t): it exists to make append
exactly-once — the same cell-completeness contract as the SSINS twin
(streaming/ssins.py), enforced with the same loud failure when a
(bl, chan, t) cell straddles micro-batches.

Parity is exact: the fold performs the identical f64 arithmetic the
batch SQL performs on identical MIN-reduced doubles (sum/2, square,
sqrt are correctly rounded), so the drained image is bit-identical to
the batch ``st_base`` relation and the drain-side mask hash-matches the
batch F9 mask.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (BooleanType, DoubleType, IntegerType,
                               LongType, StructField, StructType)

from birli_spark.functions.complex import VIS_COLS
from birli_spark.streaming.ssins import read_vis_stream

OUTPUT_SCHEMA = StructType([
    StructField("t", IntegerType()), StructField("chan", IntegerType()),
    StructField("ant1", IntegerType()), StructField("ant2", IntegerType()),
    StructField("amp", DoubleType()), StructField("prior", BooleanType()),
])

STATE_SCHEMA = StructType([StructField("last_t", LongType())])


def _fold_key(ant1: int, ant2: int, chan: int, batch: pd.DataFrame,
              last_t: int | None) -> tuple[pd.DataFrame, int]:
    """Pure transition: per-t deterministic cell reduction (column MIN,
    flag OR) and the batch SQL's Stokes-I amplitude."""
    if len(batch) and last_t is not None \
            and int(batch["t"].min()) <= last_t:
        raise RuntimeError(
            f"streaming SumThreshold cell-completeness violation: key "
            f"(bl=({ant1},{ant2}), chan={chan}) received t="
            f"{int(batch['t'].min())} after already folding t={last_t}; "
            "a cell straddled micro-batches — coalesce to cell-aligned "
            "files or use the batch operator (operators/rfi_sql.py)")
    cells = batch.groupby("t").agg(
        {**{c: "min" for c in VIS_COLS}, "flag": "max"}).sort_index()
    re = (cells["xx_re"].to_numpy(np.float64)
          + cells["yy_re"].to_numpy(np.float64)) / 2.0
    im = (cells["xx_im"].to_numpy(np.float64)
          + cells["yy_im"].to_numpy(np.float64)) / 2.0
    out = pd.DataFrame({
        "t": cells.index.to_numpy(np.int32),
        "chan": np.int32(chan), "ant1": np.int32(ant1),
        "ant2": np.int32(ant2),
        "amp": np.sqrt(re * re + im * im),
        "prior": cells["flag"].to_numpy(bool),
    })
    new_last = int(cells.index.max()) if len(cells) else (
        -1 if last_t is None else last_t)
    return out, new_last


def image_stream(stream: DataFrame) -> DataFrame:
    """Per-(ant1, ant2, chan) stateful image-sample appender."""
    def fn(key: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        ant1, ant2, chan = key
        batch = pd.concat(list(pdfs), ignore_index=True)
        last_t = int(state.get[0]) if state.exists else None
        out, new_last = _fold_key(ant1, ant2, chan, batch, last_t)
        state.update((new_last,))
        if len(out):
            yield out

    return (stream
            .select("t", "chan", "ant1", "ant2", "flag", *VIS_COLS)
            .groupBy("ant1", "ant2", "chan")
            .applyInPandasWithState(
                fn, OUTPUT_SCHEMA, STATE_SCHEMA, "append",
                GroupStateTimeout.NoTimeout))


def mask_drained(image: DataFrame,
                 base_sensitivity: float = 6.0) -> DataFrame:
    """The relational SumThreshold mask over a drained image — the
    batch plan (operators/rfi_sql.py) run on the streaming output."""
    from birli_spark.functions import textsql as X
    from birli_spark.operators import rfi_sql

    spark = image.sparkSession
    image.createOrReplaceTempView("st10_drained")
    steps, final, _ = rfi_sql.sumthreshold_steps(
        "st10_drained", "percentile", base_sensitivity,
        prefix="st10", vis_is_base=True)
    return spark.sql(f"WITH {X.ctes(steps)} {final}")


def run_available_now(spark: SparkSession, sf_dir: str,
                      query_name: str = "stream_rfi") -> DataFrame:
    out = image_stream(read_vis_stream(spark, sf_dir))
    from birli_spark.streaming import drain_to_memory
    return drain_to_memory(out, query_name, "append")
