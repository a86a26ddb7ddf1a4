"""P5 — picket-fence channel ranges (SURVEY.md §2.2; reference
``ChannelRanges`` parse/derive src/cli.rs:154-240 and ``run_ranges``
src/cli.rs:1524-1574).

The reference splits a non-contiguous coarse-channel selection like
``"1,2-3"`` into contiguous runs and re-runs the whole pipeline per run
with suffixed output names. Spark-side, each range is a partition-pruned
filter over the same scan; the per-range pipelines share every dim
broadcast and run as one job, with ``range_id`` standing in for the
output-name suffix (the sink would ``partitionBy('range_id')``).
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from birli_spark import pipeline
from birli_spark.sources import synthetic as syn


def parse_ranges(spec: str) -> list[tuple[int, int]]:
    """Parse ``"1,2-3"`` → [(1, 1), (2, 3)] with validation (reference
    ChannelRanges::new, src/cli.rs:154-196)."""
    out: list[tuple[int, int]] = []
    for part in spec.split(","):
        part = part.strip()
        if not part:
            raise ValueError(f"empty range in {spec!r}")
        if "-" in part:
            lo_s, hi_s = part.split("-", 1)
            lo, hi = int(lo_s), int(hi_s)
        else:
            lo = hi = int(part)
        if lo > hi:
            raise ValueError(f"descending range {part!r}")
        out.append((lo, hi))
    for (_, h), (l2, _) in zip(out, out[1:]):
        if l2 <= h:
            raise ValueError(f"overlapping/unsorted ranges in {spec!r}")
    return out


def _range_where(lo: int, hi: int) -> str:
    return f"cc BETWEEN {lo} AND {hi}"


def run_picket(spark: SparkSession, sf_dir: str, spec: str,
               avg_time: int = pipeline.AVG_TIME,
               avg_freq: int = pipeline.AVG_FREQ) -> DataFrame:
    """Full preprocessing per contiguous coarse-channel range, unioned
    with a ``range_id`` column."""
    out: DataFrame | None = None
    for rid, (lo, hi) in enumerate(parse_ranges(spec)):
        vis = syn.load_vis(spark, sf_dir).filter(F.expr(_range_where(lo, hi)))
        part = (pipeline.preprocess(spark, sf_dir, avg_time, avg_freq, vis=vis)
                .withColumn("range_id", F.lit(rid)))
        out = part if out is None else out.unionByName(part)
    assert out is not None
    return out


def ranges_from_channels(rec_chans: list[int]) -> list[tuple[int, int]]:
    """Derive contiguous coarse-channel ranges from an observation's
    receiver-channel list (reference ``ChannelRanges::from_idxs``,
    src/cli.rs:207-230: consecutive indices whose receiver channel
    numbers are also consecutive join one range). Returns
    (lo_ch, hi_ch) pairs in receiver-channel numbers."""
    if not rec_chans:
        return []
    out: list[tuple[int, int]] = []
    lo = hi = rec_chans[0]
    for ch in rec_chans[1:]:
        if ch == hi + 1:
            hi = ch
        else:
            out.append((lo, hi))
            lo = hi = ch
    out.append((lo, hi))
    return out


def range_suffix(lo_ch: int, hi_ch: int) -> str:
    """The reference's per-range output-name suffix
    (src/cli.rs:1544-1556): ``_ch62`` for a single channel,
    ``_ch62-63`` for a run."""
    return f"_ch{lo_ch}" if lo_ch == hi_ch else f"_ch{lo_ch}-{hi_ch}"


def legacy_gpubox_numbers(rec_chans_sorted: list[int]) -> dict[int, int]:
    """Receiver channel -> gpubox number for a LEGACY correlator obs
    (mwalib CoarseChannel semantics, public mwalib source): channels
    <= 128 take gpubox numbers 1..k in ascending channel order;
    channels > 128 are sky-frequency REVERSED — ascending channels in
    the high block take DESCENDING gpubox numbers, so the lowest
    high-block channel gets the highest number. For the picket obs
    1119683928 this maps channel 139 -> gpubox 24 and
    channel 188 -> gpubox 17."""
    low = [c for c in rec_chans_sorted if c <= 128]
    high = [c for c in rec_chans_sorted if c > 128]
    n = len(rec_chans_sorted)
    out = {c: i + 1 for i, c in enumerate(low)}
    for j, c in enumerate(high):          # ascending channel
        out[c] = n - j                    # descending gpubox number
    return out


def picket_oracle_sql(spec: str,
                      avg_time: int = pipeline.AVG_TIME,
                      avg_freq: int = pipeline.AVG_FREQ) -> str:
    parts = []
    for rid, (lo, hi) in enumerate(parse_ranges(spec)):
        vis = (f"SELECT * FROM ({pipeline.SURFACE.vis})"
               f" WHERE {_range_where(lo, hi)}")
        inner = pipeline.preprocess_oracle_sql(
            avg_time, avg_freq, replace(pipeline.SURFACE, vis=vis))
        parts.append(f"SELECT *, {rid} AS range_id FROM ({inner})")
    return "\nUNION ALL\n".join(parts)
