"""Selection operators (SURVEY.md §2.2, P1-P4).

Birli's ``VisSelection`` restricts the dense cube by timestep / coarse-chan /
baseline ranges (reference src/cli.rs:843-920, shape checks
src/io/mod.rs:158-189). Relationally these are plain predicates and
semi/anti joins — Catalyst pushes them into the parquet scan (partition
pruning on cc/t at 100 TB scale), so selection costs ~nothing.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def select_ranges(
    vis: DataFrame,
    t_min: int | None = None,
    t_max: int | None = None,
    coarse_chans: Sequence[int] | None = None,
    baselines: Sequence[int] | None = None,
) -> DataFrame:
    """P1 — `VisSelection` time/channel/baseline range restriction.

    Mirrors reference src/cli.rs:843-920 (``timestep_range``,
    ``coarse_chan_range``, ``baseline_idxs``). ``t_max`` is exclusive, like
    the reference's Rust ranges. All predicates are sargable → pushed to the
    scan (`PushedFilters` in .explain), enabling partition pruning when the
    fact table is written partitioned by (cc, t)-bucket.
    """
    out = vis
    if t_min is not None:
        out = out.filter(F.col("t") >= t_min)
    if t_max is not None:
        out = out.filter(F.col("t") < t_max)
    if coarse_chans is not None:
        out = out.filter(F.col("cc").isin(list(coarse_chans)))
    if baselines is not None:
        out = out.filter(F.col("bl").isin(list(baselines)))
    return out


def retain_antennas(vis: DataFrame, ants: Sequence[int]) -> DataFrame:
    """P2 — `--sel-ants`: keep baselines whose BOTH antennas are selected
    (reference src/cli.rs:869-897).

    An `isin` literal filter (the antenna list is CLI-sized) — semantically a
    semi-join, but a literal IN keeps it inside the scan's pushed filters
    instead of forcing even a broadcast join.
    """
    s = list(ants)
    return vis.filter(F.col("ant1").isin(s) & F.col("ant2").isin(s))


def filter_antennas(vis: DataFrame, flagged_ants: DataFrame) -> DataFrame:
    """P3 — `--no-sel-flagged-ants`: drop baselines touching a flagged
    antenna (reference src/cli.rs:898-908).

    Expressed as two broadcast **anti-joins** against the flagged-antenna
    dimension (ant1 then ant2) — no shuffle of the fact table at any scale.
    """
    flagged = flagged_ants.select("ant")
    return (
        vis.join(F.broadcast(flagged), vis["ant1"] == flagged["ant"], "left_anti")
        .join(F.broadcast(flagged), vis["ant2"] == flagged["ant"], "left_anti")
    )


def filter_autos(vis: DataFrame) -> DataFrame:
    """P4 — `--no-sel-autos`: drop autocorrelations
    (reference src/cli.rs:909-918)."""
    return vis.filter(F.col("ant1") != F.col("ant2"))


def baseline_selection_predicate(
    sel_ants: Sequence[int] | None = None,
    flagged_ants: Sequence[int] | None = None,
    no_autos: bool = False,
    baseline_limit: int | None = None,
):
    """P2∘P3∘P4 and ``--baseline-limit`` as ONE literal predicate over
    ``(ant1, ant2, bl)``.

    The single source of truth for "which baselines are selected": the
    CLI's vis-side selection filters by it, and so does the archive
    rule-dim gate pool (``real_input.ArchiveObservation.cell_gate``) —
    the two MUST agree or the v0.18 cell gate diverges from the fact's
    actual flag aggregate. Any new baseline-affecting selection option
    belongs here. Returns ``None`` when no baseline selection is active.
    """
    pred = None

    def _and(a, b):
        return b if a is None else (a & b)

    if sel_ants:
        keep = list(set(sel_ants))
        pred = _and(pred,
                    F.col("ant1").isin(keep) & F.col("ant2").isin(keep))
    if flagged_ants:
        bad = list(set(flagged_ants))
        pred = _and(pred,
                    ~F.col("ant1").isin(bad) & ~F.col("ant2").isin(bad))
    if no_autos:
        pred = _and(pred, F.col("ant1") != F.col("ant2"))
    if baseline_limit is not None:
        # dev/debug truncation to the first N baselines (reference
        # src/cli.rs:3445)
        pred = _and(pred, F.col("bl") < baseline_limit)
    return pred
