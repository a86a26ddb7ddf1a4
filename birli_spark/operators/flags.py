"""Rule-based flag derivation (SURVEY.md §2.3, F1-F8, F10).

Birli builds per-dimension boolean vectors in ``FlagContext``
(src/flags.rs:106-135) and ORs them into the cube (``set_flags``,
src/flags.rs:179-224). Here each dimension's flags live on small dimension
DataFrames; combining them is a star-schema **broadcast join** — the fact
table never shuffles.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def flag_timesteps_quack(
    timesteps: DataFrame,
    start_gps: float,
    end_gps: float,
    quack_s: float = 0.0,
    flag_end_s: float = 0.0,
    flag_col: str = "ts_flag",
) -> DataFrame:
    """F2 — quack-time / end flagging on the timestep dimension.

    ``flag = time < start + quack  OR  time >= end - flag_end``
    (reference finalise_flag_settings, src/flags.rs:165-172).
    """
    return timesteps.withColumn(
        flag_col,
        (F.col("ts_gps") < start_gps + quack_s) | (F.col("ts_gps") >= end_gps - flag_end_s),
    )


def flag_edge_channels(n_edge: int, num_fine: int):
    """F3 — flag first/last ``n_edge`` fine chans of each coarse chan
    (reference flag_edge_channels, src/cli.rs:1162-1169). Returns a Column
    predicate over ``fc``."""
    return (F.col("fc") < n_edge) | (F.col("fc") >= num_fine - n_edge)


def flag_dc_bin(num_fine: int, is_legacy: bool):
    """F4 — flag the centre fine channel; default on for the legacy
    correlator only (reference src/flags.rs:128-131, 192-194)."""
    if not is_legacy:
        return F.lit(False)
    return F.col("fc") == num_fine // 2


def flag_fine_channels(
    num_fine: int,
    n_edge: int = 0,
    is_legacy: bool = False,
    explicit_fcs: Sequence[int] = (),
):
    """F3+F4+F5 combined fine-channel predicate (edge ∪ DC ∪ explicit list —
    explicit index flags per src/cli.rs:964-1053)."""
    pred = flag_edge_channels(n_edge, num_fine) | flag_dc_bin(num_fine, is_legacy)
    if explicit_fcs:
        pred = pred | F.col("fc").isin(list(explicit_fcs))
    return pred


def baseline_flags(antennas: DataFrame, flag_autos: bool = False) -> DataFrame:
    """F6 — per-baseline flag table: baseline flagged if either antenna is
    flagged, or it's an auto and ``--flag-autos`` (reference
    get_baseline_flags, src/flags.rs:148-155).

    Builds the (ant1, ant2, bl_flag) dimension by self-crossing the antenna
    dim — tiny (A² rows), broadcast downstream.
    """
    a1 = antennas.select(F.col("ant").alias("ant1"), F.col("flagged").alias("_f1"))
    a2 = antennas.select(F.col("ant").alias("ant2"), F.col("flagged").alias("_f2"))
    bl = a1.crossJoin(a2)
    pred = F.col("_f1") | F.col("_f2")
    if flag_autos:
        pred = pred | (F.col("ant1") == F.col("ant2"))
    return bl.select("ant1", "ant2", pred.alias("bl_flag"))


def set_flags(
    vis: DataFrame,
    ts_flags: DataFrame | None = None,
    bl_flags: DataFrame | None = None,
    fc_pred=None,
) -> DataFrame:
    """F7 — combine dimension flags into the fact table:
    ``flag = flag | ts_flag | bl_flag | chan_flag`` (reference set_flags,
    src/flags.rs:179-224). ``fc_pred`` is a Column predicate over
    (cc, fc): coarse-chan flags (:195-204) OR in as ``cc IN (...)``.

    All dimension inputs are broadcast — the plan is scan → 2 broadcast
    hash joins → project, one codegen stage, zero fact-table shuffles at any
    scale.
    """
    out = vis
    pred = F.col("flag")
    if ts_flags is not None:
        out = out.join(F.broadcast(ts_flags.select("t", "ts_flag")), "t", "left")
        pred = pred | F.coalesce(F.col("ts_flag"), F.lit(False))
    if bl_flags is not None:
        out = out.join(F.broadcast(bl_flags), ["ant1", "ant2"], "left")
        pred = pred | F.coalesce(F.col("bl_flag"), F.lit(False))
    if fc_pred is not None:
        pred = pred | fc_pred
    drop = [c for c in ("ts_flag", "bl_flag") if c in out.columns]
    return out.withColumn("flag", pred).drop(*drop)


def fine_channel_pred_sql(num_fine: int, n_edge: int = 0, is_legacy: bool = False,
                          explicit_fcs: Sequence[int] = ()) -> str:
    """DuckDB/Spark SQL text equivalent of :func:`flag_fine_channels`."""
    parts = [f"fc < {n_edge}", f"fc >= {num_fine - n_edge}"]
    if is_legacy:
        parts.append(f"fc = {num_fine // 2}")
    if explicit_fcs:
        parts.append(f"fc IN ({', '.join(str(i) for i in explicit_fcs)})")
    return "(" + " OR ".join(parts) + ")"


def quack_oracle_select(timesteps: str, start_gps: float, end_gps: float,
                        quack_s: float = 0.0, flag_end_s: float = 0.0) -> str:
    """Oracle SQL for F2 (same arithmetic as flag_timesteps_quack)."""
    return (
        f"SELECT t, ts_gps, (ts_gps < {start_gps + quack_s!r}"
        f" OR ts_gps >= {end_gps - flag_end_s!r}) AS ts_flag FROM {timesteps}"
    )


def baseline_flags_oracle_select(antennas: str, flag_autos: bool = False) -> str:
    """Oracle SQL for F6."""
    pred = "(a1.flagged OR a2.flagged)"
    if flag_autos:
        pred = "(a1.flagged OR a2.flagged OR a1.ant = a2.ant)"
    return (
        f"SELECT a1.ant AS ant1, a2.ant AS ant2, {pred} AS bl_flag"
        f" FROM {antennas} a1 CROSS JOIN {antennas} a2"
    )


def set_flags_oracle_select(vis: str, ts_flags: str | None, bl_flags: str | None,
                            fc_pred_sql: str | None,
                            vis_columns: Sequence[str]) -> str:
    """Oracle SQL for F7 — mirrors the OR-chain order of :func:`set_flags`
    (flag | ts | bl | fc)."""
    pred = "v.flag"
    joins = ""
    if ts_flags is not None:
        joins += f" LEFT JOIN {ts_flags} tf ON v.t = tf.t"
        pred += " OR COALESCE(tf.ts_flag, FALSE)"
    if bl_flags is not None:
        joins += f" LEFT JOIN {bl_flags} bf ON v.ant1 = bf.ant1 AND v.ant2 = bf.ant2"
        pred += " OR COALESCE(bf.bl_flag, FALSE)"
    if fc_pred_sql is not None:
        pred += f" OR {fc_pred_sql}"
    cols = ", ".join(
        f"({pred}) AS flag" if c == "flag" else f"v.{c}" for c in vis_columns
    )
    return f"SELECT {cols} FROM {vis} v{joins}"


def unflagged_ranges_oracle_select(vis: str = "vis") -> str:
    """Oracle SQL for F8 (gaps-and-islands)."""
    return (
        f"SELECT MIN(t) AS t_start, MAX(t) AS t_end FROM ("
        f"SELECT t, t - ROW_NUMBER() OVER (ORDER BY t) AS grp FROM ("
        f"SELECT t FROM {vis} GROUP BY t"
        f" HAVING MIN(CASE WHEN flag THEN 1 ELSE 0 END) = 0) pt) isl"
        f" GROUP BY grp"
    )


def flag_missing_slabs(vis: DataFrame) -> DataFrame:
    """S2 — missing-HDU handling: if a whole (t, cc) slab is absent from the
    input, materialise it as flagged rows instead of failing (reference
    src/io/mod.rs:297-303).

    Expected grid = distinct(t) × distinct(cc) × distinct(bl, chan...) —
    built from the data itself; missing slabs are found with a broadcast
    **anti-join** of the expected (t, cc) grid against the present pairs,
    then filled by cross-joining the (bl, chan) skeleton with zero vis and
    ``flag = true``.
    """
    present = vis.select("t", "cc").distinct()
    expected = vis.select("t").distinct().crossJoin(vis.select("cc").distinct())
    missing = expected.join(present, ["t", "cc"], "left_anti")
    # per-(cc) channel/baseline skeleton with metadata columns. Weight
    # is NOT part of the distinct key (post-bake it varies per row and
    # would duplicate skeleton rows); MIN picks one deterministically —
    # equal to the constant weight factor in the pre-bake position this
    # operator occupies (the reference fills at read time)
    skeleton = (vis.groupBy("cc", "fc", "chan", "freq_hz", "bl",
                            "ant1", "ant2")
                .agg(F.min("weight").alias("weight")))
    vis_cols = [c for c in vis.columns]
    zero_cols = [
        c for c in vis_cols
        if c.endswith("_re") or c.endswith("_im")
    ]
    filled = (
        F.broadcast(missing)
        .join(skeleton, "cc")
        .withColumn("flag", F.lit(True))
        .withColumn("ts_gps", F.lit(None).cast("double"))
    )
    for c in zero_cols:
        filled = filled.withColumn(c, F.lit(0.0))
    return vis.unionByName(filled.select(*vis_cols))


def unflagged_timestep_ranges(vis: DataFrame) -> DataFrame:
    """F8 — collapse timesteps with any unflagged cell into contiguous
    [start, end] ranges (gaps-and-islands; reference
    get_unflagged_timestep_ranges, src/flags.rs:586-613).

    In Birli this gates which timestep ranges the corrections loop touches;
    in Spark it is purely informational (corrections are columnar maps), but
    we keep it for parity and for skip-list style data skipping. Classic
    sessionization: ``t - row_number() over (order by t)`` is constant
    within an island.

    The aggregation shuffles only the (t, any_unflagged) pairs — ~tens to
    hundreds of rows after the map-side partial agg, regardless of fact size.
    The global window over that tiny set is driver-scale by construction.
    """
    per_t = (
        vis.groupBy("t")
        .agg(F.min(F.col("flag").cast("int")).alias("_all_flagged"))
        .filter(F.col("_all_flagged") == 0)
    )
    w = Window.orderBy("t")
    islands = per_t.withColumn("_grp", F.col("t") - F.row_number().over(w))
    return (
        islands.groupBy("_grp")
        .agg(F.min("t").alias("t_start"), F.max("t").alias("t_end"))
        .select("t_start", "t_end")
        .orderBy("t_start")
    )
