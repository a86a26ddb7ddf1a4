"""MO1 — multi-OBSERVATION catalogue pipeline (beyond-ref).

The reference processes ONE observation per invocation (BirliContext
holds a single CorrelatorContext, src/cli.rs:1584-1954). At the scale
this engine targets, the 100 TB axis IS the observation catalogue — a
night of MWA data is hundreds of ~200 GB observations — and the
Spark-native move is to run the whole catalogue through ONE declarative
plan: per-obs metadata (start epoch, quack window, per-epoch partial
UVWs) becomes dimension relations keyed by a global timestep index, the
corrections chain stays the same fused projection + broadcast joins it
is for one obs, and the single averaging shuffle keys on
(t_out, chan_out, bl) whose global-t blocks never straddle an
observation boundary (NUM_T % avg_time == 0 is asserted) — so the obs
axis is embarrassingly parallel WITHOUT appearing in any join or group
key. Scale shape: adding observations adds input splits and shuffle
rows, never stages, and partition-by-obs layouts prune naturally.

Everything here is ONE SQL text valid in both dialects — the Spark
query and the DuckDB oracle run literally the same string, so the
driver hash gate certifies the whole catalogue plan.

Per-obs realism knobs (all exact arithmetic, cross-engine-safe):
observation o starts ``OBS_STRIDE_S`` after its predecessor (so quack
re-triggers at each obs head), its partial UVWs drift by o/4 metres
(epochs differ), and its visibilities scale by (8+o)/8 (receiver gain
drift) — making every observation's output distinguishable end to end.
"""

from __future__ import annotations

from birli_spark import pipeline
from birli_spark.functions.complex import VIS_COLS
from birli_spark.operators import calibration, corrections, flags, weights
from birli_spark.sources import synthetic as syn

N_OBS = 3
#: start-to-start stride: the obs span plus an 8 s slew gap
OBS_STRIDE_S = syn.NUM_T * syn.INT_TIME_S + 8.0


def _obs_values(n_obs: int = None) -> str:
    vals = ", ".join(f"({o})" for o in range(n_obs or N_OBS))
    return f"(VALUES {vals}) AS o(obs_id)"


def mo_vis_col_exprs() -> list[str]:
    """Per-column obs transforms over a relation carrying the vis
    columns plus ``obs_id`` — global t = obs_id * NUM_T + t, epochs
    shifted by the stride, visibilities scaled by (8 + obs_id) / 8.
    Shared by :func:`multi_vis_cte` and the streaming catalogue feed
    (streaming/ssins.py) so the batch/stream twins cannot drift."""
    cols = []
    for c in syn.VIS_COLUMNS:
        if c == "t":
            cols.append(f"CAST(obs_id * {syn.NUM_T} + t AS INT) AS t")
        elif c == "ts_gps":
            cols.append(
                f"CAST(ts_gps + obs_id * CAST({OBS_STRIDE_S!r} AS DOUBLE)"
                f" AS DOUBLE) AS ts_gps")
        elif c in VIS_COLS:
            cols.append(
                f"({c} * (CAST(8 + obs_id AS DOUBLE) / 8E0)) AS {c}")
        else:
            cols.append(c)
    return cols


def multi_vis_cte(lineitem: str = "lineitem",
                  n_obs: int | None = None) -> str:
    """The catalogue fact relation: the per-obs vis derivation crossed
    with the obs dimension (column transforms in
    :func:`mo_vis_col_exprs`)."""
    base = syn.vis_sql(lineitem)
    return (f"SELECT {', '.join(mo_vis_col_exprs())} FROM ({base}) v"
            f" CROSS JOIN {_obs_values(n_obs)}")


def mo_timesteps_cte(n_obs: int | None = None) -> str:
    """Catalogue timestep dimension: obs × per-obs timesteps, global t."""
    return (
        f"SELECT CAST(obs_id * {syn.NUM_T} + t AS INT) AS t,"
        f" CAST(ts_gps + obs_id * CAST({OBS_STRIDE_S!r} AS DOUBLE)"
        f" AS DOUBLE) AS ts_gps, obs_id"
        f" FROM ({syn.TIMESTEPS_SQL}) ts CROSS JOIN {_obs_values(n_obs)}")


def mo_ts_flags_cte() -> str:
    """Per-obs quack flags (F2 semantics, reference
    finalise_flag_settings src/flags.rs:165-172, re-anchored at EVERY
    observation's own start): flag = ts_gps < obs_start + quack_s."""
    quack_edge = syn.GPS_START + pipeline.QUACK_S
    return (
        f"SELECT t, ts_gps, (ts_gps < CAST({quack_edge!r} AS DOUBLE)"
        f" + obs_id * CAST({OBS_STRIDE_S!r} AS DOUBLE)) AS ts_flag"
        f" FROM mo_timesteps")


def mo_part_uvw_cte(n_obs: int | None = None) -> str:
    """Catalogue partial-UVW dimension: per-obs epochs give per-obs
    UVWs — the synthetic dim drifts by obs_id / 4 metres (stands in for
    the per-centroid precession the real table carries, C3c)."""
    return (
        f"SELECT CAST(obs_id * {syn.NUM_T} + t AS INT) AS t, ant,"
        f" (u + CAST(obs_id AS DOUBLE) / 4E0) AS u,"
        f" (v + CAST(obs_id AS DOUBLE) / 4E0) AS v,"
        f" (w + CAST(obs_id AS DOUBLE) / 4E3) AS w"
        f" FROM ({syn.PART_UVW_SQL}) p CROSS JOIN {_obs_values(n_obs)}")


def mo_occupancy_sql(lineitem: str = "lineitem",
                     n_obs: int | None = None) -> str:
    """MO3 — per-observation flag-occupancy QA (A2 keyed by obs): the
    archive-side acceptance check a catalogue run emits per obs. One
    dual-dialect query: catalogue vis → per-obs rule flags → one tiny
    (obs, cc, fc)-keyed aggregate with map-side combine (output
    cardinality = obs × channels, independent of fact size)."""
    from birli_spark.operators import occupancy

    cols = syn.VIS_COLUMNS
    fc_pred = flags.fine_channel_pred_sql(
        syn.NUM_FC, n_edge=pipeline.N_EDGE, is_legacy=pipeline.IS_LEGACY)
    flagged = flags.set_flags_oracle_select(
        "vis", "ts_flags", "bl_flags", fc_pred, cols)
    bl_f = flags.baseline_flags_oracle_select("antennas")
    occ = occupancy.occupancy_oracle_select(
        "mo_flagged", keys=("obs_id", "cc", "fc"))
    return (
        f"WITH vis AS ({multi_vis_cte(lineitem, n_obs)}),"
        f" antennas AS ({syn.ANTENNAS_SQL}),"
        f" mo_timesteps AS ({mo_timesteps_cte(n_obs)}),"
        f" ts_flags AS ({mo_ts_flags_cte()}),"
        f" bl_flags AS ({bl_f}),"
        f" flagged AS ({flagged}),"
        f" mo_flagged AS (SELECT CAST(FLOOR(t / {syn.NUM_T}) AS INT)"
        f" AS obs_id, f.* FROM flagged f)"
        f" {occ}")


#: ticks per unit for the catalogue averaging sums (exact BIGINTs)
AVG_TICKS = 1 << 20


def _tick(x: str) -> str:
    return f"CAST(FLOOR(({x}) * {float(AVG_TICKS)!r} + 5E-1) AS BIGINT)"


def mo_averaging_select(vis: str, avg_time: int, avg_freq: int,
                        extra_mean_cols: tuple[str, ...] = ()) -> str:
    """A1 semantics with **association-stable sums**: every float sum
    quantized to integer ticks (2^20/unit) of the f32-demoted baked
    values, so Spark's sliding accumulator and DuckDB's aggregation
    order produce the SAME BIGINT — the rfi_sql.py integer-tick pattern
    applied to the averaging shuffle. The single-obs averaging keeps
    plain float sums (its values are pinned by the Cotter golden dump);
    at catalogue scale the cell population is unbounded, so the
    catalogue op makes determinism structural rather than
    data-dependent. Resolution 2^-20 of a unit (~1e-6), far below the
    f32 demotion the output passes through anyway."""
    n_unflagged = "SUM(CASE WHEN weight > 0 THEN 1 ELSE 0 END)"
    wsum_pos_t = f"SUM(CASE WHEN weight > 0 THEN {_tick('weight')} ELSE 0 END)"
    frags: dict[str, str] = {}
    from birli_spark.functions.complex import f32
    for c in VIS_COLS:
        wsum_t = (f"SUM(CASE WHEN weight > 0 THEN {_tick(f'({c}) * weight')}"
                  f" ELSE 0 END)")
        plain_t = f"SUM({_tick(c)})"
        # tick factors cancel in the weighted-mean ratio; the
        # all-flagged plain mean divides its single factor back out
        frags[c] = f32(
            f"CASE WHEN {n_unflagged} > 0"
            f" THEN CAST({wsum_t} AS DOUBLE) / CAST({wsum_pos_t} AS DOUBLE)"
            f" ELSE CAST({plain_t} AS DOUBLE) / {float(AVG_TICKS)!r}"
            f" / CAST(COUNT(*) AS DOUBLE) END")
    frags["weight"] = f32(
        f"CAST(CASE WHEN {n_unflagged} > 0 THEN {wsum_pos_t}"
        f" ELSE SUM({_tick('weight')}) END AS DOUBLE) / {float(AVG_TICKS)!r}")
    frags["flag"] = f"({n_unflagged} = 0)"
    frags["n_samples"] = "CAST(COUNT(*) AS BIGINT)"
    for c in extra_mean_cols:
        # plain block mean (per-block UVWs for the sink), tick-stable
        # like every other sum here
        frags[c] = f32(
            f"CAST(SUM({_tick(c)}) AS DOUBLE) / {float(AVG_TICKS)!r}"
            f" / CAST(COUNT(*) AS DOUBLE)")
    sel = ", ".join(f"{f} AS {n}" for n, f in frags.items())
    return (
        f"SELECT t_out, chan_out, bl, ant1, ant2, {sel} FROM ("
        f"SELECT *, CAST(FLOOR(t / {avg_time}) AS INT) AS t_out,"
        f" CAST(FLOOR(chan / {avg_freq}) AS INT) AS chan_out FROM {vis}) g"
        f" GROUP BY t_out, chan_out, bl, ant1, ant2")


def multi_obs_preprocess_sql(avg_time: int = pipeline.AVG_TIME,
                             avg_freq: int = pipeline.AVG_FREQ,
                             lineitem: str = "lineitem",
                             ssins: bool = False,
                             median_fn: str = "percentile",
                             n_obs: int | None = None) -> str:
    """The catalogue pipeline as one dual-dialect query: rule flags
    (per-obs quack) → cable → digital → passband → [per-obs SSINS RFI]
    → geometry (per-obs UVWs) → DI calibration → bake → average,
    closing with the obs_id recovered from the global block index.
    Stage fragments are the SAME builders the single-obs
    pipeline/oracle uses — zero forked arithmetic.

    ``ssins=True`` runs the SSINS flagger in the reference's RFI slot
    with PER-OBSERVATION statistics (operators/ssins.py ``obs_expr``):
    the time differencing never lags across an obs boundary, and each
    obs is scored against its own per-channel median/MAD — one obs's
    RFI storm cannot poison its neighbours' thresholds. ``median_fn``
    is the one dialect split ("percentile" Spark, "quantile_cont"
    DuckDB)."""
    assert syn.NUM_T % avg_time == 0, \
        "averaging blocks must not straddle observation boundaries"
    avg = mo_averaging_select("baked", avg_time, avg_freq)
    blocks_per_obs = syn.NUM_T // avg_time
    return (
        f"WITH {mo_baked_ctes(lineitem, ssins, median_fn, n_obs)}"
        f" SELECT CAST(FLOOR(t_out / {blocks_per_obs}) AS INT) AS obs_id,"
        f" a.* FROM ({avg}) a")


def mo_baked_ctes(lineitem: str = "lineitem", ssins: bool = False,
                  median_fn: str = "percentile",
                  n_obs: int | None = None) -> str:
    """The catalogue CTE chain ``vis → … → baked`` shared by the
    pipeline closers (averaged output, UVFITS rows).

    Deliberately parallel to ``pipeline.baked_oracle_ctes`` rather than
    parameterizing it: the catalogue swaps three dims (timesteps,
    ts_flags, part_uvw) and the RFI obs_expr, and the single-obs
    builder's text is the established hash gate for 10+ queries —
    threading overrides through it risks byte-drift there for little
    sharing here (the stage FRAGMENTS, where the arithmetic lives, are
    already the same builders). Divergence in stage order is caught by
    both suites' oracles."""
    cols = syn.VIS_COLUMNS
    cols_uvw = tuple(cols) + ("u", "v", "w")
    fc_pred = flags.fine_channel_pred_sql(
        syn.NUM_FC, n_edge=pipeline.N_EDGE, is_legacy=pipeline.IS_LEGACY)
    flagged = flags.set_flags_oracle_select(
        "vis", "ts_flags", "bl_flags", fc_pred, cols)
    bl_f = flags.baseline_flags_oracle_select("antennas")
    # v0.18.0 flag gate (pipeline.baked_oracle_ctes pattern): C2/C4/C5
    # leave fully-flagged (t, cc) cells raw. Global t is obs-unique, so
    # the (t, cc) cell key needs no obs column; the gate is obs x T x CC
    # rows — broadcast (hinted: the agg sits behind the multi-obs CTE
    # fan-out, where Catalyst has no stats; DuckDB reads /*+ */ as a
    # comment)
    cols_g = tuple(cols) + (corrections.GATE_COL,)
    gate = corrections.cell_gate_oracle_select("flagged")
    flaggedg = corrections.attach_cell_gate_oracle_select("flagged")
    cable = corrections.cable_oracle_select("flaggedg", "antennas", cols_g,
                                            gated=True)
    digital = corrections.digital_oracle_select(
        "cabled", "digital_gains", cols_g, gated=True)
    fine_gains = corrections.fine_gains_values_sql(pipeline.FINE_GAIN_ROWS)
    passband = corrections.passband_oracle_select(
        "digitald", "fine_gains", cols, gated=True)
    rfi_ctes = ""
    geom_in = "passbanded"
    if ssins:
        from birli_spark.operators import ssins as ssins_mod

        ss_ctes, ss_final = ssins_mod.ssins_parts(
            "passbanded", median_fn=median_fn,
            obs_expr=f"CAST(FLOOR(t / {syn.NUM_T}) AS INT)")
        rfid_cols = ", ".join(
            "(p.flag OR COALESCE(m.rfi_flag, FALSE)) AS flag"
            if c == "flag" else f"p.{c}" for c in cols)
        # global t is obs-unique, so the mask joins back on (t, chan);
        # the mask is obs x t x chan rows behind a window chain Catalyst
        # can't size — hint the broadcast (a comment to DuckDB)
        rfi_ctes = (
            f" {ss_ctes},"
            f" ssins_mask AS ({ss_final}),"
            f" rfid AS (SELECT /*+ BROADCAST(m) */ {rfid_cols}"
            f" FROM passbanded p"
            f" LEFT JOIN ssins_mask m ON p.t = m.t AND p.chan = m.chan),")
        geom_in = "rfid"
    geom = corrections.geom_oracle_select(geom_in, "part_uvw", cols)
    cal = calibration.calibration_oracle_select(
        "geomed", "calsols", pipeline.CAL_RATIO, cols_uvw)
    baked_cols = weights.bake_oracle_columns(cols_uvw)
    return (
        f"vis AS ({multi_vis_cte(lineitem, n_obs)}),"
        f" antennas AS ({syn.ANTENNAS_SQL}),"
        f" mo_timesteps AS ({mo_timesteps_cte(n_obs)}),"
        f" ts_flags AS ({mo_ts_flags_cte()}),"
        f" bl_flags AS ({bl_f}),"
        f" digital_gains AS ({syn.DIGITAL_GAINS_SQL}),"
        f" fine_gains AS ({fine_gains}),"
        f" part_uvw AS ({mo_part_uvw_cte(n_obs)}),"
        f" calsols AS ({syn.CALSOLS_SQL}),"
        f" flagged AS ({flagged}),"
        f" cell_gate AS ({gate}),"
        f" flaggedg AS ({flaggedg}),"
        f" cabled AS ({cable}),"
        f" digitald AS ({digital}),"
        f" passbanded AS ({passband}),"
        f"{rfi_ctes}"
        f" geomed AS ({geom}),"
        f" caled AS ({cal}),"
        f" baked AS (SELECT {baked_cols} FROM caled)")


def mo_uvfits_rows_sql(avg_time: int = pipeline.AVG_TIME,
                       avg_freq: int = pipeline.AVG_FREQ,
                       lineitem: str = "lineitem",
                       n_obs: int | None = None) -> str:
    """MO4 rows — the catalogue's UVFITS random-group relation: the
    averaged output (tick-stable means incl. per-block UVWs) plus the
    per-OBS group params — the 256-coded baseline and a JD whose block
    centroid re-anchors at every observation's own start epoch (the
    stride includes the slew gap, so global block index alone would
    drift). One dual-dialect text, same convention as
    sinks/uvfits.py::uvfits_group_rows."""
    from birli_spark.sinks.uvfits import GPS_EPOCH_JD

    obs, centroid = mo_centroid_exprs(avg_time)

    def d(x: float) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    avg = mo_averaging_select("baked", avg_time, avg_freq,
                              extra_mean_cols=("u", "v", "w"))
    return (
        f"WITH {mo_baked_ctes(lineitem, n_obs=n_obs)}"
        f" SELECT {obs} AS obs_id, t_out, chan_out, bl, ant1, ant2,"
        f" CAST(256 * (ant1 + 1) + (ant2 + 1) AS INT) AS bl_code,"
        f" ({d(GPS_EPOCH_JD)} + {centroid} / {d(86400.0)}) AS jd,"
        f" u, v, w, {', '.join(VIS_COLS)}, weight, flag, n_samples"
        f" FROM ({avg}) a")


def mo_centroid_exprs(avg_time: int) -> tuple[str, str]:
    """(obs_id expr, per-obs block-centroid GPS expr) over a relation
    carrying the global block index ``t_out`` — the block centroid
    re-anchors at every observation's own start epoch (the stride
    includes the slew gap, so a global-index centroid would drift).
    Shared by the UVFITS (JD) and MS (MJD TAI) catalogue sinks."""
    assert syn.NUM_T % avg_time == 0
    blocks = syn.NUM_T // avg_time

    def d(x: float) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    obs = f"CAST(FLOOR(t_out / {blocks}) AS INT)"
    lt = f"(t_out - ({obs}) * {blocks})"
    centroid = (f"({d(syn.GPS_START)}"
                f" + CAST({obs} AS DOUBLE) * {d(OBS_STRIDE_S)}"
                f" + ({lt} * {avg_time}) * {d(syn.INT_TIME_S)}"
                f" + {d(avg_time * syn.INT_TIME_S / 2.0)})")
    return obs, centroid


def mo_ms_rows_sql(avg_time: int = pipeline.AVG_TIME,
                   avg_freq: int = pipeline.AVG_FREQ,
                   lineitem: str = "lineitem",
                   n_obs: int | None = None) -> str:
    """MO5 rows — the catalogue's MS MAIN relation: the o2 column set
    (sinks/ms.py naming) with per-OBS epochs (MJD TAI seconds anchored
    at each observation's own start) plus obs_id and the GLOBAL block
    index as time_block. One dual-dialect text."""
    from birli_spark.sinks.ms import GPS_EPOCH_MJD, GPS_TAI_OFFSET_S

    obs, centroid = mo_centroid_exprs(avg_time)

    def d(x: float) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    avg = mo_averaging_select("baked", avg_time, avg_freq,
                              extra_mean_cols=("u", "v", "w"))
    time = (f"({d(GPS_EPOCH_MJD * 86400.0)} + {centroid}"
            f" + {d(GPS_TAI_OFFSET_S)})")
    data = ", ".join(f"{c} AS data_{c}" for c in VIS_COLS)
    return (
        f"WITH {mo_baked_ctes(lineitem, n_obs=n_obs)}"
        f" SELECT {obs} AS obs_id, {time} AS time_mjd_s,"
        f" ant1 AS antenna1, ant2 AS antenna2, chan_out AS chan,"
        f" u AS uvw_u, v AS uvw_v, w AS uvw_w, {data}, weight, flag,"
        f" t_out AS time_block FROM ({avg}) a")


def mo_ms_gate_rows(spark, sf_dir: str, out_dir: str,
                    avg_time: int = pipeline.AVG_TIME,
                    avg_freq: int = pipeline.AVG_FREQ,
                    n_obs: int | None = None):
    """MO5 — write the per-obs casacore-layout MS fan-out, parse every
    tree back with the independent reader, re-emit one row per (obs,
    row, channel) exactly as stored. Pairs with
    :func:`mo_ms_files_oracle_sql`."""
    import numpy as np
    import pandas as pd

    from birli_spark.sinks import ms_file

    syn.load_vis(spark, sf_dir)
    rows = spark.sql(mo_ms_rows_sql(avg_time, avg_freq, n_obs=n_obs))
    blocks = syn.NUM_T // avg_time
    paths = ms_file.write_ms_casa_catalogue(
        spark, rows, out_dir, avg_freq, blocks,
        interval=avg_time * syn.INT_TIME_S)
    frames = []
    for o, path in sorted(paths.items()):
        # the SAME read-back + padding-drop as the o2c gate
        # (sinks/ms_file.py::main_cells_frame); scans restart at 1 per
        # obs, so the global block index needs the obs offset back
        frame = ms_file.main_cells_frame(
            path, time_block_offset=o * blocks)
        frame.insert(0, "obs_id", np.int32(o))
        frames.append(frame)
    pdf = pd.concat(frames, ignore_index=True)
    return spark.createDataFrame(pdf.reset_index(drop=True))


def mo_ms_files_oracle_sql(avg_time: int = pipeline.AVG_TIME,
                           avg_freq: int = pipeline.AVG_FREQ,
                           lineitem: str = "lineitem") -> str:
    """DuckDB twin of :func:`mo_ms_gate_rows`: the mo MS relation with
    the file's f32 round trip on DATA/WEIGHT (TIME/UVW stay f64)."""
    from birli_spark.functions.complex import f32

    inner = mo_ms_rows_sql(avg_time, avg_freq, lineitem)
    data = ", ".join(f"{f32(f'data_{c}')} AS data_{c}" for c in VIS_COLS)
    return (
        f"SELECT obs_id, time_mjd_s, CAST(antenna1 AS INT) AS antenna1,"
        f" CAST(antenna2 AS INT) AS antenna2,"
        f" CAST(time_block AS INT) AS time_block,"
        f" CAST(chan AS INT) AS chan, uvw_u, uvw_v, uvw_w,"
        f" {data}, {f32('weight')} AS weight, flag"
        f" FROM ({inner}) WHERE {f32('weight')} <> 0E0")


def mo_uvfits_gate_rows(spark, sf_dir: str, out_dir: str,
                        avg_time: int = pipeline.AVG_TIME,
                        avg_freq: int = pipeline.AVG_FREQ,
                        n_obs: int | None = None):
    """MO4 — write the per-obs UVFITS fan-out, read every file's BYTES
    back, re-emit one row per (obs, group, channel) exactly as stored
    (all f32). Pairs with :func:`mo_uvfits_files_oracle_sql`."""
    import numpy as np
    import pandas as pd

    from birli_spark.sinks import uvfits

    syn.load_vis(spark, sf_dir)
    rows = spark.sql(mo_uvfits_rows_sql(avg_time, avg_freq,
                                        n_obs=n_obs))
    n_chan = syn.NUM_CC * syn.NUM_FC // avg_freq
    paths = uvfits.write_uvfits_catalogue(
        rows, out_dir, n_chan, syn.GPS_START, OBS_STRIDE_S,
        syn.NUM_T // avg_time)
    frames = []
    for o, path in sorted(paths.items()):
        # the SAME read-back + padding-drop as the o1b gate
        # (sinks/uvfits.py::file_cells_frame) — one shared convention
        frame = uvfits.file_cells_frame(path, n_chan)
        frame.insert(0, "obs_id", np.int32(o))
        frames.append(frame)
    pdf = pd.concat(frames, ignore_index=True)
    return spark.createDataFrame(pdf.reset_index(drop=True))


def mo_uvfits_files_oracle_sql(avg_time: int = pipeline.AVG_TIME,
                               avg_freq: int = pipeline.AVG_FREQ,
                               lineitem: str = "lineitem") -> str:
    """DuckDB twin of :func:`mo_uvfits_gate_rows`: the mo rows relation
    with every file-stored value pushed through the f32 round trip —
    DATE relative to the PER-OBS PZERO (sinks/uvfits.py::obs_jd_zero
    spelled in SQL with the same operation order)."""
    from birli_spark.functions.complex import f32
    from birli_spark.sinks.uvfits import GPS_EPOCH_JD

    def d(x: float) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    rows = mo_uvfits_rows_sql(avg_time, avg_freq, lineitem)
    jz = (f"(FLOOR({d(GPS_EPOCH_JD)} + ({d(syn.GPS_START)}"
          f" + CAST(obs_id AS DOUBLE) * {d(OBS_STRIDE_S)})"
          f" / {d(86400.0)} - 5E-1) + 5E-1)")
    vis = ", ".join(
        f"{f32(f'{p}_{c}')} AS {p}_{c}"
        for p in ("xx", "yy", "xy", "yx") for c in ("re", "im"))
    return (
        f"SELECT obs_id, bl_code, ({jz} + {f32(f'jd - {jz}')}) AS jd,"
        f" CAST(chan_out AS INT) AS chan_out,"
        f" {f32('u')} AS u, {f32('v')} AS v, {f32('w')} AS w,"
        f" {vis}, {f32('weight')} AS weight,"
        f" {f32('weight')} < 0E0 AS flag FROM ({rows})"
        f" WHERE {f32('weight')} <> 0E0")


# ------------------------------------------------------------ MO6 ---

#: MO6 drift ticks per unit (exact BIGINT accumulation of the
#: f32-demoted per-step drifts)
MO6_TICKS = 1 << 20
#: literal outlier threshold on the max per-step solution drift
MO6_DRIFT_THRESHOLD = 0.8


def mo6_calsols_select(n_obs: int | None = None,
                       n_ants: int = 8, n_chans: int = 12) -> str:
    """The deterministic per-obs MWAOCAL-shaped diagonal solutions the
    MO6 QA runs over — shared by the batch SQL and the st13 streaming
    feed writer so the twins cannot drift."""
    n = n_obs or N_OBS

    def jval(mult_a: int, mult_c: int, mult_o: int) -> str:
        return (f"CAST((ant * {mult_a} + chan * {mult_c}"
                f" + obs_id * {mult_o}) % 201 - 100 AS DOUBLE) / 100")

    obs = ", ".join(f"({o})" for o in range(n))
    ants = ", ".join(f"({a})" for a in range(n_ants))
    chans = ", ".join(f"({c})" for c in range(n_chans))
    return (
        f"SELECT CAST(obs_id AS INT) AS obs_id, CAST(ant AS INT) AS ant,"
        f" CAST(chan AS INT) AS chan,"
        f" {jval(7, 3, 5)} AS j00_re, {jval(8, 5, 7)} AS j00_im,"
        f" {jval(11, 2, 3)} AS j11_re, {jval(13, 9, 11)} AS j11_im"
        f" FROM (VALUES {obs}) AS o(obs_id)"
        f" CROSS JOIN (VALUES {ants}) AS a(ant)"
        f" CROSS JOIN (VALUES {chans}) AS c(chan)")


def mo6_calsol_drift_sql(n_obs: int | None = None,
                         n_ants: int = 8, n_chans: int = 12) -> str:
    """MO6 — cross-observation calibration-solution drift QA (the
    observatory's stability monitoring): a catalogue of per-obs
    MWAOCAL-shaped diagonal solutions, LAG-differenced per (ant, chan)
    along the obs axis, reduced per antenna to (steps, max drift,
    exact tick-summed total drift, outlier flag).

    The reference applies ONE obs's solutions (S4 + C6,
    src/calibration.rs); at catalogue scale the QA question is how the
    solutions MOVE between obs. One dual-dialect text: the solution
    values are deterministic integer-ratio literals of
    (obs_id, ant, chan), the per-step drift is a fixed-association
    4-term sum of squares -> SQRT -> f32 demotion, the per-ant total
    is an exact BIGINT tick sum, and the outlier compare is against a
    literal threshold — hash-exact in both engines.

    Scale shape: solutions are dim-sized (obs x ants x chans rows —
    thousands x 128 x 3072 at a real archive). One window partitioned
    by (ant, chan) ordered by obs + one per-ant aggregation; no fact
    table touched.
    """
    n = n_obs or N_OBS
    dr = ("SQRT((j00_re - p00_re) * (j00_re - p00_re)"
          " + (j00_im - p00_im) * (j00_im - p00_im)"
          " + (j11_re - p11_re) * (j11_re - p11_re)"
          " + (j11_im - p11_im) * (j11_im - p11_im))")
    from birli_spark.functions.complex import f32
    drift_f = f32(dr)
    return f"""
WITH calsols AS ({mo6_calsols_select(n, n_ants, n_chans)}),
lagged AS (
  SELECT *,
         LAG(j00_re) OVER w AS p00_re, LAG(j00_im) OVER w AS p00_im,
         LAG(j11_re) OVER w AS p11_re, LAG(j11_im) OVER w AS p11_im
  FROM calsols
  WINDOW w AS (PARTITION BY ant, chan ORDER BY obs_id)),
steps AS (
  SELECT ant, chan, obs_id, {drift_f} AS drift
  FROM lagged WHERE p00_re IS NOT NULL)
SELECT ant,
       CAST(COUNT(*) AS BIGINT) AS n_steps,
       MAX(drift) AS max_drift,
       CAST(SUM(CAST(FLOOR(drift * {MO6_TICKS} + 0.5) AS BIGINT))
            AS BIGINT) AS total_drift_ticks,
       MAX(drift) > CAST({MO6_DRIFT_THRESHOLD!r} AS DOUBLE) AS drifted
FROM steps GROUP BY ant
"""


# ------------------------------------------------------------------ MO7 ---

def mo7_label() -> str:
    """The catalogue solve label: (obs_id, cc) packed into one int —
    each value is an INDEPENDENT solve, so the solver's chan-block
    grouping parallelises across the obs x coarse-channel axis (the
    100 TB axis) with no per-obs driver loop. The obs index is
    recovered from the global timestep (t = obs_id * NUM_T + t_local,
    mo_timesteps_cte) since the catalogue fact does not carry a
    separate obs column."""
    return (f"(CAST(FLOOR(t / {syn.NUM_T}) AS INT)"
            f" * {syn.NUM_CC} + cc)")


def mo7_pairs_select(lineitem: str = "lineitem",
                     n_obs: int | None = None) -> str:
    """MO7 — catalogue-scale DI gain solve input: the known-truth
    diagonal sandwich applied per (obs, coarse channel) over the
    catalogue fact (multi_vis_cte), mean-reduced per
    (label, ant1, ant2). Dialect-common text shared with the oracle."""
    from birli_spark.operators import calibration
    return calibration.synth_pairs_select(
        f"({multi_vis_cte(lineitem, n_obs)}) mo_vis", chan_col=mo7_label())
