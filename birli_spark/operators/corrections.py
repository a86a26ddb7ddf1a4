"""Per-cell corrections (SURVEY.md §2.4, C2-C5).

Each correction is: **broadcast-join a small dimension onto the fact table,
then a deterministic arithmetic projection** (promote f64 → compute →
demote f32). None changes cardinality. Catalyst collapses adjacent
corrections into one whole-stage-codegen projection — the Spark analogue of
the reference's fused in-place pass (src/preprocessing.rs:251-306).

Every scalar expression is built as a SQL fragment shared verbatim with the
DuckDB oracle (see ``*_oracle_select``), so results hash identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from birli_spark.functions.complex import POLS, VIS_COLS, f32, rot_im, rot_re

TAU = "6.283185307179586"
VEL_C = "299792458.0"

#: the flag-gate column corrections read when ``gated=True``
GATE_COL = "_caf"


# ------------------------------------------------ v0.18.0 flag gating
def cell_gate(vis: DataFrame) -> DataFrame:
    """The (t, cc, _caf) gate dimension: ``_caf`` (cell-all-flagged) is
    true iff EVERY flag in the (timestep, coarse-channel) cell is set.

    Since v0.18.0 the reference applies Van Vleck / cable / digital /
    passband corrections only to the unflagged timestep ranges of each
    coarse-channel chunk (RELEASES.md:17-19; the
    ``get_unflagged_timestep_ranges`` loop, src/preprocessing.rs:249-253
    + src/flags.rs:586-613) — a fully-flagged (t, cc) cell keeps its raw
    values, which the averaging all-flagged fallback then surfaces.

    The aggregate map-side-combines to T x CC rows (dimension-sized at
    any fact scale) and is broadcast back; its input sub-plan prunes to
    the flag-rule key columns only, so the extra scan reads a tiny
    column subset of the fact."""
    return vis.groupBy("t", "cc").agg(
        F.expr("bool_and(flag)").alias(GATE_COL))


def attach_cell_gate(vis: DataFrame,
                     gate: DataFrame | None = None) -> DataFrame:
    """Broadcast-join the :func:`cell_gate` dimension onto the fact as a
    ``_caf`` boolean column (``gate`` overrides with a precomputed /
    checkpointed gate relation)."""
    if gate is None:
        gate = cell_gate(vis)
    return vis.join(F.broadcast(gate), ["t", "cc"])


def cell_gate_oracle_select(flagged: str = "flagged") -> str:
    """Oracle SQL twin of :func:`cell_gate`."""
    return (f"SELECT t, cc, BOOL_AND(flag) AS {GATE_COL}"
            f" FROM {flagged} GROUP BY t, cc")


def attach_cell_gate_oracle_select(flagged: str = "flagged") -> str:
    """Oracle SQL twin of :func:`attach_cell_gate` (the gate CTE is
    ``cell_gate``)."""
    return (f"SELECT /*+ BROADCAST(g) */ f.*, g.{GATE_COL}"
            f" FROM {flagged} f"
            f" JOIN cell_gate g ON f.t = g.t AND f.cc = g.cc")


def _gate_frags(frags: dict[str, str]) -> dict[str, str]:
    """Wrap each corrected fragment in the v0.18.0 flag gate: a
    fully-flagged cell passes the raw column through."""
    return {
        c: f"CASE WHEN {GATE_COL} THEN {c} ELSE {expr} END"
        for c, expr in frags.items()
    }


# ---------------------------------------------------------------- C2: cable
def _cable_fragments(l1x: str, l1y: str, l2x: str, l2y: str) -> dict[str, str]:
    """Per-pol phasor rotation by -tau * dL_pol * freq / c, where the pol
    length combinations follow reference src/corrections.rs:121-127:
    [x2-x1, x2-y1, y2-x1, y2-y1] for [XX, XY, YX, YY]; autos skipped
    (src/corrections.rs:113-116)."""
    dlen = {
        "xx": f"(({l2x}) - ({l1x}))",
        "xy": f"(({l2x}) - ({l1y}))",
        "yx": f"(({l2y}) - ({l1x}))",
        "yy": f"(({l2y}) - ({l1y}))",
    }
    out: dict[str, str] = {}
    for p in POLS:
        a = f"(-{TAU} * {dlen[p]} * freq_hz / {VEL_C})"
        corr_re = f32(rot_re(f"{p}_re", f"{p}_im", f"COS({a})", f"SIN({a})"))
        corr_im = f32(rot_im(f"{p}_re", f"{p}_im", f"COS({a})", f"SIN({a})"))
        out[f"{p}_re"] = f"CASE WHEN ant1 = ant2 THEN {p}_re ELSE {corr_re} END"
        out[f"{p}_im"] = f"CASE WHEN ant1 = ant2 THEN {p}_im ELSE {corr_im} END"
    return out


def correct_cable_lengths(vis: DataFrame, antennas: DataFrame,
                          gated: bool = False) -> DataFrame:
    """C2 — cable-length correction (reference correct_cable_lengths,
    src/corrections.rs:72-145): rotate each pol by
    ``exp(-j*tau*dL_pol*freq/c)``; dL from the antenna dimension, joined
    twice (ant1, ant2) — both joins broadcast, so the fact table never
    shuffles. ``gated`` applies the v0.18.0 flag gate (``vis`` must
    carry the :func:`attach_cell_gate` column)."""
    a1 = F.broadcast(antennas.select(
        F.col("ant").alias("ant1"),
        F.col("elec_length_x_m").alias("_l1x"),
        F.col("elec_length_y_m").alias("_l1y"),
    ))
    a2 = F.broadcast(antennas.select(
        F.col("ant").alias("ant2"),
        F.col("elec_length_x_m").alias("_l2x"),
        F.col("elec_length_y_m").alias("_l2y"),
    ))
    joined = vis.join(a1, "ant1").join(a2, "ant2")
    frags = _cable_fragments("_l1x", "_l1y", "_l2x", "_l2y")
    if gated:
        frags = _gate_frags(frags)
    return joined.select(
        *[F.expr(frags[c]).alias(c) if c in frags else F.col(c) for c in vis.columns]
    )


def cable_oracle_select(vis: str = "vis", antennas: str = "antennas",
                        vis_columns: tuple[str, ...] = (),
                        gated: bool = False) -> str:
    """DuckDB oracle for C2 — same fragments, SQL joins."""
    frags = _cable_fragments(
        "a1.elec_length_x_m", "a1.elec_length_y_m",
        "a2.elec_length_x_m", "a2.elec_length_y_m",
    )
    if gated:
        frags = _gate_frags(frags)
    cols = ", ".join(
        f"{frags[c]} AS {c}" if c in frags else f"v.{c}" for c in vis_columns
    )
    return (
        f"SELECT {cols} FROM {vis} v"
        f" JOIN {antennas} a1 ON v.ant1 = a1.ant"
        f" JOIN {antennas} a2 ON v.ant2 = a2.ant"
    )


# ------------------------------------------------------------- C3: geometry
def _geom_fragments(w1: str, w2: str) -> dict[str, str]:
    out: dict[str, str] = {}
    a = f"(-{TAU} * (({w1}) - ({w2})) * freq_hz / {VEL_C})"
    for p in POLS:
        out[f"{p}_re"] = f32(rot_re(f"{p}_re", f"{p}_im", f"COS({a})", f"SIN({a})"))
        out[f"{p}_im"] = f32(rot_im(f"{p}_re", f"{p}_im", f"COS({a})", f"SIN({a})"))
    return out


def correct_geometry(vis: DataFrame, part_uvw: DataFrame) -> DataFrame:
    """C3 — geometric/phase-tracking correction (reference correct_geometry,
    src/corrections.rs:207-293): baseline UVW = part_uvw(ant1) -
    part_uvw(ant2) (:277), every pol rotated by ``exp(-j*tau*w*freq/c)``
    (:279-284). The per-(t, ant) partial-UVW table is precomputed once
    (calc_part_uvws, src/corrections.rs:652-676) — A*T rows, broadcast.

    Also emits baseline (u, v, w) columns for the sink, as the writers do.
    """
    joined, uvw = _uvw_join(vis, part_uvw)
    frags = _geom_fragments("_w1", "_w2")
    keep = [F.expr(frags[c]).alias(c) if c in frags else F.col(c) for c in vis.columns]
    return joined.select(*keep, *uvw)


def _uvw_join(vis: DataFrame, part_uvw: DataFrame):
    """The shared broadcast double-join on the per-(t, ant) partial-UVW
    table -> (joined frame carrying _u1.._w2, baseline (u, v, w)
    difference columns)."""
    p1 = F.broadcast(part_uvw.select(
        "t", F.col("ant").alias("ant1"),
        F.col("u").alias("_u1"), F.col("v").alias("_v1"),
        F.col("w").alias("_w1")))
    p2 = F.broadcast(part_uvw.select(
        "t", F.col("ant").alias("ant2"),
        F.col("u").alias("_u2"), F.col("v").alias("_v2"),
        F.col("w").alias("_w2")))
    joined = vis.join(p1, ["t", "ant1"]).join(p2, ["t", "ant2"])
    uvw = [F.expr("(_u1 - _u2)").alias("u"),
           F.expr("(_v1 - _v2)").alias("v"),
           F.expr("(_w1 - _w2)").alias("w")]
    return joined, uvw


def attach_uvw(vis: DataFrame, part_uvw: DataFrame) -> DataFrame:
    """Baseline (u, v, w) columns WITHOUT the phase rotation — the
    reference computes and writes UVWs even under ``--no-geometric-
    delay`` (the correction flag gates only the phasor, not the group
    params; src/cli.rs compare_cotter_uvfits_nocorrect_* expect real
    UVWs in the 'none' output)."""
    joined, uvw = _uvw_join(vis, part_uvw)
    return joined.select(*[F.col(c) for c in vis.columns], *uvw)


def geom_oracle_select(vis: str = "vis", part_uvw: str = "part_uvw",
                       vis_columns: tuple[str, ...] = ()) -> str:
    frags = _geom_fragments("p1.w", "p2.w")
    cols = ", ".join(
        f"{frags[c]} AS {c}" if c in frags else f"v.{c}" for c in vis_columns
    )
    return (
        f"SELECT {cols}, (p1.u - p2.u) AS u, (p1.v - p2.v) AS v, (p1.w - p2.w) AS w"
        f" FROM {vis} v"
        f" JOIN {part_uvw} p1 ON v.t = p1.t AND v.ant1 = p1.ant"
        f" JOIN {part_uvw} p2 ON v.t = p2.t AND v.ant2 = p2.ant"
    )


# -------------------------------------------------------- C4: digital gains
def _digital_fragments(g1x: str, g1y: str, g2x: str, g2y: str) -> dict[str, str]:
    """Pol / gain-product combinations per reference
    src/corrections.rs:405-419: xx/(g1x*g2x), xy/(g1x*g2y), yx/(g1y*g2x),
    yy/(g1y*g2y)."""
    gg = {
        "xx": f"(({g1x}) * ({g2x}))",
        "xy": f"(({g1x}) * ({g2y}))",
        "yx": f"(({g1y}) * ({g2x}))",
        "yy": f"(({g1y}) * ({g2y}))",
    }
    return {
        f"{p}_{c}": f32(f"({p}_{c}) / {gg[p]}")
        for p in POLS for c in ("re", "im")
    }


def correct_digital_gains(vis: DataFrame, digital_gains: DataFrame,
                          gated: bool = False) -> DataFrame:
    """C4 — divide each pol by the product of the two antennas' digital
    gains for the coarse channel (reference correct_digital_gains,
    src/corrections.rs:324-424); gains come from the metafits per
    (ant, coarse_chan). Two broadcast joins on (ant, cc)."""
    g1 = F.broadcast(digital_gains.select(
        F.col("ant").alias("ant1"), "cc",
        F.col("gain_x").alias("_g1x"), F.col("gain_y").alias("_g1y"),
    ))
    g2 = F.broadcast(digital_gains.select(
        F.col("ant").alias("ant2"), "cc",
        F.col("gain_x").alias("_g2x"), F.col("gain_y").alias("_g2y"),
    ))
    joined = vis.join(g1, ["ant1", "cc"]).join(g2, ["ant2", "cc"])
    frags = _digital_fragments("_g1x", "_g1y", "_g2x", "_g2y")
    if gated:
        frags = _gate_frags(frags)
    return joined.select(
        *[F.expr(frags[c]).alias(c) if c in frags else F.col(c) for c in vis.columns]
    )


def digital_oracle_select(vis: str = "vis", gains: str = "digital_gains",
                          vis_columns: tuple[str, ...] = (),
                          gated: bool = False) -> str:
    frags = _digital_fragments("g1.gain_x", "g1.gain_y", "g2.gain_x", "g2.gain_y")
    if gated:
        frags = _gate_frags(frags)
    cols = ", ".join(
        f"{frags[c]} AS {c}" if c in frags else f"v.{c}" for c in vis_columns
    )
    return (
        f"SELECT {cols} FROM {vis} v"
        f" JOIN {gains} g1 ON v.ant1 = g1.ant AND v.cc = g1.cc"
        f" JOIN {gains} g2 ON v.ant2 = g2.ant AND v.cc = g2.cc"
    )


# ------------------------------------------------------------- C5: passband
def scrunch_gains(ultrafine_gains: list[float], fscrunch: int,
                  center_symmetric: bool) -> list[float]:
    """Scrunch the per-ultrafine-channel PFB gain curve onto the fine-channel
    grid (reference scrunch_gains, src/corrections.rs:576-646).

    Legacy ("Simple"): plain block mean. MWAX ("CenterSymmetric"): window
    centred on the output channel with half-weighted edges and wrap-around
    (window tables at src/corrections.rs:605-630). Driver-side (the curve is
    tiny and constant per run, src/corrections.rs:502); the result is
    broadcast as a (fc, gain) dim.
    """
    n = len(ultrafine_gains)
    out_len = n // fscrunch
    if fscrunch == 1:
        return list(ultrafine_gains)
    if not center_symmetric:
        offset_weights = [(w, 1.0 / fscrunch) for w in range(fscrunch)]
    elif out_len % 2 == 0 and fscrunch % 2 == 0:
        offset_weights = [
            (w - fscrunch // 2, (0.5 if w in (0, fscrunch) else 1.0) / fscrunch)
            for w in range(fscrunch + 1)
        ]
    elif out_len % 2 == 0 and fscrunch % 2 == 1:
        offset_weights = [
            (w - (fscrunch - 1) // 2, 1.0 / fscrunch) for w in range(fscrunch)
        ]
    else:  # odd output length: half-weighted edges, no centering shift
        offset_weights = [
            (w, (0.5 if w in (0, fscrunch) else 1.0) / fscrunch)
            for w in range(fscrunch + 1)
        ]
    out = []
    for oc in range(out_len):
        acc = 0.0
        for off, wt in offset_weights:
            acc += ultrafine_gains[(oc * fscrunch + off) % n] * wt
        out.append(acc)
    return out


def _passband_fragments(gain: str) -> dict[str, str]:
    frags = {
        f"{p}_{c}": f32(f"({p}_{c}) / ({gain})") for p in POLS for c in ("re", "im")
    }
    # note asymmetry (reference src/corrections.rs:504-519): vis is DIVIDED
    # by the gain, weight is MULTIPLIED.
    frags["weight"] = f32(f"(({gain}) * weight)")
    return frags


def fine_gain_rows(ultrafine_gains: list[float], num_fine: int,
                   center_symmetric: bool) -> list[tuple[int, float]]:
    if len(ultrafine_gains) % num_fine:
        raise ValueError(
            f"ultrafine gain curve length {len(ultrafine_gains)} is not a "
            f"multiple of num_fine={num_fine}; the scrunch would silently "
            f"misalign the fine-channel grid")
    fscrunch = len(ultrafine_gains) // num_fine
    return list(enumerate(scrunch_gains(ultrafine_gains, fscrunch, center_symmetric)))


def fine_gains_values_sql(rows: list[tuple[int, float]]) -> str:
    """(fc, gain) literal table, identical text for Spark and DuckDB (float
    repr round-trips to the same double in both parsers)."""
    vals = ", ".join(f"({fc}, {g!r})" for fc, g in rows)
    return (
        f"SELECT CAST(fc AS INT) AS fc, CAST(gain AS DOUBLE) AS gain"
        f" FROM (VALUES {vals}) AS g(fc, gain)"
    )


def correct_passband_gains(vis: DataFrame, fine_gains: DataFrame,
                           gated: bool = False) -> DataFrame:
    """C5 — PFB passband correction (reference
    correct_coarse_passband_gains, src/corrections.rs:453-522): per fine
    channel within each coarse, vis /= gain and weight *= gain. ``fine_gains``
    is the scrunched (fc, gain) dim — broadcast join on fc."""
    g = F.broadcast(fine_gains.select("fc", F.col("gain").alias("_pg")))
    joined = vis.join(g, "fc")
    frags = _passband_fragments("_pg")
    if gated:
        frags = _gate_frags(frags)
    return joined.select(
        *[F.expr(frags[c]).alias(c) if c in frags else F.col(c) for c in vis.columns]
    )


def passband_oracle_select(vis: str = "vis", fine_gains: str = "fine_gains",
                           vis_columns: tuple[str, ...] = (),
                           gated: bool = False) -> str:
    frags = _passband_fragments("g.gain")
    if gated:
        frags = _gate_frags(frags)
    cols = ", ".join(
        f"{frags[c]} AS {c}" if c in frags else f"v.{c}" for c in vis_columns
    )
    return f"SELECT {cols} FROM {vis} v JOIN {fine_gains} g ON v.fc = g.fc"


#: passband gain-table registry keys (the reference ships measured gain
#: curves as compiled-in constants, src/passband_gains.rs:9/6415/12826;
#: this engine keeps the table pluggable and validates the selection
#: semantics — deployments register their instrument's curves here)
PASSBAND_TABLES = ("jake", "jake_oversampled", "cotter")


def select_passband_gains(option: str | None, mwa_version: str,
                          oversampled: bool = False,
                          deripple_applied: bool = False) -> str | None:
    """The reference's ``--passband-gains`` selection match arms
    (src/cli.rs:1401-1443) as a pure function → gain-table key or None:

    - explicit ``jake`` / ``jake_oversampled`` / ``cotter`` pick that
      table regardless of correlator version;
    - ``auto`` resolves by correlator version + oversampling flag
      (MWAX → jake or jake_oversampled, legacy → cotter) and DISABLES
      the correction entirely when the input already had de-rippling
      applied upstream;
    - ``none``/None disables; an unknown option or (under ``auto``) an
      unknown correlator version raises, like the reference's
      panic / BadMWAVersion arms."""
    if option in (None, "none"):
        return None
    if option in PASSBAND_TABLES:
        return option
    if option == "auto":
        if deripple_applied:
            return None
        if mwa_version == "MWAXv2":
            return "jake_oversampled" if oversampled else "jake"
        if mwa_version in ("Legacy", "OldLegacy"):
            return "cotter"
        raise ValueError(f"unknown mwa version: {mwa_version}")
    raise ValueError(f"unknown option for --passband-gains: {option}")


__all__ = [
    "GATE_COL", "cell_gate", "attach_cell_gate", "cell_gate_oracle_select",
    "correct_cable_lengths", "cable_oracle_select",
    "correct_geometry", "geom_oracle_select",
    "correct_digital_gains", "digital_oracle_select",
    "scrunch_gains", "fine_gain_rows", "fine_gains_values_sql",
    "correct_passband_gains", "passband_oracle_select",
    "select_passband_gains", "PASSBAND_TABLES",
    "VIS_COLS",
]
