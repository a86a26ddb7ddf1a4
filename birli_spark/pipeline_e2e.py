"""End-to-end REAL-FORMAT composition (s1h): :func:`cli.build_baked`
over :class:`E2EObservation` (gpubox FITS files -> distributed binary
scan) under :data:`CONTEXT` — rule flags -> v0.18-gated cable
correction -> RFI in the AOFlagger slot -> geometry -> flag baking —
then :func:`cli.write_uvfits`: time/frequency averaging -> UVFITS group
rows + the PHYSICAL executor-parallel random-groups write.

This is the stage composition of the reference's end-to-end wall-clock
benchmark (obs 1090008640: read + cable + AOFlagger RFI + geometry +
uvfits write = 87.3 s on a ~200 GB observation — BASELINE.md), run over
the s1g real-format synthetic observation (24 coarse-channel gpubox
files, 835k cube rows), so BENCH carries a literally-shaped comparable
number instead of only per-stage queries. The RFI slot runs the
all-relational SSINS flagger (the engine's JVM-side answer to the
AOFlagger FFI; the mwa-default orchestration itself is gated separately
as f9e) so the WHOLE composition stays one hash-checkable plan. The
v0.18 gate comes from the rule dims, so the SSINS fan-out
(cli.stage_rfi) is the one materialization: each file decodes once.

Everything is deterministic and the oracle is one DuckDB text, the SQL
flowchart ``pipeline.baked_oracle_ctes`` over this observation's
surface: the scan content re-derives closed-form
(sources/gpubox.py::expected_grid_sql), the dimension tables are VALUES
literals (identical text in both engines), and the surface gives no
digital gains, passband or calibration, as :data:`CONTEXT` runs none.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from birli_spark import cli, pipeline
from birli_spark.operators import flags, ssins
from birli_spark.sinks import uvfits
from birli_spark.sources import gpubox
from birli_spark.sources import synthetic as syn

#: observation shape — identical to the s1g read bench
NUM_CC, NUM_ANTS, NUM_FINE, NUM_T = 24, 16, 32, 8
N_CHAN = NUM_CC * NUM_FINE
GPS0 = 1297526432.0
INT_TIME_S = 2.0
BASE_FREQ_HZ = 138_880_000.0
FINE_W_HZ = 40_000.0
#: W1 Cotter weight factor: 40 kHz / 10 kHz * 2 s
WEIGHT = 8.0
QUACK_S = 4.0     # flags the first two timesteps
N_EDGE = 2        # 80 kHz edges at 40 kHz fine channels
AVG_TIME, AVG_FREQ = 2, 2

#: shared projection fragments (identical text Spark / DuckDB)
FREQ_EXPR = (f"CAST({BASE_FREQ_HZ!r} AS DOUBLE)"
             f" + chan * CAST({FINE_W_HZ!r} AS DOUBLE)")
TS_EXPR = (f"CAST({GPS0!r} AS DOUBLE) + t * CAST({INT_TIME_S!r} AS DOUBLE)"
           f" + CAST({INT_TIME_S / 2.0!r} AS DOUBLE)")

_COLS = syn.VIS_COLUMNS  # same 19-column vis schema as the derived fact


def antennas_values_sql() -> str:
    """(ant, elec_length_x_m, elec_length_y_m, flagged) — deterministic
    cable lengths, one flagged tile (the metafits-flag shape)."""
    rows = ", ".join(
        f"({a}, {90.0 + a * 2.5!r}, {90.25 + a * 2.5!r},"
        f" {'TRUE' if a == 13 else 'FALSE'})"
        for a in range(NUM_ANTS))
    return (f"SELECT CAST(ant AS INT) AS ant,"
            f" CAST(lx AS DOUBLE) AS elec_length_x_m,"
            f" CAST(ly AS DOUBLE) AS elec_length_y_m,"
            f" CAST(fl AS BOOLEAN) AS flagged"
            f" FROM (VALUES {rows}) AS a(ant, lx, ly, fl)")


def timesteps_values_sql(num_t: int = NUM_T) -> str:
    rows = ", ".join(
        f"({t}, {GPS0 + t * INT_TIME_S + INT_TIME_S / 2.0!r})"
        for t in range(num_t))
    return (f"SELECT CAST(t AS INT) AS t, CAST(g AS DOUBLE) AS ts_gps"
            f" FROM (VALUES {rows}) AS tt(t, g)")


def part_uvw_values_sql(num_t: int = NUM_T) -> str:
    """Per-(t, ant) partial UVWs — deterministic literals (the real
    pipeline computes these from tile positions + epoch, C3c; the e2e
    composition exercises the geometry stage's join/rotation shape)."""
    rows = ", ".join(
        f"({t}, {a}, {round(a * 7.25 + t * 0.11, 6)!r},"
        f" {round(a * -3.5 + t * 0.07, 6)!r},"
        f" {round(a * 0.9 + t * 0.013, 6)!r})"
        for t in range(num_t) for a in range(NUM_ANTS))
    return (f"SELECT CAST(t AS INT) AS t, CAST(ant AS INT) AS ant,"
            f" CAST(u AS DOUBLE) AS u, CAST(v AS DOUBLE) AS v,"
            f" CAST(w AS DOUBLE) AS w"
            f" FROM (VALUES {rows}) AS p(t, ant, u, v, w)")


def scan_dir(num_t: int = NUM_T) -> str:
    """Generate (once) the 24 real-format gpubox files — the same files
    and marker the s1g read bench uses. ``num_t`` scales the
    observation along the timestep axis (the s1h scale-slope probe
    uses 4x and 16x); each size keeps its own cache directory."""
    suffix = "" if num_t == NUM_T else f"_t{num_t}"
    d = os.path.join(tempfile.gettempdir(),
                     "birli_spark_gpubox_bench" + suffix)
    marker = os.path.join(d, ".complete")
    # the marker embeds a code fingerprint: files written by an OLDER
    # checkout regenerate instead of being served as current
    from birli_spark import session as _session
    if not _session.marker_valid(marker):
        os.makedirs(d, exist_ok=True)
        for cc in range(NUM_CC):
            gpubox.write_gpubox(
                os.path.join(d, f"gpubox_{cc:02d}.fits"), cc,
                NUM_ANTS, NUM_FINE, num_t, obsid=int(GPS0))
        _session.write_marker(marker)
    return d


def derived_columns() -> dict:
    """freq_hz, ts_gps and the weight as Columns over the scan — the
    SAME fragments the oracle uses (see gpubox.vis_relation)."""
    return {"freq_hz": F.expr(FREQ_EXPR), "ts_gps": F.expr(TS_EXPR),
            "weight": F.lit(WEIGHT).cast("double")}


class E2EObservation(cli.Observation):
    """The s1g observation: the 24-file scan through
    :func:`gpubox.vis_relation`, literal antenna / timestep / partial-UVW
    dims, the v0.18 gate from the rule dims like every archive's."""

    gps_start = uvfits_gps = GPS0
    int_time_s = INT_TIME_S
    n_ants = NUM_ANTS
    n_fine = NUM_FINE
    n_chan = N_CHAN
    uvfits_object = "e2e_bench"

    def __init__(self, spark: SparkSession, num_t: int = NUM_T) -> None:
        self.spark, self.n_scans = spark, num_t
        self.obs_end_gps = GPS0 + num_t * INT_TIME_S
        self.antennas = spark.sql(antennas_values_sql())
        self.timesteps = spark.sql(timesteps_values_sql(num_t))

    def scan(self) -> DataFrame:
        return gpubox.vis_relation(
            gpubox.read_gpubox(self.spark,
                               scan_dir(self.n_scans) + "/*.fits"),
            derived_columns())

    derived_columns = staticmethod(derived_columns)

    def part_uvw(self, spark: SparkSession, ctx) -> DataFrame:
        return spark.sql(part_uvw_values_sql(self.n_scans))


#: the composition's options: rule flags (quack, edges, DC), the gated
#: cable correction, SSINS in the AOFlagger slot, geometry, 2x2 averaging
CONTEXT = cli.Context(sf_dir=None, quack_time=QUACK_S, flag_edge_chans=N_EDGE,
                      flag_dc=True, no_digital_gains=True, no_rfi=False,
                      ssins=True, avg_time=AVG_TIME, avg_freq=AVG_FREQ,
                      no_draw_progress=True)


def e2e_rows(spark: SparkSession, write_path: str | None = None,
             num_t: int = NUM_T) -> DataFrame:
    """The full composition as UVFITS group rows; when ``write_path`` is
    given, also performs the PHYSICAL executor-parallel random-groups
    write (the reference e2e's write stage — byte-gated separately as
    o1b/mo4) and returns the rows it wrote. ``num_t`` scales the
    observation 4x/16x for the scale-slope probe."""
    obs = E2EObservation(spark, num_t)
    baked = cli.build_baked(spark, CONTEXT, obs)
    if write_path is None:
        return cli.uvfits_rows(CONTEXT, obs, baked)
    return cli.write_uvfits(spark, CONTEXT, obs, baked, write_path)[0]


def e2e_oracle_sql() -> str:
    """One DuckDB text of the whole composition: the SQL flowchart
    (``pipeline.baked_oracle_ctes``) over this observation's surface —
    no digital gains, passband or calibration, SSINS in the RFI slot —
    closed by the UVFITS group rows."""
    content = gpubox.expected_grid_sql(NUM_CC, NUM_ANTS, NUM_FINE, NUM_T)
    pol_cols = ", ".join(c for c in _COLS
                         if c.endswith("_re") or c.endswith("_im"))
    surface = pipeline.OracleSurface(
        vis=(f"SELECT t, ant1, ant2, bl, cc, fc, chan,"
             f" {FREQ_EXPR} AS freq_hz, {TS_EXPR} AS ts_gps,"
             f" CAST({WEIGHT!r} AS DOUBLE) AS weight, FALSE AS flag,"
             f" {pol_cols} FROM ({content}) g0"),
        antennas=antennas_values_sql(), timesteps=timesteps_values_sql(),
        ts_flags=flags.quack_oracle_select(
            "timesteps", GPS0, GPS0 + NUM_T * INT_TIME_S, quack_s=QUACK_S),
        part_uvw=part_uvw_values_sql(),
        fc_pred=flags.fine_channel_pred_sql(NUM_FINE, n_edge=N_EDGE,
                                            is_legacy=True),
        digital_gains=None, fine_gains=None, calsols=None,
        rfi=ssins.ssins_flag_vis_oracle_ctes)
    rows_sel = uvfits.uvfits_rows_oracle_select(
        "baked", AVG_TIME, AVG_FREQ, GPS0, INT_TIME_S)
    return f"WITH {pipeline.baked_oracle_ctes(surface)} {rows_sel}"
