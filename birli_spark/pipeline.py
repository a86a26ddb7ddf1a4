"""The DuckDB-oracle surface of the flowchart (reference
``PreprocessContext::preprocess``, src/preprocessing.rs:178-361).

:func:`preprocess_baked`, :func:`preprocess`, :func:`preprocess_full`
and :func:`preprocess_full_rel` run the CLI's one flowchart
(:func:`cli.build_baked`) over an :class:`OracleObservation` under fixed
rule choices (:func:`_context`), in the README flowchart's order
(reference README.md:498-543): rule flags → (van vleck) → cable →
digital gains → passband → (RFI) → geometry → DI calibration → bake
flags into weights → average.

The same flowchart as SQL text is composed in one place,
:func:`baked_oracle_ctes`, over an :class:`OracleSurface` (a surface's
fact and dimension CTE bodies, fine-channel predicate and RFI slot;
a stage whose dimension is absent does not run). Its surfaces are the
synthetic observation (:data:`SURFACE`: :func:`preprocess_oracle_sql`,
:func:`preprocess_full_oracle_sql` and the sink oracles), the
catalogue (operators/multiobs.py, whose text Spark runs too) and the
s1h real-format e2e (pipeline_e2e.py). Each stage is the shared
dual-dialect fragment the Spark plan runs; those texts are the spec the
Spark plans are checked against. In Spark all per-cell corrections fuse
into a single whole-stage-codegen projection over the scan + broadcast
joins; the only fact-table shuffle is the final averaging groupBy.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from birli_spark import cli
from birli_spark.operators import (averaging, calibration, corrections, flags,
                                   weights)
from birli_spark.sources import synthetic as syn


def fanout_materialize(df: DataFrame, big: bool = False) -> DataFrame:
    """Materialize a relation that feeds several consumers so the
    expensive upstream (archive decode, corrections chain) computes
    once per action instead of once per consumer (guide §5).

    The spelling follows the materialization's SIZE, which the caller
    knows (``big``); SPARK_GRAFT_FANOUT_PERSIST=local|reliable forces
    one globally (any other value raises).

    - small (``local``): ``localCheckpoint`` — deserialized blocks on
      the executors, no serialize/file round trip; measured fastest on
      sf-sized facts (s1h 7.9 s vs 10.5-10.9 s under the file-backed
      spellings; x1/x4 e2e probes 4.8/6.1 s vs 5.5/23 s). An executor
      loss forfeits blocks and lineage — acceptable only because these
      facts are small enough to recompute by re-running the query.
    - big (``reliable``): ``checkpoint`` into the job's checkpoint dir
      (SPARK_GRAFT_CHECKPOINT_DIR, default under the local tmpdir;
      point it at durable shared storage on a cluster) — survives
      executor loss without recompute, and on the 13M-row x16 e2e
      probe it also beats holding the fact as deserialized executor
      blocks (17-33 s vs 27-77 s wall across box states: the
      block-manager heap residency pays this host's page-fault tax,
      files + page cache do not). This is the 100 TB spelling. A CLI
      run that owns its session deletes the checkpoint directory at
      exit (``cli._delete_checkpoint_dir``).

    ``persist(DISK_ONLY)`` was measured the slowest spelling at every
    size (x16 71 s: the InMemoryRelation columnar encode plus a decode
    per consumer) and is not offered.
    """
    import os
    import tempfile

    mode = os.environ.get("SPARK_GRAFT_FANOUT_PERSIST") or (
        "reliable" if big else "local")
    if mode not in ("local", "reliable"):
        raise ValueError(
            f"SPARK_GRAFT_FANOUT_PERSIST={mode!r}: expected 'local' or "
            f"'reliable'")
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(os.environ.get(
                "SPARK_GRAFT_CHECKPOINT_DIR",
                os.path.join(tempfile.gettempdir(),
                             "birli_spark_ckpt")))
        # eager: ONE compute writes the checkpoint files and every
        # consumer (including the first) reads them back; lazy would
        # compute once for the first consumer job and once more for
        # the checkpoint writer
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=False)


#: pipeline defaults used by the flagship query, bench, and the oracle
QUACK_S = 4.0
N_EDGE = 1
IS_LEGACY = True
AVG_TIME = 4
AVG_FREQ = 2
CAL_RATIO = (syn.NUM_CC * syn.NUM_FC) // syn.NUM_CHAN_SOL
OBS_END_GPS = cli.SyntheticObservation.obs_end_gps

# scrunched PFB fine-channel gains, computed once driver-side
# (reference src/corrections.rs:502) and inlined as a literal dim
_UFC_GAINS = [(50 + u) / 100 for u in range(syn.NUM_UFC)]
FINE_GAIN_ROWS = corrections.fine_gain_rows(_UFC_GAINS, syn.NUM_FC, center_symmetric=False)


class OracleObservation(cli.SyntheticObservation):
    """The synthetic surface as the DuckDB oracles spell it: a
    :data:`QUACK_S` quack, the :data:`FINE_GAIN_ROWS` passband, the
    ``calsols`` dim at :data:`CAL_RATIO`, and optionally a ``scan``
    override and a precomputed v0.18 ``gate``."""

    quack_s = QUACK_S

    def __init__(self, spark: SparkSession, sf_dir: str | None,
                 scan: DataFrame | None = None,
                 gate: DataFrame | None = None) -> None:
        super().__init__(spark, sf_dir)
        self._scan, self._gate = scan, gate

    def scan(self) -> DataFrame:
        return super().scan() if self._scan is None else self._scan

    def cell_gate(self, spark, rules, bl_pred) -> DataFrame | None:
        return self._gate

    def fine_gains(self, ctx) -> list[tuple[int, float]]:
        return FINE_GAIN_ROWS

    def calsols(self, spark, ctx) -> tuple[DataFrame, int]:
        return syn.load_dim(spark, "calsols"), CAL_RATIO


def _context(sf_dir: str | None = None, **kw) -> cli.Context:
    """The oracle flowchart's rule choices (:data:`N_EDGE` edge channels,
    the DC flag) plus ``kw``; every other option keeps the CLI default."""
    return cli.Context(sf_dir=sf_dir, flag_edge_chans=N_EDGE,
                       flag_dc=IS_LEGACY, **kw)


def rule_flags(spark: SparkSession, vis: DataFrame) -> DataFrame:
    """F1-F7: quack timestep flags + metafits baseline flags + edge/DC fine
    channel flags, OR-combined into the fact table via broadcast joins."""
    return cli.stage_rule_flags(_context(), OracleObservation(spark, None),
                                vis)[0]


def relational_sumthreshold(vis: DataFrame) -> DataFrame:
    """F9 as one relational plan: the SumThreshold mask of the
    cell-unique reduction (operators/rfi_sql.py::flag_rfi_steps), OR-ed
    onto every row of its cell."""
    from birli_spark.functions import textsql as X
    from birli_spark.operators import rfi_sql

    # the corrected fact feeds TWO consumers (the cell-unique image
    # and the mask join-back): materialize it once so the upstream
    # head (notably the relational Van Vleck chain in
    # preprocess_full_rel) is not evaluated twice — the same
    # persist-at-the-fan-out a cluster job would use
    vis.localCheckpoint(eager=True).createOrReplaceTempView("ppf_passbanded")
    return X.run_steps(vis.sparkSession, *rfi_sql.flag_rfi_steps(
        "ppf_passbanded", "percentile", tuple(vis.columns), dedup=True))


def preprocess_baked(spark: SparkSession, sf_dir: str,
                     vis: DataFrame | None = None,
                     ssins_rfi: bool = False,
                     st_rfi: bool = False,
                     gate: DataFrame | None = None) -> DataFrame:
    """:func:`cli.build_baked` over the oracle surface: the pipeline up to
    (and including) flag→weight baking, before the averaging shuffle,
    keeping the geometry stage's u/v/w. ``vis`` overrides the scan
    (picket-fence ranges); the RFI slot (src/preprocessing.rs:291-329)
    runs SSINS with ``ssins_rfi``, the relational SumThreshold with
    ``st_rfi``, else nothing. ``gate`` supplies a precomputed (t, cc,
    _caf) v0.18.0 gate (RELEASES.md:17-19): the full-relational pipeline
    reuses its pre-Van-Vleck gate so the gate aggregate never
    re-executes the Van Vleck chain."""
    ctx = _context(sf_dir, no_rfi=not ssins_rfi, ssins=ssins_rfi)
    return cli.build_baked(
        spark, ctx, OracleObservation(spark, sf_dir, scan=vis, gate=gate),
        rfi=relational_sumthreshold if st_rfi else None)


def preprocess(spark: SparkSession, sf_dir: str,
               avg_time: int = AVG_TIME, avg_freq: int = AVG_FREQ,
               vis: DataFrame | None = None,
               ssins_rfi: bool = False) -> DataFrame:
    """The full batch pipeline on the derived vis table at ``sf_dir``.

    With ``ssins_rfi`` the pipeline includes RFI detection (the
    all-relational SSINS flagger, operators/ssins.py) in the reference's
    slot — making the COMPLETE flowchart (flags → corrections → RFI →
    bake → average) a single SQL-expressible, oracle-checkable plan,
    where the F9/C1 UDF-island variant (:func:`preprocess_full`) can
    only be rows-checked.
    """
    baked = preprocess_baked(spark, sf_dir, vis=vis, ssins_rfi=ssins_rfi)
    return averaging.average_time_freq(baked, avg_time, avg_freq)


def preprocess_full(spark: SparkSession, sf_dir: str,
                    avg_time: int = AVG_TIME, avg_freq: int = AVG_FREQ) -> DataFrame:
    """The complete pipeline including the UDF islands, in reference order
    (README.md:498-543): rule flags → Van Vleck → cable → digital →
    passband → SumThreshold RFI → geometry → calibration → bake → average
    (C1–C5 under the v0.18.0 flag gate).

    Uses the legacy vis variant whose autos are sighat-encoded (the valid
    Van Vleck domain); antenna 3, flagged in the metadata, is also the
    Van Vleck pass-through antenna. No SQL oracle — the islands are
    iterative; the correctness of each island is pinned by golden unit
    tests.
    """
    ctx = _context(sf_dir, van_vleck=True, flag_antennas=[3], no_rfi=False,
                   rfi_strategy="sumthreshold")
    baked = cli.build_baked(spark, ctx, OracleObservation(
        spark, sf_dir, scan=syn.load_vis_legacy(spark, sf_dir)))
    return averaging.average_time_freq(baked, avg_time, avg_freq)


def preprocess_full_rel(spark: SparkSession, sf_dir: str,
                        avg_time: int = AVG_TIME,
                        avg_freq: int = AVG_FREQ) -> DataFrame:
    """The COMPLETE reference flowchart INCLUDING both former UDF
    islands, as one hash-gated relational plan: relational Van Vleck
    (operators/vanvleck_sql.py, wide form) → rule flags → cable →
    digital → passband → relational SumThreshold (operators/rfi_sql.py)
    → geometry → calibration → bake → average. The UDF-island twin
    (:func:`preprocess_full`) keeps reference-grade f64 numerics for the
    CLI; this is the oracle-checkable spelling of the same pipeline."""
    from birli_spark.operators import vanvleck_sql

    # v0.18.0 gate computed ONCE from the pre-correction flag state
    # (flags never depend on pol values and Van Vleck carries the flag
    # column through unchanged, so pre-VV == post-VV gate), then
    # checkpointed: the gate aggregate never re-executes the Van Vleck
    # chain, and the VV assembly and the C2–C5 chain share one
    # dimension-sized relation
    gate_df = corrections.cell_gate(
        rule_flags(spark, syn.load_vis_legacy(spark, sf_dir))) \
        .coalesce(1).localCheckpoint(eager=True)
    gate_df.createOrReplaceTempView("vv_gate")
    wide = vanvleck_sql.van_vleck_spark_wide(
        spark, sf_dir, syn.VV_SAMPLE_SCALE, (3,), gate="vv_gate")
    baked = preprocess_baked(spark, sf_dir, vis=wide, st_rfi=True,
                             gate=gate_df)
    return averaging.average_time_freq(baked, avg_time, avg_freq)


def preprocess_full_oracle_sql(avg_time: int = AVG_TIME,
                               avg_freq: int = AVG_FREQ) -> str:
    """DuckDB one-text twin of :func:`preprocess_full_rel`: the
    Van Vleck chain is the surface's head, its v0.18.0 gate
    (``vv_gate``, computed from the pre-correction flag state over the
    legacy-encoded vis) reading the flag dims hoisted before it."""
    from birli_spark.functions import textsql as X
    from birli_spark.operators import vanvleck_sql

    gate_ctes = (
        ("vvgf", flags.set_flags_oracle_select(
            "vvvis", "ts_flags", "bl_flags", SURFACE.fc_pred,
            ("t", "cc", "flag"))),
        ("vv_gate", corrections.cell_gate_oracle_select("vvgf")),
    )
    steps, final, _ = vanvleck_sql.van_vleck_wide_steps(
        X.DUCK, syn.VV_SAMPLE_SCALE, (3,), gate="vv_gate",
        gate_ctes=gate_ctes)
    surface = replace(SURFACE, vis=final, rfi=st_rfi_ctes,
                      head=X.ctes(steps, vanvleck_sql.DUCK_MATERIALIZED))
    avg = averaging.averaging_oracle_select("baked", avg_time, avg_freq)
    return f"WITH {baked_oracle_ctes(surface)} {avg}"


@dataclass(frozen=True)
class OracleSurface:
    """What one observation feeds the SQL flowchart: the CTE bodies of
    its fact (``vis``) and dimensions, its fine-channel flag predicate
    and its RFI slot.

    A stage whose dimension is ``None`` does not run, as
    :func:`cli.build_baked` skips it: ``digital_gains`` (C4),
    ``fine_gains`` (C5 passband) and ``calsols`` (C6, the body paired
    with its fine channels per solution channel). ``rfi(vis, columns)``
    renders the RFI slot over the relation ``vis``, ending in ``rfid``
    (each CTE space-led and comma-terminated), or is ``None``: the SSINS
    join-back (``ssins.ssins_flag_vis_oracle_ctes``) or
    :func:`st_rfi_ctes`. ``head`` is a CTE
    list that runs before ``vis`` (the Van Vleck chain); the flag dims
    then lead, since its gate reads them."""

    vis: str
    antennas: str
    timesteps: str
    ts_flags: str
    part_uvw: str
    fc_pred: str
    digital_gains: str | None
    fine_gains: str | None
    calsols: tuple[str, int] | None
    rfi: Callable[[str, tuple], str] | None = None
    head: str = ""


#: the synthetic observation (:class:`OracleObservation`) as a surface
SURFACE = OracleSurface(
    vis=syn.vis_sql(), antennas=syn.ANTENNAS_SQL,
    timesteps=syn.TIMESTEPS_SQL,
    ts_flags=flags.quack_oracle_select(
        "timesteps", syn.GPS_START, OBS_END_GPS, quack_s=QUACK_S),
    part_uvw=syn.PART_UVW_SQL,
    fc_pred=flags.fine_channel_pred_sql(syn.NUM_FC, n_edge=N_EDGE,
                                        is_legacy=IS_LEGACY),
    digital_gains=syn.DIGITAL_GAINS_SQL,
    fine_gains=corrections.fine_gains_values_sql(FINE_GAIN_ROWS),
    calsols=(syn.CALSOLS_SQL, CAL_RATIO))


def st_rfi_ctes(vis: str, vis_columns) -> str:
    """RFI slot: the relational SumThreshold (operators/rfi_sql.py) over
    the cell-unique reduction, its per-cell mask OR-ed onto every row of
    the cell."""
    from birli_spark.functions import textsql as X
    from birli_spark.operators import rfi_sql

    steps, final, _ = rfi_sql.flag_rfi_steps(
        vis, "quantile_cont", vis_columns, dedup=True)
    return f" {X.ctes(steps)}, rfid AS ({final}),"


def _ctes(pairs) -> str:
    """``name AS (body)`` for every pair whose body is given."""
    return ", ".join(f"{n} AS ({b})" for n, b in pairs if b is not None)


def flagged_vis_oracle_cte(s: OracleSurface = SURFACE) -> str:
    """CTE chain over the surface ``s``: vis → rule-flagged vis
    (``flagged``), shared by several oracles."""
    vis = f"vis AS ({s.vis})"
    dims = _ctes((("antennas", s.antennas), ("timesteps", s.timesteps),
                  ("ts_flags", s.ts_flags),
                  ("bl_flags", flags.baseline_flags_oracle_select(
                      "antennas"))))
    flagged = flags.set_flags_oracle_select(
        "vis", "ts_flags", "bl_flags", s.fc_pred, syn.VIS_COLUMNS)
    # a head's v0.18.0 gate reads the flag dims, so they lead it
    front = f"{dims}, {s.head},{vis}" if s.head else f"{vis}, {dims}"
    return f"{front}, flagged AS ({flagged})"


def baked_oracle_ctes(s: OracleSurface = SURFACE) -> str:
    """The one SQL flowchart composition: CTE chain vis → … → ``baked``
    (the pre-averaging pipeline state, incl. u/v/w from the geometry
    stage) over the surface ``s``, in the reference order: rule flags →
    v0.18.0 gate → cable → digital → passband → RFI slot → geometry →
    calibration → bake. Each stage reuses the dual-dialect fragment the
    Spark plan runs; the single-observation oracles, the catalogue
    (operators/multiobs.py, run as-is on Spark too) and the s1h
    real-format e2e (pipeline_e2e.py) are surfaces of it."""
    cols = syn.VIS_COLUMNS
    cols_uvw = cols + ("u", "v", "w")
    # v0.18.0 flag gate: C2/C4/C5 leave fully-flagged (t, cc) cells raw —
    # the gate column rides along through cable/digital and is dropped by
    # the passband select's output list, else by one projection
    cols_g = cols + (corrections.GATE_COL,)
    dims = (("digital_gains", s.digital_gains),
            ("fine_gains", s.fine_gains), ("part_uvw", s.part_uvw),
            ("calsols", s.calsols and s.calsols[0]))
    stages = [
        ("cell_gate", corrections.cell_gate_oracle_select("flagged")),
        ("flaggedg", corrections.attach_cell_gate_oracle_select("flagged")),
        ("cabled", corrections.cable_oracle_select(
            "flaggedg", "antennas", cols_g, gated=True))]
    if s.digital_gains is not None:
        stages.append(("digitald", corrections.digital_oracle_select(
            stages[-1][0], "digital_gains", cols_g, gated=True)))
    if s.fine_gains is not None:
        stages.append(("passbanded", corrections.passband_oracle_select(
            stages[-1][0], "fine_gains", cols, gated=True)))
    else:
        stages.append(("ungated",
                       f"SELECT {', '.join(cols)} FROM {stages[-1][0]}"))
    rfi = s.rfi(stages[-1][0], cols) if s.rfi else ""
    post = [("geomed", corrections.geom_oracle_select(
        "rfid" if s.rfi else stages[-1][0], "part_uvw", cols))]
    if s.calsols is not None:
        post.append(("caled", calibration.calibration_oracle_select(
            "geomed", "calsols", s.calsols[1], cols_uvw)))
    post.append(("baked", f"SELECT {weights.bake_oracle_columns(cols_uvw)}"
                          f" FROM {post[-1][0]}"))
    return (f"{flagged_vis_oracle_cte(s)}, {_ctes(dims + tuple(stages))},"
            f"{rfi} {_ctes(post)}")


def preprocess_oracle_sql(avg_time: int = AVG_TIME, avg_freq: int = AVG_FREQ,
                          surface: OracleSurface = SURFACE) -> str:
    """One DuckDB query equivalent to :func:`preprocess` — each stage a CTE
    reusing the exact scalar fragments the Spark plan uses."""
    avg = averaging.averaging_oracle_select("baked", avg_time, avg_freq)
    return f"WITH {baked_oracle_ctes(surface)} {avg}"
