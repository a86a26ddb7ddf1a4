"""The DuckDB-oracle surface of the flowchart (reference
``PreprocessContext::preprocess``, src/preprocessing.rs:178-361).

:func:`preprocess_baked`, :func:`preprocess`, :func:`preprocess_full`
and :func:`preprocess_full_rel` run the CLI's one flowchart
(:func:`cli.build_baked`) over an :class:`OracleObservation` under fixed
rule choices (:func:`_context`), in the README flowchart's order
(reference README.md:498-543): rule flags → (van vleck) → cable →
digital gains → passband → (RFI) → geometry → DI calibration → bake
flags into weights → average.

Each composition is also one DuckDB SQL text
(:func:`preprocess_oracle_sql`, :func:`preprocess_full_oracle_sql`)
built from the shared dual-dialect stage fragments; those texts are the
spec the Spark plans are checked against. In Spark all per-cell
corrections fuse into a single whole-stage-codegen projection over the
scan + broadcast joins; the only fact-table shuffle is the final
averaging groupBy.
"""

from __future__ import annotations

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
      files + page cache do not). This is the 100 TB spelling.

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
    cell-unique reduction (operators/rfi_sql.py), OR-ed onto every row
    of its cell."""
    from birli_spark.operators import rfi_sql

    spark = vis.sparkSession
    cols = tuple(vis.columns)
    # the corrected fact feeds TWO consumers (the cell-unique image
    # and the mask join-back): materialize it once so the upstream
    # head (notably the relational Van Vleck chain in
    # preprocess_full_rel) is not evaluated twice — the same
    # persist-at-the-fan-out a cluster job would use
    vis = vis.localCheckpoint(eager=True)
    vis.createOrReplaceTempView("ppf_passbanded")
    # the cell-unique image is (bl x t x chan)-sized — checkpoint it
    # so the 24-layer window chain doesn't drag (and re-analyze) the
    # whole upstream corrections plan behind each layer
    spark.sql(rfi_sql.cell_dedup_select("ppf_passbanded", cols)) \
         .localCheckpoint(eager=True) \
         .createOrReplaceTempView("st_cell")
    st_ctes, st_mask = rfi_sql.sumthreshold_parts(
        "st_cell", median_fn="percentile")
    rfid_cols = ", ".join(
        "(p.flag OR m.det) AS flag" if c == "flag" else f"p.{c}"
        for c in cols)
    # mask side leaves the ladder (ant1, ant2)-partitioned; hash the
    # checkpointed fact ONCE the same way so the cell-mask join-back
    # is subset co-partitioned (guide §2.4/§3) — one fact exchange
    # on the coarse key instead of a 4-key exchange of BOTH sides
    return spark.sql(
        f"WITH {st_ctes}, st_maskr AS ({st_mask})"
        f" SELECT {rfid_cols} FROM"
        f" (SELECT /*+ REPARTITION(ant1, ant2) */ *"
        f" FROM ppf_passbanded) p"
        f" JOIN st_maskr m ON p.ant1 = m.ant1 AND p.ant2 = m.ant2"
        f" AND p.t = m.t AND p.chan = m.chan")


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
    """DuckDB one-text twin of :func:`preprocess_full_rel`. The flag-dim
    CTEs are hoisted BEFORE the Van Vleck chain so its v0.18.0 gate
    (``vv_gate``, computed from the pre-correction flag state over the
    legacy-encoded vis) can reference them."""
    from birli_spark.functions import textsql as X
    from birli_spark.operators import vanvleck_sql

    fc_pred = flags.fine_channel_pred_sql(syn.NUM_FC, n_edge=N_EDGE,
                                          is_legacy=IS_LEGACY)
    gate_ctes = (
        ("vvgf", flags.set_flags_oracle_select(
            "vvvis", "ts_flags", "bl_flags", fc_pred, ("t", "cc", "flag"))),
        ("vv_gate", corrections.cell_gate_oracle_select("vvgf")),
    )
    steps, _ = vanvleck_sql.van_vleck_wide_steps(
        X.DUCK, syn.VV_SAMPLE_SCALE, (3,), gate="vv_gate",
        gate_ctes=gate_ctes)
    pre = ",\n".join(
        f"{n} AS {'MATERIALIZED ' if n == 'm1' else ''}({b})"
        for n, b in steps)
    baked = baked_oracle_ctes(pre_ctes=pre + ",",
                              vis_cte="SELECT * FROM vvwide",
                              st_rfi=True, dims_before_pre=True)
    avg = averaging.averaging_oracle_select("baked", avg_time, avg_freq)
    return f"WITH {baked} {avg}"


def _flag_ctes() -> str:
    ts_f = flags.quack_oracle_select("timesteps", syn.GPS_START, OBS_END_GPS,
                                     quack_s=QUACK_S)
    bl_f = flags.baseline_flags_oracle_select("antennas")
    return f"ts_flags AS ({ts_f}), bl_flags AS ({bl_f})"


def flagged_vis_oracle_cte(vis_columns=syn.VIS_COLUMNS, vis_where: str = "",
                           vis_cte: str | None = None,
                           include_dims: bool = True) -> str:
    """CTE chain: vis → rule-flagged vis (shared by several oracles).
    ``vis_where`` restricts the scan (picket-fence channel ranges);
    ``vis_cte`` overrides the vis body (e.g. the Van-Vleck-corrected
    relation for the full-pipeline oracle). ``include_dims=False`` omits
    the antennas/timesteps/flag-dim CTEs (for callers that hoisted them
    earlier in the WITH chain)."""
    fc_pred = flags.fine_channel_pred_sql(syn.NUM_FC, n_edge=N_EDGE, is_legacy=IS_LEGACY)
    flagged = flags.set_flags_oracle_select(
        "vis", "ts_flags", "bl_flags", fc_pred, vis_columns)
    if vis_cte is None:
        vis_cte = syn.vis_sql()
    if vis_where:
        vis_cte = f"SELECT * FROM ({vis_cte}) WHERE {vis_where}"
    dims = (
        f" antennas AS ({syn.ANTENNAS_SQL}),"
        f" timesteps AS ({syn.TIMESTEPS_SQL}),"
        f" {_flag_ctes()},"
    ) if include_dims else ""
    return (
        f"vis AS ({vis_cte}),"
        f"{dims}"
        f" flagged AS ({flagged})"
    )


def baked_oracle_ctes(vis_where: str = "", ssins_rfi: bool = False,
                      pre_ctes: str = "", vis_cte: str | None = None,
                      st_rfi: bool = False,
                      dims_before_pre: bool = False) -> str:
    """CTE chain vis → … → ``baked`` (the pre-averaging pipeline state,
    incl. u/v/w from the geometry stage). With ``ssins_rfi`` the SSINS
    CTE chain (operators/ssins.py) is spliced in after the passband
    stage — the reference's AOFlagger slot — and its (t, chan) mask is
    OR-ed into the flags; with ``st_rfi`` that slot runs the relational
    SumThreshold (operators/rfi_sql.py) over the cell-unique reduction
    instead, its per-cell mask OR-ed onto every row of the cell.
    ``pre_ctes``/``vis_cte`` splice a replacement head (the Van Vleck
    chain) before the rule-flag stage."""
    cols = syn.VIS_COLUMNS
    cols_uvw = tuple(cols) + ("u", "v", "w")
    # v0.18.0 flag gate: C2/C4/C5 leave fully-flagged (t, cc) cells raw —
    # the gate column rides along through cable/digital and is dropped by
    # the passband select's output list
    cols_g = tuple(cols) + (corrections.GATE_COL,)
    gate = corrections.cell_gate_oracle_select("flagged")
    flaggedg = corrections.attach_cell_gate_oracle_select("flagged")
    cable = corrections.cable_oracle_select("flaggedg", "antennas", cols_g,
                                            gated=True)
    digital = corrections.digital_oracle_select("cabled", "digital_gains",
                                                cols_g, gated=True)
    fine_gains = corrections.fine_gains_values_sql(FINE_GAIN_ROWS)
    passband = corrections.passband_oracle_select("digitald", "fine_gains",
                                                  cols, gated=True)
    geom_in = "rfid" if (ssins_rfi or st_rfi) else "passbanded"
    geom = corrections.geom_oracle_select(geom_in, "part_uvw", cols)
    cal = calibration.calibration_oracle_select("geomed", "calsols", CAL_RATIO, cols_uvw)
    baked_cols = weights.bake_oracle_columns(cols_uvw)
    rfi_ctes = ""
    if ssins_rfi:
        from birli_spark.operators import ssins

        rfi_ctes = ssins.ssins_flag_vis_oracle_ctes("passbanded", cols)
    elif st_rfi:
        from birli_spark.operators import rfi_sql

        st_ctes, st_mask = rfi_sql.sumthreshold_parts(
            "st_cell", median_fn="quantile_cont")
        rfid_cols = ", ".join(
            "(p.flag OR m.det) AS flag" if c == "flag" else f"p.{c}"
            for c in cols
        )
        rfi_ctes = (
            f" st_cell AS ({rfi_sql.cell_dedup_select('passbanded', cols)}),"
            f" {st_ctes},"
            f" st_maskr AS ({st_mask}),"
            f" rfid AS (SELECT {rfid_cols} FROM passbanded p"
            f" JOIN st_maskr m ON p.ant1 = m.ant1 AND p.ant2 = m.ant2"
            f" AND p.t = m.t AND p.chan = m.chan),"
        )
    dim_head = ""
    if dims_before_pre:
        # the pre-CTE chain (Van Vleck + its v0.18.0 gate) references
        # the flag dims — hoist them in front of it
        dim_head = (f"antennas AS ({syn.ANTENNAS_SQL}),"
                    f" timesteps AS ({syn.TIMESTEPS_SQL}),"
                    f" {_flag_ctes()}, ")
    return (
        f"{dim_head}"
        f"{pre_ctes}"
        f"{flagged_vis_oracle_cte(vis_where=vis_where, vis_cte=vis_cte, include_dims=not dims_before_pre)},"
        f" digital_gains AS ({syn.DIGITAL_GAINS_SQL}),"
        f" fine_gains AS ({fine_gains}),"
        f" part_uvw AS ({syn.PART_UVW_SQL}),"
        f" calsols AS ({syn.CALSOLS_SQL}),"
        f" cell_gate AS ({gate}),"
        f" flaggedg AS ({flaggedg}),"
        f" cabled AS ({cable}),"
        f" digitald AS ({digital}),"
        f" passbanded AS ({passband}),"
        f"{rfi_ctes}"
        f" geomed AS ({geom}),"
        f" caled AS ({cal}),"
        f" baked AS (SELECT {baked_cols} FROM caled)"
    )


def preprocess_oracle_sql(avg_time: int = AVG_TIME, avg_freq: int = AVG_FREQ,
                          vis_where: str = "",
                          extra_mean_cols: tuple[str, ...] = (),
                          ssins_rfi: bool = False) -> str:
    """One DuckDB query equivalent to :func:`preprocess` — each stage a CTE
    reusing the exact scalar fragments the Spark plan uses."""
    avg = averaging.averaging_oracle_select("baked", avg_time, avg_freq,
                                            extra_mean_cols)
    return f"WITH {baked_oracle_ctes(vis_where, ssins_rfi=ssins_rfi)} {avg}"
