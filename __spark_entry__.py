"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship preprocessing pipeline at sf0.001;
``queries()`` exposes one entry per implemented SURVEY.md §2 operator;
``oracle_sql()`` gives the DuckDB-equivalent SQL for each.

The Birli-parity operators run over a deterministic long-format vis table
derived from ``lineitem`` (birli_spark/sources/synthetic.py) — integer
arithmetic only, mirrored verbatim in the oracle SQL, with every float
output demoted through f32 (the reference's own promote/compute/demote
pattern) so Spark and DuckDB hash identically.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from birli_spark import pipeline
from birli_spark.operators import (
    asof,
    averaging,
    corpus_clean,
    calibration,
    chunking,
    clustering,
    corrections,
    dedup,
    describe,
    events,
    flags,
    gridding,
    layout,
    multimodal,
    occupancy,
    picket,
    quantization,
    relational,
    rfi_sql,
    search,
    selection,
    similarity,
    ssins,
    sketches,
    text,
    vanvleck_sql,
    weights,
)
from birli_spark.functions import textsql
from birli_spark.sinks import flagsink
from birli_spark.sinks import ms as ms_sink
from birli_spark.sinks import uvfits as uvfits_sink
from birli_spark.sources import gpubox
from birli_spark.sources import synthetic as syn

_COLS = syn.VIS_COLUMNS


def _with_vis(select: str, extra_ctes: str = "") -> str:
    ctes = f"vis AS ({syn.vis_sql()})"
    if extra_ctes:
        ctes += ", " + extra_ctes
    return f"WITH {ctes} {select}"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the full preprocessing pipeline (rule flags → cable →
    digital gains → passband → geometry → DI calibration → flag baking →
    4x2 time/freq averaging) at sf0.001."""
    return pipeline.preprocess(spark, "/root/testdata/sf0.001")


# --------------------------------------------------------------- queries ---

def _q_vis_scan(spark, sf_dir):
    return syn.load_vis(spark, sf_dir)


def _q_select_ranges(spark, sf_dir):
    return selection.select_ranges(
        syn.load_vis(spark, sf_dir), t_min=2, t_max=10, coarse_chans=(0, 2))


def _q_select_ranges_partitioned(spark, sf_dir):
    """P1b — the SAME range selection over the MATERIALIZED cc-
    partitioned parquet layout (sources/synthetic.py::
    materialize_vis_partitioned): proves the 100 TB layout claim end to
    end — the cc predicate becomes a PartitionFilters directory prune
    (asserted on the plan in tests/test_partitioned_layout.py), and the
    result hash-matches the derived-scan p1 oracle."""
    import os
    import tempfile

    out = os.path.join(tempfile.gettempdir(),
                       "birli_vis_cc_" + sf_dir.strip("/").replace("/", "_"))
    syn.materialize_vis_partitioned(spark, sf_dir, out)
    vis = spark.read.parquet(out).select(*syn.VIS_COLUMNS)
    return selection.select_ranges(vis, t_min=2, t_max=10,
                                   coarse_chans=(0, 2))


def _q_retain_antennas(spark, sf_dir):
    return selection.retain_antennas(syn.load_vis(spark, sf_dir), (0, 1, 2))


def _q_filter_flagged_ants(spark, sf_dir):
    ants = syn.load_dim(spark, "antennas").filter(F.col("flagged"))
    return selection.filter_antennas(syn.load_vis(spark, sf_dir), ants)


def _q_filter_autos(spark, sf_dir):
    return selection.filter_autos(syn.load_vis(spark, sf_dir))


def _q_quack_flags(spark, sf_dir):
    ts = syn.load_dim(spark, "timesteps")
    return flags.flag_timesteps_quack(
        ts, syn.GPS_START, pipeline.OBS_END_GPS, quack_s=pipeline.QUACK_S)


def _q_baseline_flags(spark, sf_dir):
    return flags.baseline_flags(syn.load_dim(spark, "antennas"))


_EXPLICIT_FCS = (2, 5)


def _q_fine_chan_flags(spark, sf_dir):
    pred = flags.flag_fine_channels(
        syn.NUM_FC, n_edge=pipeline.N_EDGE, is_legacy=pipeline.IS_LEGACY,
        explicit_fcs=_EXPLICIT_FCS)
    return (syn.load_vis(spark, sf_dir)
            .select("cc", "fc").distinct()
            .withColumn("fc_flag", pred))


def _q_set_flags(spark, sf_dir):
    return pipeline.rule_flags(spark, syn.load_vis(spark, sf_dir))


def _q_unflagged_ranges(spark, sf_dir):
    return flags.unflagged_timestep_ranges(
        pipeline.rule_flags(spark, syn.load_vis(spark, sf_dir)))


def _q_missing_slabs(spark, sf_dir):
    vis = syn.load_vis(spark, sf_dir).filter(
        ~((F.col("t") == 3) & (F.col("cc") == 1)))
    return flags.flag_missing_slabs(vis)


def _q_bake_weights(spark, sf_dir):
    return weights.bake_flags_into_weights(
        pipeline.rule_flags(spark, syn.load_vis(spark, sf_dir)))


def _q_cable(spark, sf_dir):
    return corrections.correct_cable_lengths(
        syn.load_vis(spark, sf_dir), syn.load_dim(spark, "antennas"))


def _q_ssins_autos(spark, sf_dir):
    """F12 — SSINS autocorrelation variant: per-antenna power diffs,
    undiluted RFI sensitivity on A rows per (t, chan)."""
    return ssins.ssins_autos(syn.load_vis(spark, sf_dir))


def _q_ssins(spark, sf_dir):
    """F11 — SSINS incoherent noise spectra (Wilensky et al. 2019): the
    all-relational, JVM-side RFI detector complementing the F9
    SumThreshold UDF island (reference src/flags.rs:368-437)."""
    return ssins.ssins_spectra(syn.load_vis(spark, sf_dir))


def _q_uv_grid(spark, sf_dir):
    """IM1 — natural-weighted uv-plane gridding of the geometry-corrected,
    weight-baked visibilities (the imaging handoff; A1's aggregation shape
    keyed on wavelength-scaled uv cells)."""
    baked = weights.bake_flags_into_weights(syn.load_vis(spark, sf_dir))
    geom = corrections.correct_geometry(baked, syn.load_dim(spark, "part_uvw"))
    return gridding.uv_grid(geom)


def _q_uv_grid_uniform(spark, sf_dir):
    """IM2 — uniform-weighted uv gridding (the imager's -weight uniform):
    every unflagged sample in a cell contributes equally."""
    baked = weights.bake_flags_into_weights(syn.load_vis(spark, sf_dir))
    geom = corrections.correct_geometry(baked, syn.load_dim(spark, "part_uvw"))
    return gridding.uv_grid_uniform(geom)


def _q_dirty_image(spark, sf_dir):
    """IM4 — dirty image from the natural-weighted uv grid: MFS channel
    stack then the inverse DFT — with NO Hermitian completion (plane
    coverage as carried by the input) — as a SEPARABLE exact-tick kernel (two literal dims, one per axis, quantized
    driver-side so both engines consume identical integers). The
    transform runs entirely on the dim-sized grid — the fact-scale
    aggregation already happened in IM1, so this stage is bounded by
    aperture^2 x pixels^2 at any data volume."""
    baked = weights.bake_flags_into_weights(syn.load_vis(spark, sf_dir))
    geom = corrections.correct_geometry(baked, syn.load_dim(spark, "part_uvw"))
    return gridding.dirty_image(geom)


def _q_psf_image(spark, sf_dir):
    """IM5 — the point-spread function: IM4's inverse DFT over the
    grid's WEIGHT plane — the synthesized beam an imager deconvolves
    the dirty map with. Same kernel dims, aperture and exactness
    bound; same dim-sized cost."""
    baked = weights.bake_flags_into_weights(syn.load_vis(spark, sf_dir))
    geom = corrections.correct_geometry(baked, syn.load_dim(spark, "part_uvw"))
    return gridding.psf_image(geom)


def _q_delay_spectrum(spark, sf_dir):
    """IM3 — per-baseline delay power spectrum (frequency->delay DFT,
    Parsons et al. 2012): tick-exact relational transform — ONE
    broadcast join against the N^2-row integer DFT coefficient dim +
    one partial+final aggregation on (t, bl, k)
    (operators/delay.py)."""
    from birli_spark.operators import delay
    return delay.delay_spectrum(spark, syn.load_vis(spark, sf_dir),
                                syn.NUM_CC * syn.NUM_FC)


def _q_delay_spectrum_udf(spark, sf_dir):
    """IM3b — the identical integer transform as a grouped numpy int64
    matmul per baseline (the O(N log N) FFT slot at 100 TB; one
    image-forming shuffle, zero with baseline bucketing). EXACT twin of
    im3 — shares its DuckDB oracle."""
    from birli_spark.operators import delay
    return delay.delay_spectrum_udf(syn.load_vis(spark, sf_dir),
                                    syn.NUM_CC * syn.NUM_FC)


def _q_digital(spark, sf_dir):
    return corrections.correct_digital_gains(
        syn.load_vis(spark, sf_dir), syn.load_dim(spark, "digital_gains"))


def _q_passband(spark, sf_dir):
    fine_gains = spark.sql(corrections.fine_gains_values_sql(pipeline.FINE_GAIN_ROWS))
    return corrections.correct_passband_gains(syn.load_vis(spark, sf_dir), fine_gains)


def _q_geometry(spark, sf_dir):
    return corrections.correct_geometry(
        syn.load_vis(spark, sf_dir), syn.load_dim(spark, "part_uvw"))


#: demo phase centre for the first-principles UVW geometry query
#: (RA 5h, Dec −26.7°, LST₀ 1 rad — arbitrary but fixed)
_PC = dict(ra_rad=1.3089969389957472, dec_rad=-0.4660029,
           lst0_rad=1.0)


#: the reference's own MWAX gpubox test files (read-only; reference
#: tests/data/README.md documents the coordinate-encoded cell values)
_MWAX_GLOB = ("/root/reference/tests/data/1297526432_mwax/"
              "1297526432_*_ch11[78]_00[01].fits")


def _q_mwax_gpubox_scan(spark, sf_dir):
    """S1d — distributed scan of REAL MWAX gpubox FITS (the reference's
    own test files); the oracle regenerates every coordinate-encoded
    cell closed-form, so a hash match proves byte-level format parity."""
    from birli_spark.sources import gpubox
    return gpubox.read_mwax_gpubox(spark, _MWAX_GLOB)


_METAFITS = ("/root/reference/tests/data/1297526432_mwax/"
             "1297526432.metafits")


def _q_metafits_dims(spark, sf_dir):
    """S3b — antenna dimension parsed from the REFERENCE's own real
    metafits; the oracle is a VALUES literal transcribed from the
    reference repo's human-readable metafits dump (independent of this
    parser), so a hash match proves the TILEDATA bintable decode."""
    from birli_spark.sources import metafits as mf
    _, td = mf.read_metafits(_METAFITS)
    return mf.antennas_df(spark, td)


_ORD_DIR = "/root/reference/tests/data/1196175296_mwa_ord"


def _q_legacy_gpubox_scan(spark, sf_dir):
    """S1e — REAL legacy (Ord) gpubox decode, restricted to the exact
    (timestep, baseline) set of the reference's pyuvdata golden CSV; the
    ORACLE reads that CSV itself (DuckDB read_csv + regex complex
    parse), so the driver directly certifies our decode against the
    reference's own golden-output fixture."""
    from pyspark.sql import functions as F

    from birli_spark.sources import legacy_gpubox as lg
    vis = lg.read_legacy_gpubox(
        spark, f"{_ORD_DIR}/1196175296_*gpubox*.fits",
        f"{_ORD_DIR}/1196175296.metafits")
    first_ms = 1512140080000
    code = "(ant1 + 1) * 256 + (ant2 + 1)"
    out = (vis.filter(F.col("unix_ms") == first_ms)
           .withColumn("baseline", F.expr(code))
           .filter(F.expr("baseline BETWEEN 257 AND 384 "
                          "OR baseline BETWEEN 514 AND 635")))
    parts = []
    for pol in ("xx", "xy", "yx", "yy"):
        parts.append(out.select(
            "baseline", F.lit(pol).alias("pol"), "chan",
            F.col(f"{pol}_re").alias("re"), F.col(f"{pol}_im").alias("im")))
    u = parts[0]
    for p_ in parts[1:]:
        u = u.unionByName(p_)
    return u


def _q_geometry_phase_centre(spark, sf_dir):
    from birli_spark.operators import geometry
    part_uvw = geometry.part_uvw_table(
        spark, syn.load_dim(spark, "antennas"), syn.NUM_T,
        int_time_s=syn.INT_TIME_S, **_PC)
    return corrections.correct_geometry(
        syn.load_vis(spark, sf_dir), part_uvw)


#: C3c phase centre — the real fixture's (RAPHASE=0, DECPHASE=-27 deg)
_PREC_PC = dict(ra_rad=0.0, dec_rad=-27.0 * 3.141592653589793 / 180.0)


def _q_part_uvw_precessed(spark, sf_dir):
    """C3c: the (t, ant) partial-UVW dim WITH IAU-2006 precession,
    nutation (2000B leading terms), and ERA/GMST — first-principles, no
    ERFA (operators/precession.py; validated to ~1.3 mm against
    Cotter's real UVW dump in test_golden_cotter)."""
    from birli_spark.operators import precession
    spark.sql(f"CREATE OR REPLACE TEMP VIEW c3c_antennas AS "
              f"{syn.ANTENNAS_SQL}")
    return spark.sql(precession.part_uvw_precessed_sql(
        textsql.SPARK, gps_start=float(syn.GPS_START),
        int_time_s=syn.INT_TIME_S, num_t=syn.NUM_T,
        antennas="c3c_antennas", **_PREC_PC))


def _prec_oracle_sql() -> str:
    from birli_spark.operators import precession
    steps, final = precession.part_uvw_precessed_steps(
        textsql.DUCK, gps_start=float(syn.GPS_START),
        int_time_s=syn.INT_TIME_S, num_t=syn.NUM_T,
        antennas="ante", **_PREC_PC)
    ctes = ",\n".join(f"{n} AS ({b})" for n, b in steps)
    return f"WITH ante AS ({syn.ANTENNAS_SQL}),\n{ctes}\n{final}"


def _q_calibration(spark, sf_dir):
    return calibration.apply_di_calsol(
        syn.load_vis(spark, sf_dir), syn.load_dim(spark, "calsols"),
        pipeline.CAL_RATIO)


def _q_solve_di_gains(spark, sf_dir):
    """C7 — the StEFCal DI gain solver, hash-gated against a KNOWN-TRUTH
    oracle: the data side is the closed-form diagonal sandwich of
    synth_gain_sql applied to the vis fact, so the solver must converge
    back to those gains (ref-normalised, 1e-6 ticks) while the DuckDB
    oracle computes them directly from the closed form — a genuine
    convergence gate on an iterative numeric operator. The relational
    time-mean pre-reduction bounds the shuffled solve input by
    n_baselines x n_chans (the 100 TB shape; see
    operators/calibration.py)."""
    syn.load_vis(spark, sf_dir).createOrReplaceTempView("c7_vis")
    pairs = spark.sql(calibration.synth_pairs_select("c7_vis"))
    sol = calibration.solve_di_gains(
        pairs, n_ant=syn.NUM_ANTS, normalize_ref=0, iters=500, tol=1e-15)
    return sol.selectExpr(*calibration.gain_ticks_exprs())


def _q_average(spark, sf_dir):
    vis = weights.bake_flags_into_weights(
        pipeline.rule_flags(spark, syn.load_vis(spark, sf_dir)))
    return averaging.average_time_freq(vis, pipeline.AVG_TIME, pipeline.AVG_FREQ)


def _q_chan_occupancy(spark, sf_dir):
    return occupancy.channel_occupancy(
        pipeline.rule_flags(spark, syn.load_vis(spark, sf_dir)))


def _q_bl_occupancy(spark, sf_dir):
    return occupancy.baseline_occupancy(
        pipeline.rule_flags(spark, syn.load_vis(spark, sf_dir)))


def _q_rowcount(spark, sf_dir):
    return syn.load_vis(spark, sf_dir).agg(F.count("*").alias("n_rows"))


def _q_pipeline(spark, sf_dir):
    return pipeline.preprocess(spark, sf_dir)


def _q_pipeline_ssins(spark, sf_dir):
    """The COMPLETE reference flowchart (flags → corrections → RFI →
    bake → average) as one oracle-checkable plan: the RFI slot runs the
    all-relational SSINS flagger instead of the F9 UDF island."""
    return pipeline.preprocess(spark, sf_dir, ssins_rfi=True)


def _q_van_vleck(spark, sf_dir):
    """C1 as the RELATIONAL fixed-unroll Newton plan (hash-checkable
    against the DuckDB oracle; see operators/vanvleck_sql.py). The
    full-f64 UDF island stays the pipeline/CLI path and is gated
    separately as c1b_van_vleck_udf."""
    from birli_spark.operators import vanvleck_sql as vv_sql
    return vv_sql.van_vleck_spark_wide(
        spark, sf_dir, syn.VV_SAMPLE_SCALE, (3,))


def _q_van_vleck_udf(spark, sf_dir):
    from birli_spark.operators import vanvleck
    vis = syn.load_vis_legacy(spark, sf_dir)
    return vanvleck.correct_van_vleck(vis, syn.VV_SAMPLE_SCALE, flagged_ants=[3])


def _st10_oracle_sql() -> str:
    """Batch twin of the streaming SumThreshold mask: cell-unique
    reduction of the RAW vis (the stream folds raw samples, rule flags
    are a batch-pipeline stage) -> the relational mask."""
    st_ctes, st_mask = rfi_sql.sumthreshold_parts(
        "cellv", "quantile_cont", prefix="st10")
    return (f"WITH vis AS ({syn.vis_sql()}),\n"
            f"cellv AS ({rfi_sql.cell_dedup_select('vis', _COLS)}),\n"
            f"{st_ctes}\n{st_mask}")


def _f9_oracle_sql() -> str:
    ctes, final = rfi_sql.flag_rfi_parts("cellv", "quantile_cont",
                                         columns=_COLS)
    return (f"WITH {pipeline.flagged_vis_oracle_cte()},\n"
            f"cellv AS ({rfi_sql.cell_dedup_select('flagged', _COLS)}),\n"
            f"{ctes}\n{final}")


def _rfi_cell_view(spark, sf_dir):
    """Deterministic cell-unique flagged vis (operators/rfi_sql.py::
    cell_dedup_select) — the shared input of both F9 surfaces."""
    vis = pipeline.rule_flags(spark, syn.load_vis(spark, sf_dir))
    vis.createOrReplaceTempView("f9_flagged")
    cell = rfi_sql.cell_dedup_select("f9_flagged", tuple(vis.columns))
    # cell-count-sized: checkpoint so the downstream window chains
    # (24 SumThreshold layers, SIR passes, the UDF image grouping)
    # don't re-analyze/re-run the scan+flags plan per consumer
    return (spark.sql(cell).localCheckpoint(eager=True),
            tuple(vis.columns))


def _q_rfi(spark, sf_dir):
    """F9 as the RELATIONAL window-function SumThreshold (hash-checkable
    against the DuckDB oracle; operators/rfi_sql.py). The f64 UDF island
    stays the pipeline/CLI path, gated as f9b_rfi_sumthreshold_udf."""
    cell, cols = _rfi_cell_view(spark, sf_dir)
    cell.createOrReplaceTempView("f9_cell")
    ctes, final = rfi_sql.flag_rfi_parts("f9_cell", "percentile",
                                         columns=cols)
    return spark.sql(f"WITH {ctes} {final}")


def _q_rfi_sir(spark, sf_dir):
    """F9c: SumThreshold -> SIR morphological dilation (Offringa & van
    de Gronde 2012) — the two halves of AOFlagger's actual strategy
    composed relationally (operators/rfi_sql.py::sir_parts)."""
    cell, cols = _rfi_cell_view(spark, sf_dir)
    cell.createOrReplaceTempView("f9c_cell")
    st_ctes, st_mask = rfi_sql.sumthreshold_parts(
        "f9c_cell", "percentile", prefix="f9c")
    sir_ctes, sir_final = rfi_sql.sir_parts("f9c_mask")
    return spark.sql(
        f"WITH {st_ctes}, f9c_mask AS ({st_mask}), {sir_ctes} {sir_final}")


def _q_rfi_strategy(spark, sf_dir):
    """F9d: the published AOFlagger GENERIC strategy structure —
    iterative SumThreshold at decreasing thresholds with a flag-masked
    Gaussian sliding-window fit between iterations, final pass + SIR —
    as one hash-gated relational chain (operators/rfi_sql.py::
    aoflagger_strategy_steps; numpy twin rfi.py::
    aoflagger_strategy_mask)."""
    cell, cols = _rfi_cell_view(spark, sf_dir)
    cell.createOrReplaceTempView("f9d_cell")
    return rfi_sql.aoflagger_strategy_spark(spark, "f9d_cell",
                                            prefix="f9d")


def _f9d_oracle_sql() -> str:
    ctes, final = rfi_sql.aoflagger_strategy_sql(
        "cellv", "quantile_cont", prefix="f9d")
    return (f"WITH {pipeline.flagged_vis_oracle_cte()},\n"
            f"cellv AS ({rfi_sql.cell_dedup_select('flagged', _COLS)}),\n"
            f"{ctes}\n{final}")


def _q_rfi_mwa(spark, sf_dir):
    """F9e: the mwa-default AOFlagger ORCHESTRATION the reference FFIs
    (src/flags.rs:354-437) — per-polarization iterative ladders with
    timestep/channel-RMS thresholding and the frequency-downsampled
    Gaussian re-fit, pol masks OR-joined, all-pol-zero flagging, SIR,
    final timestep-RMS — as one hash-gated relational chain
    (operators/rfi_sql.py::mwa_strategy_steps; numpy twin rfi.py::
    mwa_strategy_mask_pols, flag-for-flag measured against the
    reference's own cotter mwa-default golden in
    tests/test_golden_mwa_flags.py)."""
    cell, cols = _rfi_cell_view(spark, sf_dir)
    cell.createOrReplaceTempView("f9e_cell")
    return rfi_sql.mwa_strategy_spark(spark, "f9e_cell", prefix="f9e")


def _f9e_oracle_sql() -> str:
    ctes, final = rfi_sql.mwa_strategy_sql(
        "cellv", "quantile_cont", prefix="f9e")
    return (f"WITH {pipeline.flagged_vis_oracle_cte()},\n"
            f"cellv AS ({rfi_sql.cell_dedup_select('flagged', _COLS)}),\n"
            f"{ctes}\n{final}")


def _f9c_oracle_sql() -> str:
    st_ctes, st_mask = rfi_sql.sumthreshold_parts(
        "cellv", "quantile_cont", prefix="f9c")
    sir_ctes, sir_final = rfi_sql.sir_parts("f9c_mask")
    return (f"WITH {pipeline.flagged_vis_oracle_cte()},\n"
            f"cellv AS ({rfi_sql.cell_dedup_select('flagged', _COLS)}),\n"
            f"{st_ctes}, f9c_mask AS ({st_mask}), {sir_ctes}\n{sir_final}")


def _q_rfi_udf(spark, sf_dir):
    from birli_spark.operators import rfi
    cell, _ = _rfi_cell_view(spark, sf_dir)
    return rfi.flag_rfi(cell)


def _q_rfi_mwa_float(spark, sf_dir):
    """F9f: the CLI's PRODUCTION mwa-default path — the float UDF
    island with AOFlagger's own statistics (Winsorized-mode noise,
    float Gaussian fit; rfi.flag_rfi_mwa), measured at
    0.9837 agreement / 0.9195 recall against the reference's own cotter
    golden (tests/test_golden_mwa_flags.py). Deliberately rows-only
    like the other f64 UDF twins (c1b/f9b): float windowed statistics
    are not association-stable across engines."""
    from birli_spark.operators import rfi
    cell, _ = _rfi_cell_view(spark, sf_dir)
    return rfi.flag_rfi_mwa(cell)


def _q_pipeline_full(spark, sf_dir):
    """The COMPLETE reference flowchart including both former UDF
    islands (C1 Van Vleck, F9 SumThreshold) as ONE hash-gated
    relational plan (pipeline.preprocess_full_rel)."""
    return pipeline.preprocess_full_rel(spark, sf_dir)


def _q_pipeline_full_udf(spark, sf_dir):
    return pipeline.preprocess_full(spark, sf_dir)


def _q_corpus_clean(spark, sf_dir):
    from birli_spark.operators import corpus_clean
    from birli_spark.sources import corpus
    return corpus_clean.clean_corpus(corpus.load_documents(spark, sf_dir))


# --- sources, sinks, picket fence, describe (S3-S5, O1, O3-O4, P5) ---

def _q_antenna_dim(spark, sf_dir):
    return syn.load_dim(spark, "antennas")


_GPUBOX_SHAPE = dict(num_cc=3, num_ants=4, num_fine=8, num_timesteps=8)


def _q_gpubox_scan(spark, sf_dir):
    import os
    import tempfile
    from birli_spark.sources import gpubox
    d = os.path.join(tempfile.gettempdir(), "birli_spark_gpubox")
    os.makedirs(d, exist_ok=True)
    for cc in range(_GPUBOX_SHAPE["num_cc"]):
        gpubox.write_gpubox(
            os.path.join(d, f"gpubox_{cc:02d}.fits"), cc,
            _GPUBOX_SHAPE["num_ants"], _GPUBOX_SHAPE["num_fine"],
            _GPUBOX_SHAPE["num_timesteps"], obsid=1297526432)
    return gpubox.read_gpubox(spark, d + "/*.fits")


#: bench-scale gpubox set: 24 coarse channels (the real MWA count),
#: 16 ants (136 baselines), 32 fine chans, 8 timesteps -> 835,584 rows.
#: The direct analogue of the reference's flagship read benchmark
#: ("read gpubox -> Jones cube", BASELINE.md).
# single source of truth for the s1g/s1h bench observation shape AND
# the fixture generator (pipeline_e2e.scan_dir — both queries share the
# cache directory and '.complete' marker)
def _gpubox_bench_dims() -> dict:
    from birli_spark import pipeline_e2e as E
    return dict(num_cc=E.NUM_CC, num_ants=E.NUM_ANTS,
                num_fine=E.NUM_FINE, num_timesteps=E.NUM_T)


def _q_gpubox_read_bench(spark, sf_dir):
    from birli_spark import pipeline_e2e
    from birli_spark.sources import gpubox
    return gpubox.read_gpubox(spark, pipeline_e2e.scan_dir() + "/*.fits")


def _q_real_format_e2e(spark, sf_dir):
    """S1h — the reference's END-TO-END wall-clock composition
    (BASELINE.md, obs 1090008640: read + cable + RFI + geometry +
    uvfits write) over the s1g real-format observation: gpubox FITS
    scan -> rule flags -> gated cable -> SSINS RFI -> geometry -> bake
    -> average -> UVFITS rows + the PHYSICAL executor-parallel write
    (birli_spark/pipeline_e2e.py). One hash-gated plan end to end."""
    import os
    import tempfile

    from birli_spark import pipeline_e2e
    out = os.path.join(tempfile.gettempdir(), "birli_e2e_bench.uvfits")
    return pipeline_e2e.e2e_rows(spark, write_path=out)


def _q_gpubox_datasource(spark, sf_dir):
    """Same scan through the registered Python DataSource
    (spark.read.format('gpubox')) — shares s1b's oracle."""
    import os
    import tempfile
    from birli_spark.sources import gpubox
    d = os.path.join(tempfile.gettempdir(), "birli_spark_gpubox")
    os.makedirs(d, exist_ok=True)
    for cc in range(_GPUBOX_SHAPE["num_cc"]):
        gpubox.write_gpubox(
            os.path.join(d, f"gpubox_{cc:02d}.fits"), cc,
            _GPUBOX_SHAPE["num_ants"], _GPUBOX_SHAPE["num_fine"],
            _GPUBOX_SHAPE["num_timesteps"], obsid=1297526432)
    gpubox.register_gpubox_source(spark)
    return spark.read.format("gpubox").load(d + "/*.fits")


def _q_aocal_scan(spark, sf_dir):
    import tempfile
    from birli_spark.sources import aocal
    path = f"{tempfile.gettempdir()}/birli_spark_calsols.bin"
    aocal.write_synthetic_calsols(path, syn.NUM_ANTS, syn.NUM_CHAN_SOL)
    return aocal.calsols_df(spark, path)


def _q_flag_roundtrip(spark, sf_dir):
    import tempfile
    from birli_spark.sinks import flagsink
    out = f"{tempfile.gettempdir()}/birli_spark_flagsink"
    vis = pipeline.rule_flags(spark, syn.load_vis(spark, sf_dir))
    flagsink.write_flags(vis, out, obsid=1254670392, gps_start=syn.GPS_START)
    return flagsink.read_flags(spark, out)


def _q_mwaf_roundtrip(spark, sf_dir):
    import tempfile
    from birli_spark.sinks import mwaf
    out = f"{tempfile.gettempdir()}/birli_spark_mwaf"
    vis = pipeline.rule_flags(spark, syn.load_vis(spark, sf_dir))
    mwaf.write_mwaf_set(vis, out, obsid=1254670392, gps_start=syn.GPS_START)
    return mwaf.read_mwaf_set(spark, out)


def _q_mwaf_datasource(spark, sf_dir):
    """Same read-back through the registered Python DataSource
    (spark.read.format('mwaf')) — shares o3b's oracle."""
    import tempfile
    from birli_spark.sinks import mwaf
    out = f"{tempfile.gettempdir()}/birli_spark_mwaf"
    vis = pipeline.rule_flags(spark, syn.load_vis(spark, sf_dir))
    mwaf.write_mwaf_set(vis, out, obsid=1254670392, gps_start=syn.GPS_START)
    mwaf.register_mwaf_source(spark)
    # align with o3b's BIGINT key columns so the shared oracle hashes
    return (spark.read.format("mwaf").load(out)
            .selectExpr("CAST(t AS BIGINT) AS t", "CAST(bl AS BIGINT) AS bl",
                        "CAST(cc AS BIGINT) AS cc", "CAST(fc AS BIGINT) AS fc",
                        "flag"))


def _q_uvfits_rows(spark, sf_dir):
    from birli_spark.sinks import uvfits
    baked = pipeline.preprocess_baked(spark, sf_dir)
    return uvfits.uvfits_group_rows(
        baked, pipeline.AVG_TIME, pipeline.AVG_FREQ,
        syn.GPS_START, syn.INT_TIME_S)


def _q_uvfits_file(spark, sf_dir):
    """O1b: write the PHYSICAL random-groups UVFITS via the executor-
    parallel writer, read the bytes back, hash-gate the content against
    the f32-demoted oracle (sinks/uvfits.py::uvfits_file_rows) — and
    double as the write-stage bench mirroring the reference's uvfits
    write criterion benchmark (doc/benchmark_results.md)."""
    import os
    import tempfile
    from birli_spark.sinks import uvfits
    baked = pipeline.preprocess_baked(spark, sf_dir)
    rows = uvfits.uvfits_group_rows(
        baked, pipeline.AVG_TIME, pipeline.AVG_FREQ,
        syn.GPS_START, syn.INT_TIME_S)
    path = os.path.join(
        tempfile.gettempdir(),
        f"birli_spark_o1b_{os.path.basename(sf_dir.rstrip('/'))}.uvfits")
    return uvfits.uvfits_file_rows(
        spark, rows, path, jd_zero=uvfits.obs_jd_zero(syn.GPS_START))


def _q_uvfits_scan(spark, sf_dir):
    """S1j — read the physical random-groups UVFITS back DISTRIBUTED
    through the registered Python DataSource
    (sources/uvfits_source.py): the driver plans byte-range partitions
    from the header alone (fixed-size group records), each task seeks
    and decodes only its slice — the distributed writer's fixed-offset
    arithmetic in reverse. Shares o1b's oracle verbatim (the scan's row
    convention IS the byte-gate read-back)."""
    import os
    import tempfile

    from birli_spark.sinks import uvfits
    from birli_spark.sources.uvfits_source import register_uvfits_source

    path = os.path.join(
        tempfile.gettempdir(),
        f"birli_spark_s1j_{os.path.basename(sf_dir.rstrip('/'))}.uvfits")
    # the s1g '.complete' pattern: the writer pre-sizes the file BEFORE
    # the executor job, so a killed run leaves a zeros-only file — gate
    # the cache on a marker written after the job finishes. The marker
    # embeds a code fingerprint so bytes written by an older checkout
    # regenerate instead of being gated as current (session.marker_valid).
    from birli_spark import session as _session
    marker = path + ".complete"
    if not _session.marker_valid(marker):
        baked = pipeline.preprocess_baked(spark, sf_dir)
        rows = uvfits.uvfits_group_rows(
            baked, pipeline.AVG_TIME, pipeline.AVG_FREQ,
            syn.GPS_START, syn.INT_TIME_S).localCheckpoint(eager=True)
        n_chan = syn.NUM_CC * syn.NUM_FC // pipeline.AVG_FREQ
        uvfits.write_uvfits_distributed(
            rows, path, n_chan,
            jd_zero=uvfits.obs_jd_zero(syn.GPS_START)).count()
        _session.write_marker(marker)
    register_uvfits_source(spark)  # idempotent (replaces)
    return spark.read.format("uvfits").option(
        "groups_per_task", "64").load(path)


def _q_ms_rows(spark, sf_dir):
    from birli_spark.sinks import ms
    baked = pipeline.preprocess_baked(spark, sf_dir)
    return ms.ms_main_rows(baked, pipeline.AVG_TIME, pipeline.AVG_FREQ,
                           syn.GPS_START, syn.INT_TIME_S)


def _q_ms_file(spark, sf_dir):
    """O2c: write the PHYSICAL casacore-layout Measurement Set
    (executor-parallel MAIN bulk into table.f0 + full subtable tree,
    sinks/ms_file.py — reference write_ms, src/io/mod.rs:542-595),
    parse the bytes back with the independent reader, and hash-gate
    every stored value against the f32-demoted oracle."""
    import os
    import tempfile
    from birli_spark.sinks import ms_file
    baked = pipeline.preprocess_baked(spark, sf_dir)
    path = os.path.join(
        tempfile.gettempdir(),
        f"birli_spark_o2c_{os.path.basename(sf_dir.rstrip('/'))}.ms")
    return ms_file.ms_file_rows(
        spark, baked, path, pipeline.AVG_TIME, pipeline.AVG_FREQ,
        syn.GPS_START, syn.INT_TIME_S)


def _q_casams_scan(spark, sf_dir):
    """S1k — read the physical casacore-layout MS MAIN back DISTRIBUTED
    through the registered Python DataSource
    (sources/casams_source.py): row-range partitions planned from
    table.dat alone, each task seeking every needed column's fixed-cell
    byte slice — the executor-parallel writer's offset arithmetic in
    reverse, with PHYSICAL column pruning (untouched columns' regions
    are never read). Shares o2c's oracle verbatim."""
    import os
    import tempfile

    from birli_spark.sinks import ms_file
    from birli_spark.sources.casams_source import register_casams_source

    path = os.path.join(
        tempfile.gettempdir(),
        f"birli_spark_s1k_{os.path.basename(sf_dir.rstrip('/'))}.ms")
    # marker AFTER the executor bulk write (the writer pre-sizes
    # table.f0 first — a killed run must not poison the cache); embeds
    # the code fingerprint like s1j (stale-checkout invalidation)
    from birli_spark import session as _session
    marker = os.path.join(path, ".complete")
    if not _session.marker_valid(marker):
        baked = pipeline.preprocess_baked(spark, sf_dir)
        ms_file.write_ms_casa(
            spark, baked, path, pipeline.AVG_TIME, pipeline.AVG_FREQ,
            syn.GPS_START, syn.INT_TIME_S)
        _session.write_marker(marker)
    register_casams_source(spark)  # idempotent (replaces)
    return spark.read.format("casams").option(
        "rows_per_task", "64").load(path)


def _q_multi_obs(spark, sf_dir):
    """MO1: the multi-OBSERVATION catalogue pipeline — N_OBS
    observations (per-obs quack windows, per-epoch UVW dims, per-obs
    gain drift) through ONE declarative plan whose obs axis never
    appears in a join or group key (operators/multiobs.py). The Spark
    query and the DuckDB oracle run literally the same SQL text."""
    from birli_spark.operators import multiobs
    syn.load_vis(spark, sf_dir)  # registers the lineitem view
    return spark.sql(multiobs.multi_obs_preprocess_sql())


def _q_multi_obs_ssins(spark, sf_dir):
    """MO2: the catalogue pipeline with PER-OBSERVATION SSINS RFI in
    the reference's flagger slot — each obs differenced and scored
    against its own channel statistics, still one plan."""
    from birli_spark.operators import multiobs
    syn.load_vis(spark, sf_dir)
    return spark.sql(multiobs.multi_obs_preprocess_sql(ssins=True))


def _q_multi_obs_occupancy(spark, sf_dir):
    """MO3: per-observation flag-occupancy QA over the catalogue —
    the per-obs acceptance rollup an archive run records."""
    from birli_spark.operators import multiobs
    syn.load_vis(spark, sf_dir)
    return spark.sql(multiobs.mo_occupancy_sql())


def _q_multi_obs_uvfits(spark, sf_dir):
    """MO4: the catalogue write stage — one physical UVFITS file PER
    OBSERVATION, written executor-parallel in one job (per-obs
    obs-anchored DATE PZERO), bytes read back and hash-gated."""
    import os
    import tempfile
    from birli_spark.operators import multiobs
    out = os.path.join(
        tempfile.gettempdir(),
        f"birli_spark_mo4_{os.path.basename(sf_dir.rstrip('/'))}")
    return multiobs.mo_uvfits_gate_rows(spark, sf_dir, out)


def _q_multi_obs_ms(spark, sf_dir):
    """MO5: the catalogue's MS write stage — one physical
    casacore-layout Measurement Set per observation, all MAIN bulk
    written in a single distributed job; trees parsed back and every
    stored value hash-gated."""
    import os
    import tempfile
    from birli_spark.operators import multiobs
    out = os.path.join(
        tempfile.gettempdir(),
        f"birli_spark_mo5_{os.path.basename(sf_dir.rstrip('/'))}")
    return multiobs.mo_ms_gate_rows(spark, sf_dir, out)


def _q_stream_calsolve(spark, sf_dir):
    """st14 — streaming incremental DI calibration solve (c7 twin):
    per-timestep visibility scans arrive one per micro-batch;
    (chan, ant1, ant2)-keyed state carries the running component sums
    (the solve's sufficient statistics, 16 sums + a count per key); the
    drained snapshot feeds the SAME StEFCal solver and hash-matches
    the c7 known-truth oracle (streaming/calsolve.py)."""
    from birli_spark.streaming import calsolve
    upd = calsolve.run_available_now(
        spark, sf_dir, _stream_tmp(spark, "q_calsolve"))
    return calsolve.gains_from_updates(
        upd, n_ant=syn.NUM_ANTS, tick=calibration.C7_TICK)


def _q_mo7_solve(spark, sf_dir):
    """MO7 — the calibration loop closed at CATALOGUE scale: one
    StEFCal solve per (observation, coarse channel), all as ONE plan —
    the (obs, cc) pair packs into the solver's channel label, so the
    chan-block applyInPandas parallelises across the catalogue axis
    with no per-obs driver loop. Hash-gated against the same
    known-truth-oracle construction as c7 (gains keyed by
    (obs, cc, ant))."""
    from birli_spark.operators import multiobs
    syn.load_vis(spark, sf_dir)  # registers the lineitem view
    pairs = spark.sql(multiobs.mo7_pairs_select())
    sol = calibration.solve_di_gains(
        pairs, n_ant=syn.NUM_ANTS, normalize_ref=0, iters=500, tol=1e-15)
    return sol.selectExpr(
        f"CAST(FLOOR(chan / {syn.NUM_CC}) AS INT) AS obs_id",
        f"CAST(chan % {syn.NUM_CC} AS INT) AS cc",
        "ant", *calibration.gain_ticks_exprs()[2:])


def _q_stream_calsol_drift(spark, sf_dir):
    """st13 — streaming calibration-drift monitor (MO6 twin): per-obs
    solution files arrive one per micro-batch; (ant, chan)-keyed state
    carries the previous solution + accumulated drift (O(1)/key); the
    drained per-ant reduction hash-matches the batch mo6 oracle
    EXACTLY (streaming/calsol_drift.py)."""
    from birli_spark.streaming import calsol_drift
    upd = calsol_drift.run_available_now(
        spark, sf_dir, _stream_tmp(spark, "q_calsol"))
    return calsol_drift.drift_from_updates(upd)


def _q_calsol_drift(spark, sf_dir):
    """MO6: cross-observation calibration-solution drift QA — the
    catalogue-axis stability monitor (per-(ant, chan) LAG along obs,
    per-ant max/total drift + literal-threshold outlier flag; one
    dual-dialect text, operators/multiobs.py::mo6_calsol_drift_sql)."""
    from birli_spark.operators import multiobs
    return spark.sql(multiobs.mo6_calsol_drift_sql())


def _q_ms_subtables(spark, sf_dir):
    """O2b: the COMPLETE MS v2 subtable set (ANTENNA, SPECTRAL_WINDOW,
    POLARIZATION, FIELD, FEED, ...) flattened to one hash-checked EAV
    relation (sinks/ms_subtables.py)."""
    from birli_spark.sinks import ms_subtables
    return spark.sql(ms_subtables.subtables_bundle_sql())


def _q_picket(spark, sf_dir):
    from birli_spark.operators import picket
    return picket.run_picket(spark, sf_dir, "0,1-2")


def _q_describe(spark, sf_dir):
    from birli_spark.operators import describe
    return describe.describe(spark, syn.load_vis(spark, sf_dir))


def _q_time_chunks(spark, sf_dir):
    from birli_spark.operators import chunking
    vis = syn.load_vis(spark, sf_dir)
    chunked = chunking.with_time_chunks(vis, 8, avg_time=pipeline.AVG_TIME)
    return chunked.select("chunk", "t").distinct()


# --- training-data pipeline operators (documents / embeddings / events) ---

def _q_token_stats(spark, sf_dir):
    from birli_spark.operators import text
    from birli_spark.sources import corpus
    return text.token_stats(corpus.load_documents(spark, sf_dir))


def _q_lang_id(spark, sf_dir):
    from birli_spark.operators import text
    from birli_spark.sources import corpus
    return text.lang_id(corpus.load_documents(spark, sf_dir))


def _q_fingerprint(spark, sf_dir):
    from birli_spark.operators import text
    from birli_spark.sources import corpus
    return text.fingerprint(corpus.load_documents(spark, sf_dir))


def _q_source_rollup(spark, sf_dir):
    from birli_spark.operators import text
    from birli_spark.sources import corpus
    return text.source_quality_rollup(corpus.load_documents(spark, sf_dir))


def _q_vocab_stats(spark, sf_dir):
    from birli_spark.operators import text
    from birli_spark.sources import corpus
    return text.vocab_stats(corpus.load_documents(spark, sf_dir))


def _q_tfidf(spark, sf_dir):
    from birli_spark.operators import text
    from birli_spark.sources import corpus
    return text.tfidf_top_terms(corpus.load_documents(spark, sf_dir))


def _stream_tmp(spark, prefix):
    import tempfile
    import uuid
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    spark.conf.set("spark.sql.streaming.checkpointLocation",
                   tempfile.mkdtemp(prefix=f"ckpt_{name}_"))
    return name


def _q_weighted_sample(spark, sf_dir):
    from birli_spark.sources import corpus
    return corpus_clean.weighted_sample(corpus.load_documents(spark, sf_dir))


def _q_classifier_score(spark, sf_dir):
    from birli_spark.sources import corpus
    return corpus_clean.classifier_score(corpus.load_documents(spark, sf_dir))


def _q_domain_mix(spark, sf_dir):
    from birli_spark.sources import corpus
    return corpus_clean.domain_mix_plan(corpus.load_documents(spark, sf_dir))


def _q_snapshot_diff(spark, sf_dir):
    from birli_spark.operators import merge
    from birli_spark.sources import corpus
    return merge.snapshot_diff(corpus.load_documents(spark, sf_dir))


def _q_anomaly_days(spark, sf_dir):
    from birli_spark.sources import corpus
    return events.anomaly_days(corpus.load_events(spark, sf_dir))


def _q_fuzzy_names(spark, sf_dir):
    return relational.fuzzy_name_pairs(
        spark.read.parquet(f"{sf_dir}/part.parquet"))


def _q_stream_funnel(spark, sf_dir):
    """Streaming funnel, oracle-checked against the BATCH funnel SQL —
    the strongest batch/stream parity statement the driver can record."""
    from birli_spark.streaming import funnel as sfunnel
    updates = sfunnel.run_available_now(
        spark, sf_dir, _stream_tmp(spark, "q_funnel"))
    return sfunnel.funnel_counts_from_updates(updates)


def _q_stream_transitions(spark, sf_dir):
    from birli_spark.streaming import transitions as strans
    updates = strans.run_available_now(
        spark, sf_dir, _stream_tmp(spark, "q_trans"))
    return strans.transition_matrix_from_updates(updates)


def _q_stream_ewma(spark, sf_dir):
    from birli_spark.streaming import ewma as sewma
    updates = sewma.run_available_now(
        spark, sf_dir, _stream_tmp(spark, "q_ewma"))
    return sewma.latest_snapshots(updates)


def _q_stream_ssins(spark, sf_dir):
    """Streaming SSINS (F11 twin): stateful adjacent-time differencing
    with 8-double state per (bl, chan); the incoherent (t, chan) noise
    image is oracle-checked against the BATCH ssins_ins CTE."""
    from birli_spark.streaming import ssins as sssins
    updates = sssins.run_available_now(
        spark, sf_dir, _stream_tmp(spark, "q_ssins"))
    return sssins.ins_from_updates(updates)


def _q_stream_mo_ssins(spark, sf_dir):
    """st11 — streaming CATALOGUE SSINS (MO2 twin): the state key is
    (obs, bl, chan) so no lag crosses an observation boundary; the
    per-obs incoherent noise image is oracle-checked against the batch
    catalogue ssins_ins CTE."""
    from birli_spark.streaming import ssins as sssins
    updates = sssins.run_available_now_multiobs(
        spark, sf_dir, _stream_tmp(spark, "q_mo_ssins"))
    return sssins.ins_from_updates(updates).selectExpr(
        f"CAST(FLOOR(t / {syn.NUM_T}) AS INT) AS obs_id", "*")


def _q_stream_minhash(spark, sf_dir):
    """Streaming incremental MinHash dedup (D11 twin, st12): arriving
    documents probe the STANDING band index as a stream-static join —
    per-row array-aggregate signatures, no state store, append mode.
    Oracle-checked against the new_old subset of the batch d11 plan."""
    from birli_spark.streaming import minhash_index
    return minhash_index.run_available_now(
        spark, sf_dir, _stream_tmp(spark, "q_minhash"))


def _q_stream_rfi(spark, sf_dir):
    """Streaming SumThreshold (F9 twin, st10): the image accumulates
    statefully per (bl, chan) as the observation arrives; the
    whole-image mask runs relationally over the drained image and is
    oracle-checked against the BATCH SumThreshold plan."""
    from birli_spark.streaming import rfi_stream
    image = rfi_stream.run_available_now(
        spark, sf_dir, _stream_tmp(spark, "q_rfi"))
    return rfi_stream.mask_drained(image)


def _q_stream_topk(spark, sf_dir):
    """Streaming CMS heavy hitters, oracle-checked against the BATCH
    sk2 SQL — the additive counter matrix drains to the batch sketch."""
    from birli_spark.streaming import topk as stopk
    updates = stopk.run_available_now(
        spark, sf_dir, _stream_tmp(spark, "q_topk"))
    return stopk.topk_from_updates(updates)


def _q_stream_sessions(spark, sf_dir):
    """Stateful applyInPandasWithState sessionizer, oracle-checked
    against the BATCH gaps-and-islands SQL — stream/batch parity on the
    hardest stateful operator, recorded by the driver."""
    from birli_spark.streaming import sessions as ssess
    out = ssess.run_available_now(
        spark, sf_dir, _stream_tmp(spark, "q_sessions"))
    return out.select("user_id", "session_seq", "n_events",
                      "start_us", "end_us", "sum_value")


def _q_stream_kmv(spark, sf_dir):
    from birli_spark.streaming import sketch as ssketch
    updates = ssketch.run_available_now(
        spark, sf_dir, _stream_tmp(spark, "q_kmv"))
    return ssketch.kmv_from_updates(updates)


def _q_stream_hist(spark, sf_dir):
    from birli_spark.streaming import hist as shist
    bins = shist.run_available_now(
        spark, sf_dir, _stream_tmp(spark, "q_hist"))
    return shist.quantiles_from_bins(bins)


def _q_clean_index(spark, sf_dir):
    from birli_spark.operators import search
    from birli_spark.sources import corpus
    return search.clean_index_pipeline(corpus.load_documents(spark, sf_dir))


def _q_upsert_documents(spark, sf_dir):
    from birli_spark.operators import merge
    from birli_spark.sources import corpus
    return merge.upsert_documents(corpus.load_documents(spark, sf_dir))


def _q_incremental_agg(spark, sf_dir):
    from birli_spark.operators import merge
    from birli_spark.sources import corpus
    return merge.incremental_daily_agg(corpus.load_events(spark, sf_dir))


def _q_sequence_packing(spark, sf_dir):
    from birli_spark.sources import corpus
    return corpus_clean.sequence_packing(corpus.load_documents(spark, sf_dir))


def _q_scd2_user_type(spark, sf_dir):
    from birli_spark.operators import merge
    from birli_spark.sources import corpus
    return merge.scd2_user_type(corpus.load_events(spark, sf_dir))


def _q_series_neardup(spark, sf_dir):
    from birli_spark.operators import timeseries
    from birli_spark.sources import corpus
    return timeseries.series_neardup(corpus.load_events(spark, sf_dir))


def _q_hll_windowed(spark, sf_dir):
    from birli_spark.sources import corpus
    return sketches.hll_windowed_users(corpus.load_events(spark, sf_dir))


def _q_source_pagerank(spark, sf_dir):
    from birli_spark.operators import graph
    from birli_spark.sources import corpus
    return graph.source_pagerank(corpus.load_documents(spark, sf_dir))


def _q_scene_cuts(spark, sf_dir):
    from birli_spark.sources import corpus
    return multimodal.scene_cuts(
        multimodal.attach_media(corpus.load_documents(spark, sf_dir)))


def _q_rerank_topk(spark, sf_dir):
    from birli_spark.sources import corpus
    return similarity.rerank_topk(corpus.load_embeddings(spark, sf_dir))


def _q_user_ewma(spark, sf_dir):
    from birli_spark.sources import corpus
    return events.user_ewma(corpus.load_events(spark, sf_dir))


def _q_small_quantity_revenue(spark, sf_dir):
    return relational.small_quantity_revenue(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        spark.read.parquet(f"{sf_dir}/part.parquet"))


def _q_pmi_collocations(spark, sf_dir):
    from birli_spark.operators import text
    from birli_spark.sources import corpus
    return text.pmi_collocations(corpus.load_documents(spark, sf_dir))


def _q_pq_codes(spark, sf_dir):
    from birli_spark.sources import corpus
    return quantization.pq_codes(corpus.load_embeddings(spark, sf_dir))


def _q_type_transitions(spark, sf_dir):
    from birli_spark.sources import corpus
    return events.type_transitions(corpus.load_events(spark, sf_dir))


def _q_bpe_pairs(spark, sf_dir):
    from birli_spark.operators import text
    from birli_spark.sources import corpus
    return text.bpe_pair_stats(corpus.load_documents(spark, sf_dir))


def _q_chunk_udtf(spark, sf_dir):
    from birli_spark.operators import text
    from birli_spark.sources import corpus
    return text.chunk_documents(corpus.load_documents(spark, sf_dir), spark)


def _q_pricing_summary(spark, sf_dir):
    return relational.pricing_summary(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"))


def _q_late_order_priority(spark, sf_dir):
    return relational.late_order_priority(
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"))


def _q_large_orders(spark, sf_dir):
    return relational.large_orders(
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"))


def _q_promo_share(spark, sf_dir):
    return relational.promo_revenue_share(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        spark.read.parquet(f"{sf_dir}/part.parquet"))


def _q_local_supplier_volume(spark, sf_dir):
    return relational.local_supplier_volume(
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        spark.read.parquet(f"{sf_dir}/supplier.parquet"),
        spark.read.parquet(f"{sf_dir}/nation.parquet"),
        spark.read.parquet(f"{sf_dir}/region.parquet"))


def _q_part_supplier_counts(spark, sf_dir):
    return relational.part_supplier_counts(
        spark.read.parquet(f"{sf_dir}/part.parquet"),
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        spark.read.parquet(f"{sf_dir}/supplier.parquet"))


def _q_triangle_stats(spark, sf_dir):
    from birli_spark.operators import graph
    from birli_spark.sources import corpus
    return graph.triangle_stats(corpus.load_documents(spark, sf_dir))


def _triangle_stats_oracle():
    from birli_spark.operators import graph
    return graph.triangle_stats_oracle_sql()


def _q_bigram_lm(spark, sf_dir):
    from birli_spark.sources import corpus
    return text.bigram_lm_bits(corpus.load_documents(spark, sf_dir))


def _q_ref_integrity(spark, sf_dir):
    from birli_spark.operators import profile
    return profile.referential_integrity(
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"))


def _ref_integrity_oracle():
    from birli_spark.operators import profile
    return profile.referential_integrity_oracle_sql()


def _q_compaction_plan(spark, sf_dir):
    from birli_spark.operators import merge
    from birli_spark.sources import corpus
    return merge.compaction_plan(corpus.load_events(spark, sf_dir))


def _q_stream_theta(spark, sf_dir):
    from birli_spark.streaming import theta as stheta
    updates = stheta.run_available_now(
        spark, sf_dir, _stream_tmp(spark, "q_theta"))
    return stheta.pairs_from_updates(updates)


def _compaction_plan_oracle():
    from birli_spark.operators import merge
    return merge.compaction_plan_oracle_sql()


def _stream_theta_oracle():
    from birli_spark.streaming import theta as stheta
    return stheta.theta_stream_oracle_sql()


def _q_theta_pairs(spark, sf_dir):
    from birli_spark.sources import corpus
    return sketches.theta_sketch_pairs(corpus.load_documents(spark, sf_dir))


def _q_shard_manifest(spark, sf_dir):
    from birli_spark.sinks import shards
    from birli_spark.sources import corpus
    return shards.shard_manifest(corpus.load_documents(spark, sf_dir))


def _shard_manifest_oracle():
    from birli_spark.sinks import shards
    return shards.shard_manifest_oracle_sql()


def _q_audio_landmarks(spark, sf_dir):
    from birli_spark.sources import corpus
    return multimodal.audio_landmark_pairs(
        corpus.load_documents(spark, sf_dir))


def _dtw_pairs_oracle():
    from birli_spark.operators import timeseries
    return timeseries.dtw_pairs_oracle_sql()


def _q_dtw_pairs(spark, sf_dir):
    from birli_spark.operators import timeseries
    from birli_spark.sources import corpus
    return timeseries.dtw_pairs(corpus.load_events(spark, sf_dir))


def _q_novelty(spark, sf_dir):
    from birli_spark.sources import corpus
    return text.novelty_stats(corpus.load_documents(spark, sf_dir))


def _q_leakage_split(spark, sf_dir):
    from birli_spark.sources import corpus
    return corpus_clean.leakage_safe_split(
        corpus.load_documents(spark, sf_dir))


def _q_substring_dedup(spark, sf_dir):
    from birli_spark.sources import corpus
    return corpus_clean.substring_dedup(corpus.load_documents(spark, sf_dir))


def _q_rrf_fusion(spark, sf_dir):
    from birli_spark.sources import corpus
    return search.rrf_fusion(
        corpus.load_documents(spark, sf_dir),
        corpus.load_embeddings(spark, sf_dir), spark)


def _q_volume_shipping(spark, sf_dir):
    return relational.volume_shipping(
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        spark.read.parquet(f"{sf_dir}/supplier.parquet"),
        spark.read.parquet(f"{sf_dir}/nation.parquet"))


def _q_market_share(spark, sf_dir):
    return relational.market_share(
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        spark.read.parquet(f"{sf_dir}/supplier.parquet"),
        spark.read.parquet(f"{sf_dir}/nation.parquet"),
        spark.read.parquet(f"{sf_dir}/region.parquet"),
        spark.read.parquet(f"{sf_dir}/part.parquet"))


def _q_product_profit(spark, sf_dir):
    return relational.product_profit(
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        spark.read.parquet(f"{sf_dir}/supplier.parquet"),
        spark.read.parquet(f"{sf_dir}/nation.parquet"),
        spark.read.parquet(f"{sf_dir}/part.parquet"))


def _q_important_parts(spark, sf_dir):
    return relational.important_parts(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        spark.read.parquet(f"{sf_dir}/part.parquet"))


def _q_top_supplier(spark, sf_dir):
    return relational.top_supplier(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        spark.read.parquet(f"{sf_dir}/supplier.parquet"))


def _q_disjunctive_revenue(spark, sf_dir):
    return relational.disjunctive_revenue(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        spark.read.parquet(f"{sf_dir}/part.parquet"))


def _q_excess_suppliers(spark, sf_dir):
    return relational.excess_suppliers(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        spark.read.parquet(f"{sf_dir}/supplier.parquet"),
        spark.read.parquet(f"{sf_dir}/nation.parquet"),
        spark.read.parquet(f"{sf_dir}/part.parquet"))


def _q_blame_suppliers(spark, sf_dir):
    return relational.blame_suppliers(
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        spark.read.parquet(f"{sf_dir}/supplier.parquet"))


def _q_idle_rich_customers(spark, sf_dir):
    return relational.idle_rich_customers(
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/nation.parquet"))


def _q_min_cost_supplier(spark, sf_dir):
    return relational.min_cost_supplier(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        spark.read.parquet(f"{sf_dir}/supplier.parquet"),
        spark.read.parquet(f"{sf_dir}/nation.parquet"),
        spark.read.parquet(f"{sf_dir}/region.parquet"),
        spark.read.parquet(f"{sf_dir}/part.parquet"))


def _q_priority_lateness(spark, sf_dir):
    return relational.priority_lateness(
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"))


def _q_forecast_revenue(spark, sf_dir):
    return relational.forecast_revenue(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"))


def _q_dsir_weights(spark, sf_dir):
    from birli_spark.sources import corpus
    return text.dsir_weights(corpus.load_documents(spark, sf_dir))


def _q_segment_dedup(spark, sf_dir):
    from birli_spark.sources import corpus
    return corpus_clean.segment_dedup(corpus.load_documents(spark, sf_dir))


def _q_jsonl_roundtrip(spark, sf_dir):
    import tempfile
    from birli_spark.sources import corpus, jsonl
    return jsonl.roundtrip_stats(
        spark, corpus.load_documents(spark, sf_dir),
        tempfile.mkdtemp(prefix="jsonl_rt_"))


def _q_column_profile(spark, sf_dir):
    from birli_spark.operators import profile
    return profile.column_profile(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"))


def _q_distribution_drift(spark, sf_dir):
    """Q4 — distribution drift between the time-halves of the events
    stream: exact-integer midpoint split, fixed-width histogram,
    total-variation distance in BIGINT cross products (TV instead of
    PSI/KL deliberately: log() is libm-dependent across engines,
    |.| is not). operators/profile.py::distribution_drift."""
    from birli_spark.operators import profile
    from birli_spark.sources import corpus
    return profile.distribution_drift(corpus.load_events(spark, sf_dir))


def _q_image_pixel_stats(spark, sf_dir):
    """mm9 — REAL image decode in the feature pass: deterministic P5
    payloads generated per document, decoded by the pure-numpy netpbm
    decoder inside mapInPandas, pixel statistics emitted; the oracle is
    the closed form of the generator+decode composition
    (operators/multimodal.py::image_pixel_stats)."""
    from birli_spark.operators import multimodal
    from birli_spark.sources import corpus
    docs = corpus.load_documents(spark, sf_dir)
    return multimodal.image_pixel_stats(multimodal.attach_pgm_media(docs))


def _q_k_anonymity(spark, sf_dir):
    from birli_spark.operators import profile
    return profile.k_anonymity(
        spark.read.parquet(f"{sf_dir}/customer.parquet"))


def _q_cust_order_dist(spark, sf_dir):
    return relational.customer_order_distribution(
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
        spark.read.parquet(f"{sf_dir}/orders.parquet"))


def _q_returned_losses(spark, sf_dir):
    return relational.returned_item_losses(
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        spark.read.parquet(f"{sf_dir}/nation.parquet"))


def _q_shipping_priority(spark, sf_dir):
    return relational.shipping_priority(
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"))


def _q_phash_neardup(spark, sf_dir):
    from birli_spark.sources import corpus
    return multimodal.phash_neardup(
        multimodal.attach_media(corpus.load_documents(spark, sf_dir)))


def _q_bloom_membership(spark, sf_dir):
    return sketches.bloom_membership(
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/customer.parquet"))


def _q_hist_quantiles(spark, sf_dir):
    from birli_spark.sources import corpus
    return sketches.hist_quantiles(corpus.load_documents(spark, sf_dir))


def _q_semantic_dedup(spark, sf_dir):
    from birli_spark.operators import clustering
    from birli_spark.sources import corpus
    return clustering.semantic_dedup(corpus.load_embeddings(spark, sf_dir))


def _q_inverted_index(spark, sf_dir):
    from birli_spark.operators import search
    from birli_spark.sources import corpus
    return search.inverted_index(corpus.load_documents(spark, sf_dir))


def _q_bm25_topk(spark, sf_dir):
    from birli_spark.operators import search
    from birli_spark.sources import corpus
    return search.bm25_topk(corpus.load_documents(spark, sf_dir), spark)


def _q_order_revenue(spark, sf_dir):
    from birli_spark.operators import relational
    return relational.order_revenue(
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"))


def _q_idle_customers(spark, sf_dir):
    from birli_spark.operators import relational
    return relational.idle_customers_by_nation(
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/nation.parquet"))


def _q_rarity_stats(spark, sf_dir):
    from birli_spark.operators import text
    from birli_spark.sources import corpus
    return text.rarity_stats(corpus.load_documents(spark, sf_dir))


def _q_kmv_distinct(spark, sf_dir):
    from birli_spark.operators import sketches
    from birli_spark.sources import corpus
    return sketches.kmv_distinct_tokens(corpus.load_documents(spark, sf_dir))


def _q_cms_heavy_hitters(spark, sf_dir):
    from birli_spark.operators import sketches
    from birli_spark.sources import corpus
    return sketches.cms_heavy_hitters(corpus.load_documents(spark, sf_dir))


def _q_stratified_sample(spark, sf_dir):
    from birli_spark.operators import corpus_clean
    from birli_spark.sources import corpus
    return corpus_clean.stratified_sample(corpus.load_documents(spark, sf_dir))


def _q_exact_dedup(spark, sf_dir):
    from birli_spark.operators import dedup
    from birli_spark.sources import corpus
    return dedup.exact_dedup(corpus.load_documents(spark, sf_dir))


def _q_ngram_jaccard(spark, sf_dir):
    from birli_spark.operators import dedup
    from birli_spark.sources import corpus
    return dedup.shingle_jaccard_pairs(corpus.load_documents(spark, sf_dir))


def _q_containment(spark, sf_dir):
    from birli_spark.operators import dedup
    from birli_spark.sources import corpus
    return dedup.shingle_containment_pairs(
        corpus.load_documents(spark, sf_dir))


def _q_minhash_incremental(spark, sf_dir):
    """D11 — continuous-ingest dedup: a new batch (1 doc in 5) probed
    against the STANDING MinHash band index of the rest of the corpus
    (operators/dedup.py::minhash_incremental_pairs): batch-vs-index +
    batch-vs-batch candidates, signature-estimated Jaccard verify —
    candidate generation and verification never re-read corpus text."""
    from birli_spark.operators import dedup
    from birli_spark.sources import corpus
    return dedup.minhash_incremental_pairs(
        corpus.load_documents(spark, sf_dir))


def _q_minhash_lsh(spark, sf_dir):
    from birli_spark.operators import dedup
    from birli_spark.sources import corpus
    return dedup.minhash_lsh_pairs(corpus.load_documents(spark, sf_dir))


def _q_simhash(spark, sf_dir):
    from birli_spark.operators import dedup
    from birli_spark.sources import corpus
    return dedup.simhash_pairs(corpus.load_documents(spark, sf_dir))


def _q_neardup_clusters(spark, sf_dir):
    from birli_spark.operators import dedup
    from birli_spark.sources import corpus
    return dedup.neardup_clusters(corpus.load_documents(spark, sf_dir))


def _q_embedding_neardup(spark, sf_dir):
    """D5 as the LSH-bucketed scale shape (banded hyperplane sign
    buckets + hot-bucket guard + exact-cosine verify); the brute
    all-pairs form stays gated as d5b (the exactness baseline —
    tests measure LSH recall against it)."""
    from birli_spark.sources import corpus
    return dedup.embedding_neardup_lsh(corpus.load_embeddings(spark, sf_dir))


def _q_embedding_neardup_brute(spark, sf_dir):
    from birli_spark.operators import dedup
    from birli_spark.sources import corpus
    return dedup.embedding_neardup(corpus.load_embeddings(spark, sf_dir))


def _q_ann_brute(spark, sf_dir):
    from birli_spark.operators import similarity
    from birli_spark.sources import corpus
    return similarity.brute_topk(corpus.load_embeddings(spark, sf_dir))


def _q_ann_lsh(spark, sf_dir):
    """TEACHING BASELINE (demoted, round 7): recall@5 = 0.55 at its
    driver shape, and the committed ladder grid (ANN_RECALL_r7.json)
    shows sign-bit LSH cannot reach 0.8 on data without angular
    concentration at ANY production plane count. Use ann_ivf_topk
    (0.875) / ann_ivfpq_topk (0.825) for retrieval; this entry stays
    to gate the bucket-equi-join candidate pattern itself."""
    from birli_spark.operators import similarity
    from birli_spark.sources import corpus
    return similarity.lsh_topk(corpus.load_embeddings(spark, sf_dir))


def _q_ann_ivf(spark, sf_dir):
    from birli_spark.operators import similarity
    from birli_spark.sources import corpus
    return similarity.ivf_topk(corpus.load_embeddings(spark, sf_dir))


def _q_ann_ivfpq(spark, sf_dir):
    from birli_spark.operators import similarity
    from birli_spark.sources import corpus
    return similarity.ivfpq_topk(corpus.load_embeddings(spark, sf_dir))


def _q_windowed_agg(spark, sf_dir):
    from birli_spark.operators import events
    from birli_spark.sources import corpus
    return events.windowed_agg(corpus.load_events(spark, sf_dir))


def _q_sessionize(spark, sf_dir):
    from birli_spark.operators import events
    from birli_spark.sources import corpus
    return events.sessionize(corpus.load_events(spark, sf_dir))


def _q_sessionize_native(spark, sf_dir):
    from birli_spark.operators import events
    from birli_spark.sources import corpus
    return events.sessionize_native(corpus.load_events(spark, sf_dir))


def _q_top_users_salted(spark, sf_dir):
    from birli_spark.operators import events
    from birli_spark.sources import corpus
    return events.top_users_salted(corpus.load_events(spark, sf_dir))


def _q_event_rollup(spark, sf_dir):
    from birli_spark.operators import events
    from birli_spark.sources import corpus
    return events.event_rollup(corpus.load_events(spark, sf_dir))


def _q_asof_join(spark, sf_dir):
    from birli_spark.operators import asof
    from birli_spark.sources import corpus
    return asof.asof_join(corpus.load_events(spark, sf_dir))


def _q_media_features(spark, sf_dir):
    from birli_spark.operators import multimodal
    from birli_spark.sources import corpus
    return multimodal.media_features(
        multimodal.attach_media(corpus.load_documents(spark, sf_dir)))


def _q_audio_stats(spark, sf_dir):
    from birli_spark.operators import multimodal
    from birli_spark.sources import corpus
    return multimodal.audio_waveform_stats(
        multimodal.attach_media(corpus.load_documents(spark, sf_dir)))


def _q_frame_sample(spark, sf_dir):
    from birli_spark.operators import multimodal
    from birli_spark.sources import corpus
    return multimodal.sample_frames(
        multimodal.attach_media(corpus.load_documents(spark, sf_dir)))



def _q_burst_counts(spark, sf_dir):
    from birli_spark.operators import events
    from birli_spark.sources import corpus
    return events.burst_counts(corpus.load_events(spark, sf_dir))


def _q_daily_type_pivot(spark, sf_dir):
    from birli_spark.operators import events
    from birli_spark.sources import corpus
    return events.daily_type_pivot(corpus.load_events(spark, sf_dir))


def _q_daily_type_unpivot(spark, sf_dir):
    from birli_spark.operators import events
    from birli_spark.sources import corpus
    return events.daily_type_unpivot(corpus.load_events(spark, sf_dir))


def _q_attribution(spark, sf_dir):
    from birli_spark.operators import events
    from birli_spark.sources import corpus
    return events.attribution_pairs(corpus.load_events(spark, sf_dir))


def _q_length_quantiles(spark, sf_dir):
    from birli_spark.operators import text
    from birli_spark.sources import corpus
    return text.length_quantiles(corpus.load_documents(spark, sf_dir))


def _q_label_centroids(spark, sf_dir):
    from birli_spark.operators import similarity
    from birli_spark.sources import corpus
    return similarity.label_centroids(corpus.load_embeddings(spark, sf_dir))



def _q_json_extract_stats(spark, sf_dir):
    from birli_spark.operators import events
    from birli_spark.sources import corpus
    return events.json_extract_stats(corpus.load_events(spark, sf_dir))


def _q_top_bigrams(spark, sf_dir):
    from birli_spark.operators import text
    from birli_spark.sources import corpus
    return text.top_bigrams(corpus.load_documents(spark, sf_dir))



def _q_cluster_reps(spark, sf_dir):
    from birli_spark.operators import dedup
    from birli_spark.sources import corpus
    return dedup.cluster_representatives(corpus.load_documents(spark, sf_dir))


def _q_contamination(spark, sf_dir):
    from birli_spark.operators import dedup
    from birli_spark.sources import corpus
    return dedup.contamination(corpus.load_documents(spark, sf_dir))



def _q_resize_media(spark, sf_dir):
    from birli_spark.operators import multimodal
    from birli_spark.sources import corpus
    return multimodal.resize_media(
        multimodal.attach_media(corpus.load_documents(spark, sf_dir)))



def _q_trailing_bursts(spark, sf_dir):
    from birli_spark.operators import events
    from birli_spark.sources import corpus
    return events.trailing_burst_counts(corpus.load_events(spark, sf_dir))



def _q_redact(spark, sf_dir):
    from birli_spark.operators import text
    from birli_spark.sources import corpus
    return text.redact(corpus.load_documents(spark, sf_dir))


def _q_pii_scrub(spark, sf_dir):
    from birli_spark.operators import text
    from birli_spark.sources import corpus
    return text.pii_scrub(corpus.load_documents(spark, sf_dir))


def _q_repetition(spark, sf_dir):
    from birli_spark.operators import text
    from birli_spark.sources import corpus
    return text.repetition_stats(corpus.load_documents(spark, sf_dir))


def _q_retention(spark, sf_dir):
    from birli_spark.operators import events
    from birli_spark.sources import corpus
    return events.retention_cohorts(corpus.load_events(spark, sf_dir))


def _q_funnel(spark, sf_dir):
    from birli_spark.operators import events
    from birli_spark.sources import corpus
    return events.funnel(corpus.load_events(spark, sf_dir))


def _q_kmeans(spark, sf_dir):
    from birli_spark.operators import clustering
    from birli_spark.sources import corpus
    return clustering.kmeans(corpus.load_embeddings(spark, sf_dir))


def _q_quantize(spark, sf_dir):
    from birli_spark.operators import quantization
    from birli_spark.sources import corpus
    return quantization.quantize_stats(corpus.load_embeddings(spark, sf_dir))


def _q_cross_source_overlap(spark, sf_dir):
    from birli_spark.operators import dedup
    from birli_spark.sources import corpus
    return dedup.cross_source_overlap(corpus.load_documents(spark, sf_dir))


def _q_quality_filter(spark, sf_dir):
    from birli_spark.operators import text
    from birli_spark.sources import corpus
    return text.quality_filter(corpus.load_documents(spark, sf_dir))


def _q_unigram_logprob(spark, sf_dir):
    from birli_spark.operators import text
    from birli_spark.sources import corpus
    return text.unigram_logprob(corpus.load_documents(spark, sf_dir))


def _q_hll_distinct(spark, sf_dir):
    from birli_spark.operators import sketches
    from birli_spark.sources import corpus
    return sketches.hll_distinct_tokens(corpus.load_documents(spark, sf_dir))


def _q_type_dow_sets(spark, sf_dir):
    from birli_spark.operators import events
    from birli_spark.sources import corpus
    return events.type_dow_grouping_sets(corpus.load_events(spark, sf_dir))


def _q_region_top_suppliers(spark, sf_dir):
    from birli_spark.operators import relational
    return relational.region_top_suppliers(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        spark.read.parquet(f"{sf_dir}/supplier.parquet"),
        spark.read.parquet(f"{sf_dir}/nation.parquet"),
        spark.read.parquet(f"{sf_dir}/region.parquet"))


def _q_zorder_layout(spark, sf_dir):
    from birli_spark.operators import layout
    return layout.zorder_layout_stats(syn.load_vis(spark, sf_dir))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "s1_vis_scan": _q_vis_scan,
        "s2_missing_slabs": _q_missing_slabs,
        "p1_select_ranges": _q_select_ranges,
        "p1b_partitioned_scan": _q_select_ranges_partitioned,
        "p2_retain_antennas": _q_retain_antennas,
        "p3_filter_flagged_ants": _q_filter_flagged_ants,
        "p4_filter_autos": _q_filter_autos,
        "f2_quack_flags": _q_quack_flags,
        "f3_f5_fine_chan_flags": _q_fine_chan_flags,
        "f6_baseline_flags": _q_baseline_flags,
        "f7_set_flags": _q_set_flags,
        "f8_unflagged_ranges": _q_unflagged_ranges,
        "f10_bake_weights": _q_bake_weights,
        "c2_cable_correction": _q_cable,
        "c3_geometric_correction": _q_geometry,
        "c4_digital_gains": _q_digital,
        "c5_passband_correction": _q_passband,
        "c6_di_calibration": _q_calibration,
        "c7_solve_di_gains": _q_solve_di_gains,
        "a1_average_time_freq": _q_average,
        "a2_channel_occupancy": _q_chan_occupancy,
        "a3_baseline_occupancy": _q_bl_occupancy,
        "a4_rowcount_validation": _q_rowcount,
        "pipeline_preprocess": _q_pipeline,
        # UDF islands and image-based transforms. Most of this block IS
        # hash-gated (their relational twins define exact oracle SQL:
        # f11/f12/im1-im3/c1/f9 all have oracle_sql() entries); only the
        # FLOAT UDF twins c1b/f9b/f9f and pipeline_*_full_udf are
        # rows-only by design (windowed float statistics are not
        # association-stable cross-engine; each is golden-gated against
        # the reference's published vectors instead).
        "f11_ssins_spectra": _q_ssins,
        "f12_ssins_autos": _q_ssins_autos,
        "im1_uv_grid": _q_uv_grid,
        "im2_uv_grid_uniform": _q_uv_grid_uniform,
        "im4_dirty_image": _q_dirty_image,
        "im5_psf_image": _q_psf_image,
        "im3_delay_spectrum": _q_delay_spectrum,
        "im3b_delay_spectrum_udf": _q_delay_spectrum_udf,
        "pipeline_preprocess_ssins": _q_pipeline_ssins,
        "c1_van_vleck": _q_van_vleck,
        "c1b_van_vleck_udf": _q_van_vleck_udf,
        "f9_rfi_sumthreshold": _q_rfi,
        "f9b_rfi_sumthreshold_udf": _q_rfi_udf,
        "f9f_rfi_mwa_float_udf": _q_rfi_mwa_float,
        "f9c_rfi_sir": _q_rfi_sir,
        "f9d_aoflagger_strategy": _q_rfi_strategy,
        "f9e_rfi_mwa_strategy": _q_rfi_mwa,
        "pipeline_preprocess_full": _q_pipeline_full,
        "pipeline_preprocess_full_udf": _q_pipeline_full_udf,
        "s3_antenna_dim": _q_antenna_dim,
        "s1b_gpubox_fits_scan": _q_gpubox_scan,
        "s1c_gpubox_datasource": _q_gpubox_datasource,
        "s4_aocal_scan": _q_aocal_scan,
        "s5_o3_flag_roundtrip": _q_flag_roundtrip,
        "o3b_mwaf_roundtrip": _q_mwaf_roundtrip,
        "o3c_mwaf_datasource": _q_mwaf_datasource,
        "o1_uvfits_rows": _q_uvfits_rows,
        "s1j_uvfits_scan": _q_uvfits_scan,
        "o1b_uvfits_file": _q_uvfits_file,
        "o2_ms_rows": _q_ms_rows,
        "o2b_ms_subtables": _q_ms_subtables,
        "o2c_ms_file": _q_ms_file,
        "s1k_casams_scan": _q_casams_scan,
        "mo1_multi_obs_pipeline": _q_multi_obs,
        "mo2_multi_obs_ssins": _q_multi_obs_ssins,
        "mo3_multi_obs_occupancy": _q_multi_obs_occupancy,
        "mo4_multi_obs_uvfits": _q_multi_obs_uvfits,
        "mo5_multi_obs_ms": _q_multi_obs_ms,
        "mo6_calsol_drift": _q_calsol_drift,
        "mo7_multi_obs_calsolve": _q_mo7_solve,
        "st13_stream_calsol_drift": _q_stream_calsol_drift,
        "st14_stream_calsolve": _q_stream_calsolve,
        "p5_picket_ranges": _q_picket,
        "p6_time_chunks": _q_time_chunks,
        "o4_describe": _q_describe,
        # training-data pipeline (north-star ops beyond the reference)
        "t1_token_stats": _q_token_stats,
        "t2_lang_id": _q_lang_id,
        "t3_fingerprint": _q_fingerprint,
        "t4_source_rollup": _q_source_rollup,
        "t5_vocab_stats": _q_vocab_stats,
        "sk1_kmv_distinct": _q_kmv_distinct,
        "sk2_cms_heavy_hitters": _q_cms_heavy_hitters,
        "t13_rarity_stats": _q_rarity_stats,
        "h1_order_revenue": _q_order_revenue,
        "h2_idle_customers": _q_idle_customers,
        "t6_tfidf_top_terms": _q_tfidf,
        "t7_stratified_sample": _q_stratified_sample,
        "d1_exact_dedup": _q_exact_dedup,
        "d2_ngram_jaccard": _q_ngram_jaccard,
        "d9_containment": _q_containment,
        "d3_minhash_lsh": _q_minhash_lsh,
        "d11_incremental_minhash": _q_minhash_incremental,
        "d4_simhash_pairs": _q_simhash,
        "d5_embedding_neardup": _q_embedding_neardup,
        "d5b_embedding_neardup_brute": _q_embedding_neardup_brute,
        "d6_neardup_clusters": _q_neardup_clusters,
        "d7_cluster_representatives": _q_cluster_reps,
        "t10_contamination": _q_contamination,
        "t11_redact": _q_redact,
        "t30_pii_scrub": _q_pii_scrub,
        "ann_brute_topk": _q_ann_brute,
        "ann_lsh_topk": _q_ann_lsh,
        "ann_ivf_topk": _q_ann_ivf,
        "ann_ivfpq_topk": _q_ann_ivfpq,
        "e1_windowed_agg": _q_windowed_agg,
        "e2_sessionize": _q_sessionize,
        "e2b_sessionize_native": _q_sessionize_native,
        "e3_top_users_salted": _q_top_users_salted,
        "e5_event_rollup": _q_event_rollup,
        "e4_asof_join": _q_asof_join,
        "e6_burst_counts": _q_burst_counts,
        "e11_attribution_window": _q_attribution,
        "e12_daily_type_pivot": _q_daily_type_pivot,
        "e13_daily_type_unpivot": _q_daily_type_unpivot,
        "e7_json_extract_stats": _q_json_extract_stats,
        "e8_trailing_bursts": _q_trailing_bursts,
        "e9_retention": _q_retention,
        "e10_funnel": _q_funnel,
        "t12_repetition": _q_repetition,
        "t9_top_bigrams": _q_top_bigrams,
        "t8_length_quantiles": _q_length_quantiles,
        "emb1_label_centroids": _q_label_centroids,
        "emb2_kmeans": _q_kmeans,
        "emb3_quantize": _q_quantize,
        "d8_cross_source_overlap": _q_cross_source_overlap,
        "mm_media_features": _q_media_features,
        "mm_audio_stats": _q_audio_stats,
        "mm_frame_sample": _q_frame_sample,
        "mm_resize": _q_resize_media,
        "pipeline_corpus_clean": _q_corpus_clean,
        "t14_quality_filter": _q_quality_filter,
        "t15_unigram_logprob": _q_unigram_logprob,
        "sk3_hll_distinct": _q_hll_distinct,
        "e14_type_dow_sets": _q_type_dow_sets,
        "h3_region_top_suppliers": _q_region_top_suppliers,
        "l1_zorder_layout": _q_zorder_layout,
        "i1_inverted_index": _q_inverted_index,
        "i2_bm25_topk": _q_bm25_topk,
        "d10_semantic_dedup": _q_semantic_dedup,
        "sk4_bloom_membership": _q_bloom_membership,
        "sk5_hist_quantiles": _q_hist_quantiles,
        "mm_phash_neardup": _q_phash_neardup,
        "h4_pricing_summary": _q_pricing_summary,
        "h5_shipping_priority": _q_shipping_priority,
        "e15_type_transitions": _q_type_transitions,
        "t16_bpe_pairs": _q_bpe_pairs,
        "t17_chunk_udtf": _q_chunk_udtf,
        "emb4_pq_codes": _q_pq_codes,
        "t18_pmi_collocations": _q_pmi_collocations,
        "h6_small_quantity_revenue": _q_small_quantity_revenue,
        "e16_user_ewma": _q_user_ewma,
        "ann_rerank_topk": _q_rerank_topk,
        "mm_scene_cuts": _q_scene_cuts,
        "g1_source_pagerank": _q_source_pagerank,
        "sk6_hll_windowed": _q_hll_windowed,
        "ts1_series_neardup": _q_series_neardup,
        "m1_upsert": _q_upsert_documents,
        "m2_scd2_history": _q_scd2_user_type,
        "pipeline_clean_index": _q_clean_index,
        # streaming twins, oracle-checked against the BATCH oracles:
        # the driver itself verifies batch/stream parity
        "st1_stream_funnel": _q_stream_funnel,
        "st2_stream_transitions": _q_stream_transitions,
        "st3_stream_ewma": _q_stream_ewma,
        "st4_stream_topk": _q_stream_topk,
        "st5_stream_kmv": _q_stream_kmv,
        "st6_stream_hist": _q_stream_hist,
        "st7_stream_sessions": _q_stream_sessions,
        "h7_fuzzy_names": _q_fuzzy_names,
        "h8_late_order_priority": _q_late_order_priority,
        "h9_large_orders": _q_large_orders,
        "h10_promo_share": _q_promo_share,
        "h11_cust_order_dist": _q_cust_order_dist,
        "h12_returned_losses": _q_returned_losses,
        "t20_weighted_sample": _q_weighted_sample,
        "t21_classifier_filter": _q_classifier_score,
        "t22_domain_mix": _q_domain_mix,
        "m3_snapshot_diff": _q_snapshot_diff,
        "e17_anomaly_days": _q_anomaly_days,
        "h13_local_supplier_volume": _q_local_supplier_volume,
        "h14_part_supplier_counts": _q_part_supplier_counts,
        "i3_rrf_fusion": _q_rrf_fusion,
        "t26_substring_dedup": _q_substring_dedup,
        "t28_leakage_safe_split": _q_leakage_split,
        "t29_novelty": _q_novelty,
        "ts2_dtw_pairs": _q_dtw_pairs,
        "mm7_audio_landmarks": _q_audio_landmarks,
        "o5_shard_manifest": _q_shard_manifest,
        "sk7_theta_pairs": _q_theta_pairs,
        "st8_stream_theta": _q_stream_theta,
        "st9_stream_ssins": _q_stream_ssins,
        "st11_stream_multiobs_ssins": _q_stream_mo_ssins,
        "st10_stream_rfi": _q_stream_rfi,
        "st12_stream_minhash": _q_stream_minhash,
        "m5_compaction_plan": _q_compaction_plan,
        "q3_referential_integrity": _q_ref_integrity,
        "t27_bigram_lm": _q_bigram_lm,
        "g2_triangle_stats": _q_triangle_stats,
        "h15_volume_shipping": _q_volume_shipping,
        "h16_market_share": _q_market_share,
        "h17_product_profit": _q_product_profit,
        "h18_important_parts": _q_important_parts,
        "h20_top_supplier": _q_top_supplier,
        "h21_disjunctive_revenue": _q_disjunctive_revenue,
        "h22_excess_suppliers": _q_excess_suppliers,
        "h23_blame_suppliers": _q_blame_suppliers,
        "h24_idle_rich_customers": _q_idle_rich_customers,
        "h25_forecast_revenue": _q_forecast_revenue,
        "h19_min_cost_supplier": _q_min_cost_supplier,
        "h26_priority_lateness": _q_priority_lateness,
        "t23_segment_dedup": _q_segment_dedup,
        "s6_jsonl_roundtrip": _q_jsonl_roundtrip,
        "q1_column_profile": _q_column_profile,
        "q4_distribution_drift": _q_distribution_drift,
        "mm9_image_pixel_stats": _q_image_pixel_stats,
        "q2_k_anonymity": _q_k_anonymity,
        "c3b_geometry_phase_centre": _q_geometry_phase_centre,
        "c3c_part_uvw_precessed": _q_part_uvw_precessed,
        "m4_incremental_agg": _q_incremental_agg,
        "t24_sequence_packing": _q_sequence_packing,
        "s1d_mwax_gpubox_scan": _q_mwax_gpubox_scan,
        "s3b_metafits_dims": _q_metafits_dims,
        "s1e_legacy_gpubox_scan": _q_legacy_gpubox_scan,
        "t25_dsir_weights": _q_dsir_weights,
        "s1g_gpubox_read_bench": _q_gpubox_read_bench,
        "s1h_real_format_e2e": _q_real_format_e2e,
    }


# ------------------------------------------------------------- oracles ---

def _stream_topk_oracle():
    from birli_spark.streaming import topk as stopk
    return stopk.topk_stream_oracle_sql()


def _stream_kmv_oracle():
    from birli_spark.streaming import sketch as ssketch
    return ssketch.kmv_stream_oracle_sql()


def _stream_hist_oracle():
    from birli_spark.streaming import hist as shist
    return shist.hist_stream_oracle_sql()


def _c7_oracle_sql() -> str:
    """Closed-form expected gains for c7 (see _q_solve_di_gains): every
    (ant, chan) of the synthetic obs, ref-antenna-normalised with the
    same naive complex division the solver mirrors, in 1e-6 ticks."""
    # one solve per COARSE channel (the synthetic fine-channel pair
    # graph is a star, whose amplitude gauge is free; per cc it is the
    # full mesh — see calibration.synth_pairs_select)
    ants = ", ".join(f"({a})" for a in range(syn.NUM_ANTS))
    chans = ", ".join(f"({c})" for c in range(syn.NUM_CC))
    g = calibration.synth_gain_sql("ant", "chan")
    return (
        f"WITH ants(ant) AS (VALUES {ants}),"
        f" chans(chan) AS (VALUES {chans}),"
        f" g AS (SELECT CAST(ant AS INT) AS ant, CAST(chan AS INT) AS chan,"
        f" {g['gx_re']} AS gx_re, {g['gx_im']} AS gx_im,"
        f" {g['gy_re']} AS gy_re, {g['gy_im']} AS gy_im"
        f" FROM ants CROSS JOIN chans),"
        f" r AS (SELECT chan, gx_re AS uxr, gx_im AS uxi,"
        f" gy_re AS uyr, gy_im AS uyi FROM g WHERE ant = 0) "
        + calibration.solve_ticks_select("g", "r"))


def _mo7_oracle_sql() -> str:
    """Closed-form expected gains for mo7: every (obs, cc, ant) of the
    catalogue, via the same packed label as the Spark side."""
    from birli_spark.operators import multiobs
    n_lab = multiobs.N_OBS * syn.NUM_CC
    ants = ", ".join(f"({a})" for a in range(syn.NUM_ANTS))
    labels = ", ".join(f"({c})" for c in range(n_lab))
    g = calibration.synth_gain_sql("ant", "chan")
    ticks = calibration.solve_ticks_select("g", "r")
    return (
        f"WITH ants(ant) AS (VALUES {ants}),"
        f" labels(chan) AS (VALUES {labels}),"
        f" g AS (SELECT CAST(ant AS INT) AS ant, CAST(chan AS INT) AS chan,"
        f" {g['gx_re']} AS gx_re, {g['gx_im']} AS gx_im,"
        f" {g['gy_re']} AS gy_re, {g['gy_im']} AS gy_im"
        f" FROM ants CROSS JOIN labels),"
        f" r AS (SELECT chan, gx_re AS uxr, gx_im AS uxi,"
        f" gy_re AS uyr, gy_im AS uyi FROM g WHERE ant = 0),"
        f" t AS ({ticks})"
        f" SELECT CAST(FLOOR(chan / {syn.NUM_CC}) AS INT) AS obs_id,"
        f" CAST(chan % {syn.NUM_CC} AS INT) AS cc, ant,"
        f" gx_re_t, gx_im_t, gy_re_t, gy_im_t FROM t")


def oracle_sql() -> dict[str, str]:
    fc_pred = flags.fine_channel_pred_sql(
        syn.NUM_FC, n_edge=pipeline.N_EDGE, is_legacy=pipeline.IS_LEGACY)
    flagged_ctes = pipeline.flagged_vis_oracle_cte()
    cols = ", ".join(_COLS)

    # shared by o3b (bit-table roundtrip) and o3c (DataSource read-back)
    _mwaf_grid_oracle = (
        f"WITH {pipeline.flagged_vis_oracle_cte()}, "
        "cell AS (SELECT t, bl, cc, fc, MAX(flag) AS flag FROM flagged"
        " GROUP BY t, bl, cc, fc), "
        f"grid AS (SELECT t.t, b.bl, c.cc, f.fc FROM"
        f" (SELECT unnest(generate_series(0, {syn.NUM_T - 1})) AS t) t"
        f" CROSS JOIN (SELECT unnest(generate_series(0,"
        f" {syn.NUM_ANTS * syn.NUM_ANTS - 1})) AS bl) b"
        f" CROSS JOIN (SELECT unnest(generate_series(0, {syn.NUM_CC - 1}))"
        f" AS cc) c"
        f" CROSS JOIN (SELECT unnest(generate_series(0, {syn.NUM_FC - 1}))"
        f" AS fc) f) "
        "SELECT CAST(g.t AS BIGINT) AS t, CAST(g.bl AS BIGINT) AS bl,"
        " CAST(g.cc AS BIGINT) AS cc, CAST(g.fc AS BIGINT) AS fc,"
        " COALESCE(cell.flag, FALSE) AS flag"
        " FROM grid g LEFT JOIN cell ON cell.t = g.t AND cell.bl = g.bl"
        " AND cell.cc = g.cc AND cell.fc = g.fc")

    missing_slabs = _with_vis(
        "SELECT * FROM visd UNION ALL SELECT "
        + ", ".join(
            {
                "t": "m.t AS t",
                "cc": "m.cc AS cc",
                "ts_gps": "CAST(NULL AS DOUBLE) AS ts_gps",
                "flag": "TRUE AS flag",
            }.get(
                c,
                f"0.0 AS {c}" if c.endswith("_re") or c.endswith("_im") else f"s.{c}",
            )
            for c in _COLS
        )
        + " FROM missing m JOIN skeleton s ON m.cc = s.cc",
        extra_ctes=(
            "visd AS (SELECT * FROM vis WHERE NOT (t = 3 AND cc = 1)), "
            "present AS (SELECT DISTINCT t, cc FROM visd), "
            "expected AS (SELECT a.t, b.cc FROM (SELECT DISTINCT t FROM visd) a "
            "CROSS JOIN (SELECT DISTINCT cc FROM visd) b), "
            "missing AS (SELECT e.t, e.cc FROM expected e LEFT JOIN present p "
            "ON e.t = p.t AND e.cc = p.cc WHERE p.t IS NULL), "
            "skeleton AS (SELECT cc, fc, chan, freq_hz, bl, ant1, ant2, "
            "MIN(weight) AS weight FROM visd "
            "GROUP BY cc, fc, chan, freq_hz, bl, ant1, ant2)"
        ),
    )

    baked = flags.set_flags_oracle_select("vis", "ts_flags", "bl_flags", fc_pred, _COLS)

    return {
        "s1_vis_scan": syn.vis_sql(),
        "s2_missing_slabs": missing_slabs,
        "p1_select_ranges": _with_vis(
            f"SELECT {cols} FROM vis WHERE t >= 2 AND t < 10 AND cc IN (0, 2)"),
        "p1b_partitioned_scan": _with_vis(
            f"SELECT {cols} FROM vis WHERE t >= 2 AND t < 10 AND cc IN (0, 2)"),
        "p2_retain_antennas": _with_vis(
            f"SELECT {cols} FROM vis WHERE ant1 IN (0, 1, 2) AND ant2 IN (0, 1, 2)"),
        "p3_filter_flagged_ants": _with_vis(
            f"SELECT {cols} FROM vis WHERE ant1 NOT IN "
            f"(SELECT ant FROM antennas WHERE flagged) AND ant2 NOT IN "
            f"(SELECT ant FROM antennas WHERE flagged)",
            extra_ctes=f"antennas AS ({syn.ANTENNAS_SQL})"),
        "p4_filter_autos": _with_vis(f"SELECT {cols} FROM vis WHERE ant1 <> ant2"),
        "f2_quack_flags": (
            f"WITH timesteps AS ({syn.TIMESTEPS_SQL}) "
            + flags.quack_oracle_select(
                "timesteps", syn.GPS_START, pipeline.OBS_END_GPS,
                quack_s=pipeline.QUACK_S)),
        "f3_f5_fine_chan_flags": _with_vis(
            "SELECT DISTINCT cc, fc, "
            + flags.fine_channel_pred_sql(
                syn.NUM_FC, n_edge=pipeline.N_EDGE,
                is_legacy=pipeline.IS_LEGACY, explicit_fcs=_EXPLICIT_FCS)
            + " AS fc_flag FROM vis"),
        "f6_baseline_flags": (
            f"WITH antennas AS ({syn.ANTENNAS_SQL}) "
            + flags.baseline_flags_oracle_select("antennas")),
        "f7_set_flags": f"WITH {flagged_ctes} SELECT * FROM flagged",
        "f8_unflagged_ranges": (
            f"WITH {flagged_ctes} "
            + flags.unflagged_ranges_oracle_select("flagged")),
        "f10_bake_weights": (
            f"WITH {flagged_ctes} SELECT "
            + ", ".join(
                "CASE WHEN flag THEN -ABS(weight) ELSE ABS(weight) END AS weight"
                if c == "weight" else c
                for c in _COLS)
            + " FROM flagged"),
        # F9 relational SumThreshold: same window-function plan as the
        # Spark query, integer-tick windows (operators/rfi_sql.py)
        "f9_rfi_sumthreshold": _f9_oracle_sql(),
        "f9c_rfi_sir": _f9c_oracle_sql(),
        "f9d_aoflagger_strategy": _f9d_oracle_sql(),
        "f9e_rfi_mwa_strategy": _f9e_oracle_sql(),
        # C1 relational Newton: the DuckDB one-text form of the exact
        # plan the Spark query executes (operators/vanvleck_sql.py)
        "c1_van_vleck": vanvleck_sql.van_vleck_wide_sql(
            textsql.DUCK, syn.VV_SAMPLE_SCALE, (3,)),
        "c2_cable_correction": _with_vis(
            corrections.cable_oracle_select("vis", "antennas", _COLS),
            extra_ctes=f"antennas AS ({syn.ANTENNAS_SQL})"),
        "c3_geometric_correction": _with_vis(
            corrections.geom_oracle_select("vis", "part_uvw", _COLS),
            extra_ctes=f"part_uvw AS ({syn.PART_UVW_SQL})"),
        "c4_digital_gains": _with_vis(
            corrections.digital_oracle_select("vis", "digital_gains", _COLS),
            extra_ctes=f"digital_gains AS ({syn.DIGITAL_GAINS_SQL})"),
        "c5_passband_correction": _with_vis(
            corrections.passband_oracle_select("vis", "fine_gains", _COLS),
            extra_ctes=(
                "fine_gains AS ("
                + corrections.fine_gains_values_sql(pipeline.FINE_GAIN_ROWS) + ")")),
        "c6_di_calibration": _with_vis(
            calibration.calibration_oracle_select(
                "vis", "calsols", pipeline.CAL_RATIO, _COLS),
            extra_ctes=f"calsols AS ({syn.CALSOLS_SQL})"),
        # c7: the EXPECTED gains from the closed form (the Spark side
        # recovers them iteratively — agreement is a convergence gate)
        "c7_solve_di_gains": _c7_oracle_sql(),
        "mo7_multi_obs_calsolve": _mo7_oracle_sql(),
        "a1_average_time_freq": (
            f"WITH {flagged_ctes}, baked AS (SELECT "
            + ", ".join(
                "CASE WHEN flag THEN -ABS(weight) ELSE ABS(weight) END AS weight"
                if c == "weight" else c
                for c in _COLS)
            + " FROM flagged) "
            + averaging.averaging_oracle_select(
                "baked", pipeline.AVG_TIME, pipeline.AVG_FREQ)),
        "a2_channel_occupancy": (
            f"WITH {flagged_ctes} "
            + occupancy.occupancy_oracle_select("flagged", ("cc", "fc"))),
        "a3_baseline_occupancy": (
            f"WITH {flagged_ctes} "
            + occupancy.occupancy_oracle_select("flagged", ("ant1", "ant2"))),
        "a4_rowcount_validation": _with_vis("SELECT COUNT(*) AS n_rows FROM vis"),
        "pipeline_preprocess": pipeline.preprocess_oracle_sql(),
        "pipeline_preprocess_ssins": pipeline.preprocess_oracle_sql(ssins_rfi=True),
        "pipeline_preprocess_full": pipeline.preprocess_full_oracle_sql(),
        "s3_antenna_dim": syn.ANTENNAS_SQL,
        "s1b_gpubox_fits_scan": gpubox.expected_grid_sql(**_GPUBOX_SHAPE),
        "s1c_gpubox_datasource": gpubox.expected_grid_sql(**_GPUBOX_SHAPE),
        "s4_aocal_scan": syn.CALSOLS_SQL,
        "s5_o3_flag_roundtrip": (
            f"WITH {pipeline.flagged_vis_oracle_cte()} "
            f"SELECT {', '.join(flagsink.FLAG_COLS)} FROM flagged"),
        # mwaf bit-table = OR-reduced cells on the full dense (t, bl, chan)
        # grid; cells absent from the fact table read back unflagged.
        # The DataSource read-back (o3c) shares the ONE built string —
        # a grid/bounds fix cannot drift between the two gates.
        "o3b_mwaf_roundtrip": _mwaf_grid_oracle,
        "o3c_mwaf_datasource": _mwaf_grid_oracle,
        "o1_uvfits_rows": (
            f"WITH {pipeline.baked_oracle_ctes()} "
            + uvfits_sink.uvfits_rows_oracle_select(
                "baked", pipeline.AVG_TIME, pipeline.AVG_FREQ,
                syn.GPS_START, syn.INT_TIME_S)),
        "o1b_uvfits_file": (
            f"WITH {pipeline.baked_oracle_ctes()} "
            + uvfits_sink.uvfits_file_oracle_select(
                "baked", pipeline.AVG_TIME, pipeline.AVG_FREQ,
                syn.GPS_START, syn.INT_TIME_S,
                jd_zero=uvfits_sink.obs_jd_zero(syn.GPS_START))),
        "s1j_uvfits_scan": (
            f"WITH {pipeline.baked_oracle_ctes()} "
            + uvfits_sink.uvfits_file_oracle_select(
                "baked", pipeline.AVG_TIME, pipeline.AVG_FREQ,
                syn.GPS_START, syn.INT_TIME_S,
                jd_zero=uvfits_sink.obs_jd_zero(syn.GPS_START))),
        "o2b_ms_subtables": __import__(
            "birli_spark.sinks.ms_subtables",
            fromlist=["x"]).subtables_bundle_sql(),
        "o2_ms_rows": (
            f"WITH {pipeline.baked_oracle_ctes()} "
            + ms_sink.ms_rows_oracle_select(
                "baked", pipeline.AVG_TIME, pipeline.AVG_FREQ,
                syn.GPS_START, syn.INT_TIME_S)),
        "o2c_ms_file": (
            f"WITH {pipeline.baked_oracle_ctes()} "
            + __import__(
                "birli_spark.sinks.ms_file",
                fromlist=["x"]).ms_file_oracle_select(
                "baked", pipeline.AVG_TIME, pipeline.AVG_FREQ,
                syn.GPS_START, syn.INT_TIME_S)),
        "s1k_casams_scan": (
            f"WITH {pipeline.baked_oracle_ctes()} "
            + __import__(
                "birli_spark.sinks.ms_file",
                fromlist=["x"]).ms_file_oracle_select(
                "baked", pipeline.AVG_TIME, pipeline.AVG_FREQ,
                syn.GPS_START, syn.INT_TIME_S)),
        "mo1_multi_obs_pipeline": __import__(
            "birli_spark.operators.multiobs",
            fromlist=["x"]).multi_obs_preprocess_sql(),
        "mo2_multi_obs_ssins": __import__(
            "birli_spark.operators.multiobs",
            fromlist=["x"]).multi_obs_preprocess_sql(
                ssins=True, median_fn="quantile_cont"),
        "mo3_multi_obs_occupancy": __import__(
            "birli_spark.operators.multiobs",
            fromlist=["x"]).mo_occupancy_sql(),
        "mo4_multi_obs_uvfits": __import__(
            "birli_spark.operators.multiobs",
            fromlist=["x"]).mo_uvfits_files_oracle_sql(),
        "mo5_multi_obs_ms": __import__(
            "birli_spark.operators.multiobs",
            fromlist=["x"]).mo_ms_files_oracle_sql(),
        "mo6_calsol_drift": __import__(
            "birli_spark.operators.multiobs",
            fromlist=["x"]).mo6_calsol_drift_sql(),
        "st13_stream_calsol_drift": __import__(
            "birli_spark.operators.multiobs",
            fromlist=["x"]).mo6_calsol_drift_sql(),
        # st14 converges to the SAME known-truth gains as c7: the
        # stream accumulates the solve's sufficient statistics, so the
        # drained solve shares c7's oracle verbatim
        "st14_stream_calsolve": _c7_oracle_sql(),
        "p5_picket_ranges": picket.picket_oracle_sql("0,1-2"),
        "p6_time_chunks": _with_vis(chunking.chunk_assignment_sql("vis", 8)),
        "o4_describe": _with_vis(describe.describe_sql("vis")),
        "t1_token_stats": text.token_stats_oracle_sql(),
        "t2_lang_id": text.lang_id_oracle_sql(),
        "t3_fingerprint": text.fingerprint_oracle_sql(),
        "t4_source_rollup": text.source_quality_rollup_oracle_sql(),
        "t5_vocab_stats": text.vocab_stats_oracle_sql(),
        "sk1_kmv_distinct": sketches.kmv_distinct_tokens_oracle_sql(),
        "sk2_cms_heavy_hitters": sketches.cms_heavy_hitters_oracle_sql(),
        "t13_rarity_stats": text.rarity_stats_oracle_sql(),
        "h1_order_revenue": relational.order_revenue_oracle_sql(),
        "h2_idle_customers": relational.idle_customers_oracle_sql(),
        "t6_tfidf_top_terms": text.tfidf_oracle_sql(),
        "t7_stratified_sample": corpus_clean.stratified_sample_oracle_sql(),
        "d1_exact_dedup": dedup.exact_dedup_oracle_sql(),
        "d2_ngram_jaccard": dedup.shingle_jaccard_oracle_sql(),
        "d9_containment": dedup.shingle_containment_oracle_sql(),
        "d3_minhash_lsh": dedup.minhash_lsh_oracle_sql(),
        "d11_incremental_minhash": dedup.minhash_incremental_oracle_sql(),
        "d4_simhash_pairs": dedup.simhash_oracle_sql(),
        "d5_embedding_neardup": dedup.embedding_neardup_lsh_oracle_sql(),
        "d5b_embedding_neardup_brute": dedup.embedding_neardup_oracle_sql(),
        "d6_neardup_clusters": dedup.neardup_clusters_oracle_sql(),
        "d7_cluster_representatives": dedup.cluster_representatives_oracle_sql(),
        "t10_contamination": dedup.contamination_oracle_sql(),
        "t11_redact": text.redact_oracle_sql(),
        "t30_pii_scrub": text.pii_scrub_oracle_sql(),
        "ann_brute_topk": similarity.brute_topk_oracle_sql(),
        "ann_lsh_topk": similarity.lsh_topk_oracle_sql(),
        "ann_ivf_topk": similarity.ivf_topk_oracle_sql(),
        "ann_ivfpq_topk": similarity.ivfpq_topk_oracle_sql(),
        "e1_windowed_agg": events.windowed_agg_oracle_sql(),
        "e2_sessionize": events.sessionize_oracle_sql(),
        # native session_window variant shares the islands-form oracle
        "e2b_sessionize_native": events.sessionize_oracle_sql(),
        "e3_top_users_salted": events.top_users_oracle_sql(),
        "e5_event_rollup": events.event_rollup_oracle_sql(),
        "e4_asof_join": asof.asof_oracle_sql(),
        "e6_burst_counts": events.burst_counts_oracle_sql(),
        "e11_attribution_window": events.attribution_pairs_oracle_sql(),
        "e12_daily_type_pivot": events.daily_type_pivot_oracle_sql(),
        "e13_daily_type_unpivot": events.daily_type_unpivot_oracle_sql(),
        "e7_json_extract_stats": events.json_extract_stats_oracle_sql(),
        "e8_trailing_bursts": events.trailing_burst_oracle_sql(),
        "e9_retention": events.retention_oracle_sql(),
        "e10_funnel": events.funnel_oracle_sql(),
        "t12_repetition": text.repetition_oracle_sql(),
        "t9_top_bigrams": text.top_bigrams_oracle_sql(),
        "t8_length_quantiles": text.length_quantiles_oracle_sql(),
        "emb1_label_centroids": similarity.label_centroids_oracle_sql(),
        "emb2_kmeans": clustering.kmeans_oracle_sql(),
        "emb3_quantize": quantization.quantize_oracle_sql(),
        "d8_cross_source_overlap": dedup.cross_source_overlap_oracle_sql(),
        "mm_media_features": multimodal.media_features_oracle_sql(),
        "mm_audio_stats": multimodal.audio_waveform_stats_oracle_sql(),
        "mm_frame_sample": multimodal.sample_frames_oracle_sql(),
        "mm_resize": multimodal.resize_media_oracle_sql(),
        "pipeline_corpus_clean": corpus_clean.clean_corpus_oracle_sql(),
        "t14_quality_filter": text.quality_filter_oracle_sql(),
        "t15_unigram_logprob": text.unigram_logprob_oracle_sql(),
        "sk3_hll_distinct": sketches.hll_distinct_tokens_oracle_sql(),
        "e14_type_dow_sets": events.type_dow_grouping_sets_oracle_sql(),
        "h3_region_top_suppliers": relational.region_top_suppliers_oracle_sql(),
        "l1_zorder_layout": _with_vis(
            layout.zorder_layout_oracle_select("vis")),
        "i1_inverted_index": search.inverted_index_oracle_sql(),
        "i2_bm25_topk": search.bm25_topk_oracle_sql(),
        "d10_semantic_dedup": clustering.semantic_dedup_oracle_sql(),
        "sk4_bloom_membership": sketches.bloom_membership_oracle_sql(),
        "sk5_hist_quantiles": sketches.hist_quantiles_oracle_sql(),
        "mm_phash_neardup": multimodal.phash_neardup_oracle_sql(),
        "h4_pricing_summary": relational.pricing_summary_oracle_sql(),
        "h5_shipping_priority": relational.shipping_priority_oracle_sql(),
        "e15_type_transitions": events.type_transitions_oracle_sql(),
        "t16_bpe_pairs": text.bpe_pair_stats_oracle_sql(),
        "t17_chunk_udtf": text.chunk_documents_oracle_sql(),
        "emb4_pq_codes": quantization.pq_codes_oracle_sql(),
        "t18_pmi_collocations": text.pmi_collocations_oracle_sql(),
        "h6_small_quantity_revenue":
            relational.small_quantity_revenue_oracle_sql(),
        "e16_user_ewma": events.user_ewma_oracle_sql(),
        "ann_rerank_topk": similarity.rerank_topk_oracle_sql(),
        "mm_scene_cuts": multimodal.scene_cuts_oracle_sql(),
        "g1_source_pagerank": _graph_oracle(),
        "sk6_hll_windowed": sketches.hll_windowed_users_oracle_sql(),
        "ts1_series_neardup": _timeseries_oracle(),
        "m1_upsert": _merge_oracles()[0],
        "m2_scd2_history": _merge_oracles()[1],
        "pipeline_clean_index": search.clean_index_pipeline_oracle_sql(),
        "st1_stream_funnel": events.funnel_oracle_sql(),
        "st2_stream_transitions": events.type_transitions_oracle_sql(),
        "st3_stream_ewma": events.user_ewma_oracle_sql(),
        "st4_stream_topk": _stream_topk_oracle(),
        "st5_stream_kmv": _stream_kmv_oracle(),
        "st6_stream_hist": _stream_hist_oracle(),
        "st7_stream_sessions": events.sessionize_oracle_sql(),
        "h7_fuzzy_names": relational.fuzzy_name_pairs_oracle_sql(),
        "h8_late_order_priority": relational.late_order_priority_oracle_sql(),
        "h9_large_orders": relational.large_orders_oracle_sql(),
        "h10_promo_share": relational.promo_revenue_share_oracle_sql(),
        "h11_cust_order_dist":
            relational.customer_order_distribution_oracle_sql(),
        "h12_returned_losses": relational.returned_item_losses_oracle_sql(),
        "t20_weighted_sample": corpus_clean.weighted_sample_oracle_sql(),
        "t21_classifier_filter": corpus_clean.classifier_score_oracle_sql(),
        "t22_domain_mix": corpus_clean.domain_mix_plan_oracle_sql(),
        "m3_snapshot_diff": _snapshot_diff_oracle(),
        "e17_anomaly_days": events.anomaly_days_oracle_sql(),
        "h13_local_supplier_volume":
            relational.local_supplier_volume_oracle_sql(),
        "h14_part_supplier_counts":
            relational.part_supplier_counts_oracle_sql(),
        "i3_rrf_fusion": search.rrf_fusion_oracle_sql(),
        "t26_substring_dedup": corpus_clean.substring_dedup_oracle_sql(),
        "t28_leakage_safe_split":
            corpus_clean.leakage_safe_split_oracle_sql(),
        "t29_novelty": text.novelty_stats_oracle_sql(),
        "ts2_dtw_pairs": _dtw_pairs_oracle(),
        "mm7_audio_landmarks": multimodal.audio_landmark_pairs_oracle_sql(),
        "o5_shard_manifest": _shard_manifest_oracle(),
        "sk7_theta_pairs": sketches.theta_sketch_pairs_oracle_sql(),
        "st8_stream_theta": _stream_theta_oracle(),
        "st9_stream_ssins": (
            f"WITH vis AS ({syn.vis_sql()}), "
            + ssins.ssins_parts("vis", median_fn="quantile_cont")[0]
            + " SELECT t, chan, "
            + ", ".join(f"{p}_amp" for p in ("xx", "xy", "yx", "yy"))
            + ", n_bl FROM ssins_ins"),
        "st11_stream_multiobs_ssins": (
            "WITH vis AS ("
            + __import__("birli_spark.operators.multiobs",
                         fromlist=["x"]).multi_vis_cte() + "), "
            + ssins.ssins_parts(
                "vis", median_fn="quantile_cont",
                obs_expr=f"CAST(FLOOR(t / {syn.NUM_T}) AS INT)")[0]
            + " SELECT obs_id, t, chan, "
            + ", ".join(f"{p}_amp" for p in ("xx", "xy", "yx", "yy"))
            + ", n_bl FROM ssins_ins"),
        "st10_stream_rfi": _st10_oracle_sql(),
        "st12_stream_minhash": (
            "SELECT doc_a, doc_b, est_jaccard, pair_type FROM ("
            + dedup.minhash_incremental_oracle_sql(cap_side="index")
            + ") WHERE pair_type = 'new_old'"),
        "m5_compaction_plan": _compaction_plan_oracle(),
        "q3_referential_integrity": _ref_integrity_oracle(),
        "t27_bigram_lm": text.bigram_lm_bits_oracle_sql(),
        "g2_triangle_stats": _triangle_stats_oracle(),
        "h15_volume_shipping": relational.volume_shipping_oracle_sql(),
        "h16_market_share": relational.market_share_oracle_sql(),
        "h17_product_profit": relational.product_profit_oracle_sql(),
        "h18_important_parts": relational.important_parts_oracle_sql(),
        "h20_top_supplier": relational.top_supplier_oracle_sql(),
        "h21_disjunctive_revenue":
            relational.disjunctive_revenue_oracle_sql(),
        "h22_excess_suppliers": relational.excess_suppliers_oracle_sql(),
        "h23_blame_suppliers": relational.blame_suppliers_oracle_sql(),
        "h24_idle_rich_customers":
            relational.idle_rich_customers_oracle_sql(),
        "h25_forecast_revenue": relational.forecast_revenue_oracle_sql(),
        "h19_min_cost_supplier": relational.min_cost_supplier_oracle_sql(),
        "h26_priority_lateness": relational.priority_lateness_oracle_sql(),
        "t23_segment_dedup": corpus_clean.segment_dedup_oracle_sql(),
        "s6_jsonl_roundtrip": _jsonl_roundtrip_oracle(),
        "q1_column_profile": _profile_oracles()[0],
        "q4_distribution_drift": __import__(
            "birli_spark.operators.profile",
            fromlist=["x"]).distribution_drift_oracle_sql(),
        "mm9_image_pixel_stats": __import__(
            "birli_spark.operators.multimodal",
            fromlist=["x"]).image_pixel_stats_oracle_sql(),
        "q2_k_anonymity": _profile_oracles()[1],
        "c3b_geometry_phase_centre": _geometry_pc_oracle(),
        "c3c_part_uvw_precessed": _prec_oracle_sql(),
        "f11_ssins_spectra": (
            f"WITH vis AS ({syn.vis_sql()}), "
            + " ".join(ssins.ssins_parts("vis", median_fn="quantile_cont"))),
        "f12_ssins_autos": (
            f"WITH vis AS ({syn.vis_sql()}), "
            + " ".join(ssins.ssins_autos_parts("vis", median_fn="quantile_cont"))),
        "im1_uv_grid": (
            f"WITH vis AS ({syn.vis_sql()}), baked AS (SELECT "
            + ", ".join(
                "CASE WHEN flag THEN -ABS(weight) ELSE ABS(weight) END AS weight"
                if c == "weight" else c
                for c in _COLS)
            + " FROM vis), "
            + f"part_uvw AS ({syn.PART_UVW_SQL}), geom AS ("
            + corrections.geom_oracle_select("baked", "part_uvw", _COLS)
            + ") " + gridding.uv_grid_oracle_select("geom")),
        "im2_uv_grid_uniform": (
            f"WITH vis AS ({syn.vis_sql()}), baked AS (SELECT "
            + ", ".join(
                "CASE WHEN flag THEN -ABS(weight) ELSE ABS(weight) END AS weight"
                if c == "weight" else c
                for c in _COLS)
            + " FROM vis), "
            + f"part_uvw AS ({syn.PART_UVW_SQL}), geom AS ("
            + corrections.geom_oracle_select("baked", "part_uvw", _COLS)
            + ") " + gridding.uv_grid_uniform_oracle_select("geom")),
        "im4_dirty_image": (
            f"WITH vis AS ({syn.vis_sql()}), baked AS (SELECT "
            + ", ".join(
                "CASE WHEN flag THEN -ABS(weight) ELSE ABS(weight) END AS weight"
                if c == "weight" else c
                for c in _COLS)
            + " FROM vis), "
            + f"part_uvw AS ({syn.PART_UVW_SQL}), geom AS ("
            + corrections.geom_oracle_select("baked", "part_uvw", _COLS)
            + "), im4_grid AS ("
            + gridding.uv_grid_oracle_select("geom")
            + ") " + gridding.dirty_image_select("im4_grid")),
        "im5_psf_image": (
            f"WITH vis AS ({syn.vis_sql()}), baked AS (SELECT "
            + ", ".join(
                "CASE WHEN flag THEN -ABS(weight) ELSE ABS(weight) END AS weight"
                if c == "weight" else c
                for c in _COLS)
            + " FROM vis), "
            + f"part_uvw AS ({syn.PART_UVW_SQL}), geom AS ("
            + corrections.geom_oracle_select("baked", "part_uvw", _COLS)
            + "), im5_grid AS ("
            + gridding.uv_grid_oracle_select("geom")
            + ") " + gridding.psf_image_select("im5_grid")),
        "im3_delay_spectrum": (
            f"WITH vis AS ({syn.vis_sql()}) "
            + __import__("birli_spark.operators.delay",
                         fromlist=["delay"]).delay_oracle_select(
                             syn.NUM_CC * syn.NUM_FC)),
        "im3b_delay_spectrum_udf": (
            f"WITH vis AS ({syn.vis_sql()}) "
            + __import__("birli_spark.operators.delay",
                         fromlist=["delay"]).delay_oracle_select(
                             syn.NUM_CC * syn.NUM_FC)),
        "m4_incremental_agg": _incremental_agg_oracle(),
        "t24_sequence_packing": corpus_clean.sequence_packing_oracle_sql(),
        "t25_dsir_weights": text.dsir_weights_oracle_sql(),
        "s1g_gpubox_read_bench": _gpubox_bench_oracle(),
        "s1h_real_format_e2e": __import__(
            "birli_spark.pipeline_e2e", fromlist=["e2e_oracle_sql"]
        ).e2e_oracle_sql(),
        "s1d_mwax_gpubox_scan": _mwax_oracle(),
        # the reference's own pyuvdata golden CSV IS the oracle: unpivot
        # the 4 channel columns and regex-parse the complex literals
        "s1e_legacy_gpubox_scan": f"""
WITH raw AS (
  SELECT CAST(baseline AS INT) AS baseline, pol,
    CAST(u.chan AS INT) AS chan,
    [ "0", "1", "2", "3" ][u.chan + 1] AS val
  FROM read_csv('{_ORD_DIR}/pyuvdata_1196175296.none.csv',
                header = true, all_varchar = true),
  LATERAL unnest(generate_series(0, 3)) AS u(chan)
  WHERE type = 'vis')
SELECT baseline, pol, chan,
  CAST(regexp_extract(val, '^\\(([-+]?[0-9.e]+)([-+][0-9.e]+)j\\)$', 1)
       AS DOUBLE) AS re,
  CAST(regexp_extract(val, '^\\(([-+]?[0-9.e]+)([-+][0-9.e]+)j\\)$', 2)
       AS DOUBLE) AS im
FROM raw""",
        # expected rows transcribed from the reference's own
        # tests/data/1297526432_mwax/1297526432.metafits.txt dump
        # (TILEDATA table: Antenna/TileName/Flag/Length/North/East/Height;
        # float32 metafits values round-tripped through FLOAT)
        "s3b_metafits_dims": """
SELECT CAST(ant AS INT) AS ant,
  CAST(elx AS DOUBLE) AS elec_length_x_m,
  CAST(ely AS DOUBLE) AS elec_length_y_m,
  CAST(CAST(e AS FLOAT) AS DOUBLE) AS east_m,
  CAST(CAST(n AS FLOAT) AS DOUBLE) AS north_m,
  CAST(CAST(h AS FLOAT) AS DOUBLE) AS height_m,
  flagged
FROM (VALUES
  (0, -283.93, -283.93, -55.56, 124.801, 376.803, false),
  (1, 78.72, 78.72, 177.467, -43.377, 375.005, false)
) AS t(ant, elx, ely, e, n, h, flagged)""",
    }


def _gpubox_bench_oracle() -> str:
    from birli_spark.sources import gpubox
    d = _gpubox_bench_dims()
    return gpubox.expected_grid_sql(
        d["num_cc"], d["num_ants"], d["num_fine"], d["num_timesteps"])


def _mwax_oracle() -> str:
    from birli_spark.sources import gpubox
    return gpubox.mwax_expected_sql()


def _incremental_agg_oracle() -> str:
    from birli_spark.operators import merge
    return merge.incremental_daily_agg_oracle_sql()


def _geometry_pc_oracle() -> str:
    from birli_spark.operators import geometry
    uvw = geometry.part_uvw_oracle_sql(
        "antennas", syn.NUM_T, int_time_s=syn.INT_TIME_S, **_PC)
    return _with_vis(
        corrections.geom_oracle_select("vis", "part_uvw", _COLS),
        extra_ctes=(f"antennas AS ({syn.ANTENNAS_SQL}), "
                    f"part_uvw AS ({uvw})"))


def _profile_oracles() -> tuple[str, str]:
    from birli_spark.operators import profile
    return (profile.column_profile_oracle_sql(),
            profile.k_anonymity_oracle_sql())


def _jsonl_roundtrip_oracle() -> str:
    from birli_spark.sources import jsonl
    return jsonl.roundtrip_oracle_sql()


def _timeseries_oracle() -> str:
    from birli_spark.operators import timeseries
    return timeseries.series_neardup_oracle_sql()


def _merge_oracles() -> tuple[str, str]:
    from birli_spark.operators import merge
    return (merge.upsert_documents_oracle_sql(),
            merge.scd2_user_type_oracle_sql())


def _snapshot_diff_oracle() -> str:
    from birli_spark.operators import merge
    return merge.snapshot_diff_oracle_sql()


def _graph_oracle() -> str:
    from birli_spark.operators import graph
    return graph.source_pagerank_oracle_sql()
