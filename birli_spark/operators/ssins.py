"""F11 (beyond-reference) — SSINS-style incoherent noise spectra.

Sky-Subtracted Incoherent Noise Spectra (M. J. Wilensky et al., "Absolving
the SSINS of Precision Interferometric Radio Data: A New Technique for
Mitigating Faint Radio Frequency Interference", PASP 131:114507, 2019): the
sky is static over adjacent integrations, RFI is not — so the amplitude of
the difference of consecutive time samples, averaged incoherently over all
baselines, is a (time × channel) noise image in which faint broadband RFI
stands out. Cells whose per-channel z-score exceeds a threshold are flagged.

This is the scale-friendly complement to the reference's AOFlagger pass
(SURVEY.md §2.3 F9, reference src/flags.rs:368-437): where SumThreshold
needs a per-baseline dense image (a grouped-map UDF island), SSINS is pure
relational algebra — window lag, scalar amplitude, two shrinking
aggregations — and stays entirely JVM-side at 100 TB.

Spark shape: ONE linear plan over a single fact-table scan — cube
materialization (partial+final hash aggregate), adjacent-time lag window
on (bl, chan), then the incoherent baseline average shrinks T×C×B → T×C
before the per-channel robust scoring, which runs as stacked
aggregate-as-window projections over the tiny (T×C) image (a groupBy +
join-back formulation would make Spark inline the CTE and re-scan the
fact table once per consumer). Every exchange is on strictly shrinking
data. The same SQL text (modulo the median dialect) is the DuckDB
oracle, so every float goes through the f32 demotion
(functions/complex.py) on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from birli_spark.functions.complex import POLS, f32

#: default z-score threshold (the SSINS paper's broadband-RFI masks use
#: ~5 sigma for the match-filtered shapes; we score per-channel samples)
DEFAULT_THRESHOLD = 5.0


#: MAD → sigma consistency factor for a normal distribution (the robust
#: scale the SSINS masking iteration converges towards)
MAD_SIGMA = "1.4826"


def scoring_parts(ins: str = "ssins_ins",
                  threshold: float = DEFAULT_THRESHOLD,
                  median_fn: str = "percentile",
                  rel_floor: float = 0.01,
                  pols: tuple[str, ...] = POLS,
                  count_col: str = "n_bl",
                  per_obs: bool = False) -> tuple[str, str]:
    """(CTE chain, final SELECT) of the per-channel robust scoring over
    an already-built incoherent noise image ``ins`` (columns t, chan,
    {pol}_amp, n_bl). Used standalone by the streaming twin to score a
    DRAINED image (streaming/ssins.py), and composed by
    :func:`ssins_parts` for the batch derivation.

    ``per_obs``: the image carries an ``obs_id`` column and every
    median/MAD partitions by (obs_id, chan) — each observation of a
    catalogue is scored against ITS OWN channel statistics (the
    multi-obs pipeline, operators/multiobs.py). Default text is
    byte-identical to the single-obs form."""
    ek = "obs_id, " if per_obs else ""

    def med(x: str) -> str:
        # aggregate-as-window over the whole channel partition: keeps the
        # med/MAD stats in the SAME linear plan as the image (a groupBy +
        # join-back would make Spark inline the CTE and re-scan the fact
        # table once per consumer)
        return f32(f"CAST({median_fn}({x}, 0.5)"
                   f" OVER (PARTITION BY {ek}chan) AS DOUBLE)")

    med_cols = ", ".join(f"{med(f'{p}_amp')} AS m_{p}" for p in pols)
    dev_cols = ", ".join(
        f"{f32(f'ABS({p}_amp - m_{p})')} AS ad_{p}" for p in pols)
    mad_cols = ", ".join(f"{med(f'ad_{p}')} AS s_{p}" for p in pols)
    amp_keep = ", ".join(f"{p}_amp" for p in pols)
    m_keep = ", ".join(f"m_{p}" for p in pols)
    # scale floor: a degenerate channel (near-identical amplitudes) has
    # MAD ~ float rounding noise, which would make any distinct value an
    # astronomic z — clamp the robust scale to rel_floor x the median
    # amplitude (the paper's noise-floor role)
    def s_eff(p: str) -> str:
        return f"GREATEST(s_{p}, {f32(f'{rel_floor!r} * m_{p}')})"

    z_cols = ", ".join(
        f"CASE WHEN {s_eff(p)} > 0 THEN"
        f" {f32(f'({p}_amp - m_{p}) / ' + f32(f'{MAD_SIGMA} * {s_eff(p)}'))}"
        f" ELSE CAST(0.0 AS DOUBLE) END AS z_{p}" for p in pols)
    z_keep = ", ".join(f"z_{p}" for p in pols)
    # |z|: a contaminated sample inflates the difference on one side and
    # can deflate it on the other (the burst cancels part of the sky
    # change) — both samples of a contaminated difference are suspect
    greatest = "GREATEST(" + ", ".join(f"ABS(z_{p})" for p in pols) + ")"
    ctes = f"""ssins_med AS (
  SELECT {ek}t, chan, {amp_keep}, {count_col}, {med_cols}
  FROM {ins}
),
ssins_dev AS (
  SELECT {ek}t, chan, {amp_keep}, {count_col}, {m_keep}, {dev_cols}
  FROM ssins_med
),
ssins_mad AS (
  SELECT {ek}t, chan, {amp_keep}, {count_col}, {m_keep}, {mad_cols}
  FROM ssins_dev
),
ssins_scored AS (
  SELECT {ek}t, chan, {amp_keep}, {count_col}, {z_cols}
  FROM ssins_mad
)"""
    final = (
        f"SELECT {ek}t, chan, {amp_keep}, {count_col}, {z_keep},"
        f" ({greatest} > CAST({threshold!r} AS DOUBLE)) AS rfi_flag"
        f" FROM ssins_scored"
    )
    return ctes, final


def ssins_parts(vis: str = "vis",
                threshold: float = DEFAULT_THRESHOLD,
                median_fn: str = "percentile",
                rel_floor: float = 0.01,
                obs_expr: str | None = None) -> tuple[str, str]:
    """(CTE chain, final SELECT) of the SSINS derivation — split so
    callers can prepend their own CTEs (the oracle prepends the synthetic
    vis derivation).

    The one dialect difference is the exact interpolated median:
    ``median_fn="percentile"`` (Spark) vs ``"quantile_cont"`` (DuckDB) —
    both sort-based linear interpolation, identical on identical doubles.
    Everything else is shared text. Scoring is median/MAD per channel
    (the robust statistic SSINS's iterative masking converges to — a
    plain mean/std z saturates because the outliers inflate the std).

    Output: one row per (t, chan) differenced cell — per-pol incoherent
    mean amplitudes, contributing-baseline count, per-pol per-channel
    robust z-scores, and the ``rfi_flag`` disjunction.

    ``obs_expr``: an expression over ``vis`` identifying the
    observation (e.g. ``FLOOR(t / NUM_T)`` on a catalogue's global
    timestep index). When given, the time differencing NEVER lags
    across an observation boundary and all scoring statistics are
    per-(obs, chan) — the multi-obs catalogue form. Default text stays
    byte-identical to the single-obs derivation.
    """
    ek = "obs_id, " if obs_expr else ""
    head = f"{obs_expr} AS obs_id, " if obs_expr else ""
    gk = f"{obs_expr}, " if obs_expr else ""
    cube_cols = ", ".join(
        f"{f32(f'AVG({p}_{c})')} AS {p}_{c}"
        for p in POLS for c in ("re", "im"))
    lag = ("{x} - LAG({x}) OVER (PARTITION BY " + ek
           + "bl, chan ORDER BY t) AS d_{x}")
    diff_cols = ", ".join(
        lag.format(x=f"{p}_{c}") for p in POLS for c in ("re", "im"))
    amp_cols = ", ".join(
        f"{f32(f'SQRT(d_{p}_re * d_{p}_re + d_{p}_im * d_{p}_im)')} AS a_{p}"
        for p in POLS)
    ins_cols = ", ".join(
        f"{f32(f'AVG(a_{p})')} AS {p}_amp" for p in POLS)
    score_ctes, final = scoring_parts("ssins_ins", threshold,
                                      median_fn, rel_floor,
                                      per_obs=obs_expr is not None)
    # one fact-scale exchange, not two (guide §2.4): hash-partition the
    # scan by (bl, chan) BEFORE the cube aggregate — HashPartitioning
    # on a SUBSET of the grouping keys satisfies the aggregate's
    # ClusteredDistribution, and the adjacent-time lag window right
    # after PARTITIONs BY exactly (bl, chan), so the same exchange
    # serves both (the un-hinted plan exchanged the full fact once for
    # the aggregate keys and AGAIN for the window keys). DuckDB parses
    # the hint as a comment; per-group float results are unchanged
    # (same partial sets, and each cell's duplicate rows carry
    # identical values, so the cube AVG is order-free).
    ctes = f"""ssins_cube AS (
  SELECT {head}t, chan, bl, {cube_cols}
  FROM (SELECT /*+ REPARTITION(bl, chan) */ * FROM {vis})
  GROUP BY {gk}t, chan, bl
),
ssins_diffs AS (
  SELECT {ek}t, chan, bl, {diff_cols}
  FROM ssins_cube
),
ssins_amps AS (
  SELECT {ek}t, chan, {amp_cols}
  FROM ssins_diffs
  WHERE d_xx_re IS NOT NULL
),
ssins_ins AS (
  SELECT {ek}t, chan, {ins_cols}, CAST(COUNT(*) AS BIGINT) AS n_bl
  FROM ssins_amps
  GROUP BY {ek}t, chan
),
{score_ctes}"""
    return ctes, final


def ssins_autos_parts(vis: str = "vis",
                      threshold: float = DEFAULT_THRESHOLD,
                      median_fn: str = "percentile",
                      rel_floor: float = 0.01) -> tuple[str, str]:
    """F12 — the SSINS autocorrelation variant: autos measure total
    received POWER per antenna (xx_re/yy_re of ant1 == ant2 rows), so
    RFI that cross-correlations dilute by fringe-winding shows up at
    full strength (the SSINS paper's autocorrelation spectra). Diff the
    per-(ant, chan) power series over time, average |diff| incoherently
    over antennas, score with the same per-channel median/MAD |z|.
    Same one-linear-plan shape as F11 on a much smaller input (autos =
    A rows per (t, chan) vs B baselines)."""
    pols = ("xx", "yy")
    cube_cols = ", ".join(
        f"{f32(f'AVG({p}_re)')} AS p_{p}" for p in pols)
    diff_cols = ", ".join(
        f"p_{p} - LAG(p_{p}) OVER (PARTITION BY ant, chan ORDER BY t)"
        f" AS d_{p}" for p in pols)
    amp_cols = ", ".join(
        f"{f32(f'ABS(d_{p})')} AS a_{p}" for p in pols)
    ins_cols = ", ".join(
        f"{f32(f'AVG(a_{p})')} AS {p}_amp" for p in pols)
    score_ctes, final = scoring_parts(
        "ssins_auto_ins", threshold, median_fn, rel_floor,
        pols=pols, count_col="n_ant")
    ctes = f"""ssins_auto_cube AS (
  SELECT t, chan, ant1 AS ant, {cube_cols}
  FROM {vis}
  WHERE ant1 = ant2
  GROUP BY t, chan, ant1
),
ssins_auto_diffs AS (
  SELECT t, chan, ant, {diff_cols}
  FROM ssins_auto_cube
),
ssins_auto_amps AS (
  SELECT t, chan, {amp_cols}
  FROM ssins_auto_diffs
  WHERE d_xx IS NOT NULL
),
ssins_auto_ins AS (
  SELECT t, chan, {ins_cols}, CAST(COUNT(*) AS BIGINT) AS n_ant
  FROM ssins_auto_amps
  GROUP BY t, chan
),
{score_ctes}"""
    return ctes, final


def ssins_autos(vis: DataFrame,
                threshold: float = DEFAULT_THRESHOLD) -> DataFrame:
    """Run the autocorrelation SSINS variant over a long-format vis."""
    spark = vis.sparkSession
    vis.createOrReplaceTempView("ssins_autos_input")
    ctes, final = ssins_autos_parts("ssins_autos_input", threshold)
    return spark.sql(f"WITH {ctes} {final}")


def ssins_select(vis: str = "vis",
                 threshold: float = DEFAULT_THRESHOLD) -> str:
    """The full derivation as one standalone WITH...SELECT."""
    ctes, final = ssins_parts(vis, threshold)
    return f"WITH {ctes} {final}"


def ssins_spectra(vis: DataFrame,
                  threshold: float = DEFAULT_THRESHOLD) -> DataFrame:
    """Run the SSINS derivation over a long-format vis DataFrame."""
    spark = vis.sparkSession
    vis.createOrReplaceTempView("ssins_vis_input")
    return spark.sql(ssins_select("ssins_vis_input", threshold))


def ssins_flag_vis(vis: DataFrame,
                   threshold: float = DEFAULT_THRESHOLD) -> DataFrame:
    """OR the SSINS (t, chan) mask back into the vis flags — the same
    ``re_apply_existing`` disjunction semantics as the reference's RFI
    pass (src/flags.rs:414-418), via a broadcast join on the tiny image."""
    from pyspark.sql import functions as F

    mask = ssins_spectra(vis, threshold).select(
        "t", "chan", F.col("rfi_flag").alias("_ssins_flag"))
    joined = vis.join(F.broadcast(mask), ["t", "chan"], "left")
    return joined.withColumn(
        "flag", F.col("flag") | F.coalesce(F.col("_ssins_flag"), F.lit(False))
    ).select(*vis.columns)


def ssins_flag_vis_oracle_ctes(vis: str, vis_columns) -> str:
    """Oracle CTE chain twin of :func:`ssins_flag_vis` over the ``vis``
    CTE, ending in ``rfid`` (each CTE space-led and comma-terminated)."""
    ctes, final = ssins_parts(vis, median_fn="quantile_cont")
    rfid_cols = ", ".join(
        "(p.flag OR COALESCE(m.rfi_flag, FALSE)) AS flag"
        if c == "flag" else f"p.{c}" for c in vis_columns)
    return (f" {ctes},"
            f" ssins_mask AS ({final}),"
            f" rfid AS (SELECT {rfid_cols} FROM {vis} p"
            f" LEFT JOIN ssins_mask m ON p.t = m.t AND p.chan = m.chan),")
