"""CLI mirroring the reference's argument surface (reference
``BirliContext::from_args``, src/cli.rs:622-1518) so a user of the
reference can switch with the flags they already use. Staged semantic
analysis into plain context structs — the same "IR" design (SURVEY.md
§3.1) — then ONE flowchart (:func:`build_baked`) assembled from the
operator library as named stages: select → rule-flag → gate → correct →
RFI → geometry → calibrate → bake, then chunking/averaging
(:func:`build_plan`) and the sinks.

The stages run over an :class:`Observation`: the synthetic sf directory
(TESTDATA.md) or a metafits + gpubox archive (``real_input.py``).
:func:`run` builds it and the baked plan once; every sink reads that
one plan.

Supported subset (the operators implemented in this engine):
selection (``--sel-time``, ``--sel-ants``, ``--sel-chan-ranges``,
``--no-sel-autos``, ``--no-sel-flagged-ants``, ``--timestep-limit``,
``--baseline-limit``), flagging
(``--flag-times``, ``--flag-antennas``, ``--flag-fine-chans``,
``--flag-coarse-chans``, ``--flag-edge-chans``/``--flag-edge-width``,
``--flag-dc``/``--no-flag-dc``, ``--flag-autos``,
``--quack-time``/``--flag-init``, ``--flag-end``, ``--no-rfi``),
corrections (``--no-cable-delay``, ``--no-digital-gains``,
``--no-geometric-delay``, ``--van-vleck``,
``--pfb-gains``/``--passband-gains`` incl. auto/oversampled/deripple
arms), ``--apply-di-cal``, averaging (``--avg-time-factor``,
``--avg-freq-factor``, resolution variants), chunking
(``--time-chunk``, ``--max-memory``), sinks (``-f`` mwaf dir, ``-u``
uvfits path, ``-M`` MS dir, ``--flag-parquet``), ``--dry-run``.
"""

from __future__ import annotations

import argparse
import math
import sys
from dataclasses import dataclass, field
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from birli_spark import pipeline
from birli_spark.operators import (averaging, calibration, chunking,
                                   corrections, describe, flags, selection,
                                   weights)
from birli_spark.sources import aocal
from birli_spark.sources import synthetic as syn


@dataclass
class Context:
    """The parsed-and-validated invocation — the plain-struct "IR"
    (reference BirliContext, src/cli.rs:54-73)."""
    sf_dir: str | None
    metafits: str | None = None
    gpubox: str | None = None
    sel_time: tuple[int, int] | None = None
    sel_ants: list[int] | None = None
    sel_chan_ranges: str | None = None
    no_sel_autos: bool = False
    no_sel_flagged_ants: bool = False
    flag_times: list[int] = field(default_factory=list)
    flag_antennas: list[int] = field(default_factory=list)
    flag_fine_chans: list[int] = field(default_factory=list)
    flag_coarse_chans: list[int] = field(default_factory=list)
    flag_edge_chans: int = 0
    flag_dc: bool = True
    flag_autos: bool = False
    quack_time: float | None = None  # None = surface default (metafits
    # QUACKTIM in real mode, 0 on the synthetic surface); explicit 0
    # disables
    flag_init_steps: int | None = None  # N steps -> N * int_time s,
    # resolved against the OBSERVATION's int_time where it is known
    flag_end_steps: int | None = None
    flag_end: float = 0.0
    no_flag_metafits: bool = False
    no_rfi: bool = True
    precess: bool = False
    dut1: float = 0.0
    rfi_sensitivity: float = 6.0
    rfi_strategy: str = "mwa"
    rfi_impl: str = "float"
    no_draw_progress: bool = False
    rfi_iterative: bool = False
    sir_eta: float | None = None
    ssins: bool = False
    ssins_threshold: float = 5.0
    no_cable_delay: bool = False
    no_digital_gains: bool = False
    no_geometric_delay: bool = False
    phase_centre: tuple[float, float] | None = None
    pointing_centre: bool = False
    emulate_cotter: bool = False
    van_vleck: bool = False
    pfb_gains: str = "none"
    apply_di_cal: str | None = None
    avg_time: int = 1
    avg_freq: int = 1
    time_chunk: int | None = None
    max_memory_gib: float | None = None
    mwaf_out: str | None = None
    uvfits_out: str | None = None
    ms_out: str | None = None
    flag_parquet_out: str | None = None
    baseline_limit: int | None = None
    timestep_limit: int | None = None
    provided_chan_ranges: bool = False
    dump_csv: str | None = None
    dump_mode: str = "vis-only"
    dry_run: bool = False


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="birli_spark",
        description="PySpark-native MWA preprocessing (reference-compatible flags)")
    p.add_argument("sf_dir", nargs="?", default=None,
                   help="input data directory (TESTDATA.md layout); "
                        "omit when giving -m/--gpubox real inputs")
    p.add_argument("-m", "--metafits", type=str, default=None,
                   help="REAL-INPUT mode: the observation metafits "
                        "(the reference's -m); dims, frequencies, "
                        "quack window and phase centre come from it "
                        "(birli_spark/real_input.py)")
    p.add_argument("--gpubox", type=str, default=None,
                   metavar="GLOB",
                   help="REAL-INPUT mode: gpubox FITS file glob "
                        "(pairs with -m; one scan task per file)")
    p.add_argument("--sel-time", nargs=2, type=int, metavar=("MIN", "MAX"))
    p.add_argument("--sel-ants", nargs="+", type=int)
    p.add_argument("--sel-chan-ranges", type=str)
    p.add_argument("--no-sel-autos", action="store_true")
    p.add_argument("--no-sel-flagged-ants", action="store_true")
    p.add_argument("--flag-times", nargs="+", type=int, default=[])
    p.add_argument("--flag-antennas", nargs="+", type=int, default=[])
    p.add_argument("--flag-fine-chans", nargs="+", type=int, default=[])
    p.add_argument("--flag-coarse-chans", nargs="+", type=int, default=[])
    edge = p.add_mutually_exclusive_group()
    edge.add_argument("--flag-edge-chans", type=int, default=0)
    edge.add_argument("--flag-edge-width", type=float, metavar="KHZ",
                      help="edge width in kHz -> fine-chan count "
                           "(reference src/cli.rs:1063-1103)")
    dc = p.add_mutually_exclusive_group()
    dc.add_argument("--flag-dc", dest="flag_dc", action="store_true",
                    default=None)
    dc.add_argument("--no-flag-dc", dest="flag_dc", action="store_false")
    p.add_argument("--flag-autos", action="store_true")
    p.add_argument("--quack-time", "--flag-init", dest="quack_time",
                   type=float, default=None,
                   help="seconds flagged after the obs start; default: "
                        "the metafits QUACKTIM in real (-m/--gpubox) "
                        "mode, 0 on the synthetic surface. An explicit "
                        "0 disables quack flagging (reference "
                        "src/cli.rs --flag-init)")
    p.add_argument("--flag-end", type=float, default=0.0,
                   help="seconds flagged before the end of the obs "
                        "(reference src/cli.rs:1104-1157)")
    p.add_argument("--flag-init-steps", type=int, default=None,
                   metavar="N", help="flag the first N timesteps "
                        "(N x int_time seconds; overrides --quack-time, "
                        "reference src/cli.rs:1141-1146)")
    p.add_argument("--flag-end-steps", type=int, default=None,
                   metavar="N", help="flag the last N timesteps "
                        "(overrides --flag-end)")
    p.add_argument("--no-flag-metafits", action="store_true",
                   help="ignore antenna flags in the metadata "
                        "(reference src/cli.rs:1029)")
    p.add_argument("--no-rfi", action="store_true")
    p.add_argument("--rfi-iterative", action="store_true",
                   help="run the ITERATIVE AOFlagger-strategy shape in "
                        "the RFI slot (decreasing-threshold SumThreshold "
                        "passes with a flag-masked Gaussian sliding-"
                        "window fit between, final pass + SIR — "
                        "operators/rfi.py::flag_rfi_strategy)")
    p.add_argument("--sir-eta", type=float, default=None,
                   help="append the SIR morphological dilation "
                        "(Offringa & van de Gronde 2012, aoflagger's "
                        "post-pass) with this aggressiveness to the "
                        "SumThreshold mask")
    p.add_argument("--ssins", action="store_true",
                   help="use the all-relational SSINS incoherent-noise "
                        "flagger (Wilensky et al. 2019) in the RFI slot "
                        "instead of the SumThreshold UDF island")
    p.add_argument("--ssins-threshold", type=float, default=5.0,
                   metavar="Z", help="SSINS robust z-score flag threshold")
    p.add_argument("--aoflagger-strategy", type=str, default="mwa",
                   help="RFI strategy: 'mwa' (DEFAULT — the mwa-default "
                        "orchestration the reference FFIs via "
                        "FindStrategyFileMWA, src/flags.rs:354-356: "
                        "per-pol iterative ladders + timestep/channel "
                        "RMS + downsampled re-fit + SIR, operators/"
                        "rfi.py::flag_rfi_mwa), 'generic' (the generic "
                        "iterative strategy, flag_rfi_strategy), "
                        "'default' (plain SumThreshold at sensitivity "
                        "6), 'sensitive' (4.5), 'conservative' (8), or "
                        "a numeric base sensitivity (the reference "
                        "points this flag at a Lua strategy file; this "
                        "engine's implementation exposes the "
                        "strategy's sensitivity knob)")
    p.add_argument("--no-draw-progress", action="store_true",
                   help="suppress per-stage progress/timing lines on "
                        "stderr (the reference's flag of the same "
                        "name; stage detail remains in the Spark UI "
                        "via job descriptions)")
    p.add_argument("--rfi-impl", type=str, default="float",
                   choices=("float", "ticks"),
                   help="mwa-strategy arithmetic: 'float' (DEFAULT — "
                        "AOFlagger's own statistics; measured 0.9837 "
                        "agreement / 0.9195 recall vs the reference's "
                        "cotter golden) or 'ticks' (the integer-tick "
                        "mode that hash-matches the relational plan)")
    p.add_argument("--no-cable-delay", action="store_true")
    p.add_argument("--no-digital-gains", action="store_true")
    p.add_argument("--no-geometric-delay", action="store_true")
    pc = p.add_mutually_exclusive_group()
    pc.add_argument("--phase-centre", nargs=2, type=float,
                    metavar=("RA_DEG", "DEC_DEG"),
                    help="phase-track this centre: partial UVWs recomputed "
                         "from the antenna positions (reference "
                         "src/cli.rs:1364-1377; first-principles rotation, "
                         "operators/geometry.py)")
    pc.add_argument("--pointing-centre", action="store_true",
                    help="phase-track the pointing centre from the obs "
                         "metadata instead of the default phase centre")
    p.add_argument("--emulate-cotter", action="store_true",
                   help="use Cotter's array position (the public "
                        "mwaconfig.h site defines) instead of the "
                        "default MWA position for the derived UVW dim "
                        "(reference src/cli.rs:1353-1363)")
    p.add_argument("--precess", action="store_true",
                   help="compute the partial UVWs with full IAU-2006 "
                        "precession + nutation + ERA/GMST (the "
                        "reference's marlu precess_time behaviour, "
                        "operators/precession.py) instead of the "
                        "fixed-LST rotation")
    p.add_argument("--dut1", type=float, default=0.0,
                   help="UT1-UTC seconds (reference reads it from the "
                        "metafits, src/cli.rs:293-298; default 0)")
    p.add_argument("--van-vleck", action="store_true")
    p.add_argument("--pfb-gains", "--passband-gains",
                   dest="pfb_gains",
                   choices=("none", "jake", "jake_oversampled", "cotter",
                            "auto"),
                   default="none",
                   help="gain-table selection (reference "
                        "src/cli.rs:1401-1443); 'auto' resolves by "
                        "correlator version / oversampling, disabled when "
                        "deripple was already applied upstream")
    p.add_argument("--oversampled", action="store_true",
                   help="input coarse channels are oversampled (affects "
                        "--passband-gains auto)")
    p.add_argument("--deripple-applied", action="store_true",
                   help="upstream already de-rippled the passband "
                        "(--passband-gains auto becomes a no-op)")
    p.add_argument("--apply-di-cal", type=str, metavar="CALSOL_BIN")
    p.add_argument("--avg-time-factor", type=int, default=1)
    p.add_argument("--avg-freq-factor", type=int, default=1)
    p.add_argument("--avg-time-res", type=float,
                   help="seconds -> factor (reference src/cli.rs:1171-1258)")
    p.add_argument("--avg-freq-res", type=float, help="kHz -> factor")
    chunk = p.add_mutually_exclusive_group()
    chunk.add_argument("--time-chunk", type=int)
    chunk.add_argument("--max-memory", type=float, metavar="GIBIBYTES")
    p.add_argument("-f", "--flag-template", type=str,
                   help="output .mwaf directory")
    p.add_argument("-u", "--uvfits-out", type=str,
                   help="visibility output: a path ending in .uvfits "
                        "gets the PHYSICAL random-groups file via the "
                        "executor-parallel writer (mirroring the "
                        "reference's birli -u out.uvfits), anything "
                        "else the ordered parquet relation")
    p.add_argument("-M", "--ms-out", type=str,
                   help="Measurement-Set output dir: a path ending in "
                        ".ms gets the PHYSICAL casacore-layout tree "
                        "(sinks/ms_file.py), anything else the "
                        "MAIN-schema parquet form — mirroring the "
                        "reference's birli -M out.ms")
    p.add_argument("--flag-parquet", type=str)
    p.add_argument("--baseline-limit", type=int, default=None,
                   metavar="N", help="keep only the first N baselines "
                        "(dev/debug truncation, reference "
                        "src/cli.rs:3445)")
    p.add_argument("--timestep-limit", type=int, default=None,
                   metavar="N", help="keep only the first N timesteps")
    p.add_argument("--provided-chan-ranges", action="store_true",
                   help="only consider the coarse channels actually "
                        "present in the input (reference "
                        "src/cli.rs:673; a no-op on gap-free inputs)")
    p.add_argument("--dump-csv", type=str, default=None, metavar="PATH",
                   help="debug-dump the context-built output rows to "
                        "ONE csv file (pair with --baseline-limit / "
                        "--timestep-limit like the reference)")
    p.add_argument("--dump-mode",
                   choices=["vis-only", "weights-only", "both"],
                   default="vis-only")
    p.add_argument("--dry-run", action="store_true")
    return p


_STRATEGY_SENSITIVITY = {"default": 6.0, "sensitive": 4.5,
                         "conservative": 8.0, "mwa": 6.0,
                         "generic": 6.0}


def _strategy_sensitivity(strategy: str) -> float:
    """--aoflagger-strategy preset name or bare number → SumThreshold
    base sensitivity."""
    if strategy in _STRATEGY_SENSITIVITY:
        return _STRATEGY_SENSITIVITY[strategy]
    try:
        return float(strategy)
    except ValueError:
        raise SystemExit(
            f"unknown --aoflagger-strategy {strategy!r}; expected one of "
            f"{sorted(_STRATEGY_SENSITIVITY)} or a numeric sensitivity")


def _edge_width_to_chans(width_khz: float,
                         fine_width_hz: float) -> int:
    """kHz edge width → fine-chan count; like the reference
    (src/cli.rs:1079-1090) a width that is not a multiple of the fine
    channel width is an error, not a silent floor."""
    width_hz = width_khz * 1000.0
    n = width_hz / fine_width_hz
    if n != int(n):
        raise SystemExit(
            f"--flag-edge-width {width_khz} kHz is not a multiple of the "
            f"fine channel width ({fine_width_hz / 1000.0} kHz)")
    return int(n)


def _res_to_factor(res: float, base: float, what: str) -> int:
    """Resolution → integer factor with the reference's divisibility check
    (src/cli.rs:1171-1258)."""
    factor = res / base
    if factor != int(factor) or factor < 1:
        raise SystemExit(
            f"{what} resolution {res} is not a multiple of the base {base}")
    return int(factor)


def _pfb_obs_state(a, octx: dict | None) -> dict:
    """The correlator facts --passband-gains 'auto' resolves against
    (reference src/cli.rs:1401-1443, from mwalib's metafits context):
    in real mode they come from the METAFITS (MODE/OVERSAMP/DERIPPLE —
    e.g. the reference's 1439922144 fixture auto-disables the pfb
    correction because DERIPPLE=1), the explicit flags OR on top; the
    synthetic surface keeps its module constant."""
    if octx is not None:
        return {
            "mwa_version": octx["mwa_version"],
            "oversampled": a.oversampled or octx["oversampled"],
            "deripple_applied": (a.deripple_applied
                                 or octx["deripple_applied"]),
        }
    return {
        "mwa_version": "Legacy" if pipeline.IS_LEGACY else "MWAXv2",
        "oversampled": a.oversampled,
        "deripple_applied": a.deripple_applied,
    }


def _check_flag_window_multiple(value: float, int_time_s: float,
                                option: str) -> None:
    """The reference rejects --flag-init/--flag-end seconds that are
    not a multiple of the timestep length (src/cli.rs:1104-1140,
    tolerance 1e-6 like its f32 `% d < 0.000001` check)."""
    rem = value % int_time_s
    if min(rem, int_time_s - rem) >= 1e-6:
        raise SystemExit(
            f"{option} {value}: expected a multiple of the timestep "
            f"length ({int_time_s})")


def parse_args(argv: list[str]) -> Context:
    a = build_parser().parse_args(argv)
    # real mode resolves every time/frequency-denominated option
    # against the OBSERVATION's metafits facts, not the synthetic
    # surface's constants; the metafits is read at most once here and
    # only when an option actually needs it
    octx = None
    if a.metafits and (
            a.pfb_gains == "auto" or a.avg_time_res is not None
            or a.avg_freq_res is not None
            or a.flag_edge_width is not None
            or a.quack_time or a.flag_end):
        from birli_spark.sources import metafits as mf
        primary, _ = mf.read_metafits(a.metafits)
        octx = mf.obs_context(primary)
    int_time_s = octx["int_time_s"] if octx else syn.INT_TIME_S
    fine_width_hz = (octx["fine_chan_width_hz"] if octx
                     else syn.FINE_CHAN_WIDTH_HZ)
    if a.quack_time:
        _check_flag_window_multiple(a.quack_time, int_time_s,
                                    "--flag-init/--quack-time")
    if a.flag_end:
        _check_flag_window_multiple(a.flag_end, int_time_s, "--flag-end")
    avg_time = a.avg_time_factor
    if a.avg_time_res is not None:
        avg_time = _res_to_factor(a.avg_time_res, int_time_s, "time")
    avg_freq = a.avg_freq_factor
    if a.avg_freq_res is not None:
        avg_freq = _res_to_factor(a.avg_freq_res * 1000.0,
                                  fine_width_hz, "freq")
    if a.time_chunk is not None:
        chunking.validate_chunk_size(a.time_chunk, avg_time)
    if a.sf_dir is None and not (a.metafits and a.gpubox):
        raise SystemExit(
            "either an sf_dir or BOTH -m/--metafits and --gpubox are "
            "required")
    return Context(
        sf_dir=a.sf_dir,
        metafits=a.metafits, gpubox=a.gpubox,
        sel_time=tuple(a.sel_time) if a.sel_time else None,
        sel_ants=a.sel_ants, sel_chan_ranges=a.sel_chan_ranges,
        no_sel_autos=a.no_sel_autos,
        no_sel_flagged_ants=a.no_sel_flagged_ants,
        flag_times=a.flag_times, flag_antennas=a.flag_antennas,
        flag_fine_chans=a.flag_fine_chans,
        flag_coarse_chans=a.flag_coarse_chans,
        flag_edge_chans=(
            _edge_width_to_chans(a.flag_edge_width, fine_width_hz)
            if a.flag_edge_width is not None else a.flag_edge_chans),
        flag_dc=pipeline.IS_LEGACY if a.flag_dc is None else a.flag_dc,
        flag_autos=a.flag_autos,
        # steps variants carry through RAW: they convert to seconds
        # with the OBSERVATION's int_time (reference src/cli.rs:
        # 1141-1146), which in real mode comes from the metafits, not
        # the synthetic surface's constant
        quack_time=a.quack_time,
        flag_init_steps=a.flag_init_steps,
        flag_end=a.flag_end,
        flag_end_steps=a.flag_end_steps,
        no_flag_metafits=a.no_flag_metafits,
        emulate_cotter=a.emulate_cotter,
        baseline_limit=a.baseline_limit,
        timestep_limit=a.timestep_limit,
        provided_chan_ranges=a.provided_chan_ranges,
        dump_csv=a.dump_csv, dump_mode=a.dump_mode,
        no_rfi=a.no_rfi,
        rfi_sensitivity=_strategy_sensitivity(a.aoflagger_strategy),
        rfi_strategy=(a.aoflagger_strategy
                      if a.aoflagger_strategy in ("mwa", "generic")
                      else "sumthreshold"),
        rfi_impl=a.rfi_impl,
        no_draw_progress=a.no_draw_progress,
        rfi_iterative=a.rfi_iterative,
        sir_eta=a.sir_eta,
        ssins=a.ssins, ssins_threshold=a.ssins_threshold,
        no_cable_delay=a.no_cable_delay,
        no_digital_gains=a.no_digital_gains,
        no_geometric_delay=a.no_geometric_delay,
        phase_centre=tuple(a.phase_centre) if a.phase_centre else None,
        precess=a.precess, dut1=a.dut1,
        pointing_centre=a.pointing_centre,
        van_vleck=a.van_vleck,
        pfb_gains=corrections.select_passband_gains(
            a.pfb_gains, **_pfb_obs_state(a, octx)) or "none",
        apply_di_cal=a.apply_di_cal,
        avg_time=avg_time, avg_freq=avg_freq,
        time_chunk=a.time_chunk, max_memory_gib=a.max_memory,
        mwaf_out=a.flag_template, uvfits_out=a.uvfits_out,
        ms_out=a.ms_out,
        flag_parquet_out=a.flag_parquet, dry_run=a.dry_run)


def _selected_dims(ctx: Context) -> tuple[int, int, int] | None:
    """(n_t, n_bl, n_chan) of the selection from METADATA alone —
    the reference sizes --max-memory from its metadata context without
    touching data (src/cli.rs:1306-1308), and so do we: the synthetic
    constants or the metafits header, narrowed by the plain
    selections. None = a selection this helper cannot size
    (limits, explicit channel subsets, flagged-ant pruning on a real
    obs), in which case the caller falls back to one distinct-count
    scan."""
    if (ctx.timestep_limit or ctx.baseline_limit
            or ctx.sel_chan_ranges or ctx.provided_chan_ranges):
        return None
    if ctx.metafits:
        from birli_spark.sources import metafits as mf
        if ctx.no_sel_flagged_ants:
            return None      # needs the TILEDATA flag column
        primary, _ = mf.read_metafits(ctx.metafits)
        octx = mf.obs_context(primary)
        n_t = octx["n_scans"]
        n_ants = (len(set(ctx.sel_ants)) if ctx.sel_ants
                  else octx["n_ants"])
        # real scans emit each undirected pair once (ant1 <= ant2)
        n_bl = (n_ants * (n_ants - 1) // 2 if ctx.no_sel_autos
                else n_ants * (n_ants + 1) // 2)
        n_chan = octx["n_fine_per_coarse"] * len(octx["coarse_channels"])
    else:
        n_t = syn.NUM_T
        n_ants = (len(set(ctx.sel_ants)) if ctx.sel_ants
                  else syn.NUM_ANTS)
        # the synthetic fact carries ordered pairs (both directions)
        n_bl = (n_ants * n_ants - n_ants if ctx.no_sel_autos
                else n_ants * n_ants)
        n_chan = syn.NUM_CC * syn.NUM_FC
    if ctx.sel_time:
        # clamp the window to the observation before differencing
        # (the reference sizes from the clamped vis_sel.timestep_range)
        lo, hi = ctx.sel_time
        n_t = max(0, min(hi, n_t - 1) - max(lo, 0) + 1)
    return n_t, n_bl, n_chan


def build_plan(spark: SparkSession, ctx: Context,
               baked: DataFrame | None = None) -> DataFrame:
    """Assemble the DataFrame plan from the context (reference
    ``BirliContext::run``, src/cli.rs:1584-1954): the baked flowchart
    (``baked``, or :func:`build_baked`'s) chunked and averaged."""
    vis = baked if baked is not None else build_baked(spark, ctx)
    chunk = ctx.time_chunk
    if chunk is None and ctx.max_memory_gib is not None:
        # --max-memory estimates --time-chunk from a per-chunk budget
        # with the reference's own per-cell constant
        # (src/cli.rs:1297-1321); None = the whole selection fits.
        # Dims come from metadata when the selection allows (no extra
        # pass over the data); otherwise one distinct-count scan.
        dims = _selected_dims(ctx)
        if dims is not None:
            n_t, n_bl, n_chan = dims
            chunk = chunking.chunk_size_from_memory(
                float(ctx.max_memory_gib) * 1024.0 ** 3,
                n_bl * n_chan * chunking.BYTES_PER_CELL,
                n_t, ctx.avg_time)
        else:
            chunk = chunking.chunk_steps_from_memory(
                vis, ctx.max_memory_gib, ctx.avg_time)
    if chunk:
        vis = chunking.with_time_chunks(vis, chunk, ctx.avg_time)
        vis = vis.drop("chunk")
    if ctx.avg_time > 1 or ctx.avg_freq > 1:
        vis = averaging.average_time_freq(vis, ctx.avg_time, ctx.avg_freq)
    return vis


class Observation:
    """The flowchart's input and everything that differs between inputs;
    :func:`build_baked` reads its input through these members only.
    Implemented by :class:`SyntheticObservation` and
    ``real_input.ArchiveObservation``.

    Scalars: ``gps_start``, ``int_time_s``, ``obs_end_gps`` (end of the
    timestep flag window), ``n_fine`` (per coarse channel), ``n_chan``,
    ``quack_s`` (when the CLI sets none), ``vv_sample_scale``,
    ``rfi_payload`` (pol dtype at the slim RFI-island boundary), the
    sinks' time anchors ``uvfits_gps`` / ``ms_gps`` and
    ``uvfits_uvw_unit_m``. Dims: ``antennas``, ``timesteps`` (every
    scan), ``digital_gains``. Methods: ``scan()`` (the canonical vis
    relation), ``provided_channels(vis)``, ``cell_gate(spark, rules,
    bl_pred)`` (the v0.18 gate, or None to aggregate it from the fact),
    ``derived_columns()`` (freq_hz / ts_gps / weight over the keys),
    ``part_uvw(spark, ctx)`` (None when no phase centre is known).
    """


class SyntheticObservation(Observation):
    """The synthetic sf-dir surface: module-constant dims, a fact whose
    rows carry pre-existing flags and duplicate cells."""

    gps_start = syn.GPS_START
    int_time_s = syn.INT_TIME_S
    obs_end_gps = pipeline.OBS_END_GPS
    n_fine = syn.NUM_FC
    n_chan = syn.NUM_CC * syn.NUM_FC
    quack_s = 0.0
    vv_sample_scale = syn.VV_SAMPLE_SCALE
    rfi_payload = "double"
    uvfits_gps = ms_gps = syn.GPS_START
    uvfits_uvw_unit_m = 1.0

    def __init__(self, spark: SparkSession, sf_dir: str) -> None:
        self.spark, self.sf_dir = spark, sf_dir
        self.antennas = syn.load_dim(spark, "antennas")
        self.timesteps = syn.load_dim(spark, "timesteps")
        self.digital_gains = syn.load_dim(spark, "digital_gains")

    def scan(self) -> DataFrame:
        return syn.load_vis(self.spark, self.sf_dir)

    def provided_channels(self, vis: DataFrame) -> DataFrame:
        provided = [r.cc for r in vis.select("cc").distinct().collect()]
        return vis.filter(F.col("cc").isin(provided))

    def cell_gate(self, spark, rules, bl_pred) -> None:
        # the fact's own pre-existing flags and duplicate cells are not
        # described by the rule dims: aggregate the gate from the fact
        return None

    def derived_columns(self) -> dict:
        return {
            "freq_hz": F.expr(f"CAST({syn.BASE_FREQ_HZ:.1f} + chan * "
                              f"{syn.FINE_CHAN_WIDTH_HZ:.1f} AS DOUBLE)"),
            "ts_gps": F.expr(f"CAST({syn.GPS_START:.1f} + t * "
                             f"{syn.INT_TIME_S} + {syn.INT_TIME_S / 2}"
                             f" AS DOUBLE)"),
            "weight": F.lit(syn.WEIGHT_FACTOR).cast("double"),
        }

    def part_uvw(self, spark, ctx) -> DataFrame:
        if not (ctx.phase_centre or ctx.pointing_centre):
            return syn.load_dim(spark, "part_uvw")
        from birli_spark.operators import precession as prc

        # default pointing centre for the synthetic obs: zenith-ish
        ra_deg, dec_deg = ctx.phase_centre or (75.0, -26.7)
        lat = prc.COTTER_LAT_RAD if ctx.emulate_cotter else prc.MWA_LAT_RAD
        lon = prc.COTTER_LON_RAD if ctx.emulate_cotter else prc.MWA_LON_RAD
        if ctx.precess:
            return precessed_part_uvw(
                spark, self.antennas, ra_deg, dec_deg, syn.GPS_START,
                syn.INT_TIME_S, syn.NUM_T, ctx.dut1, lon, lat)
        from birli_spark.operators import geometry
        return geometry.part_uvw_table(
            spark, self.antennas, syn.NUM_T,
            ra_rad=math.radians(ra_deg), dec_rad=math.radians(dec_deg),
            lst0_rad=1.0, int_time_s=syn.INT_TIME_S, lat_rad=lat)


def observation(spark: SparkSession, ctx: Context) -> Observation:
    """The invocation's input: a metafits + gpubox archive, or the
    synthetic sf directory."""
    if ctx.metafits and ctx.gpubox:
        from birli_spark import real_input
        return real_input.ArchiveObservation(spark, ctx.metafits,
                                             ctx.gpubox)
    return SyntheticObservation(spark, ctx.sf_dir)


def precessed_part_uvw(spark: SparkSession, antennas: DataFrame,
                       ra_deg: float, dec_deg: float, gps_start: float,
                       int_time_s: float, num_t: int, dut1_s: float,
                       lon_rad: float, lat_rad: float) -> DataFrame:
    """Partial UVWs through the IAU-2006 precessed chain
    (operators/precession.py)."""
    from birli_spark.functions import textsql as X
    from birli_spark.operators import precession as prc

    antennas.createOrReplaceTempView("flowchart_antennas")
    return spark.sql(prc.part_uvw_precessed_sql(
        X.SPARK, ra_rad=math.radians(ra_deg),
        dec_rad=math.radians(dec_deg), gps_start=gps_start,
        int_time_s=int_time_s, num_t=num_t,
        antennas="flowchart_antennas", dut1_s=dut1_s,
        lon_rad=lon_rad, lat_rad=lat_rad))


class RuleDims(NamedTuple):
    """(t, ts_flag), (ant1, ant2, bl_flag), the (cc, fc) predicate."""
    ts: DataFrame
    bl: DataFrame
    chan_pred: Column


def baseline_predicate(ctx: Context, obs: Observation):
    """The selected baselines (selection.baseline_selection_predicate),
    shared by the vis-side selection and the archive gate pool."""
    flagged = ([r.ant for r in obs.antennas.filter("flagged").collect()]
               if ctx.no_sel_flagged_ants else None)
    return selection.baseline_selection_predicate(
        ctx.sel_ants, flagged, ctx.no_sel_autos, ctx.baseline_limit)


def stage_select(ctx: Context, obs: Observation, vis: DataFrame,
                 bl_pred) -> DataFrame:
    """P1-P4 plus the --timestep-limit / --baseline-limit truncations."""
    if ctx.sel_time:
        vis = selection.select_ranges(vis, t_min=ctx.sel_time[0],
                                      t_max=ctx.sel_time[1] + 1)
    if ctx.timestep_limit is not None:
        vis = selection.select_ranges(vis, t_max=ctx.timestep_limit)
    if ctx.sel_chan_ranges:
        from birli_spark.operators import picket
        ccs = [cc for lo, hi in picket.parse_ranges(ctx.sel_chan_ranges)
               for cc in range(lo, hi + 1)]
        vis = selection.select_ranges(vis, coarse_chans=ccs)
    if bl_pred is not None:
        vis = vis.filter(bl_pred)
    if ctx.provided_chan_ranges and not ctx.sel_chan_ranges:
        vis = obs.provided_channels(vis)
    return vis


def stage_rule_flags(ctx: Context, obs: Observation, vis: DataFrame
                     ) -> tuple[DataFrame, RuleDims]:
    """F1-F7 OR-ed into the fact. They precede the corrections: since
    v0.18.0 the reference gates Van Vleck / cable / digital / passband
    on the cell's unflagged timestep ranges (src/preprocessing.rs:
    249-253, RELEASES.md:17-19), so the flag state must exist first."""
    # None = the observation's default; an explicit --quack-time 0
    # DISABLES quack (reference --flag-init). Steps variants convert
    # with THIS observation's int_time (src/cli.rs:1141-1146).
    if ctx.flag_init_steps is not None:
        quack_s = ctx.flag_init_steps * obs.int_time_s
    elif ctx.quack_time is not None:
        quack_s = ctx.quack_time
    else:
        quack_s = obs.quack_s
    flag_end_s = (ctx.flag_end_steps * obs.int_time_s
                  if ctx.flag_end_steps is not None else ctx.flag_end)
    ts_f = flags.flag_timesteps_quack(
        obs.timesteps, obs.gps_start, obs.obs_end_gps,
        quack_s=quack_s, flag_end_s=flag_end_s)
    if ctx.flag_times:
        ts_f = ts_f.withColumn(
            "ts_flag", F.col("ts_flag") | F.col("t").isin(ctx.flag_times))
    ants = obs.antennas
    if ctx.no_flag_metafits:
        # ignore antenna flags in the metadata; explicit --flag-antennas
        # still applies (reference src/cli.rs:1029)
        ants = ants.withColumn("flagged", F.lit(False))
    if ctx.flag_antennas:
        ants = ants.withColumn(
            "flagged", F.col("flagged") | F.col("ant").isin(ctx.flag_antennas))
    bl_f = flags.baseline_flags(ants, flag_autos=ctx.flag_autos)
    chan_pred = flags.flag_fine_channels(
        obs.n_fine, n_edge=ctx.flag_edge_chans, is_legacy=ctx.flag_dc,
        explicit_fcs=tuple(ctx.flag_fine_chans))
    if ctx.flag_coarse_chans:
        # coarse-chan flags cover all their fine chans
        # (reference src/flags.rs:195-204)
        chan_pred = chan_pred | F.col("cc").isin(list(ctx.flag_coarse_chans))
    rules = RuleDims(ts_f, bl_f, chan_pred)
    return flags.set_flags(vis, ts_f, bl_f, chan_pred), rules


def stage_gate(spark: SparkSession, obs: Observation, vis: DataFrame,
               rules: RuleDims, bl_pred) -> DataFrame:
    """The v0.18 (t, cc) flag gate the corrections run under."""
    return corrections.attach_cell_gate(
        vis, gate=obs.cell_gate(spark, rules, bl_pred))


def stage_correct(spark: SparkSession, ctx: Context, obs: Observation,
                  vis: DataFrame) -> DataFrame:
    """C1 Van Vleck, C2 cable, C4 digital gains, C5 passband — each
    gated — then the gate column leaves."""
    if ctx.van_vleck:
        from birli_spark.operators import vanvleck
        vis = vanvleck.correct_van_vleck(
            vis, obs.vv_sample_scale, flagged_ants=ctx.flag_antennas or None,
            gate_col=corrections.GATE_COL)
    if not ctx.no_cable_delay:
        vis = corrections.correct_cable_lengths(vis, obs.antennas, gated=True)
    if not ctx.no_digital_gains:
        vis = corrections.correct_digital_gains(vis, obs.digital_gains,
                                                gated=True)
    if ctx.pfb_gains != "none":
        # the REAL published tables, scrunched onto the observation's
        # fine grid (fine_gain_rows raises on a non-divisible
        # channelization, the reference's BadArrayShape)
        from birli_spark.functions import pfb_tables as PT
        table = {"cotter": PT.PFB_COTTER_2014_10KHZ,
                 "jake": PT.PFB_JAKE_2022_200HZ,
                 "jake_oversampled": PT.OSPFB_JAKE_2025_200HZ}[ctx.pfb_gains]
        rows = corrections.fine_gain_rows(
            table, obs.n_fine, center_symmetric=ctx.pfb_gains != "cotter")
        vis = corrections.correct_passband_gains(
            vis, spark.createDataFrame(rows, "fc int, gain double"),
            gated=True)
    return vis.drop(corrections.GATE_COL)


def stage_rfi(ctx: Context, obs: Observation, vis: DataFrame) -> DataFrame:
    """F9: SSINS, the iterative/generic strategy, the mwa-default
    orchestration (the reference's default, FindStrategyFileMWA,
    src/flags.rs:354-437) or plain SumThreshold at the preset or numeric
    sensitivity."""
    if ctx.no_rfi:
        return vis
    from birli_spark.operators import rfi
    eta = ctx.sir_eta if ctx.sir_eta is not None else 0.2
    if ctx.ssins:
        from birli_spark.operators import ssins
        return ssins.ssins_flag_vis(vis, threshold=ctx.ssins_threshold)
    if ctx.rfi_iterative or ctx.rfi_strategy == "generic":
        return rfi.flag_rfi_strategy(
            vis, base_sensitivity=ctx.rfi_sensitivity, eta=eta)
    if ctx.rfi_strategy != "mwa":
        return rfi.flag_rfi(vis, base_sensitivity=ctx.rfi_sensitivity,
                            sir_eta=ctx.sir_eta)
    # The island's exchange + sort + Arrow boundary carries only what
    # the flagger consumes: keys, prior flag, pols at the observation's
    # payload dtype (f32 is lossless on archives: the corrections
    # f32-demote and raw payloads are f32-native). cc / fc / freq_hz /
    # ts_gps / weight come back as JVM projections of (chan, t), except
    # a passband-scaled weight (weight *= gain), which rides along —
    # >2x fewer shuffled+sorted+transferred bytes on the 11.4 GB run.
    from birli_spark.functions.complex import VIS_COLS
    carried = ["weight"] if ctx.pfb_gains != "none" else []
    slim = vis.select("t", "chan", "ant1", "ant2", "bl", "flag", *carried,
                      *[F.col(c).cast(obs.rfi_payload).alias(c)
                        for c in VIS_COLS])
    flagged = rfi.flag_rfi_mwa(slim, base_sensitivity=ctx.rfi_sensitivity,
                               eta=eta, impl=ctx.rfi_impl)
    keyed = flagged.select(
        "*", F.expr(f"CAST(chan DIV {obs.n_fine} AS INT)").alias("cc"),
        F.expr(f"CAST(chan % {obs.n_fine} AS INT)").alias("fc"))
    back = {**obs.derived_columns(),
            **{c: F.col(c).cast("double") for c in VIS_COLS}}
    for c in carried:
        del back[c]
    return keyed.select(*[back.get(c, F.col(c)).alias(c)
                          for c in vis.columns])


def stage_geometry(spark: SparkSession, ctx: Context, obs: Observation,
                   vis: DataFrame) -> DataFrame:
    """C3: baseline UVWs, always attached (zero when the input names no
    phase centre); ``--no-geometric-delay`` skips only the phase
    rotation, as the reference does (its nocorrect outputs carry real
    UVWs)."""
    part_uvw = obs.part_uvw(spark, ctx)
    if part_uvw is None:
        return vis.select("*", *[F.lit(0.0).alias(c) for c in "uvw"])
    if ctx.no_geometric_delay:
        return corrections.attach_uvw(vis, part_uvw)
    return corrections.correct_geometry(vis, part_uvw)


def stage_calibrate(spark: SparkSession, ctx: Context, obs: Observation,
                    vis: DataFrame) -> DataFrame:
    """--apply-di-cal; the calsol channels upsample onto the
    observation's fine channels by the ratio of the two counts."""
    if not ctx.apply_di_cal:
        return vis
    n_sol = aocal.read_mwaocal(ctx.apply_di_cal)[0].shape[2]
    return calibration.apply_di_calsol(
        vis, aocal.calsols_df(spark, ctx.apply_di_cal),
        max(1, obs.n_chan // max(1, n_sol)))


def build_baked(spark: SparkSession, ctx: Context,
                obs: Observation | None = None) -> DataFrame:
    """The flowchart up to (and including) flag→weight baking, before
    chunking/averaging — the state every sink consumes: select →
    rule-flag → gate → correct → RFI → geometry → calibrate → bake over
    ``obs`` (default: the context's input)."""
    if obs is None:
        obs = observation(spark, ctx)
    bl_pred = baseline_predicate(ctx, obs)
    vis = stage_select(ctx, obs, obs.scan(), bl_pred)
    vis, rules = stage_rule_flags(ctx, obs, vis)
    vis = stage_gate(spark, obs, vis, rules, bl_pred)
    vis = stage_correct(spark, ctx, obs, vis)
    vis = stage_rfi(ctx, obs, vis)
    vis = stage_geometry(spark, ctx, obs, vis)
    vis = stage_calibrate(spark, ctx, obs, vis)
    return weights.bake_flags_into_weights(vis)


def _dump_csv(out: DataFrame, ctx: Context) -> str:
    """Debug CSV dump of the context-built output (reference
    --dump-csv/--dump-mode, src/cli.rs:3445): ONE file, streamed from
    the executors via toLocalIterator (O(row) driver memory — pair with
    --baseline-limit/--timestep-limit like the reference does)."""
    keys = [c for c in ("t_out", "t", "bl", "ant1", "ant2", "cc",
                        "fc_out", "fc", "chan") if c in out.columns]
    pol = [c for c in out.columns
           if c.endswith(("_re", "_im")) or c in ("u", "v", "w")]
    wcols = [c for c in ("weight", "flag") if c in out.columns]
    cols = {"vis-only": keys + pol,
            "weights-only": keys + wcols,
            "both": keys + pol + wcols}[ctx.dump_mode]
    picked = out.select(*cols).orderBy(*keys)
    with open(ctx.dump_csv, "w") as fh:
        fh.write(",".join(cols) + "\n")
        for row in picked.toLocalIterator():
            fh.write(",".join(repr(v) if isinstance(v, float) else str(v)
                              for v in row) + "\n")
    return ctx.dump_csv


def run(argv: list[str], spark: SparkSession | None = None) -> dict:
    ctx = parse_args(argv)
    own_session = spark is None
    if spark is None:
        from birli_spark.session import get_spark
        spark = get_spark("birli_spark_cli")

    # per-stage progress/timing (the reference draws a progress bar per
    # stage and logs durations; here: one stderr line per ACTION stage,
    # plus a Spark-UI job description so cluster users see the stage
    # names in the UI). --no-draw-progress silences the stderr lines.
    import time as _time
    from contextlib import contextmanager

    @contextmanager
    def _stage(name: str):
        spark.sparkContext.setJobDescription(f"birli_spark: {name}")
        t0 = _time.perf_counter()
        try:
            yield
        finally:
            dt = _time.perf_counter() - t0
            spark.sparkContext.setJobDescription(None)
            if not ctx.no_draw_progress:
                print(f"[birli_spark] {name}: {dt:.2f}s",
                      file=sys.stderr)

    try:
        obs = observation(spark, ctx)
        if ctx.dry_run:
            summary = describe.describe(spark, obs.scan()).collect()
            for row in summary:
                print(f"{row.stat:>16}: {row.value}")
            return {"dry_run": True, "stats": len(summary)}
        # every sink shares ONE context-built baked plan, so CLI options
        # reach every file
        baked = build_baked(spark, ctx, obs)
        out = build_plan(spark, ctx, baked)
        result: dict = {}

        def run_flags(*cols):
            # the run's OWN flags (rules + RFI), from the baked weight signs
            return baked.select(*cols, (F.col("weight") < 0).alias("flag"))

        if ctx.mwaf_out:
            from birli_spark.sinks import mwaf
            # distributed writer: one executor task per coarse channel
            # (byte-identical to the driver-loop writer)
            with _stage("write mwaf"):
                result["mwaf_files"] = mwaf.write_mwaf_set_distributed(
                    run_flags("t", "bl", "cc", "fc"), ctx.mwaf_out,
                    gps_start=obs.gps_start).count()
        if ctx.flag_parquet_out:
            from birli_spark.sinks import flagsink
            with _stage("write flag parquet"):
                flagsink.write_flags(
                    run_flags("t", "bl", "ant1", "ant2", "cc", "fc", "chan"),
                    ctx.flag_parquet_out, gps_start=obs.gps_start)
            result["flag_parquet"] = ctx.flag_parquet_out
        # the physical uvfits sink materializes the SAME averaged
        # relation into a localCheckpoint — at scale a standalone
        # count() would re-run the whole pipeline (decode included)
        # once more for a number the checkpoint already holds, so the
        # count is deferred to that branch (validate_chunk_size pins
        # chunk length to a multiple of avg_time, so build_plan's
        # output and uvfits_group_rows agree on the output grid)
        physical_uvfits = bool(
            ctx.uvfits_out and ctx.uvfits_out.rstrip("/")
            .endswith(".uvfits"))
        if not physical_uvfits:
            with _stage("preprocess"):
                result["rows"] = out.count()
        if ctx.dump_csv:
            result["dump_csv"] = _dump_csv(out, ctx)

        if ctx.ms_out:
            # MS TIME/TIME_CENTROID: the observation's ms_gps anchor (on
            # archives UTC casa seconds on the DATA grid, absorbing the
            # sink's fixed GPS-TAI 19 s)
            if ctx.ms_out.rstrip("/").endswith(".ms"):
                from birli_spark.sinks import ms_file
                with _stage("write ms"):
                    ms_file.write_ms_casa(
                        spark, baked, ctx.ms_out, ctx.avg_time,
                        ctx.avg_freq, gps_start=obs.ms_gps,
                        int_time_s=obs.int_time_s)
            else:
                from birli_spark.sinks import ms
                ms.write_ms_parquet(
                    baked, ctx.ms_out, ctx.avg_time, ctx.avg_freq,
                    gps_start=obs.ms_gps, int_time_s=obs.int_time_s)
            result["ms_path"] = ctx.ms_out
        if ctx.uvfits_out:
            if physical_uvfits:
                # the PHYSICAL random-groups file, executor-parallel;
                # DATE params from the observation's uvfits_gps anchor,
                # UVWs in its UVFITS unit (seconds on archives, per the
                # random-groups standard)
                from birli_spark.sinks import uvfits as uvsink
                unit = obs.uvfits_uvw_unit_m
                uv_baked = baked.withColumns(
                    {c: F.col(c) / unit for c in ("u", "v", "w")})
                with _stage("preprocess"):
                    rows = uvsink.uvfits_group_rows(
                        uv_baked, ctx.avg_time, ctx.avg_freq,
                        obs.uvfits_gps, obs.int_time_s).localCheckpoint(
                            eager=True)
                    # cheap: counts the checkpoint, not the pipeline.
                    # result['rows'] is OUTPUT-GRID rows — one per
                    # (t_out, chan_out, bl). Identical to build_plan's
                    # out.count() whenever the input carries one row
                    # per (t, bl, chan) cell (every real observation;
                    # pinned by test_rows_agree_between_plan_and_
                    # uvfits_groups). The synthetic oracle fact has
                    # duplicate cells by construction, so there the
                    # parquet branch at avg 1/1 counts raw rows
                    # instead.
                    result["rows"] = rows.count()
                n_chan = rows.select("chan_out").distinct().count()
                with _stage("write uvfits"):
                    # the writer validates the written group count
                    # against the declared GCOUNT internally
                    uvsink.write_uvfits_distributed(
                        rows, ctx.uvfits_out, n_chan,
                        jd_zero=uvsink.obs_jd_zero(obs.uvfits_gps))
            else:
                out.orderBy(
                    *[c for c in ("t_out", "t") if c in out.columns],
                    "bl").write.mode("overwrite").parquet(ctx.uvfits_out)
            result["out_path"] = ctx.uvfits_out
        return result
    finally:
        if own_session:
            spark.stop()


def main() -> None:
    print(run(sys.argv[1:]))


if __name__ == "__main__":
    main()
