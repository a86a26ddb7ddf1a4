"""Archive CLI input: ``-m obs.metafits --gpubox 'dir/*.fits'`` — the
invocation shape a user of the reference actually has (reference
BirliContext::from_args consumes a metafits plus gpubox files,
src/cli.rs:622-700). :class:`ArchiveObservation` feeds the CLI's one
flowchart (``cli.build_baked``) from the real observation metadata:

- dims from the metafits TILEDATA (antennas with electrical lengths,
  metafits flag states, /64 digital gains; timesteps from
  GPSTIME/INTTIME/NSCANS, extended to every captured scan),
- the visibility fact from the distributed gpubox scan
  (sources/gpubox.py, sources/legacy_gpubox.py — one task per file),
- fine-channel frequencies from the receiver channel list
  (centre = rec_chan * 1.28 MHz; fine f = centre - 0.64 MHz +
  fc * fine_width, the mwalib ascending-sky convention),
- geometry from the metafits phase centre through the IAU-2006
  precessed partial-UVW chain (operators/precession.py),
- the Cotter weight factor fine_width/10 kHz * int_time
  (src/flags.rs:570-575),
- the v0.18 flag gate derived from the rule dims (no second decode),
  the f32 RFI-island boundary, the metafits quack default and the
  Van Vleck scale int_time x fine_width x gpubox BSCALE,
- one time-grid anchor (:func:`grid_anchor`) for the scan, the UVW
  table and the sinks' UTC time stamps.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from birli_spark import cli
from birli_spark.sources import gpubox, metafits as mf

#: MWA coarse channel width (Hz) — 1.28 MHz, fixed by the instrument
COARSE_WIDTH_HZ = 1_280_000.0
#: Cotter weight normalisation denominator (src/flags.rs:570-575)
WEIGHT_FREQ_HZ = 10_000.0


@dataclass
class ObsMeta:
    """The scalar observation context real-input assembly threads to
    every stage (the role syn's module constants play for the
    synthetic path)."""
    obsid: int
    gps_start: float
    int_time_s: float
    num_t: int
    n_fine_per_coarse: int
    fine_chan_width_hz: float
    coarse_channels: list
    quack_s: float
    phase_ra_deg: float | None
    phase_dec_deg: float | None
    #: the RA/DEC POINTING centre (the --pointing-centre target)
    pointing_ra_deg: float | None
    pointing_dec_deg: float | None
    n_ants: int
    #: offline-averaging centre offset (metafits._freq_offset_hz)
    freq_offset_hz: float = 0.0
    #: CHANSEL positions into the full CHANNELS/gains lists (picket
    #: fence); None = full band. Digital gains index by THESE.
    sel_chan_positions: list | None = None

    @property
    def weight_factor(self) -> float:
        return (self.fine_chan_width_hz / WEIGHT_FREQ_HZ
                * self.int_time_s)

    @property
    def n_chan_total(self) -> int:
        return self.n_fine_per_coarse * len(self.coarse_channels)


def load_obs(metafits_path: str) -> tuple[ObsMeta, dict]:
    primary, tiledata = mf.read_metafits(metafits_path)
    octx = mf.obs_context(primary)
    meta = ObsMeta(
        obsid=octx["obsid"], gps_start=float(octx["obsid"]),
        int_time_s=octx["int_time_s"], num_t=octx["n_scans"],
        n_fine_per_coarse=octx["n_fine_per_coarse"],
        fine_chan_width_hz=octx["fine_chan_width_hz"],
        coarse_channels=octx["coarse_channels"],
        quack_s=octx["quack_s"],
        phase_ra_deg=octx["phase_ra_deg"],
        phase_dec_deg=octx["phase_dec_deg"],
        pointing_ra_deg=octx["pointing_ra_deg"],
        pointing_dec_deg=octx["pointing_dec_deg"],
        n_ants=octx["n_ants"],
        freq_offset_hz=octx.get("freq_offset_hz", 0.0),
        sel_chan_positions=mf.selected_channel_positions(primary))
    return meta, tiledata


def freq_expr(meta: ObsMeta) -> str:
    """Fine-channel sky frequency from (cc, fc): the cc-th SELECTED
    coarse channel's centre minus half the coarse width plus
    fc x fine_width — a CASE over the (small) coarse list so the
    expression stays a pure projection."""
    arms = " ".join(
        f"WHEN cc = {i} THEN CAST({ch * COARSE_WIDTH_HZ!r} AS DOUBLE)"
        for i, ch in enumerate(meta.coarse_channels))
    centre = f"(CASE {arms} END)"
    return (f"({centre} - CAST({COARSE_WIDTH_HZ / 2.0!r} AS DOUBLE)"
            f" + fc * CAST({meta.fine_chan_width_hz!r} AS DOUBLE)"
            f" + CAST({meta.freq_offset_hz!r} AS DOUBLE))")


def detect_format(gpubox_glob: str) -> str:
    """'mwax' (..._chNNN_BBB.fits), 'legacy' (..._gpuboxNN_BB.fits) or
    'synthetic' (this repo's teaching format) by filename shape."""
    import glob as _glob
    import re as _re
    paths = sorted(_glob.glob(gpubox_glob))
    if not paths:
        raise FileNotFoundError(f"no gpubox files match {gpubox_glob!r}")
    name = paths[0]
    if _re.search(r"_ch\d+_\d+\.fits$", name):
        return "mwax"
    if _re.search(r"gpubox\d+_\d+\.fits$", name):
        return "legacy"
    return "synthetic"


def derived_columns(meta: ObsMeta, offset_s: float = 0.0) -> dict:
    """freq_hz, ts_gps (the scan centroid, shifted onto the data grid by
    ``offset_s``, see :func:`grid_anchor`) and the Cotter weight as
    Columns over (t, cc, fc)."""
    ts = (f"CAST({meta.gps_start + offset_s!r} AS DOUBLE)"
          f" + t * CAST({meta.int_time_s!r} AS DOUBLE)"
          f" + CAST({meta.int_time_s / 2.0!r} AS DOUBLE)")
    return {"freq_hz": F.expr(freq_expr(meta)), "ts_gps": F.expr(ts),
            "weight": F.lit(float(meta.weight_factor)).cast("double")}


def _finish_vis(scan: DataFrame, meta: ObsMeta,
                offset_s: float = 0.0) -> DataFrame:
    """Project a (t, ant1, ant2, bl, cc, fc, chan, pols) scan onto the
    19-column canonical vis relation."""
    d = derived_columns(meta, offset_s)
    return scan.select(
        "t", "ant1", "ant2", "bl", "cc", "fc", "chan",
        d["freq_hz"].alias("freq_hz"), d["ts_gps"].alias("ts_gps"),
        d["weight"].alias("weight"), F.lit(False).alias("flag"),
        "xx_re", "xx_im", "xy_re", "xy_im",
        "yx_re", "yx_im", "yy_re", "yy_im")


def _with_global_t(scan: DataFrame, int_time_ms: int,
                   obs_start_unix_ms: int) -> DataFrame:
    """Global timestep index anchored at the observation's SCHEDULED
    start (metafits GPSTIME, leap-corrected to unix) — NOT at the
    minimum captured time: real captures routinely begin one or more
    scans after the obsid (e.g. the reference's own 1196175296 data
    starts 2 s late), and an anchor at min(unix_ms) would misstamp
    ts_gps and misalign the quack window. The reference's
    metafits/gpubox timestep map serves the same role.

    A pure projection (no aggregate, no shuffle); each row asserts its
    index is not BEFORE the scheduled start, so a header/metafits clock
    mismatch fails loudly instead of silently shifting flags. Indices
    MAY exceed the metafits NSCANS: real captures can outrun the
    scheduled window (the reference's own 1297526432/1196175296
    fixtures do), and the reference's gpubox-derived timestep map
    likewise extends past it."""
    t = F.expr(
        f"CAST((unix_ms - {obs_start_unix_ms}L) DIV {int_time_ms} AS INT)")
    guard = F.when(t >= 0, t).otherwise(F.raise_error(F.concat(
        F.lit("gpubox scan time before the metafits obs start: "
              "unix_ms="), F.col("unix_ms").cast("string"),
        F.lit(f", obs start unix_ms={obs_start_unix_ms}, "
              f"int_time_ms={int_time_ms}"))))
    return scan.withColumn("t", guard).drop("unix_ms")


import functools


@functools.lru_cache(maxsize=64)
def gpubox_header_meta(gpubox_glob: str) -> dict:
    """{'min_ms', 'max_ms', 'bscale'} across the gpubox files — a
    driver-side header-only walk (seek past data units; no payload
    reads), the role mwalib's metafits/gpubox timestep map plays in the
    reference. File-count bounded, cached per glob; at production scale
    this is one metadata pass, same as the reference's context
    construction. ``bscale`` is the scan-image BSCALE (the reference's
    Van Vleck scale multiplies by it, src/van_vleck.rs:318-329)."""
    import glob as _glob

    from birli_spark.sources import fitscore as fc
    min_ms = None
    max_ms = None
    bscale = None
    for path in sorted(_glob.glob(gpubox_glob)):
        with open(path, "rb") as f:
            raw = f.read(fc.BLOCK)
            # walk header-by-header: parse each header unit (possibly
            # several blocks), then seek past its data unit
            pos = 0
            buf = raw
            while True:
                # ensure the whole header unit is in buf
                hdr = None
                while hdr is None:
                    try:
                        hdr, hend = fc.parse_header(buf, 0)
                    except ValueError:
                        more = f.read(fc.BLOCK * 8)
                        if not more:
                            break
                        buf += more
                if hdr is None:
                    break
                # SCAN HDUs only (extensions): the scan readers skip
                # the primary HDU, whose TIME card — when present —
                # may be a file-creation stamp, not a scan time
                if "TIME" in hdr and "XTENSION" in hdr:
                    t_ms = (int(hdr["TIME"]) * 1000
                            + int(hdr.get("MILLITIM", 0) or 0))
                    if max_ms is None or t_ms > max_ms:
                        max_ms = t_ms
                    if min_ms is None or t_ms < min_ms:
                        min_ms = t_ms
                    if bscale is None and "BSCALE" in hdr:
                        bscale = float(hdr["BSCALE"])
                data_end = fc.skip_data(hend, hdr)
                f.seek(pos + data_end)
                pos += data_end
                buf = f.read(fc.BLOCK)
                if not buf:
                    break
    if min_ms is None:
        raise FileNotFoundError(
            f"no gpubox scan HDUs found under {gpubox_glob!r}")
    return {"min_ms": min_ms, "max_ms": max_ms,
            "bscale": 1.0 if bscale is None else bscale}


def grid_anchor(gpubox_glob: str, gps_start: float, int_time_s: float,
                num_t_scheduled: int = 0) -> dict:
    """ONE derivation of the archive time-grid anchor, shared by the vis
    load, the UVW table and every sink: format detection, the GPS-UTC
    leap offset at the obs epoch, and from the scan headers
    (:func:`gpubox_header_meta`) the gpubox BSCALE plus

    - ``offset_s``, the sub-scan offset of the DATA grid from the
      scheduled grid: real archives can start mid-scan relative to the
      obsid (the reference's 1254670392_avg scans start at obsid+1 s
      with a 2 s integration — witnessed independently by the Cotter
      and pyuvdata golden dumps, whose DATE params are centroids at
      obsid+2/+4). The timestep INDEX still floors onto the scheduled
      grid; this offset shifts every stamped time (ts_gps, the UVW
      table, the UVFITS DATE params) onto the true scan centroids.
    - ``num_t_data``, the timestep count covering BOTH the scheduled
      window and every scan actually captured: captures can outrun the
      scheduled NSCANS (the reference's own 1196175296 fixture does),
      and the UVW table must cover the data or the geometry join would
      silently drop those scans.

    Synthetic-format inputs (whose HDUs carry no TIME scan cards)
    anchor on the schedule with zero offset and BSCALE 1."""
    from birli_spark.functions import timeutil
    fmt = detect_format(gpubox_glob)
    start_ms = int(round(timeutil.gps_to_unix_s(gps_start) * 1000))
    int_ms = int(round(int_time_s * 1000))
    out = {"fmt": fmt,
           "leap_s": timeutil.gps_utc_offset_s(gps_start),
           "start_unix_ms": start_ms, "int_ms": int_ms,
           "offset_s": 0.0, "num_t_data": num_t_scheduled,
           "bscale": 1.0}
    if fmt in ("mwax", "legacy"):
        hdr = gpubox_header_meta(gpubox_glob)
        if hdr["min_ms"] < start_ms:
            raise ValueError(
                f"gpubox data starts before the metafits obs start: "
                f"{hdr['min_ms']} < {start_ms}")
        out["offset_s"] = ((hdr["min_ms"] - start_ms) % int_ms) / 1000.0
        out["num_t_data"] = max(num_t_scheduled,
                                (hdr["max_ms"] - start_ms) // int_ms + 1)
        out["bscale"] = hdr["bscale"]
    return out


def load_vis_real(spark: SparkSession, meta: ObsMeta,
                  gpubox_glob: str, metafits_path: str | None = None,
                  anchor: dict | None = None) -> DataFrame:
    """The canonical vis relation from real gpubox files of any
    supported format. ``anchor`` reuses a grid_anchor already derived
    by the caller (it scans the gpubox headers)."""
    if anchor is None:
        anchor = grid_anchor(gpubox_glob, meta.gps_start,
                             meta.int_time_s, meta.num_t)
    fmt = anchor["fmt"]
    nf = meta.n_fine_per_coarse
    start_ms = anchor["start_unix_ms"]
    offset_s = anchor["offset_s"]
    if fmt == "mwax":
        scan = gpubox.read_mwax_gpubox(spark, gpubox_glob).drop("t")
        scan = _with_global_t(scan, int(round(meta.int_time_s * 1000)),
                              start_ms)
        cc_arms = " ".join(
            f"WHEN cc_recv = {ch} THEN {i}"
            for i, ch in enumerate(meta.coarse_channels))
        scan = (scan.withColumn("cc",
                                F.expr(f"CAST(CASE {cc_arms} END AS INT)"))
                .withColumn("chan", F.expr(f"CAST(cc * {nf} + fc AS INT)"))
                .drop("cc_recv", "w_xx", "w_xy", "w_yx", "w_yy"))
    elif fmt == "legacy":
        from birli_spark.sources import legacy_gpubox
        scan = legacy_gpubox.read_legacy_gpubox(spark, gpubox_glob,
                                                metafits_path)
        scan = _with_global_t(scan, int(round(meta.int_time_s * 1000)),
                              start_ms)
        scan = (scan.withColumn("cc", F.expr(f"CAST(chan DIV {nf} AS INT)"))
                .drop("gpubox"))
    else:
        scan = gpubox.read_gpubox(spark, gpubox_glob)
    return _finish_vis(scan, meta, offset_s=offset_s)


class ArchiveObservation(cli.Observation):
    """A metafits + gpubox archive as the flowchart's input: dims from the
    metafits, the scan from the distributed gpubox decode, every time
    stamped on ONE grid anchor (:func:`grid_anchor` scans the gpubox
    headers, and every consumer must agree on the data-grid offset and
    the captured-scan count anyway)."""

    rfi_payload = "float"
    #: UVFITS UVWs go out in seconds (the pipeline computes metres)
    uvfits_uvw_unit_m = 299792458.0

    def __init__(self, spark: SparkSession, metafits_path: str,
                 gpubox_glob: str) -> None:
        from birli_spark.sinks import ms

        self.spark = spark
        self.metafits_path, self.gpubox_glob = metafits_path, gpubox_glob
        self.meta, self.tiledata = load_obs(metafits_path)
        m = self.meta
        self.anchor = a = grid_anchor(gpubox_glob, m.gps_start,
                                      m.int_time_s, m.num_t)
        self.gps_start, self.int_time_s = m.gps_start, m.int_time_s
        self.n_fine, self.n_chan = m.n_fine_per_coarse, m.n_chan_total
        self.quack_s = m.quack_s
        # the timestep flag dim covers every CAPTURED scan: a capture
        # that outruns the schedule (the reference's 1196175296 fixture
        # does) still needs ts-level flags for t >= the scheduled
        # NSCANS (set_flags left-joins, so missing dim rows silently
        # unflag); end flags anchor at the end of the DATA
        n_t = max(m.num_t, a["num_t_data"])
        self.obs_end_gps = m.gps_start + n_t * m.int_time_s
        self.timesteps = mf.timesteps_df(spark, {
            "NSCANS": n_t, "GPSTIME": m.gps_start, "INTTIME": m.int_time_s})
        self.antennas = mf.antennas_df(spark, self.tiledata)
        # the vis cc indexes the CHANSEL-selected coarse list — the gains
        # dim is remapped to the same positions (picket fence)
        self.digital_gains = mf.digital_gains_df(
            spark, self.tiledata, sel_positions=m.sel_chan_positions)
        # the reference's scale: fine_width_hz * int_time_ms / 500 *
        # gpubox BSCALE (src/van_vleck.rs:318-329, get_vv_sample_scale)
        self.vv_sample_scale = (m.fine_chan_width_hz
                                * (m.int_time_s * 1000.0) / 500.0
                                * a["bscale"])
        # UVFITS DATE params are UTC JDs on the DATA grid (shift the GPS
        # anchor by the leap offset — the reference gets this via
        # mwalib/casacore); MS times are UTC casa seconds on the same
        # grid, and the MS sink's time expr adds the fixed GPS-TAI 19 s
        self.uvfits_gps = m.gps_start + a["offset_s"] - a["leap_s"]
        self.ms_gps = self.uvfits_gps - ms.GPS_TAI_OFFSET_S

    def scan(self) -> DataFrame:
        return load_vis_real(self.spark, self.meta, self.gpubox_glob,
                             metafits_path=self.metafits_path,
                             anchor=self.anchor)

    def provided_channels(self, vis: DataFrame) -> DataFrame:
        # the scan yields only the coarse channels whose files exist
        return vis

    def derived_columns(self) -> dict:
        return derived_columns(self.meta, self.anchor["offset_s"])

    def cell_gate(self, spark: SparkSession, rules, bl_pred) -> DataFrame:
        """The v0.18 gate from the RULE DIMS, not an aggregate over the
        fact: before RFI, flag is the star-schema disjunction
        ts | bl | chan over separable axes, so
          bool_and(flag) over (bl, fc) = ts_flag OR bool_and(bl_flag)
                                         OR bool_and(chan flag within cc),
        with the baseline pool restricted to the SELECTED baselines by
        the vis side's own predicate. An aggregate over the fact would
        be a SECOND FULL DECODE of the archive, whose scan is a binary
        mapInPandas with no column pruning (measured: it doubled the
        scale-e2e read cost)."""
        from birli_spark.operators import corrections

        sel_bl = rules.bl
        if bl_pred is not None:
            # the archive's baseline index: upper triangle incl. autos
            # in (ant1, ant2) order, as every gpubox reader numbers it
            n = self.meta.n_ants
            sel_bl = (sel_bl.filter("ant1 <= ant2").withColumn(
                "bl", F.expr(f"CAST(ant1 * {n} - ant1 * (ant1 - 1) DIV 2"
                             f" + ant2 - ant1 AS INT)")).filter(bl_pred))
        all_bl = sel_bl.agg(F.expr("bool_and(bl_flag)").alias("_all_bl"))
        fc_grid = spark.range(0, len(self.meta.coarse_channels), 1, 1) \
            .selectExpr("CAST(id AS INT) AS cc").crossJoin(
                spark.range(0, self.n_fine, 1, 1).selectExpr(
                    "CAST(id AS INT) AS fc"))
        cc_all = (fc_grid.select("cc", rules.chan_pred.alias("_fcf"))
                  .groupBy("cc").agg(F.expr("bool_and(_fcf)").alias("_all_fc")))
        return (rules.ts.select("t", "ts_flag")
                .crossJoin(F.broadcast(cc_all))
                .crossJoin(F.broadcast(all_bl))
                .select("t", "cc",
                        (F.col("ts_flag") | F.coalesce(F.col("_all_bl"),
                                                       F.lit(True))
                         | F.col("_all_fc")).alias(corrections.GATE_COL)))

    def part_uvw(self, spark: SparkSession, ctx) -> DataFrame | None:
        """Precessed partial UVWs spanning every CAPTURED scan on the
        DATA grid. Phase centre precedence (reference src/cli.rs:1353):
        explicit --phase-centre > --pointing-centre (the metafits RA/DEC
        pointing) > the metafits RAPHASE/DECPHASE."""
        from birli_spark.operators import precession as prc

        m = self.meta
        if ctx.phase_centre:
            ra_deg, dec_deg = map(float, ctx.phase_centre)
        elif ctx.pointing_centre:
            if m.pointing_ra_deg is None or m.pointing_dec_deg is None:
                raise SystemExit(
                    f"--pointing-centre: metafits {self.metafits_path} "
                    "carries no RA/DEC pointing keys")
            ra_deg, dec_deg = (float(m.pointing_ra_deg),
                               float(m.pointing_dec_deg))
        elif m.phase_ra_deg is not None:
            ra_deg, dec_deg = float(m.phase_ra_deg), float(m.phase_dec_deg)
        else:
            return None
        return cli.precessed_part_uvw(
            spark, self.antennas, ra_deg, dec_deg,
            float(m.gps_start) + self.anchor["offset_s"], m.int_time_s,
            self.anchor["num_t_data"], ctx.dut1,
            prc.MWA_LON_RAD, prc.MWA_LAT_RAD)


def build_baked_real(spark: SparkSession, ctx, metafits_path: str,
                     gpubox_glob: str) -> tuple[DataFrame, ObsMeta]:
    """The CLI flowchart (cli.build_baked) over an archive, up to
    flag->weight baking, with the observation's metadata."""
    obs = ArchiveObservation(spark, metafits_path, gpubox_glob)
    return cli.build_baked(spark, ctx, obs), obs.meta
