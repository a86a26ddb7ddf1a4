"""O1 — UVFITS sink (SURVEY.md §2.7; reference ``write_uvfits``,
src/io/mod.rs:392-467, and the marlu random-groups writer it drives).

Three layers:

1. :func:`uvfits_group_rows` — the **relational form** of the
   random-groups content: one row per (averaged time block, baseline,
   output channel) carrying the group params (u, v, w, 256-coded
   baseline, JD) plus the averaged visibilities/weights. This is the
   oracle-checked surface; per-block UVWs are the plain f32 block mean of
   the per-sample UVW diffs (the reference evaluates UVWs at averaged
   centroids via precession — equivalent up to the synthetic part-UVW
   table's granularity).
   Baseline code: 256*(ant1+1) + (ant2+1) (reference
   src/test_common.rs:195-205); JD from GPS seconds on the fixed GPS
   epoch (JD 2444244.5), leap seconds ignored like the fixtures.
2. The physical file: a minimal pure-numpy random-groups FITS layout
   (no astropy in this environment) — 2880-byte header blocks of
   80-char cards, big-endian f32 groups of PCOUNT=5 params (UU, VV, WW,
   BASELINE, DATE) + a (chan × pol × [re, im, wt]) data cube. Records
   are fixed size, so :func:`_write_group_files` writes them
   executor-parallel: each Spark task ``pwrite``s its groups at their
   computed offsets. :func:`write_uvfits_distributed` (one file, the
   CLI's ``-u``) and :func:`write_uvfits_catalogue` (one file per
   observation, MO4) are its two routings.
3. :func:`write_uvfits` / :func:`read_uvfits` — the sequential
   reference writer (the reference's own UVFITS append is sequential,
   SURVEY.md §3.4) that tests compare the parallel writer's bytes
   against, and the reader every read-back gate uses.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from birli_spark.functions.complex import POLS, VIS_COLS, f32
from birli_spark.operators import averaging

GPS_EPOCH_JD = 2444244.5  # 1980-01-06, JD of GPS second 0


def _group_param_exprs(gps_start: float, int_time_s: float,
                       avg_time: int) -> dict[str, str]:
    # CAST every float literal to DOUBLE: DuckDB parses bare decimal
    # literals as DECIMAL and its fixed-point arithmetic would diverge
    # from Spark's double math in the last ulp.
    def d(x: float) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    centroid_gps = (f"({d(gps_start)} + (t_out * {avg_time}) * {d(int_time_s)}"
                    f" + {d(avg_time * int_time_s / 2.0)})")
    return {
        "bl_code": "CAST(256 * (ant1 + 1) + (ant2 + 1) AS INT)",
        "jd": f"({d(GPS_EPOCH_JD)} + {centroid_gps} / {d(86400.0)})",
    }


def uvfits_group_rows(baked: DataFrame, avg_time: int, avg_freq: int,
                      gps_start: float, int_time_s: float) -> DataFrame:
    """Averaged output + UVFITS group params, from the pre-averaging
    pipeline state (pipeline.preprocess_baked — must still carry the
    u/v/w columns of the geometry stage)."""
    avg = averaging.average_time_freq(baked, avg_time, avg_freq,
                                      extra_mean_cols=("u", "v", "w"))
    exprs = _group_param_exprs(gps_start, int_time_s, avg_time)
    return avg.select(
        "t_out", "chan_out", "bl", "ant1", "ant2",
        F.expr(exprs["bl_code"]).alias("bl_code"),
        F.expr(exprs["jd"]).alias("jd"),
        "u", "v", "w", *VIS_COLS, "weight", "flag", "n_samples")


def uvfits_rows_oracle_select(baked: str, avg_time: int, avg_freq: int,
                              gps_start: float, int_time_s: float) -> str:
    avg = averaging.averaging_oracle_select(baked, avg_time, avg_freq,
                                            extra_mean_cols=("u", "v", "w"))
    exprs = _group_param_exprs(gps_start, int_time_s, avg_time)
    vis_cols = ", ".join(VIS_COLS)
    return (
        f"SELECT t_out, chan_out, bl, ant1, ant2, "
        f"{exprs['bl_code']} AS bl_code, {exprs['jd']} AS jd, "
        f"u, v, w, {vis_cols}, weight, flag, n_samples FROM ({avg})")


# ------------------------------------------------- minimal FITS writer ---
# (shared primitives in sources/fitscore.py)

from birli_spark.sources import fitscore as _fc  # noqa: E402

_BLOCK = _fc.BLOCK
_card = _fc.card
_pad = _fc.pad_block
PTYPES = ("UU", "VV", "WW", "BASELINE", "DATE")


def write_uvfits(path: str, groups, n_chan: int, n_groups: int,
                 object_name: str = "synthetic",
                 jd_zero: float = GPS_EPOCH_JD) -> None:
    """Write random-groups UVFITS. ``groups`` iterates
    (u, v, w, bl_code, jd, data) with data shaped (n_chan, 4, 3) float —
    e.g. from a DataFrame's ordered ``toLocalIterator``.

    ``jd_zero`` becomes PZERO for the DATE param: a raw-f32 JD near
    2.4e6 has ~0.25-day (6-hour) spacing, which would collapse every
    timestep of a typical observation onto one or two values — storing
    ``jd − jd_zero`` keeps second-level time resolution (the standard
    random-groups convention; readers add PZERO back). Note: the
    f32 ulp of ``jd − jd_zero`` grows with the offset — anchor
    jd_zero near the observation (:func:`obs_jd_zero`) for real
    epochs; the module default is the synthetic surface's oracle
    convention."""
    with open(path, "wb") as f:
        # ONE header builder for both writers (byte-identity between
        # the sequential and distributed paths is a tested contract)
        f.write(uvfits_header_bytes(n_chan, n_groups, object_name,
                                    jd_zero))
        n = 0
        for u, v, w, bl_code, jd, data in groups:
            rec = np.empty(5 + n_chan * 4 * 3, dtype=">f4")
            rec[:5] = (u, v, w, float(bl_code), jd - jd_zero)
            rec[5:] = np.asarray(data, dtype=np.float64).reshape(-1)
            f.write(rec.tobytes())
            n += 1
        if n != n_groups:
            raise ValueError(f"wrote {n} groups, declared {n_groups}")
        written = n * (5 + n_chan * 4 * 3) * 4
        if written % _BLOCK:
            f.write(b"\x00" * (_BLOCK - written % _BLOCK))


def read_uvfits(path: str) -> tuple[dict, np.ndarray, np.ndarray]:
    """Minimal reader for round-trip tests → (header, params (G, 5),
    data (G, n_chan, 4, 3))."""
    with open(path, "rb") as f:
        raw = f.read()
    # the shared FITS card parser (handles E-notation values, quoted
    # strings containing '/', CONTINUE cards) — not a local re-parse
    header, off = _fc.parse_header(raw, 0)
    n_chan = int(header["NAXIS4"])
    g = int(header["GCOUNT"])
    per = 5 + n_chan * 4 * 3
    arr = np.frombuffer(raw, dtype=">f4", count=g * per,
                        offset=off).reshape(g, per)
    params = arr[:, :5].astype(np.float64)
    # apply PZERO (random-groups convention): true value = stored + zero
    for i in range(5):
        params[:, i] += float(header.get(f"PZERO{i + 1}", 0.0))
    return header, params, (
        arr[:, 5:].reshape(g, n_chan, 4, 3).astype(np.float64))


#: pol order in the UVFITS data cube (reference/marlu write XX YY XY YX)
UVFITS_POLS = ("xx", "yy", "xy", "yx")
assert set(UVFITS_POLS) == set(POLS)


# ------------------------------------------- distributed writer ---

def uvfits_header_bytes(n_chan: int, n_groups: int,
                        object_name: str = "synthetic",
                        jd_zero: float = GPS_EPOCH_JD) -> bytes:
    """The (padded) random-groups header block :func:`write_uvfits`
    emits — shared by the sequential and distributed writers."""
    cards = [
        _card("SIMPLE", True, "conforms to FITS standard"),
        _card("BITPIX", -32, "IEEE float32"),
        _card("NAXIS", 6),
        _card("NAXIS1", 0, "random groups"),
        _card("NAXIS2", 3, "re, im, weight"),
        _card("NAXIS3", 4, "pols: XX YY XY YX"),
        _card("NAXIS4", n_chan, "fine channels"),
        _card("NAXIS5", 1), _card("NAXIS6", 1),
        _card("GROUPS", True), _card("PCOUNT", len(PTYPES)),
        _card("GCOUNT", n_groups),
        _card("OBJECT", object_name),
    ]
    for i, pt in enumerate(PTYPES):
        cards.append(_card(f"PTYPE{i + 1}", pt))
        cards.append(_card(f"PSCAL{i + 1}", 1.0))
        cards.append(_card(f"PZERO{i + 1}",
                           jd_zero if pt == "DATE" else 0.0))
    cards.append(f"{'END':<80}".encode("ascii"))
    return _pad(b"".join(cards))


def _pack_group_records(pdf, starts, ends, chan_arr: np.ndarray,
                        n_chan: int, jd_sub: np.ndarray) -> np.ndarray:
    """Vectorized record packing (guide §4.2): complete (t_out, bl)
    group runs ``[starts[i], ends[i])`` of a sorted batch -> one
    ``(n_runs, 5 + n_chan*12)`` big-endian f32 block, one numpy pass
    over the whole batch instead of a per-group pandas slice + dict
    lookup loop (the round-8 writers' measured CPU hot spot). Absent
    output channels stay zero-weight fill; present cells keep their
    values verbatim (incl. NaN) — same semantics, same f64->f32 casts,
    byte-identical records. ``jd_sub`` is the per-run PZERO."""
    n_runs = len(starts)
    nrow = int(ends[-1])
    row_run = np.repeat(np.arange(n_runs), ends - starts)
    pos = np.searchsorted(chan_arr,
                          pdf["chan_out"].to_numpy()[:nrow])
    rec = np.zeros((n_runs, 5 + n_chan * 12), dtype=">f4")
    rec[:, 0] = pdf["u"].to_numpy()[starts]
    rec[:, 1] = pdf["v"].to_numpy()[starts]
    rec[:, 2] = pdf["w"].to_numpy()[starts]
    rec[:, 3] = pdf["bl_code"].to_numpy()[starts].astype(np.float64)
    rec[:, 4] = pdf["jd"].to_numpy()[starts] - jd_sub
    data = np.zeros((n_runs, n_chan, 4, 3), dtype=np.float64)
    w = pdf["weight"].to_numpy()[:nrow]
    for p, pol in enumerate(UVFITS_POLS):
        data[row_run, pos, p, 0] = pdf[f"{pol}_re"].to_numpy()[:nrow]
        data[row_run, pos, p, 1] = pdf[f"{pol}_im"].to_numpy()[:nrow]
        data[row_run, pos, p, 2] = w
    rec[:, 5:] = data.reshape(n_runs, -1)
    return rec


def write_uvfits_distributed(rows: DataFrame, path: str,
                             n_chan: int | None = None,
                             object_name: str = "synthetic",
                             jd_zero: float = GPS_EPOCH_JD) -> DataFrame:
    """Executor-parallel random-groups writer: group records are FIXED
    SIZE, so every (t_out, bl) group's byte offset is computable from
    its dense grid index and each task ``pwrite``s its own disjoint
    slice of the shared pre-sized file — write bandwidth scales with
    executors. Requires a COMPLETE (t_out × bl) group grid (the averaged
    pipeline output is one); validated against GCOUNT. Byte-identical to
    :func:`write_uvfits` (tests/test_sources_sinks.py).

    ``rows`` is :func:`uvfits_group_rows` output. ``n_chan`` defaults to
    the probed distinct chan_out count; a caller that knows the expected
    count passes it to have the grid checked against it. The write runs
    INSIDE this call (:func:`_write_group_files`); the returned summary
    DataFrame (one row per t_out: n_groups + gidx bounds) is already
    materialized — further actions on it never re-run the write tasks."""
    dims = _probe_grid(rows)
    t_dim = dims["t_out"]
    summary = _write_group_files(
        rows, dims, n_chan, [(path, object_name, jd_zero)],
        t_file=np.zeros(len(t_dim), dtype=np.int64),
        t_rank=np.arange(len(t_dim)))
    return rows.sparkSession.createDataFrame(
        summary, schema="t_out int, n_groups long, n_distinct long, "
                        "g_lo long, g_hi long")


def write_uvfits_catalogue(rows: DataFrame, out_dir: str, n_chan: int,
                           gps_start: float, stride_s: float,
                           blocks_per_obs: int) -> dict[int, str]:
    """MO4 — one random-groups UVFITS file PER OBSERVATION, all written
    by one distributed job of :func:`_write_group_files`: global block
    ``t_out`` lands in file ``obs_{t_out // blocks_per_obs}.uvfits`` at
    rank ``t_out % blocks_per_obs``. Each file's DATE PZERO anchors at
    its own obs start (:func:`obs_jd_zero`), keeping per-timestep f32
    resolution for every obs in the catalogue. Returns {obs_id: path}.

    ``rows`` is the mo_uvfits_rows relation (operators/multiobs.py):
    obs_id, global t_out, bl/chan_out grid, group params, pol values."""
    # the grid probe and the write each read rows: materialize it once
    rows = rows.localCheckpoint(eager=True)
    dims = _probe_grid(rows, "obs_id")
    obs_dim, t_dim = dims["obs_id"], dims["t_out"]
    # routing recovers obs as t_out // blocks_per_obs — valid only for
    # dense 0..N-1 obs ids with obs-major dense global block indices;
    # fail here rather than pwrite into the wrong file
    if len(t_dim) != len(obs_dim) * blocks_per_obs:
        raise ValueError("ragged catalogue grid: "
                         f"{len(t_dim)} blocks != {len(obs_dim)} obs"
                         f" x {blocks_per_obs}")
    if obs_dim != list(range(len(obs_dim))):
        raise ValueError(f"obs ids must be dense 0..N-1, got {obs_dim[:8]}…")
    if t_dim != list(range(len(t_dim))):
        raise ValueError("t_out must be obs-major dense 0..N*blocks-1, "
                         f"got {t_dim[:8]}…")
    os.makedirs(out_dir, exist_ok=True)
    paths = {o: os.path.join(out_dir, f"obs_{o}.uvfits") for o in obs_dim}
    t_arr = np.asarray(t_dim)
    _write_group_files(
        rows, dims, n_chan,
        [(paths[o], f"obs_{o}", obs_jd_zero(gps_start + o * stride_s))
         for o in obs_dim],
        t_file=t_arr // blocks_per_obs, t_rank=t_arr % blocks_per_obs)
    return paths


def _probe_grid(rows: DataFrame, *extra: str) -> dict[str, list]:
    """The sorted distinct values of the (t_out, bl, chan_out) grid axes
    (plus ``extra`` columns), from ONE aggregate job over ``rows``."""
    cols = ("t_out", "bl", "chan_out", *extra)
    dims = rows.agg(*[F.collect_set(c).alias(c) for c in cols]).first()
    return {c: sorted(dims[c]) for c in cols}


def _write_group_files(rows: DataFrame, dims: dict[str, list],
                       n_chan: int | None,
                       files: list[tuple[str, str, float]],
                       t_file: np.ndarray, t_rank: np.ndarray) -> list:
    """The one executor-side random-groups write: pre-size every file
    in ``files`` ((path, OBJECT, DATE PZERO) each) with its header, then
    one job ``pwrite``s every (t_out, bl) group record into its file.
    ``dims`` is the :func:`_probe_grid` result; the i-th value of
    ``dims["t_out"]`` routes to file ``t_file[i]`` at block rank
    ``t_rank[i]``, so its groups fill the contiguous gidx range
    ``[t_rank[i]*n_bl, t_rank[i]*n_bl + n_bl)`` of that file.

    The written groups are validated DISTRIBUTEDLY (a missing group
    would otherwise ship as a silent all-zero record): a per-t_out
    aggregation proves every t_out wrote exactly its contiguous range,
    so only the t_out-dim summary ever reaches the driver (never the
    t_out x bl manifest). Returns those summary rows."""
    import pandas as pd

    t_dim, bl_dim, chan_dim = dims["t_out"], dims["bl"], dims["chan_out"]
    if n_chan is None:
        n_chan = len(chan_dim)
    elif len(chan_dim) != n_chan:
        raise ValueError(
            f"{len(chan_dim)} distinct chan_out vs n_chan={n_chan}")
    n_bl = len(bl_dim)
    rec_size = (5 + n_chan * 4 * 3) * 4
    file_groups = np.bincount(t_file, minlength=len(files)) * n_bl
    header_len = 0
    for (path, object_name, jd_zero), n_groups in zip(files, file_groups):
        # one card set for every file: the header length is shared
        header = uvfits_header_bytes(n_chan, int(n_groups), object_name,
                                     jd_zero)
        header_len = len(header)
        total = header_len + int(n_groups) * rec_size
        if total % _BLOCK:
            total += _BLOCK - total % _BLOCK
        with open(path, "wb") as f:
            f.write(header)
            f.truncate(total)
    spark = rows.sparkSession
    t_arr_b = spark.sparkContext.broadcast(np.asarray(t_dim))
    bl_arr_b = spark.sparkContext.broadcast(np.asarray(bl_dim))
    chan_arr_b = spark.sparkContext.broadcast(np.asarray(chan_dim))
    paths = [f[0] for f in files]
    jd_zeros = np.asarray([f[2] for f in files])

    val_cols = [f"{pol}_{c}" for pol in UVFITS_POLS for c in ("re", "im")]

    def write_partition(batches):
        """One task = a stream of sorted Arrow batches holding whole
        (t_out, bl) group runs (hash-partitioned on the keys, sorted
        within the partition), buffered across batch boundaries so a
        group split over two batches writes once, and one fd per file
        it touches. Record packing is one vectorized numpy pass per
        batch (:func:`_pack_group_records`); pwrites coalesce stretches
        contiguous in (file, gidx) into single syscalls.

        Absent output channels become zero-weight cells; PRESENT cells
        keep their values verbatim — including NaN data (NaN-solution
        channels of --apply-di-cal), which the reference writes as NaN
        with a negated weight, like the MS sink."""
        fds: dict[int, int] = {}
        t_arr, bl_arr = t_arr_b.value, bl_arr_b.value
        chan_arr = chan_arr_b.value
        pend: pd.DataFrame | None = None
        try:
            def flush_runs(pdf: pd.DataFrame, starts: np.ndarray,
                           ends: np.ndarray) -> pd.DataFrame:
                t_vals = pdf["t_out"].to_numpy()[starts]
                bl_vals = pdf["bl"].to_numpy()[starts]
                t_i = np.searchsorted(t_arr, t_vals)
                fi = t_file[t_i]
                gidx = (t_rank[t_i] * n_bl
                        + np.searchsorted(bl_arr, bl_vals))
                rec = _pack_group_records(pdf, starts, ends, chan_arr,
                                          n_chan, jd_zeros[fi])
                cut = np.flatnonzero((np.diff(fi) != 0)
                                     | (np.diff(gidx) != 1)) + 1
                seg_s = np.concatenate(([0], cut))
                seg_e = np.concatenate((cut, [len(gidx)]))
                for a, b in zip(seg_s, seg_e):
                    f = int(fi[a])
                    if f not in fds:
                        fds[f] = os.open(paths[f], os.O_WRONLY)
                    os.pwrite(fds[f], rec[a:b].tobytes(),
                              header_len + int(gidx[a]) * rec_size)
                return pd.DataFrame({"gidx": gidx.astype(np.int64),
                                     "t_out": t_vals, "bl": bl_vals})

            for pdf in batches:
                if pend is not None:
                    pdf = pd.concat([pend, pdf], ignore_index=True)
                    pend = None
                if not len(pdf):
                    continue
                key = (pdf["t_out"].to_numpy().astype(np.int64) << 32 |
                       pdf["bl"].to_numpy().astype(np.int64))
                bounds = np.flatnonzero(np.diff(key)) + 1
                starts = np.concatenate(([0], bounds))
                ends = np.concatenate((bounds, [len(pdf)]))
                # the last run may continue into the next batch
                pend = pdf.iloc[starts[-1]:].copy()
                if len(starts) > 1:
                    yield flush_runs(pdf, starts[:-1], ends[:-1])
            if pend is not None and len(pend):
                yield flush_runs(pend,
                                 np.array([0]), np.array([len(pend)]))
        finally:
            for fd in fds.values():
                os.close(fd)

    n_part = max(spark.sparkContext.defaultParallelism,
                 rows.rdd.getNumPartitions())
    ordered = (rows.select("t_out", "bl", "chan_out", "u", "v", "w",
                           "bl_code", "jd", "weight", *val_cols)
               .repartition(n_part, "t_out", "bl")
               .sortWithinPartitions("t_out", "bl", "chan_out"))

    # one action: the write tasks run under a per-t_out reduction, so
    # the driver sees len(t_dim) summary rows, not t_out x bl manifest
    # rows (the 100 TB catalogue shape)
    summary = (ordered.mapInPandas(
        write_partition, schema="gidx long, t_out int, bl int")
        .groupBy("t_out")
        .agg(F.count("*").alias("n_groups"),
             F.count_distinct("gidx").alias("n_distinct"),
             F.min("gidx").alias("g_lo"),
             F.max("gidx").alias("g_hi"))
        .collect())
    written = sum(r["n_groups"] for r in summary)
    if written != len(t_dim) * n_bl:
        raise ValueError(
            f"uvfits grid incomplete: wrote {written} groups, "
            f"declared GCOUNT {len(t_dim) * n_bl} ({len(t_dim)} t_out x "
            f"{n_bl} bl) — never hand external FITS readers a file "
            "whose declared GCOUNT includes never-written groups")
    t_index = {v: i for i, v in enumerate(t_dim)}
    for r in summary:
        lo = int(t_rank[t_index[r["t_out"]]]) * n_bl
        if (r["n_groups"] != n_bl or r["n_distinct"] != n_bl
                or r["g_lo"] != lo or r["g_hi"] != lo + n_bl - 1):
            raise ValueError(
                f"t_out {r['t_out']}: wrote {r['n_groups']} groups "
                f"({r['n_distinct']} distinct gidx, range "
                f"[{r['g_lo']}, {r['g_hi']}]), expected the contiguous "
                f"{n_bl}-group range [{lo}, {lo + n_bl - 1}]")
    return summary


def obs_jd_zero(gps_start: float) -> float:
    """PZERO for the DATE group param: the half-integral JD (the FITS
    convention's noon boundary) at or just before the observation start.
    Anchoring PZERO at the OBS — not the 1980 GPS epoch — keeps the
    f32-stored day offset < 1, i.e. ~4 ms resolution instead of the
    ~84 s ulp a 14500-day offset has: without this every few-second
    timestep of a real observation collapses onto one stored DATE."""
    import math

    return math.floor(GPS_EPOCH_JD + gps_start / 86400.0 - 0.5) + 0.5


def uvfits_file_rows(spark, rows: DataFrame, path: str,
                     jd_zero: float = GPS_EPOCH_JD) -> DataFrame:
    """O1b — the hash gate over the PHYSICAL file: write the random-
    groups file via the executor-parallel writer, read the BYTES back
    (:func:`read_uvfits`), and re-emit one row per (group, channel)
    with every value exactly as the file stores it (f32). Pairs with
    :func:`uvfits_file_oracle_select`, whose f32 demotions mirror the
    FITS encode/decode — so a hash match certifies the file content,
    not just the pre-sink relation.

    The read-back is driver-side over the AVERAGED output (groups x
    chans, orders of magnitude below the fact scan); the write itself
    is executor-parallel."""
    # materialize the averaged relation ONCE: the writer's grid probe
    # and its write action would otherwise each re-run the whole
    # upstream pipeline
    rows = rows.localCheckpoint(eager=True)
    write_uvfits_distributed(rows, path, jd_zero=jd_zero)
    # n_chan is the written header's NAXIS4 (the data cube's axis 1)
    _, params, data = read_uvfits(path)
    return spark.createDataFrame(
        cells_frame_from_arrays(params, data, data.shape[1])
        .reset_index(drop=True))


def cells_frame_from_arrays(params: np.ndarray, data: np.ndarray,
                            n_chan: int):
    """The ONE row convention for every UVFITS read-back surface —
    (PZERO-applied) group params + data cube -> one pandas row per
    (group, channel), padding dropped: groups never written keep the
    pre-sized zeros (bl_code 0 — real codes are >= 257), and channels
    reindex-filled inside a group carry weight exactly 0 (a real baked
    cell is +/-|weight_factor| != 0). Shared by the driver byte gates
    (:func:`file_cells_frame`) and the distributed DataSource
    (sources/uvfits_source.py) so a convention change lands everywhere
    at once."""
    import pandas as pd

    g = params.shape[0]
    rec = {
        "bl_code": np.repeat(params[:, 3].astype(np.int32), n_chan),
        "jd": np.repeat(params[:, 4], n_chan),
        "chan_out": np.tile(np.arange(n_chan, dtype=np.int32), g),
        "u": np.repeat(params[:, 0], n_chan),
        "v": np.repeat(params[:, 1], n_chan),
        "w": np.repeat(params[:, 2], n_chan),
    }
    for p, pol in enumerate(UVFITS_POLS):
        rec[f"{pol}_re"] = data[:, :, p, 0].reshape(-1)
        rec[f"{pol}_im"] = data[:, :, p, 1].reshape(-1)
    rec["weight"] = data[:, :, 0, 2].reshape(-1)
    pdf = pd.DataFrame(rec)
    pdf["flag"] = pdf["weight"] < 0
    return pdf[(pdf["bl_code"] > 0) & (pdf["weight"] != 0.0)]


def file_cells_frame(path: str, n_chan: int):
    """Driver-side byte-gate read-back (o1b single file, mo4 per-obs
    fan-out): read the whole file, then the shared row convention."""
    _, params, data = read_uvfits(path)
    return cells_frame_from_arrays(params, data, n_chan)


def uvfits_file_oracle_select(baked: str, avg_time: int, avg_freq: int,
                              gps_start: float, int_time_s: float,
                              jd_zero: float = GPS_EPOCH_JD) -> str:
    """DuckDB twin of :func:`uvfits_file_rows`: the o1 row relation with
    every file-stored value pushed through the same f32 round trip the
    FITS encoding applies (params and data are BITPIX -32; DATE is
    stored relative to PZERO then re-offset by the reader)."""
    from birli_spark.functions.complex import f32

    avg = averaging.averaging_oracle_select(baked, avg_time, avg_freq,
                                            extra_mean_cols=("u", "v", "w"))
    exprs = _group_param_exprs(gps_start, int_time_s, avg_time)
    jz = f"CAST({jd_zero!r} AS DOUBLE)"
    jd_rel = f32(f"({exprs['jd']}) - {jz}")
    vis = ", ".join(
        f"{f32(f'{pol}_{c}')} AS {pol}_{c}"
        for pol in UVFITS_POLS for c in ("re", "im"))
    return (
        f"SELECT CAST({exprs['bl_code']} AS INT) AS bl_code,"
        f" ({jz} + {jd_rel}) AS jd,"
        f" CAST(chan_out AS INT) AS chan_out,"
        f" {f32('u')} AS u, {f32('v')} AS v, {f32('w')} AS w,"
        f" {vis}, {f32('weight')} AS weight,"
        f" {f32('weight')} < 0E0 AS flag FROM ({avg})"
        # mirror the gate's padding drop: a stored weight of exactly 0
        # is indistinguishable from reindex fill, so both sides drop it
        f" WHERE {f32('weight')} <> 0E0")
