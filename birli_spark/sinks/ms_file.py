"""O2c — PHYSICAL Measurement Set emission in the casacore table
layout (VERDICT r2 item 7): the MAIN table plus the full MS v2 subtable
tree (``ms_subtables.subtable_sqls``) written as casacore-layout table
directories (``casa_tables``), with the MAIN bulk data written
**executor-parallel** into the shared ``table.f0``.

Why that parallel write is sound: every MAIN column under StManAipsIO
stores fixed-size cells (no string columns), so a row's byte offset in
each column section is ``section_base + row_idx * cell_size`` — the
same fixed-record argument the UVFITS writer uses
(sinks/uvfits.py::_write_group_files). Row order is (time block, ant1,
ant2), the order the reference's own MS writer appends in
(``write_ms``, src/io/mod.rs:542-595: chunked by timestep,
baseline-major inside); each Spark task owns one time block's
contiguous row range and ``pwrite``s each column slice once
(:func:`_write_ms_trees`).

Array-axis note: casacore arrays are column-major; a casacore cell
``Array<Complex>(IPosition(2, n_corr, n_chan))`` is byte-identical to
the C-order ``(n_chan, n_corr)`` numpy cells written here, so the
declared shapes below are the numpy view of the casacore MS shapes.

Validation boundary: see :mod:`birli_spark.sinks.casa_io` — structural
emulation of casacore's serializers, gated by independent-parser
round-trip and the ``o2c_ms_file`` driver hash (the file's stored
values vs the DuckDB oracle), not by a real casacore build (absent
here and unverifiable in this environment).
"""

from __future__ import annotations

import os
import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from birli_spark.functions.complex import POLS, VIS_COLS, f32
from birli_spark.sinks import casa_tables
from birli_spark.sinks import ms as ms_main
from birli_spark.sinks import ms_subtables
from birli_spark.sinks.casa_io import MAGIC, TP_ARRAY_OFFSET

#: casacore correlation order in the reference's MS output (Stokes
#: enum XX=9, XY=10, YX=11, YY=12 — ms_subtables.CORR_TYPES)
MS_POLS = ("xx", "xy", "yx", "yy")
assert MS_POLS == POLS


def _main_columns_meta(n_chan: int) -> list[dict]:
    """MAIN column set the reference emits (MS v2 required columns,
    src/io/mod.rs:542-595 via marlu). Order is the file order."""
    i, d = "int", "double"
    cols = [
        ("TIME", d, None), ("TIME_CENTROID", d, None),
        ("ANTENNA1", i, None), ("ANTENNA2", i, None),
        ("DATA_DESC_ID", i, None), ("FIELD_ID", i, None),
        ("SCAN_NUMBER", i, None), ("ARRAY_ID", i, None),
        ("OBSERVATION_ID", i, None), ("PROCESSOR_ID", i, None),
        ("STATE_ID", i, None), ("FEED1", i, None), ("FEED2", i, None),
        ("INTERVAL", d, None), ("EXPOSURE", d, None),
        ("UVW", d, (3,)),
        ("DATA", "complex", (n_chan, 4)),
        ("FLAG", "bool", (n_chan, 4)),
        ("WEIGHT", "float", (4,)),
        ("SIGMA", "float", (4,)),
        ("WEIGHT_SPECTRUM", "float", (n_chan, 4)),
        ("FLAG_ROW", "bool", None),
    ]
    return [{"name": n, "dtype": t, "shape": s} for n, t, s in cols]


_SCALAR_SIZE = {"bool": 1, "int": 4, "float": 4, "double": 8,
                "complex": 8}


def _cell_size(meta: dict) -> int:
    base = _SCALAR_SIZE[meta["dtype"]]
    shape = meta.get("shape")
    if shape is None:
        return base
    return 4 + 4 * len(shape) + base * int(np.prod(shape))


def _obj_header(objtype: str, version: int, payload: int) -> bytes:
    """[uInt objlen][String type][uInt version] with objlen covering
    the whole object incl. the length word (AipsWriter.putend)."""
    t = objtype.encode("ascii")
    objlen = 4 + 4 + len(t) + 4 + payload
    return struct.pack(">I", objlen) + struct.pack(">I", len(t)) + t \
        + struct.pack(">I", version)


def plan_f0_layout(columns_meta: list[dict], nrow: int
                   ) -> tuple[int, dict[str, tuple[int, int]], bytes]:
    """Byte plan for a ``table.f0`` holding only fixed-size cells:
    returns (total_size, {col: (cells_base_offset, cell_size)},
    skeleton bytes up to the first cell region start is NOT contiguous —
    instead the third element is the full header byte map rendered as a
    sparse list [(offset, blob)] packed into bytes via writes by the
    caller). Layout mirrors casa_tables.write_table exactly (that parser
    is the gate)."""
    # header blobs: (offset, bytes)
    blobs: list[tuple[int, bytes]] = []
    col_payloads = [8 + nrow * _cell_size(m) for m in columns_meta]
    col_totals = [len(_obj_header("StManColumnAipsIO", 2, 0)) + p
                  for p in col_payloads]
    stman_payload = 12 + sum(col_totals)
    off = 0
    blobs.append((off, struct.pack(">I", MAGIC)))
    off += 4
    hdr = _obj_header("StManAipsIO", 2, stman_payload)
    blobs.append((off, hdr + struct.pack(">III", 0, nrow,
                                         len(columns_meta))))
    off += len(hdr) + 12
    sections: dict[str, tuple[int, int]] = {}
    for meta, payload in zip(columns_meta, col_payloads):
        chdr = _obj_header("StManColumnAipsIO", 2, payload)
        tp = casa_tables._TP[meta["dtype"]]
        if meta.get("shape") is not None:
            tp += TP_ARRAY_OFFSET
        blobs.append((off, chdr + struct.pack(">iI", tp, nrow)))
        off += len(chdr) + 8
        sections[meta["name"]] = (off, _cell_size(meta))
        off += nrow * _cell_size(meta)
    return off, sections, _render_blobs(blobs)


def _render_blobs(blobs: list[tuple[int, bytes]]) -> bytes:
    """Serialize the sparse header map as [uInt64 offset][uInt32 len]
    [bytes]... for the driver to replay with seek+write."""
    out = bytearray()
    for offset, blob in blobs:
        out += struct.pack(">QI", offset, len(blob))
        out += blob
    return bytes(out)


def _replay_blobs(f, packed: bytes) -> None:
    p = 0
    while p < len(packed):
        offset, n = struct.unpack_from(">QI", packed, p)
        p += 12
        f.seek(offset)
        f.write(packed[p:p + n])
        p += n


def _cell_prefix(shape: tuple[int, ...]) -> bytes:
    return struct.pack(">I", len(shape)) + b"".join(
        struct.pack(">i", d) for d in shape)


def _pack_cells(arr: np.ndarray, shape: tuple[int, ...] | None,
                dtype: str) -> bytes:
    """(g, *shape) values -> concatenated StManColumnAipsIO cells."""
    be = {"bool": ">u1", "int": ">i4", "float": ">f4", "double": ">f8",
          "complex": ">c8"}[dtype]
    if shape is None:
        return np.ascontiguousarray(arr).astype(be).tobytes()
    g = arr.shape[0]
    body = np.ascontiguousarray(arr).astype(be).view(np.uint8)
    body = body.reshape(g, -1)
    prefix = np.frombuffer(_cell_prefix(shape), dtype=np.uint8)
    cells = np.empty((g, len(prefix) + body.shape[1]), dtype=np.uint8)
    cells[:, :len(prefix)] = prefix
    cells[:, len(prefix):] = body
    return cells.tobytes()


def write_ms_casa(spark: SparkSession, baked: DataFrame, out_dir: str,
                  avg_time: int, avg_freq: int, gps_start: float,
                  int_time_s: float) -> int:
    """Write ``out_dir`` as a casacore-layout MS: MAIN at the root
    (executor-parallel bulk write, :func:`_write_ms_trees`), one
    subdirectory per subtable, TpTable keywords binding the tree. One
    observation: time block ``tb`` is scan ``tb + 1``. Returns MAIN row
    count."""
    rows = ms_main.ms_main_rows(baked, avg_time, avg_freq,
                                gps_start, int_time_s)
    (_, nrow), = _write_ms_trees(spark, rows, out_dir, avg_freq,
                                 avg_time * int_time_s).values()
    return nrow


def _block_vals(pdf, chans, interval: float, scan: int):
    """One time block's MAIN cells from its relation rows: the dense
    (pair, chan) grid with zero-weight/flagged fill for absent cells —
    the body of :func:`_write_ms_trees`' write task.

    Vectorized (guide §4.2): pair ids via np.unique on a packed
    (antenna1, antenna2) key, channel ranks via searchsorted, and the
    dense grid filled by numpy scatter into pre-filled arrays — one
    numpy pass instead of the per-cell Python MultiIndex.from_tuples +
    pandas reindex that dominated the o2c/mo5 write CPU. Semantics
    unchanged: absent grid cells become zero-data flagged cells;
    PRESENT cells keep their values VERBATIM — including NaN data
    (e.g. NaN-solution channels of --apply-di-cal), which the
    reference writes as NaN with the flag set (src/calibration.rs:
    117-124); collapsing them to 0 would diverge from the cotter
    norfi.cal goldens (tests/test_cli_golden_cal.py)."""
    nc = len(chans)
    a1v = pdf["antenna1"].to_numpy(dtype=np.int64)
    a2v = pdf["antenna2"].to_numpy(dtype=np.int64)
    ci = np.searchsorted(np.asarray(chans), pdf["chan"].to_numpy())
    base = int(a2v.max()) + 1
    pk, inv = np.unique(a1v * base + a2v, return_inverse=True)
    g = len(pk)               # packed keys sort == (a1, a2) lex order
    pos = inv * nc + ci       # dense (pair, chan) cell index
    data = np.zeros((g, nc, 4), dtype=np.complex64)
    for p, pol in enumerate(MS_POLS):
        cell = np.zeros(g * nc, dtype=np.complex128)
        cell[pos] = (pdf[f"data_{pol}_re"].to_numpy()
                     + 1j * pdf[f"data_{pol}_im"].to_numpy())
        data[:, :, p] = cell.reshape(g, nc)
    wt = np.zeros(g * nc, dtype=np.float64)
    wt[pos] = pdf["weight"].to_numpy()
    wt = wt.reshape(g, nc)
    fl = np.ones(g * nc, dtype=bool)
    fl[pos] = pdf["flag"].to_numpy(dtype=bool)
    fl = fl.reshape(g, nc)
    wspec = np.repeat(wt[:, :, None], 4, axis=2).astype(np.float32)
    flag = np.repeat(fl[:, :, None], 4, axis=2)
    # per-pair TIME/UVW from the pair's lowest-chan present row — the
    # value the old reindexed groupby().first() (skip-NaN over absent
    # fill rows) picked; TIME/UVW are per-pair constants in the MAIN
    # relation and never NaN on present rows
    order = np.lexsort((ci, inv))
    firsts = order[np.searchsorted(inv[order], np.arange(g))]
    time = pdf["time_mjd_s"].to_numpy()[firsts]
    uvw = pdf[["uvw_u", "uvw_v", "uvw_w"]].to_numpy()[firsts]
    a1 = (pk // base).astype(np.int32)
    a2 = (pk % base).astype(np.int32)
    zeros = np.zeros(g, dtype=np.int32)
    weight = wspec.sum(axis=1)
    vals = {
        "TIME": time, "TIME_CENTROID": time,
        "ANTENNA1": a1, "ANTENNA2": a2,
        "DATA_DESC_ID": zeros, "FIELD_ID": zeros,
        "SCAN_NUMBER": np.full(g, scan, dtype=np.int32),
        "ARRAY_ID": zeros, "OBSERVATION_ID": zeros,
        "PROCESSOR_ID": zeros, "STATE_ID": zeros,
        "FEED1": zeros, "FEED2": zeros,
        "INTERVAL": np.full(g, interval),
        "EXPOSURE": np.full(g, interval),
        "UVW": uvw, "DATA": data, "FLAG": flag,
        "WEIGHT": weight, "SIGMA": np.ones((g, 4), np.float32),
        "WEIGHT_SPECTRUM": wspec,
        "FLAG_ROW": flag.all(axis=(1, 2)),
    }
    return vals, g


def _pwrite_block(f0: str, meta: list[dict], sections: dict,
                  row0: int, vals: dict) -> None:
    fd = os.open(f0, os.O_WRONLY)
    try:
        for m in meta:
            base, csize = sections[m["name"]]
            os.pwrite(fd, _pack_cells(vals[m["name"]],
                                      m.get("shape"), m["dtype"]),
                      base + row0 * csize)
    finally:
        os.close(fd)


def write_ms_casa_catalogue(spark: SparkSession, rows: DataFrame,
                            out_dir: str, avg_freq: int,
                            blocks_per_obs: int,
                            interval: float) -> dict[int, str]:
    """MO5 — one casacore-layout MS PER OBSERVATION, all MAIN bulk
    written in a single distributed job of :func:`_write_ms_trees`:
    global time block ``tb`` belongs to ``obs_{tb // blocks_per_obs}.ms``.
    Scan numbers restart at 1 inside every obs's MS, as a per-obs
    casacore reader expects. Returns {obs_id: path}.

    ``rows`` is the mo MS MAIN relation (operators/multiobs.py::
    mo_ms_rows_sql): obs_id + global time_block + the o2 column set."""
    trees = _write_ms_trees(spark, rows, out_dir, avg_freq, interval,
                            blocks_per_obs)
    return {o: path for o, (path, _) in trees.items()}


def _write_ms_trees(spark: SparkSession, rows: DataFrame, out_dir: str,
                    avg_freq: int, interval: float,
                    blocks_per_obs: int | None = None
                    ) -> dict[int, tuple[str, int]]:
    """The one executor-side MS write. ``rows`` is an MS MAIN relation
    (sinks/ms.py column set) keyed by ``time_block``. With
    ``blocks_per_obs`` None the whole relation is one tree at
    ``out_dir`` and block ``tb`` is scan ``tb + 1``; otherwise ``rows``
    carries ``obs_id``, block ``tb`` belongs to observation
    ``tb // blocks_per_obs`` and its tree ``out_dir/obs_{o}.ms``, with
    scans restarting at 1 per observation.

    One probe job sizes every block (distinct baseline pairs, not
    rows / n_chan, so channel-ragged blocks still size correctly) and
    lists the channels; the driver plans each tree's contiguous row
    ranges over the tiny block dimension, writes its table.dat/f0
    skeleton and subtables, then one task per time block ``pwrite``s
    its rows into its tree's shared ``table.f0``. The written rows are
    checked per tree. Returns {obs: (path, MAIN rows)}."""
    import pandas as pd

    # subtables are obs-invariant: materialize the frames ONCE (not
    # n_obs x 10 dim jobs), and first, so a bad avg_freq fails before
    # the fact pipeline runs
    subtables = _collect_subtables(spark, avg_freq)
    # the probe and the write each read rows: one fact-pipeline run
    rows = rows.localCheckpoint(eager=True)
    obs_col = F.lit(0) if blocks_per_obs is None else F.col("obs_id")
    blocks = (rows.groupBy("time_block")
              .agg(F.count_distinct("antenna1", "antenna2").alias("n"),
                   F.collect_set("chan").alias("chans"),
                   F.min(obs_col).alias("o_lo"),
                   F.max(obs_col).alias("o_hi"))
              .collect())
    chan_dim = sorted({c for r in blocks for c in r["chans"]})
    bpo = blocks_per_obs
    block0 = {}  # tb -> (obs, its tree's first block)
    for r in blocks:
        tb = r["time_block"]
        o = 0 if bpo is None else tb // bpo
        # routing recomputes obs from tb: valid only when the relation's
        # obs_id IS that value (dense 0..N-1 ids, obs-major global
        # blocks) — never pwrite rows into the wrong obs's tree
        if r["o_lo"] != o or r["o_hi"] != o:
            raise ValueError(
                f"time_block {tb} carries obs_id {r['o_lo']}..{r['o_hi']},"
                f" expected dense obs-major {o} (= time_block // {bpo})")
        block0[tb] = (o, 0 if bpo is None else o * bpo)
    counts = {r["time_block"]: r["n"] for r in blocks}
    meta = _main_columns_meta(len(chan_dim))
    keywords = {"MS_VERSION": ("float", 2.0)}
    for name, *_ in subtables:
        keywords[name] = ("table", name)
    offsets: dict[int, int] = {}
    trees: dict[int, tuple[str, int]] = {}
    sections: dict[int, dict] = {}
    for o in sorted({o for o, _ in block0.values()}):
        nrow = 0
        for tb in sorted(tb for tb in counts if block0[tb][0] == o):
            offsets[tb] = nrow
            nrow += counts[tb]
        path = out_dir if bpo is None else os.path.join(out_dir,
                                                        f"obs_{o}.ms")
        trees[o] = (path, nrow)
        total, sections[o], header_map = plan_f0_layout(meta, nrow)
        os.makedirs(path, exist_ok=True)
        _write_main_dat(path, meta, nrow, keywords)
        with open(os.path.join(path, "table.f0"), "wb") as f:
            f.truncate(total)
            _replay_blobs(f, header_map)
        for name, columns, nrow_s, info_type, readme in subtables:
            casa_tables.write_table(
                os.path.join(path, name), name, columns, nrow_s,
                info_type=info_type, readme=readme)

    ctx = spark.sparkContext
    offsets_b, chan_b = ctx.broadcast(offsets), ctx.broadcast(chan_dim)
    block0_b, sections_b = ctx.broadcast(block0), ctx.broadcast(sections)
    f0s = {o: os.path.join(path, "table.f0")
           for o, (path, _) in trees.items()}

    def write_block(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tb = int(key[0])
        o, first = block0_b.value[tb]
        vals, g = _block_vals(pdf, chan_b.value, interval,
                              scan=tb - first + 1)
        _pwrite_block(f0s[o], meta, sections_b.value[o],
                      offsets_b.value[tb], vals)
        return pd.DataFrame([{"obs_id": o, "rows": g}])

    # per-tree validation: one summary row per tree reaches the driver
    written = {r["obs_id"]: r["rows"] for r in
               rows.groupBy("time_block")
               .applyInPandas(write_block, schema="obs_id int, rows int")
               .groupBy("obs_id").agg(F.sum("rows").alias("rows"))
               .collect()}
    for o, (_, nrow) in trees.items():
        if written.get(o, 0) != nrow:
            raise ValueError(f"obs {o}: wrote {written.get(o, 0)} MAIN "
                             f"rows, planned {nrow}")
    return trees


def _write_main_dat(out_dir: str, meta: list[dict], nrow: int,
                    keywords: dict) -> None:
    """table.dat + table.info for MAIN without touching table.f0 —
    MAIN's bulk data goes through the executor-parallel path, so only
    the shared dat serializer runs here (one serializer, one parser:
    casa_tables.write_table_dat / read_table cannot drift apart)."""
    casa_tables.write_table_dat(
        out_dir, "MAIN", meta, nrow, keywords=keywords,
        info_type="Measurement Set",
        readme="birli_spark O2c casacore-layout emission")


#: (dtype, shape-group) per subtable column, derived from
#: ms_subtables._subtable_columns kinds + the long-format axes
_SUB_ARRAY_AXES = {
    "ANTENNA": ("pos_idx", {"position_m": "POSITION"}),
    "SPECTRAL_WINDOW": ("chan_idx", {"chan_freq_hz": "CHAN_FREQ",
                                     "chan_width_hz": "CHAN_WIDTH",
                                     "effective_bw_hz": "EFFECTIVE_BW",
                                     "resolution_hz": "RESOLUTION"}),
    "POLARIZATION": ("corr_idx", {"corr_type": "CORR_TYPE"}),
    "FIELD": ("dir_idx", {"phase_dir_rad": "PHASE_DIR",
                          "delay_dir_rad": "DELAY_DIR",
                          "reference_dir_rad": "REFERENCE_DIR"}),
    "FEED": ("receptor_idx", {"polarization_type": "POLARIZATION_TYPE",
                              "receptor_angle_rad": "RECEPTOR_ANGLE"}),
}


def _collect_subtables(spark: SparkSession, avg_freq: int) -> list[tuple]:
    """Materialize every subtable ONCE as (name, columns, nrow,
    info_type, readme) — the subtables are obs-invariant, so
    :func:`_write_ms_trees` collects here a single time and stamps the
    same frames into every tree instead of re-running the dim jobs per
    observation."""
    out = []
    for name, sql in ms_subtables.subtable_sqls(avg_freq=avg_freq).items():
        pdf = spark.sql(sql).toPandas()
        axis, arr_cols = _SUB_ARRAY_AXES.get(name, (None, {}))
        keys = [k for k in ms_subtables._subtable_keys(name)
                if k != axis]
        if axis is not None:
            head = (pdf.sort_values([*keys, axis])
                    .groupby(keys, sort=True))
            base = head.first().reset_index()
            n_ax = int(pdf[axis].max()) + 1
        else:
            base = pdf
            n_ax = 0
        columns = []
        for col, kind in ms_subtables._subtable_columns(name):
            upper = arr_cols.get(col, col.upper())
            if col in arr_cols:
                cells = (pdf.sort_values([*keys, axis])[col]
                         .to_numpy().reshape(len(base), n_ax))
                dtype = "double" if kind == "d" else (
                    "int" if cells.dtype.kind == "i" else "string")
                if kind == "s" and name == "POLARIZATION":
                    dtype = "int"  # CORR_TYPE is the Stokes enum
                    cells = cells.astype(np.int32)
                columns.append({"name": upper, "dtype": dtype,
                                "shape": (n_ax,), "values": list(cells)})
            else:
                vals = base[col]
                dtype = {"d": "double", "b": "bool"}.get(kind, "string")
                if dtype == "string" and vals.dtype.kind in "iu":
                    dtype = "int"
                columns.append({"name": upper.removesuffix("_HZ")
                                .removesuffix("_RAD")
                                .removesuffix("_MJD_S")
                                .removesuffix("_M"),
                                "dtype": dtype,
                                "shape": None, "values": vals.tolist()})
        out.append((name, columns, len(base),
                    "IERS" if name == "OBSERVATION" else "",
                    f"MS v2 {name} subtable"))
    return out


def read_ms_casa(path: str) -> dict[str, dict]:
    """Roundtrip reader: MAIN + every TpTable-keyword subtable, each as
    the :func:`casa_tables.read_table` dict."""
    main = casa_tables.read_table(path)
    out = {"MAIN": main}
    for key, (kind, ref) in main["keywords"].items():
        if kind == "table":
            out[key] = casa_tables.read_table(os.path.join(path, ref))
    return out


# ------------------------------------------------------- driver gate ---

def ms_file_rows(spark: SparkSession, baked: DataFrame, path: str,
                 avg_time: int, avg_freq: int, gps_start: float,
                 int_time_s: float) -> DataFrame:
    """O2c gate: write the physical MS, parse the BYTES back with the
    independent reader, re-emit one row per (row, channel) with every
    value exactly as stored (DATA/WEIGHT_SPECTRUM are f32 in the file;
    TIME/UVW are f64). Pairs with :func:`ms_file_oracle_select`."""
    write_ms_casa(spark, baked, path, avg_time, avg_freq,
                  gps_start, int_time_s)
    return spark.createDataFrame(
        main_cells_frame(path).reset_index(drop=True))


def cells_frame_from_columns(c: dict, g: int,
                             time_block_offset: int = 0):
    """The ONE row convention for every MS MAIN read-back surface —
    decoded column arrays -> one pandas row per (row, channel),
    reindex-filled absent cells dropped (a real baked cell carries
    weight = +/-|weight_factor| != 0). Shared by the driver byte gates
    (:func:`main_cells_frame`) and the distributed DataSource
    (sources/casams_source.py)."""
    import pandas as pd

    n_chan = c["DATA"].shape[1]
    rec = {
        "time_mjd_s": np.repeat(c["TIME"], n_chan),
        "antenna1": np.repeat(c["ANTENNA1"], n_chan),
        "antenna2": np.repeat(c["ANTENNA2"], n_chan),
        "time_block": np.repeat(
            c["SCAN_NUMBER"] - 1 + time_block_offset, n_chan),
        "chan": np.tile(np.arange(n_chan, dtype=np.int32), g),
        "uvw_u": np.repeat(c["UVW"][:, 0], n_chan),
        "uvw_v": np.repeat(c["UVW"][:, 1], n_chan),
        "uvw_w": np.repeat(c["UVW"][:, 2], n_chan),
        "weight": c["WEIGHT_SPECTRUM"][:, :, 0].reshape(-1)
        .astype(np.float64),
        "flag": c["FLAG"][:, :, 0].reshape(-1),
    }
    for p, pol in enumerate(MS_POLS):
        cell = c["DATA"][:, :, p].reshape(-1)
        rec[f"data_{pol}_re"] = cell.real.astype(np.float64)
        rec[f"data_{pol}_im"] = cell.imag.astype(np.float64)
    pdf = pd.DataFrame(rec)
    return pdf[pdf["weight"] != 0.0]


def main_cells_frame(path: str, time_block_offset: int = 0):
    """Driver-side byte-gate read-back (o2c single tree, mo5 per-obs
    fan-out, which passes its obs's global-block offset since scans
    restart at 1 per obs): full independent parse, then the shared row
    convention."""
    t = read_ms_casa(path)["MAIN"]
    return cells_frame_from_columns(t["columns"], t["nrow"],
                                    time_block_offset)


def ms_file_oracle_select(baked: str, avg_time: int, avg_freq: int,
                          gps_start: float, int_time_s: float) -> str:
    """DuckDB twin of :func:`ms_file_rows`: the o2 MAIN relation with
    the file's f32 round trip applied to DATA/WEIGHT (stored Complex /
    float) — TIME/UVW stay f64 (stored double)."""
    inner = ms_main.ms_rows_oracle_select(baked, avg_time, avg_freq,
                                          gps_start, int_time_s)
    data = ", ".join(f"{f32(f'data_{c}')} AS data_{c}" for c in VIS_COLS)
    return (
        f"SELECT time_mjd_s, CAST(antenna1 AS INT) AS antenna1,"
        f" CAST(antenna2 AS INT) AS antenna2,"
        f" CAST(time_block AS INT) AS time_block,"
        f" CAST(chan AS INT) AS chan, uvw_u, uvw_v, uvw_w,"
        f" {data}, {f32('weight')} AS weight, flag"
        f" FROM ({inner}) WHERE {f32('weight')} <> 0E0")
