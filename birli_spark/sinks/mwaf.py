"""O3/S5 — the real bit-packed ``.mwaf`` FITS flag format (reference
``FlagFileSet``, src/io/mwaf.rs): one FITS file per coarse channel from a
``%``-template (2 digits legacy / 3 MWAX, src/io/mwaf.rs:106-138), a
primary header of observation metadata (src/io/mwaf.rs:263-349), a FLAGS
bintable with one row per (timestep, baseline) and one **bit** per fine
channel (src/io/mwaf.rs:424-495), and CH_OCC + BL_OCC occupancy
bintables on finalise (src/io/mwaf.rs:528-628; both written here,
read back via :func:`read_occupancy`).

This complements the parquet flag sink (sinks/flagsink.py — the
cluster-native form): the mwaf writer is the interchange format so
downstream reference-ecosystem tools can consume our flags. One writer,
:func:`write_mwaf_set_distributed`: each coarse channel's file is packed
and written by its own executor task (:func:`write_mwaf_set` is the
same write, returning the paths).

Bit order: FITS ``X`` columns are MSB-first within each byte —
``np.packbits(bitorder='big')``.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from birli_spark.sources import fitscore as fc

VERSION = "2.0"


def expand_template(template: str, cc: int, digits: int = 2) -> str:
    """``Flagfile%%.mwaf`` → ``Flagfile01.mwaf`` (legacy: 2 digits, MWAX:
    3 — reference src/io/mwaf.rs:106-138)."""
    marker = "%" * digits
    if marker not in template:
        raise ValueError(f"template {template!r} lacks {marker!r}")
    return template.replace(marker, f"{cc:0{digits}d}")


def _bintable_hdu(extname: str, coldefs: list[tuple[str, str]],
                  rows: bytes, n_rows: int, row_bytes: int,
                  extra_cards: list[bytes] | None = None) -> bytes:
    cards = [
        fc.card("XTENSION", "BINTABLE"), fc.card("BITPIX", 8),
        fc.card("NAXIS", 2), fc.card("NAXIS1", row_bytes),
        fc.card("NAXIS2", n_rows), fc.card("PCOUNT", 0), fc.card("GCOUNT", 1),
        fc.card("TFIELDS", len(coldefs)),
    ]
    for i, (name, tform) in enumerate(coldefs, start=1):
        cards.append(fc.card(f"TTYPE{i}", name))
        cards.append(fc.card(f"TFORM{i}", tform))
    cards.append(fc.card("EXTNAME", extname))
    cards.extend(extra_cards or [])
    cards.append(fc.end_card())
    return fc.pad_block(b"".join(cards)) + fc.pad_block(rows, b"\x00")


def _dense_flags(pdf: pd.DataFrame, n_chans: int, nscans: int,
                 nbl: int) -> np.ndarray:
    """Dense boolean matrix over the full (t, bl) grid, t-major (the
    reference's row order, src/io/mwaf.rs:451-495); absent cells are
    unflagged. t and bl must be 0-based dense indices — like the
    reference's timestep/baseline indices — so read-back can reconstruct
    (t, bl) from the row number alone."""
    mat = np.zeros((nscans * nbl, n_chans), dtype=bool)
    t = pdf["t"].to_numpy()
    bl = pdf["bl"].to_numpy()
    fcs = pdf["fc"].to_numpy()
    if len(pdf):
        if t.max() >= nscans or bl.max() >= nbl or fcs.max() >= n_chans:
            raise ValueError(
                f"flag cell out of grid: max(t)={t.max()} (nscans={nscans}),"
                f" max(bl)={bl.max()} (nbl={nbl}),"
                f" max(fc)={fcs.max()} (n_chans={n_chans})")
    # unbuffered OR-scatter: fancy-indexed `|=` applies only the LAST
    # duplicate (numpy buffered scatter), silently dropping set flags
    # on duplicate (t, bl, fc) cells — logical_or.at accumulates
    np.logical_or.at(mat, (t * nbl + bl, fcs),
                     pdf["flag"].to_numpy(dtype=bool))
    return mat


def write_mwaf_set(flags: DataFrame, out_dir: str,
                   template: str = "Flagfile%%.mwaf", digits: int = 2,
                   obsid: int = 0, gps_start: float = 0.0,
                   software: str = "birli_spark",
                   n_chans: int | None = None, nscans: int | None = None,
                   nbl: int | None = None) -> list[str]:
    """Write one .mwaf FITS per coarse channel through
    :func:`write_mwaf_set_distributed`; → the file paths in coarse
    channel order."""
    manifest = write_mwaf_set_distributed(
        flags, out_dir, template, digits, obsid, gps_start, software,
        n_chans, nscans, nbl).collect()
    return [r.path for r in sorted(manifest, key=lambda r: r.cc)]


def _mwaf_file_bytes(pdf: pd.DataFrame, cc: int, n_chans: int, nscans: int,
                     nbl: int, obsid: int, gps_start: float,
                     software: str) -> bytes:
    """The complete FITS byte image of one coarse channel's flag file."""
    mat = _dense_flags(pdf, n_chans, nscans, nbl)
    packed = np.packbits(mat, axis=1, bitorder="big")
    primary = fc.pad_block(b"".join([
        fc.card("SIMPLE", True), fc.card("BITPIX", 8),
        fc.card("NAXIS", 0),
        fc.card("VERSION", VERSION), fc.card("OBSID", obsid),
        fc.card("GPSSTART", gps_start), fc.card("NCHANS", n_chans),
        fc.card("NSCANS", nscans), fc.card("NBL", nbl),
        fc.card("CC_IDX", cc), fc.card("SOFTWARE", software),
        fc.end_card()]))
    flags_hdu = _bintable_hdu(
        "FLAGS", [("FLAGS", f"{n_chans}X")], packed.tobytes(),
        n_rows=mat.shape[0], row_bytes=packed.shape[1])
    occ = mat.sum(axis=0)
    # NOTE: np.int32(x).astype('>i4') silently keeps native byte order
    # for 0-d scalars — 1-element arrays honor the big-endian dtype
    ch_rows = b"".join(
        np.array([i], dtype=">i4").tobytes()
        + np.array([occ[i]], dtype=">i8").tobytes()
        + np.array([occ[i] / mat.shape[0]], dtype=">f8").tobytes()
        for i in range(n_chans))
    ch_hdu = _bintable_hdu(
        "CH_OCC", [("Index", "1J"), ("Count", "1K"), ("Occupancy", "1D")],
        ch_rows, n_rows=n_chans, row_bytes=20)
    # per-baseline occupancy (reference BL_OCC, src/io/mwaf.rs:560-628):
    # count of set flags per baseline across all (scan, chan) cells
    bl_occ = mat.reshape(nscans, nbl, n_chans).sum(axis=(0, 2))
    bl_cells = nscans * n_chans
    bl_rows = b"".join(
        np.array([b], dtype=">i4").tobytes()
        + np.array([bl_occ[b]], dtype=">i8").tobytes()
        + np.array([bl_occ[b] / bl_cells], dtype=">f8").tobytes()
        for b in range(nbl))
    bl_hdu = _bintable_hdu(
        "BL_OCC", [("Index", "1J"), ("Count", "1K"), ("Occupancy", "1D")],
        bl_rows, n_rows=nbl, row_bytes=20)
    return primary + flags_hdu + ch_hdu + bl_hdu


def read_occupancy(path: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    """→ (CH_OCC, BL_OCC) occupancy tables of one .mwaf file."""
    with open(path, "rb") as f:
        raw = f.read()
    _, off = fc.parse_header(raw)
    out = {}
    occ_dtype = np.dtype([("Index", ">i4"), ("Count", ">i8"),
                          ("Occupancy", ">f8")])
    while off < len(raw):
        hdr, off = fc.parse_header(raw, off)
        size = fc.data_size_bytes(hdr)
        data = raw[off:off + size]
        off = fc.skip_data(off, hdr)
        name = hdr.get("EXTNAME")
        if name in ("CH_OCC", "BL_OCC"):
            out[name] = pd.DataFrame(np.frombuffer(
                data, dtype=occ_dtype, count=int(hdr["NAXIS2"])))
    return out.get("CH_OCC"), out.get("BL_OCC")


def write_mwaf_set_distributed(flags: DataFrame, out_dir: str,
                               template: str = "Flagfile%%.mwaf",
                               digits: int = 2, obsid: int = 0,
                               gps_start: float = 0.0,
                               software: str = "birli_spark",
                               n_chans: int | None = None,
                               nscans: int | None = None,
                               nbl: int | None = None) -> DataFrame:
    """The mwaf writer: one **executor-side** task per coarse channel
    packs and writes its own FITS file (the reference itself writes
    gpubox files in parallel, src/io/mwaf.rs:399-407), so write
    bandwidth scales with channels × executors against a shared
    filesystem. ``flags`` needs columns (t, bl, cc, fc, flag); duplicate
    cells OR together. The write runs INSIDE this call; returns the
    materialized manifest DataFrame (cc, path, n_rows, file_md5).

    Grid dimensions come from observation metadata when given (the
    reference's FlagFileSet carries them in its header context,
    src/io/mwaf.rs:263-349) so every per-coarse-channel file shares one
    (nscans, nbl, n_chans) grid even when a channel's trailing timesteps
    or baselines have no rows; the plan is then one job. When omitted
    they are inferred from the GLOBAL index maxima (+1) across all
    coarse channels — never per-channel, and never from distinct
    counts, so sparse fine-channel indices can't mispack — by a probe
    over the same persisted cell table the write reads, released after
    the write: the upstream (often a whole archive decode) runs once."""
    import hashlib

    from pyspark.storagelevel import StorageLevel

    os.makedirs(out_dir, exist_ok=True)
    cell = (flags.groupBy("t", "bl", "cc", "fc")
            .agg(F.max("flag").alias("flag")))
    probe = n_chans is None or nscans is None or nbl is None
    if probe:
        cell = cell.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        if probe:
            mx = cell.agg(F.max("fc"), F.max("t"), F.max("bl")).collect()[0]
            n_chans = n_chans if n_chans is not None else int(mx[0]) + 1
            nscans = nscans if nscans is not None else int(mx[1]) + 1
            nbl = nbl if nbl is not None else int(mx[2]) + 1
        nch, nsc, nb = n_chans, nscans, nbl

        def write_one(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            (cc,) = key
            blob = _mwaf_file_bytes(pdf, int(cc), nch, nsc, nb,
                                    obsid, gps_start, software)
            path = os.path.join(out_dir, expand_template(template, int(cc),
                                                         digits))
            with open(path, "wb") as f:
                f.write(blob)
            return pd.DataFrame([{
                "cc": int(cc), "path": path, "n_rows": nsc * nb,
                "file_md5": hashlib.md5(blob).hexdigest(),
            }])

        schema = "cc int, path string, n_rows long, file_md5 string"
        manifest = (cell.groupBy("cc").applyInPandas(write_one, schema)
                    .collect())
    finally:
        if probe:
            cell.unpersist()
    return flags.sparkSession.createDataFrame(manifest, schema)


def read_mwaf(path: str) -> tuple[dict, np.ndarray, pd.DataFrame]:
    """→ (primary header, dense flag matrix [(t,bl) row][fine_chan],
    CH_OCC table)."""
    with open(path, "rb") as f:
        raw = f.read()
    primary, off = fc.parse_header(raw)
    flags_mat = None
    ch_occ = None
    while off < len(raw):
        hdr, off = fc.parse_header(raw, off)
        size = fc.data_size_bytes(hdr)
        data = raw[off:off + size]
        off = fc.skip_data(off, hdr)
        if hdr.get("EXTNAME") == "FLAGS":
            n_rows = int(hdr["NAXIS2"])
            row_bytes = int(hdr["NAXIS1"])
            n_chans = int(primary["NCHANS"])
            packed = np.frombuffer(data, dtype=np.uint8).reshape(
                n_rows, row_bytes)
            flags_mat = np.unpackbits(
                packed, axis=1, bitorder="big")[:, :n_chans].astype(bool)
        elif hdr.get("EXTNAME") == "CH_OCC":
            n = int(hdr["NAXIS2"])
            rec = np.frombuffer(
                data, dtype=np.dtype([("Index", ">i4"), ("Count", ">i8"),
                                      ("Occupancy", ">f8")]), count=n)
            ch_occ = pd.DataFrame(rec)
    if flags_mat is None:
        raise ValueError(f"{path}: no FLAGS HDU")
    return primary, flags_mat, ch_occ


_MWAF_SCAN_SCHEMA = "t int, bl int, cc int, fc int, flag boolean"


def _mwaf_rows(path: str) -> "pd.DataFrame":
    """One .mwaf file → long-format flag rows (numpy-vectorized)."""
    primary, mat, _ = read_mwaf(path)
    cc = int(primary["CC_IDX"])
    n_chans = int(primary["NCHANS"])
    nbl = int(primary["NBL"])
    n_rows = mat.shape[0]
    t_of_row = np.arange(n_rows) // nbl
    bl_of_row = np.arange(n_rows) % nbl
    return pd.DataFrame({
        "t": np.repeat(t_of_row, n_chans).astype(np.int32),
        "bl": np.repeat(bl_of_row, n_chans).astype(np.int32),
        "cc": np.int32(cc),
        "fc": np.tile(np.arange(n_chans), n_rows).astype(np.int32),
        "flag": mat.reshape(-1),
    })


try:
    from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                        InputPartition)

    class MwafDataSource(DataSource):
        """``spark.read.format("mwaf").load(dir_or_glob)`` — distributed
        .mwaf read-back: one input partition per flag file (= coarse
        channel, matching the reference's per-gpubox-file parallelism,
        src/io/mwaf.rs:399-407); each task bit-unpacks its file and
        ships Arrow batches. The driver-side :func:`read_mwaf_set`
        remains for small test sets."""

        @classmethod
        def name(cls) -> str:
            return "mwaf"

        def schema(self) -> str:
            return _MWAF_SCAN_SCHEMA

        def reader(self, schema) -> "MwafReader":
            return MwafReader(self.options)

    class MwafReader(DataSourceReader):
        def __init__(self, options):
            path = options.get("path")
            if not path:
                raise ValueError("mwaf source requires a path")
            self._glob = (os.path.join(path, "*.mwaf")
                          if os.path.isdir(path) else path)

        def partitions(self):
            import glob as globmod
            files = sorted(globmod.glob(self._glob))
            if not files:
                raise FileNotFoundError(f"no .mwaf files match {self._glob}")
            return [InputPartition(f) for f in files]

        def read(self, partition):
            import pyarrow as pa
            pdf = _mwaf_rows(partition.value)
            schema = pa.schema([("t", pa.int32()), ("bl", pa.int32()),
                                ("cc", pa.int32()), ("fc", pa.int32()),
                                ("flag", pa.bool_())])
            yield from pa.Table.from_pandas(
                pdf, preserve_index=False).cast(schema).to_batches()

except ImportError:  # pragma: no cover — pyspark < 4 fallback
    MwafDataSource = None


def register_mwaf_source(spark: SparkSession) -> None:
    """Idempotently register the ``mwaf`` format on this session."""
    spark.dataSource.register(MwafDataSource)


def read_mwaf_set(spark: SparkSession, out_dir: str,
                  template: str = "Flagfile%%.mwaf",
                  digits: int = 2) -> DataFrame:
    """Read a whole .mwaf set back into the long-format flag DataFrame
    (row order (t, bl) per file, reference src/io/mwaf.rs:798-893)."""
    frames = [_mwaf_rows(os.path.join(out_dir, name))
              for name in sorted(os.listdir(out_dir))
              if name.endswith(".mwaf")]
    return spark.createDataFrame(pd.concat(frames, ignore_index=True))


def read_cotter_mwaf(path: str) -> tuple[dict, np.ndarray]:
    """Read a COTTER-written .mwaf file (the pre-Birli flag format the
    reference's ``FlagFileSet::open_cotter`` consumes,
    src/io/mwaf.rs:719-795): primary header keyed VERSION/GPSTIME/
    NCHANS/NANTENNA/NSCANS/NPOLS/GPUBOXNO/COTVER, one FLAGS bintable of
    ``NCHANS``-bit rows ordered (timestep, baseline) — baselines =
    NANTENNA·(NANTENNA+1)/2 including autos.

    → (header dict, dense bool matrix [(t·nbl + bl) row][fine_chan]).
    Validated against the reference's own Cotter flag files
    (tests/data/1196175296_mwa_ord/FlagfileCotter*.mwaf)."""
    with open(path, "rb") as f:
        raw = f.read()
    primary, off = fc.parse_header(raw)
    for k in ("GPSTIME", "NCHANS", "NANTENNA", "NSCANS", "GPUBOXNO"):
        if k not in primary:
            raise ValueError(f"{path}: not a cotter mwaf (missing {k})")
    n_chans = int(primary["NCHANS"])
    n_ants = int(primary["NANTENNA"])
    nbl = n_ants * (n_ants + 1) // 2
    nscans = int(primary["NSCANS"])
    hdr, off = fc.parse_header(raw, off)
    # identify by the FLAGS column: Birli 0.1.3 wrote the literal string
    # "EXTNAME" as the extension name (its own fixture files show it),
    # so EXTNAME alone can't be trusted across writer vintages
    if (int(hdr["TFIELDS"]) != 1
            or hdr.get("TTYPE1", "FLAGS") != "FLAGS"
            or hdr.get("EXTNAME", "") not in ("", "FLAGS", "EXTNAME")):
        raise ValueError(f"{path}: unexpected first extension")
    n_rows = int(hdr["NAXIS2"])
    row_bytes = int(hdr["NAXIS1"])
    if n_rows != nscans * nbl:
        raise ValueError(
            f"{path}: row count {n_rows} != NSCANS*NBL = {nscans * nbl}")
    data = raw[off:off + n_rows * row_bytes]
    packed = np.frombuffer(data, dtype=np.uint8).reshape(n_rows, row_bytes)
    mat = np.unpackbits(packed, axis=1, bitorder="big")[:, :n_chans]
    return primary, mat.astype(bool)
