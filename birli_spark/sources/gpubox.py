"""S1 — gpubox FITS scan as a *distributed* Spark source (SURVEY.md §2.1;
reference ``read_mwalib``, src/io/mod.rs:150-319).

The reference reads one FITS image HDU per (timestep, coarse channel) —
one file per coarse channel — with buffer layout
``[baseline][chan][pol][re, im]``, 8 f32 per channel
(src/io/mod.rs:195-199), parallel over coarse channels
(src/io/mod.rs:248-254). Baselines are upper-triangular including autos
in mwalib order.

Spark shape: ``spark.read.format("binaryFile")`` distributes whole files
to executors; an Arrow-batched ``mapInPandas`` parses each file's HDUs
into the long-format fact rows. File-level parallelism matches the
reference's per-coarse-channel rayon loop — and scales out: 24 files × N
obs spread over the cluster, no driver bottleneck. A production MWAX
layout (one HDU per timestep, ~100 MB–1 GB files) maps 1:1.

The synthetic fixture writer mirrors the reference's coordinate-encoded
test data design (reference tests/data/README.md: every cell value is a
closed-form function of its coordinates, here ``t*4096 + bl*256 +
chan*16 + pol_idx*2 + (0|1)`` — exact in f32), so a binary scan can be
oracle-checked against pure SQL that generates the same coordinates.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from birli_spark.sources import fitscore as fc

FLOATS_PER_CHAN = 8  # 4 pols x (re, im) — src/io/mod.rs:195-199


def baseline_pairs(num_ants: int) -> list[tuple[int, int]]:
    """mwalib baseline order: upper triangular including autos."""
    return [(a1, a2) for a1 in range(num_ants) for a2 in range(a1, num_ants)]


def encoded_value(t: int, bl: int, chan: int, float_idx: int) -> float:
    """Closed-form cell value (f32-exact: < 2^24)."""
    return float(t * 4096 + bl * 256 + chan * 16 + float_idx)


def write_gpubox(path: str, cc_idx: int, num_ants: int, num_fine: int,
                 num_timesteps: int, obsid: int = 0,
                 gps_start: float = 0.0, int_time_s: float = 1.0,
                 skip_timesteps: tuple[int, ...] = (),
                 t_start: int = 0,
                 burst: tuple[int, int, float] | None = None) -> None:
    """Write a synthetic gpubox file: primary metadata HDU + one IMAGE HDU
    per timestep of shape (n_baselines, num_fine*8) f32, coordinate-
    encoded values. ``skip_timesteps`` omits HDUs to exercise the
    missing-slab path (S2). ``t_start`` offsets the TSIDX cards — a
    later time *segment* of the same observation (the correlator's
    batch-01, batch-02, … files). ``burst`` = (t_global, chan_global,
    amp) adds a broadband amplitude spike at one (t, chan) cell on
    every baseline — an injected RFI event for the live-monitoring
    example."""
    n_bl = len(baseline_pairs(num_ants))
    blobs = [fc.pad_block(b"".join([
        fc.card("SIMPLE", True), fc.card("BITPIX", 8), fc.card("NAXIS", 0),
        fc.card("OBSID", obsid), fc.card("CC_IDX", cc_idx),
        fc.card("NANTS", num_ants), fc.card("NCHANS", num_fine),
        fc.card("NSCANS", num_timesteps), fc.card("INTTIME", int_time_s),
        fc.card("GPSSTART", gps_start), fc.end_card()]))]
    for t in range(num_timesteps):
        if t in skip_timesteps:
            continue
        tg = t_start + t
        hdr = fc.pad_block(b"".join([
            fc.card("XTENSION", "IMAGE"), fc.card("BITPIX", -32),
            fc.card("NAXIS", 2), fc.card("NAXIS1", num_fine * FLOATS_PER_CHAN),
            fc.card("NAXIS2", n_bl), fc.card("PCOUNT", 0),
            fc.card("GCOUNT", 1),
            fc.card("MWATIME", int(gps_start + tg * int_time_s)),
            fc.card("TSIDX", tg), fc.end_card()]))
        data = np.empty((n_bl, num_fine * FLOATS_PER_CHAN), dtype=">f4")
        for bl in range(n_bl):
            for chan in range(num_fine):
                for k in range(FLOATS_PER_CHAN):
                    # encode the GLOBAL channel so files differ per cc
                    v = encoded_value(
                        tg, bl, cc_idx * num_fine + chan, k)
                    if (burst is not None and tg == burst[0]
                            and cc_idx * num_fine + chan == burst[1]):
                        v += burst[2]
                    data[bl, chan * FLOATS_PER_CHAN + k] = v
        blobs.append(hdr)
        blobs.append(fc.pad_block(data.tobytes(), b"\x00"))
    with open(path, "wb") as f:
        f.write(b"".join(blobs))


_SCAN_SCHEMA = ("t int, ant1 int, ant2 int, bl int, cc int, fc int, "
                "chan int, xx_re double, xx_im double, xy_re double, "
                "xy_im double, yx_re double, yx_im double, yy_re double, "
                "yy_im double")


def parse_gpubox_bytes(content: bytes) -> pd.DataFrame:
    """Parse one gpubox file into long-format rows (numpy-vectorized —
    no per-cell Python)."""
    header, off = fc.parse_header(content)
    cc = int(header["CC_IDX"])
    num_fine = int(header["NCHANS"])
    num_ants = int(header["NANTS"])
    pairs = np.asarray(baseline_pairs(num_ants))
    n_bl = len(pairs)
    frames = []
    while off < len(content):
        hdr, off = fc.parse_header(content, off)
        n = fc.data_size_bytes(hdr)
        data = np.frombuffer(content, dtype=">f4", count=n // 4,
                             offset=off).astype(np.float64)
        off = fc.skip_data(off, hdr)
        t = int(hdr["TSIDX"])
        cube = data.reshape(n_bl, num_fine, FLOATS_PER_CHAN)
        bl_idx = np.repeat(np.arange(n_bl), num_fine)
        fcs = np.tile(np.arange(num_fine), n_bl)
        flat = cube.reshape(n_bl * num_fine, FLOATS_PER_CHAN)
        frames.append(pd.DataFrame({
            "t": t, "ant1": pairs[bl_idx, 0], "ant2": pairs[bl_idx, 1],
            "bl": bl_idx, "cc": cc, "fc": fcs,
            "chan": cc * num_fine + fcs,
            "xx_re": flat[:, 0], "xx_im": flat[:, 1],
            "xy_re": flat[:, 2], "xy_im": flat[:, 3],
            "yx_re": flat[:, 4], "yx_im": flat[:, 5],
            "yy_re": flat[:, 6], "yy_im": flat[:, 7],
        }))
    if not frames:
        return pd.DataFrame(
            columns=["t", "ant1", "ant2", "bl", "cc", "fc", "chan",
                     "xx_re", "xx_im", "xy_re", "xy_im",
                     "yx_re", "yx_im", "yy_re", "yy_im"])
    return pd.concat(frames, ignore_index=True)


def read_gpubox(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed gpubox scan: one task per file (= coarse channel),
    like the reference's per-coarse-channel parallel read. Ships file
    PATHS to the workers (see :func:`scan_paths_df`) — each Python
    worker mmap-reads its own file, so archive bytes never transit the
    JVM (the round-8 fix the MWAX/legacy readers already carry: the
    ``binaryFile`` route serialized every byte through executor threads
    and an Arrow transfer before the parse even started)."""
    files = scan_paths_df(spark, path_glob)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path in pdf["path"]:
                out = parse_gpubox_bytes(_mmap_bytes(str(path)))
                if len(out):
                    yield out

    return files.mapInPandas(parse, schema=_SCAN_SCHEMA)


# --------------------------------------------- Python DataSource (V2) ---

def _arrow_scan_schema():
    import pyarrow as pa
    ints = ["t", "ant1", "ant2", "bl", "cc", "fc", "chan"]
    floats = ["xx_re", "xx_im", "xy_re", "xy_im",
              "yx_re", "yx_im", "yy_re", "yy_im"]
    return pa.schema([(c, pa.int32()) for c in ints]
                     + [(c, pa.float64()) for c in floats])


try:
    from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                        InputPartition)

    class GpuboxDataSource(DataSource):
        """``spark.read.format("gpubox").load(glob)`` — the gpubox FITS
        scan as a first-class Spark (Python) data source.

        Planning: the driver globs the path into one
        :class:`InputPartition` per file, so parallelism = file count —
        the same per-coarse-channel task split as the reference's read
        (src/io/mod.rs:248-254) and as :func:`read_gpubox`. Each task
        parses its file numpy-vectorized and ships Arrow record batches
        to the JVM (no per-row Python). Register once per session:
        ``spark.dataSource.register(GpuboxDataSource)``.
        """

        @classmethod
        def name(cls) -> str:
            return "gpubox"

        def schema(self) -> str:
            return _SCAN_SCHEMA

        def reader(self, schema) -> "GpuboxReader":
            return GpuboxReader(self.options)

    class GpuboxReader(DataSourceReader):
        def __init__(self, options):
            self._path = options.get("path")
            if not self._path:
                raise ValueError("gpubox source requires a path")

        def partitions(self):
            import glob as globmod
            files = sorted(globmod.glob(self._path))
            if not files:
                raise FileNotFoundError(
                    f"no gpubox files match {self._path}")
            return [InputPartition(f) for f in files]

        def read(self, partition):
            import pyarrow as pa
            with open(partition.value, "rb") as f:
                content = f.read()
            pdf = parse_gpubox_bytes(content)
            table = pa.Table.from_pandas(
                pdf, preserve_index=False).cast(_arrow_scan_schema())
            yield from table.to_batches()

except ImportError:  # pragma: no cover — pyspark < 4 fallback
    GpuboxDataSource = None


def register_gpubox_source(spark: SparkSession) -> None:
    """Idempotently register the ``gpubox`` format on this session."""
    spark.dataSource.register(GpuboxDataSource)


def expected_grid_sql(num_cc: int, num_ants: int, num_fine: int,
                      num_timesteps: int) -> str:
    """DuckDB oracle: regenerate the coordinate-encoded cells in SQL —
    the closed-form twin of the binary files."""
    n_bl = len(baseline_pairs(num_ants))
    pol_cols = []
    names = ["xx_re", "xx_im", "xy_re", "xy_im",
             "yx_re", "yx_im", "yy_re", "yy_im"]
    for k, name in enumerate(names):
        pol_cols.append(
            f"CAST(CAST(t * 4096 + bl * 256 + chan * 16 + {k} AS FLOAT)"
            f" AS DOUBLE) AS {name}")
    return f"""
WITH ants AS (SELECT unnest(generate_series(0, {num_ants - 1})) AS a),
pairs AS (
  SELECT a1.a AS ant1, a2.a AS ant2,
    ROW_NUMBER() OVER (ORDER BY a1.a, a2.a) - 1 AS bl
  FROM ants a1 JOIN ants a2 ON a2.a >= a1.a),
grid AS (
  SELECT t.t, p.ant1, p.ant2, p.bl, c.cc, f.fc,
    CAST(c.cc * {num_fine} + f.fc AS INT) AS chan
  FROM (SELECT unnest(generate_series(0, {num_timesteps - 1})) AS t) t
  CROSS JOIN pairs p
  CROSS JOIN (SELECT unnest(generate_series(0, {num_cc - 1})) AS cc) c
  CROSS JOIN (SELECT unnest(generate_series(0, {num_fine - 1})) AS fc) f)
SELECT CAST(t AS INT) AS t, CAST(ant1 AS INT) AS ant1,
  CAST(ant2 AS INT) AS ant2, CAST(bl AS INT) AS bl, CAST(cc AS INT) AS cc,
  CAST(fc AS INT) AS fc, chan,
  {', '.join(pol_cols)}
FROM grid"""


# ----------------------------------------- real MWAX gpubox format (S1d) ---

_MWAX_SCHEMA = ("cc_recv int, unix_ms bigint, t int, ant1 int, ant2 int, "
                "bl int, fc int, "
                "xx_re double, xx_im double, xy_re double, xy_im double, "
                "yx_re double, yx_im double, yy_re double, yy_im double, "
                "w_xx double, w_xy double, w_yx double, w_yy double")


def parse_mwax_gpubox_bytes(content: bytes, cc_recv: int) -> pd.DataFrame:
    """Parse one REAL MWAX gpubox file (correlator v2 — the format the
    reference reads via mwalib; validated against the reference's own
    test data ``tests/data/1297526432_mwax``): a primary metadata HDU
    (CORR_VER/TIME/MILLITIM/NFINECHS/NINPUTS), then per scan an
    alternating pair of image HDUs — visibilities with row layout
    ``[baseline][finechan][pol][r, i]`` and per-baseline-per-pol
    weights (reference src/io/mod.rs:284-294 consumes exactly
    8 floats/chan; NAXIS1 = nfine × 4 pol × 2).

    cfitsio converts integer image HDUs to float on read (the synthetic
    reference files store coordinate-encoded int32); this parser
    replicates that BITPIX-driven conversion. ``t`` is the scan index
    within the file; global timestep ordering across batch files comes
    from ``unix_ms`` (TIME·1000 + MILLITIM per scan HDU)."""
    primary, off = fc.parse_header(content)
    if int(primary.get("CORR_VER", 0)) != 2:
        raise ValueError(
            f"not an MWAX (v2) gpubox file: CORR_VER={primary.get('CORR_VER')}")
    num_fine = int(primary["NFINECHS"])
    num_ants = int(primary["NINPUTS"]) // 2
    pairs = np.asarray(baseline_pairs(num_ants))
    n_bl = len(pairs)
    frames = []
    scan = 0
    vis = None
    while off < len(content):
        hdr, off = fc.parse_header(content, off)
        n = fc.data_size_bytes(hdr)
        bitpix = int(hdr["BITPIX"])
        dtype = {32: ">i4", -32: ">f4", 64: ">i8", -64: ">f8"}[bitpix]
        data = np.frombuffer(content, dtype=dtype,
                             count=n // abs(bitpix // 8),
                             offset=off).astype(np.float64)
        off = fc.skip_data(off, hdr)
        unix_ms = int(hdr["TIME"]) * 1000 + int(hdr.get("MILLITIM", 0))
        if vis is None:
            # visibility HDU: (n_bl, nfine*8)
            vis = (unix_ms, data.reshape(n_bl, num_fine, FLOATS_PER_CHAN))
            continue
        # weights HDU: (n_bl, 4) — closes out the scan
        w = data.reshape(n_bl, 4)
        ums, cube = vis
        vis = None
        bl_idx = np.repeat(np.arange(n_bl), num_fine)
        fcs = np.tile(np.arange(num_fine), n_bl)
        flat = cube.reshape(n_bl * num_fine, FLOATS_PER_CHAN)
        frames.append(pd.DataFrame({
            "cc_recv": np.int32(cc_recv), "unix_ms": np.int64(ums),
            "t": np.int32(scan),
            "ant1": pairs[bl_idx, 0].astype(np.int32),
            "ant2": pairs[bl_idx, 1].astype(np.int32),
            "bl": bl_idx.astype(np.int32), "fc": fcs.astype(np.int32),
            "xx_re": flat[:, 0], "xx_im": flat[:, 1],
            "xy_re": flat[:, 2], "xy_im": flat[:, 3],
            "yx_re": flat[:, 4], "yx_im": flat[:, 5],
            "yy_re": flat[:, 6], "yy_im": flat[:, 7],
            "w_xx": w[bl_idx, 0], "w_xy": w[bl_idx, 1],
            "w_yx": w[bl_idx, 2], "w_yy": w[bl_idx, 3],
        }))
        scan += 1
    if vis is not None:
        # a vis HDU without its weights HDU = truncated / in-progress
        # file; fail loudly rather than silently dropping the scan
        raise ValueError(
            "truncated MWAX gpubox file: trailing visibility HDU "
            f"(unix_ms={vis[0]}) has no weights HDU")
    if not frames:
        return pd.DataFrame(columns=_MWAX_SCHEMA.replace(
            " int", "").replace(" bigint", "").replace(
            " double", "").split(", "))
    return pd.concat(frames, ignore_index=True)


def _recv_channel_of(path: str) -> int:
    """Receiver coarse channel from the gpubox filename
    (``..._chNNN_BBB.fits`` — mwalib derives channel identity from the
    filename the same way)."""
    import re as _re
    m = _re.search(r"_ch(\d+)_", path)
    if not m:
        raise ValueError(f"no _chNNN_ receiver channel in {path!r}")
    return int(m.group(1))


def scan_paths_df(spark: SparkSession, path_glob: str) -> DataFrame:
    """One row per matched archive file, one partition per file — the
    whole-file task split of the ``binaryFile`` source WITHOUT moving
    the bytes through the JVM. Each Python worker mmap-reads its own
    file from shared storage (page-cache backed, zero-copy until
    touched), so the JVM never holds archive bytes at all.

    Motivation (round-8 scale run): at 24 concurrent ~340 MB files the
    binaryFile route collapsed into JVM-side lock contention — executor
    task threads burned >9 CPU cores of pure system-time futex churn
    while every Python worker starved on an empty socket — and JVM RSS
    grew by the whole archive. Paths-only sidesteps both, and is also
    the right 1000-executor shape: the bytes move straight from the
    distributed filesystem into the worker that decodes them.

    Requirement: ``path_glob`` must name a POSIX path visible on every
    worker (local disk in local mode, or a shared/distributed
    filesystem mounted identically cluster-wide). Object-store URIs
    (s3://, hdfs://) are not handled here — use ``spark.read.format(
    "binaryFile")`` for those schemes; driver-side ``glob.glob`` and
    worker-side ``open()`` both assume a mounted filesystem.

    Partition ``i`` holds exactly the ``i``-th sorted path: a ``range``
    with one slice per file, projected through the path array: no
    exchange, no empty task and no task decoding two files."""
    import glob as _g

    paths = sorted(_g.glob(path_glob))
    if not paths:
        raise FileNotFoundError(f"no files match {path_glob!r}")
    n = len(paths)
    return spark.range(0, n, 1, n).select(F.element_at(
        F.array(*[F.lit(p) for p in paths]),
        (F.col("id") + 1).cast("int")).alias("path"))


def _mmap_bytes(path: str) -> bytes:
    """Read an archive file with ONE large sequential read into the
    process heap (name kept from the round-8 mmap spelling).

    Deliberately NOT mmap: a fresh per-file mapping takes a minor
    fault on every 4 KiB page at first touch, and N workers faulting
    concurrently serialize on the host's page-fault path — round-8
    driver ground truth was s1h_scale_x16 going 20→92 s with 8 cores
    BEATING 32 (VERDICT r8 item 1). A buffered read copies from the
    page cache inside one syscall per file into heap pages that the
    malloc tuning (session._tune_malloc: MALLOC_MMAP_MAX_=0, no trim)
    keeps mapped, so each long-lived reused worker faults its
    high-water mark once and recycles the same pages for every
    subsequent file. Also closes the round-8 ADVICE note about the
    never-closed mmap handle: plain bytes, no handle to leak."""
    with open(path, "rb") as f:
        return f.read()


def read_mwax_gpubox(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed scan of REAL MWAX gpubox files: one task per file
    (= per coarse-channel batch), Arrow-batched parse — the same
    per-file task split as the reference's rayon read loop. Workers
    read their own file (see :func:`scan_paths_df`)."""
    files = scan_paths_df(spark, path_glob)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path in pdf["path"]:
                out = parse_mwax_gpubox_bytes(
                    _mmap_bytes(str(path)), _recv_channel_of(str(path)))
                if len(out):
                    yield out

    return files.mapInPandas(parse, schema=_MWAX_SCHEMA)


def mwax_expected_sql(recv_channels: tuple[int, ...] = (117, 118),
                      n_batches: int = 2, scans_per_batch: int = 2,
                      num_ants: int = 2, num_fine: int = 2,
                      obs_unix: int = 1613491214,
                      int_time_ms: int = 500) -> str:
    """Closed-form DuckDB twin of the reference's coordinate-encoded MWAX
    test files (reference tests/data/README.md: each float is
    ``0x41 | global_hdu_index | offset`` with the global index ordered
    (coarse, batch, scan) and offset ``bl*16 + fc*8 + pol*2 + reim``;
    batch files start 1 s apart, scans every INTTIME=500 ms)."""
    n_bl = num_ants * (num_ants + 1) // 2
    names = ["xx_re", "xx_im", "xy_re", "xy_im",
             "yx_re", "yx_im", "yy_re", "yy_im"]
    hdu = (f"(ch.ci * {n_batches * scans_per_batch} "
           f"+ b.b * {scans_per_batch} + s.s)")
    cols = ", ".join(
        f"CAST({0x41 << 16} + {hdu} * 256 + bl.bl * 16 + f.fc * 8 + {k}"
        f" AS DOUBLE) AS {names[k]}" for k in range(8))
    chans = ", ".join(f"({i}, {c})" for i, c in enumerate(recv_channels))
    return f"""
WITH ch(ci, cc_recv) AS (VALUES {chans}),
b(b) AS (SELECT unnest(generate_series(0, {n_batches - 1}))),
s(s) AS (SELECT unnest(generate_series(0, {scans_per_batch - 1}))),
f(fc) AS (SELECT unnest(generate_series(0, {num_fine - 1}))),
ants AS (SELECT unnest(generate_series(0, {num_ants - 1})) AS a),
bl AS (
  SELECT a1.a AS ant1, a2.a AS ant2,
    ROW_NUMBER() OVER (ORDER BY a1.a, a2.a) - 1 AS bl
  FROM ants a1 JOIN ants a2 ON a2.a >= a1.a)
SELECT CAST(ch.cc_recv AS INT) AS cc_recv,
  CAST(({obs_unix} + b.b) * 1000 + s.s * {int_time_ms} AS BIGINT)
    AS unix_ms,
  CAST(s.s AS INT) AS t,
  CAST(bl.ant1 AS INT) AS ant1, CAST(bl.ant2 AS INT) AS ant2,
  CAST(bl.bl AS INT) AS bl, CAST(f.fc AS INT) AS fc,
  {cols},
  CAST(1.0 AS DOUBLE) AS w_xx, CAST(1.0 AS DOUBLE) AS w_xy,
  CAST(1.0 AS DOUBLE) AS w_yx, CAST(1.0 AS DOUBLE) AS w_yy
FROM ch CROSS JOIN b CROSS JOIN s CROSS JOIN bl CROSS JOIN f"""


# ----------------------------------------- streaming gpubox source (S1f) ---

try:
    from pyspark.sql.datasource import DataSourceStreamReader

    class GpuboxStreamReader(DataSourceStreamReader):
        """Micro-batch stream over a growing gpubox directory — the
        production MWA shape: the correlator appends one FITS file per
        (coarse channel, batch) as the observation progresses, and the
        pipeline ingests them incrementally instead of waiting for the
        full obs (reference processes post-hoc; SURVEY.md §2.8 lists
        streaming as the Spark-native extension).

        The offset is the SET of processed file names (JSON list), not a
        count or a name high-water mark: gpubox names interleave coarse
        channel and batch (``..._chNNN_BBB.fits``), so a newly-arrived
        file routinely sorts *between* already-processed ones — a count
        offset would both re-read the displaced tail and permanently
        skip the newcomer. Set-difference semantics ingest exactly the
        new files regardless of name order; each file is one partition
        (same per-file task parallelism as the batch scans)."""

        def __init__(self, options):
            self._path = options.get("path")
            if not self._path:
                raise ValueError("gpubox stream requires a path")
            # a file the correlator is STILL WRITING must not enter an
            # offset: set-difference offsets mark it processed forever,
            # so a partial parse would silently drop its later scans.
            # min_age_s delays ingest until the mtime is at least this
            # old (0 keeps test ergonomics; live ingest should set it
            # to ~2x the scan cadence, or rely on atomic rename-in).
            self._min_age_s = float(options.get("min_age_s", "0"))

        def _files(self):
            import glob as globmod
            import os as osmod
            import time as timemod
            names = sorted(globmod.glob(self._path))
            if not self._min_age_s:
                return names
            cutoff = timemod.time() - self._min_age_s
            out = []
            for f in names:
                try:
                    if osmod.path.getmtime(f) <= cutoff:
                        out.append(f)
                except OSError:
                    pass  # vanished between glob and stat
            return out

        def initialOffset(self):
            return {"files": []}

        def latestOffset(self):
            return {"files": self._files()}

        def partitions(self, start, end):
            seen = set(start.get("files", []))
            return [InputPartition(f) for f in end.get("files", [])
                    if f not in seen]

        # shares the batch reader's parse body (GpuboxReader.read):
        # one divergence point for the open/parse/cast/batch chain
        read = GpuboxReader.read

        def commit(self, end):
            pass

    # extend the batch DataSource with the stream reader
    def _gpubox_stream_reader(self, schema):
        return GpuboxStreamReader(self.options)

    if GpuboxDataSource is not None:
        GpuboxDataSource.streamReader = _gpubox_stream_reader

except ImportError:  # pragma: no cover — pyspark < 4
    GpuboxStreamReader = None


def write_gpubox_fast(path: str, cc_idx: int, num_ants: int, num_fine: int,
                      num_timesteps: int, obsid: int = 0,
                      gps_start: float = 0.0,
                      int_time_s: float = 1.0) -> None:
    """Vectorized synthetic gpubox writer for bench-scale files (same
    coordinate encoding as :func:`write_gpubox`, numpy-broadcast fill —
    no per-cell Python)."""
    n_bl = len(baseline_pairs(num_ants))
    blobs = [fc.pad_block(b"".join([
        fc.card("SIMPLE", True), fc.card("BITPIX", 8), fc.card("NAXIS", 0),
        fc.card("OBSID", obsid), fc.card("CC_IDX", cc_idx),
        fc.card("NANTS", num_ants), fc.card("NCHANS", num_fine),
        fc.card("NSCANS", num_timesteps), fc.card("INTTIME", int_time_s),
        fc.card("GPSSTART", gps_start), fc.end_card()]))]
    bl = np.arange(n_bl)[:, None, None]
    ch = cc_idx * num_fine + np.arange(num_fine)[None, :, None]
    k = np.arange(FLOATS_PER_CHAN)[None, None, :]
    base = (bl * 256 + ch * 16 + k).astype(np.float64)
    for t in range(num_timesteps):
        hdr = fc.pad_block(b"".join([
            fc.card("XTENSION", "IMAGE"), fc.card("BITPIX", -32),
            fc.card("NAXIS", 2), fc.card("NAXIS1", num_fine * FLOATS_PER_CHAN),
            fc.card("NAXIS2", n_bl), fc.card("PCOUNT", 0),
            fc.card("GCOUNT", 1),
            fc.card("MWATIME", int(gps_start + t * int_time_s)),
            fc.card("TSIDX", t), fc.end_card()]))
        data = (base + t * 4096).reshape(
            n_bl, num_fine * FLOATS_PER_CHAN).astype(">f4")
        blobs.append(hdr)
        blobs.append(fc.pad_block(data.tobytes(), b"\x00"))
    with open(path, "wb") as f:
        f.write(b"".join(blobs))
