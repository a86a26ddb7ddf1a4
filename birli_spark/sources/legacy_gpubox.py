"""S1e — REAL legacy (Ord correlator, MWA CorrLegacy) gpubox reader,
decoded from first principles and validated value-for-value against the
reference's own golden dump (``tests/data/1196175296_mwa_ord/
pyuvdata_1196175296.none.csv`` — the CSV the reference's golden-output
tests compare against, SURVEY.md §5.2).

The legacy format is the quirky one (reference tests/data/README.md:
"the order and sign of these values is difficult to predict"):

- each scan is a **tile-compressed FITS image** (ZIMAGE bintable with
  GZIP-compressed tiles, one tile per fine channel row) of
  ``n_baselines × 4 pol × 2`` float64s;
- visibility slots are laid out over **PFB lanes**, not antennas: the
  receiver feeds inputs through the polyphase filter bank in the order
  ``p(i) = (i div 64)·64 + (i mod 16)·4 + ((i mod 64) div 16)``; lanes
  pair up into 128 correlator "stations" (s = p div 2, pol bit
  c = p mod 2), and the correlation matrix is **lower-triangular
  station-major**: ``slot(a, b) = 4·(s_b(s_b+1)/2 + s_a) + 2·c_b + c_a``
  for (s_a, c_a) ≤ (s_b, c_b);
- a visibility read back for inputs (i1, i2) is stored directly when
  ``(s1, c1) < (s2, c2)`` and **conjugated** otherwise (including input
  autos);
- coarse channels map receiver channel → sky order with the MWA
  spectral-flip rule: channels ≤ 128 ascend, channels > 128 descend.

Spark shape: like the MWAX reader, the shared archive scan
(``gpubox.scan_archive``) runs one task per file, and the worker reads
its own file; the slot gather is one vectorized numpy take per scan (no
per-cell Python). The (ant1, ant2, pol) → (slot, conj) mapping is a
per-obs constant built from the metafits input table and broadcast with
the task closure.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from birli_spark.sources import fitscore as fc
from birli_spark.sources import gpubox
from birli_spark.sources import metafits as mf

#: pol combos in output column order; combo (p1, p2) reads input
#: p1 of ant1 against input p2 of ant2
POL_COMBOS = (("X", "X"), ("X", "Y"), ("Y", "X"), ("Y", "Y"))


def pfb_position(i: int) -> int:
    """Receiver input → PFB lane position (the legacy correlator's
    input ordering, validated against the reference's golden CSV)."""
    return (i // 64) * 64 + (i % 16) * 4 + (i % 64) // 16


def input_map(tiledata: dict) -> dict[int, dict[str, int]]:
    """antenna → {'X': input, 'Y': input} from the metafits TILEDATA."""
    amap: dict[int, dict[str, int]] = {}
    for i in range(len(tiledata["Antenna"])):
        a = int(tiledata["Antenna"][i])
        amap.setdefault(a, {})[str(tiledata["Pol"][i]).upper()] = int(
            tiledata["Input"][i])
    return amap


def slot_tables(amap: dict[int, dict[str, int]]
                ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized (ant1, ant2, 4-pol) → (slot, conj) lookup tables:
    returns (ant1s, ant2s, slots, conj_signs) with shape
    (n_baselines, 4) for slots/signs."""
    ants = sorted(amap)
    n = len(ants)
    pairs = [(ants[i], ants[j]) for i in range(n) for j in range(i, n)]
    slots = np.empty((len(pairs), 4), dtype=np.int64)
    signs = np.empty((len(pairs), 4), dtype=np.float64)
    for bi, (a1, a2) in enumerate(pairs):
        for pi, (p1, p2) in enumerate(POL_COMBOS):
            q1 = pfb_position(amap[a1][p1])
            q2 = pfb_position(amap[a2][p2])
            s1, c1 = q1 // 2, q1 % 2
            s2, c2 = q2 // 2, q2 % 2
            if (s1, c1) < (s2, c2):
                sa, ca, sb, cb, conj = s1, c1, s2, c2, False
            else:
                sa, ca, sb, cb, conj = s2, c2, s1, c1, True
            slots[bi, pi] = 4 * (sb * (sb + 1) // 2 + sa) + 2 * cb + ca
            signs[bi, pi] = -1.0 if conj else 1.0
    a1s = np.array([p[0] for p in pairs], dtype=np.int32)
    a2s = np.array([p[1] for p in pairs], dtype=np.int32)
    return a1s, a2s, slots, signs


def sky_channel_order(recv_channels: list[int]) -> list[int]:
    """gpubox indices (0-based) in ascending sky frequency: receiver
    channels ≤ 128 ascend, > 128 descend (the MWA spectral flip)."""
    lo = [(ch, i) for i, ch in enumerate(recv_channels) if ch <= 128]
    hi = [(ch, i) for i, ch in enumerate(recv_channels) if ch > 128]
    ordered = sorted(lo) + sorted(hi, reverse=True)
    return [i for _, i in ordered]


def parse_legacy_scans(content: bytes) -> list[tuple[int, np.ndarray]]:
    """One legacy gpubox file → [(unix_ms, vis[fine_chan][slot][2])] —
    list form of :func:`iter_legacy_scans` (tests and small fixtures)."""
    return list(iter_legacy_scans(content))


def iter_legacy_scans(content: bytes):
    """One legacy gpubox file → yields (unix_ms, vis[fine_chan][slot][2])
    per scan HDU, gunzipping each fine-channel tile as it goes.

    A GENERATOR on purpose: a full-length observation file decodes to
    GBs of f64 tiles (56 scans x 128 fine x 33k slots ≈ 3.8 GB for the
    1090008640 benchmark shape) — materializing the whole list in every
    concurrently-parsing Python worker OOMs the box at real scale,
    while streaming holds ~one scan (~70 MB) per worker."""
    _, off = fc.parse_header(content)
    while off < len(content):
        hdr, off2 = fc.parse_header(content, off)
        if not hdr.get("ZIMAGE"):
            raise ValueError("legacy gpubox scan HDU is not a ZIMAGE")
        # real MWA legacy correlator files are RICE_1 (float tiles fall
        # back to per-tile plain gzip in GZIP_COMPRESSED_DATA); GZIP_1
        # with empty COMPRESSED_DATA descriptors is the same col-2
        # layout under cfitsio's gzip label. NOT decodable here:
        # GZIP_2 (byte-shuffled planes — plain zlib+frombuffer would
        # yield garbage floats) and gzip-primary bytes in col 1 (the
        # Rice branch would decode them as Rice). Both fail loudly
        # below instead of producing corrupt visibilities.
        zcmp = str(hdr.get("ZCMPTYPE", "")).strip()
        if zcmp not in ("RICE_1", "GZIP_1", ""):
            raise ValueError(
                f"unsupported ZCMPTYPE {zcmp!r}: RICE_1 tiles (with "
                "plain-gzip float fallback in GZIP_COMPRESSED_DATA) "
                "and col-2 GZIP_1 are the implemented layouts")
        # the fixed descriptor offsets below (bytes 0:8 / 8:16) assume
        # COMPRESSED_DATA / GZIP_COMPRESSED_DATA are bintable fields
        # 1-2, as cfitsio writes them — validate when the cards exist
        t1 = str(hdr.get("TTYPE1", "COMPRESSED_DATA")).strip()
        t2 = str(hdr.get("TTYPE2", "GZIP_COMPRESSED_DATA")).strip()
        if (t1, t2) != ("COMPRESSED_DATA", "GZIP_COMPRESSED_DATA"):
            raise ValueError(
                f"unexpected tile-table layout: TTYPE1={t1!r} "
                f"TTYPE2={t2!r} (expected COMPRESSED_DATA / "
                "GZIP_COMPRESSED_DATA as fields 1-2)")
        n_rows = int(hdr["NAXIS2"])        # = fine channels (tiles)
        row_bytes = int(hdr["NAXIS1"])
        znaxis1 = int(hdr["ZNAXIS1"])      # floats per tile
        table = content[off2:off2 + n_rows * row_bytes]
        # heap starts at THEAP when present, else right after the table
        heap = off2 + int(hdr.get("THEAP", n_rows * row_bytes))
        rows = np.frombuffer(table, dtype="u1").reshape(n_rows, row_bytes)
        unix_ms = int(hdr["TIME"]) * 1000 + int(hdr.get("MILLITIM", 0))
        # int tiles (Rice path) carry the image scaling in the header
        bscale = float(hdr.get("BSCALE", 1.0))
        bzero = float(hdr.get("BZERO", 0.0))
        bytepix = int(abs(int(hdr.get("ZBITPIX", 64))) // 8)
        blocksize = 32
        for zi in (1, 2):
            if str(hdr.get(f"ZNAME{zi}", "")).strip() == "BLOCKSIZE":
                blocksize = int(hdr[f"ZVAL{zi}"])
            if str(hdr.get(f"ZNAME{zi}", "")).strip() == "BYTEPIX":
                bytepix = int(hdr[f"ZVAL{zi}"])
        tiles = np.empty((n_rows, znaxis1 // 2, 2), dtype=np.float64)
        for r in range(n_rows):
            # col 1 = COMPRESSED_DATA (Rice; empty when cfitsio fell back
            # to gzip for float tiles), col 2 = GZIP_COMPRESSED_DATA
            rice_cnt, rice_o = np.frombuffer(rows[r][0:8], dtype=">u4")
            if rice_cnt and zcmp == "GZIP_1":
                raise ValueError(
                    "GZIP_1 primary bytes in COMPRESSED_DATA are not "
                    "decodable here (the Rice branch would misread "
                    "them); only the empty-col-1 / gzip-col-2 layout "
                    "is supported for GZIP_1")
            if rice_cnt:
                if int(hdr.get("ZBITPIX", 0)) <= 0 or bytepix not in (1, 2, 4):
                    raise ValueError(
                        "Rice COMPRESSED_DATA requires an integer image: "
                        f"ZBITPIX={hdr.get('ZBITPIX')!r} / BYTEPIX={bytepix} "
                        "(expected ZBITPIX > 0 and BYTEPIX in {1,2,4})")
                from birli_spark.functions.rice import rice_decode

                ints = rice_decode(
                    content[heap + int(rice_o):heap + int(rice_o)
                            + int(rice_cnt)],
                    znaxis1, bytepix=bytepix, blocksize=blocksize)
                tiles[r] = (ints.astype(np.float64) * bscale
                            + bzero).reshape(-1, 2)
                continue
            cnt, o = np.frombuffer(rows[r][8:16], dtype=">u4")
            dec = zlib.decompress(
                content[heap + int(o):heap + int(o) + int(cnt)], 47)
            tiles[r] = np.frombuffer(dec, dtype=">f8").reshape(-1, 2)
        yield (unix_ms, tiles)
        off = fc.skip_data(off2, hdr)


def scan_hdu(scan: np.ndarray, unix_s: int, millitim: int = 0) -> bytes:
    """One legacy scan HDU, the container :func:`iter_legacy_scans`
    reads: a ZIMAGE bintable of GZIP f64 tiles, one per fine channel of
    ``scan[fine_chan][slot][re, im]``, with an empty COMPRESSED_DATA
    column as cfitsio writes float tiles. BSCALE carries the real
    archive's 0.125 count grid, which the reference's Van Vleck scale
    derivation multiplies by (src/van_vleck.rs:318-329)."""
    nf, n_slots, _ = scan.shape
    znaxis1 = n_slots * 2
    heap_chunks = []
    rows = np.zeros((nf, 16), dtype=np.uint8)
    off = 0
    for r in range(nf):
        comp = zlib.compress(scan[r].astype(">f8").tobytes(), 1)
        heap_chunks.append(comp)
        rows[r, 8:16] = np.frombuffer(
            np.array([len(comp), off], dtype=">u4").tobytes(),
            dtype=np.uint8)
        off += len(comp)
    heap = b"".join(heap_chunks)
    cards = [
        fc.card("XTENSION", "BINTABLE"), fc.card("BITPIX", 8),
        fc.card("NAXIS", 2), fc.card("NAXIS1", 16),
        fc.card("NAXIS2", nf), fc.card("PCOUNT", len(heap)),
        fc.card("GCOUNT", 1), fc.card("TFIELDS", 2),
        fc.card("TTYPE1", "COMPRESSED_DATA"),
        fc.card("TFORM1", "1PB(0)"),
        fc.card("TTYPE2", "GZIP_COMPRESSED_DATA"),
        fc.card("TFORM2", f"1PB({max(map(len, heap_chunks))})"),
        fc.card("ZIMAGE", True), fc.card("ZCMPTYPE", "GZIP_1"),
        fc.card("ZBITPIX", -64), fc.card("ZNAXIS", 2),
        fc.card("ZNAXIS1", znaxis1), fc.card("ZNAXIS2", nf),
        fc.card("ZTILE1", znaxis1), fc.card("ZTILE2", 1),
        fc.card("BSCALE", 0.125), fc.card("BZERO", 0.0),
        fc.card("TIME", unix_s), fc.card("MILLITIM", millitim),
        fc.end_card(),
    ]
    return (fc.pad_block(b"".join(cards))
            + fc.pad_block(rows.tobytes() + heap, fill=b"\x00"))


_LEGACY_SCHEMA = ("chan int, gpubox int, unix_ms bigint, ant1 int, "
                  "ant2 int, bl int, fc int, "
                  "xx_re double, xx_im double, xy_re double, xy_im double, "
                  "yx_re double, yx_im double, yy_re double, yy_im double")


def read_legacy_gpubox(spark: SparkSession, path_glob: str,
                       metafits_path: str) -> DataFrame:
    """Distributed legacy gpubox scan → long-format rows with sky-ordered
    ``chan`` (global fine-channel index). The per-obs slot tables and
    channel ordering derive from the metafits once, driver-side."""
    primary, tiledata = mf.read_metafits(metafits_path)
    ctx = mf.obs_context(primary)
    amap = input_map(tiledata)
    a1s, a2s, slots, signs = slot_tables(amap)
    n_fine = ctx["n_fine_per_coarse"]
    order = sky_channel_order(ctx["coarse_channels"])
    sky_of_gpubox = {gi + 1: si for si, gi in enumerate(order)}
    n_bl = len(a1s)
    bl_idx = np.arange(n_bl, dtype=np.int32)

    def decode(content: bytes, gp: int) -> Iterator[pd.DataFrame]:
        sky_cc = sky_of_gpubox[gp]
        for unix_ms, tiles in iter_legacy_scans(content):
            # one frame per scan (all fine chans tiled), not one per
            # (scan, chan): a 128-fine-chan obs would otherwise pay
            # Arrow batch overhead 128x per scan
            nf = tiles.shape[0]
            cols = {}
            for pi, name in enumerate(("xx", "xy", "yx", "yy")):
                s = slots[:, pi]
                # one fancy gather over the whole (fine, slot) plane,
                # fcn-major order
                cols[f"{name}_re"] = tiles[:, s, 0].reshape(-1)
                cols[f"{name}_im"] = (
                    tiles[:, s, 1] * signs[None, :, pi]).reshape(-1)
            yield pd.DataFrame({
                "chan": np.repeat(
                    sky_cc * n_fine + np.arange(nf), n_bl).astype(np.int32),
                "gpubox": np.int32(gp),
                "unix_ms": np.int64(unix_ms),
                "ant1": np.tile(a1s, nf),
                "ant2": np.tile(a2s, nf),
                "bl": np.tile(bl_idx, nf),
                "fc": np.repeat(np.arange(nf), n_bl).astype(np.int32),
                **cols,
            })

    return gpubox.scan_archive(spark, path_glob, _LEGACY_SCHEMA, decode,
                               fmt="legacy")
