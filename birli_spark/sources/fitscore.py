"""Minimal FITS primitives shared by the UVFITS sink and the gpubox
source: 80-char header cards, 2880-byte block padding, IMAGE HDUs and
a header parser. Pure numpy/bytes — no astropy in this environment; the
subset implemented (SIMPLE/IMAGE HDUs, BITPIX=-32, random groups)
follows the published FITS 4.0 standard.
"""

from __future__ import annotations

import re as _re

import numpy as _np

BLOCK = 2880


def card(key: str, value, comment: str = "") -> bytes:
    """One 80-byte header card."""
    if isinstance(value, bool):
        v = "T" if value else "F"
        s = f"{key:<8}= {v:>20}"
    elif isinstance(value, (int, float)):
        s = f"{key:<8}= {value:>20}"
    elif value is None:
        s = f"{key:<80}"[:80]
        return s.encode("ascii")
    else:
        s = f"{key:<8}= '{value}'"
    if comment:
        s += f" / {comment}"
    return f"{s:<80}"[:80].encode("ascii")


def end_card() -> bytes:
    return f"{'END':<80}".encode("ascii")


def pad_block(b: bytes, fill: bytes = b" ") -> bytes:
    rem = len(b) % BLOCK
    return b if rem == 0 else b + fill * (BLOCK - rem)


def image_hdu(data: _np.ndarray, *cards: bytes) -> bytes:
    """One IMAGE extension HDU: the XTENSION..GCOUNT cards for ``data``
    (BITPIX from its dtype, NAXIS1 its last axis), then ``cards``, then
    the big-endian payload padded to a block."""
    bitpix = {"f": -8, "i": 8}[data.dtype.kind] * data.dtype.itemsize
    head = [card("XTENSION", "IMAGE"), card("BITPIX", bitpix),
            card("NAXIS", data.ndim)]
    head += [card(f"NAXIS{i}", n) for i, n in enumerate(data.shape[::-1], 1)]
    head += [card("PCOUNT", 0), card("GCOUNT", 1), *cards, end_card()]
    payload = data.astype(data.dtype.newbyteorder(">")).tobytes()
    return pad_block(b"".join(head)) + pad_block(payload, b"\x00")


def _card_value(text: str):
    """Value of one card's text after ``= `` (handles quoted strings with
    embedded ``/`` and trailing comments per FITS 4.0 §4.2)."""
    text = text.strip()
    if text.startswith("'"):
        # find the closing quote ('' is an escaped quote inside)
        i = 1
        out = []
        while i < len(text):
            if text[i] == "'":
                if i + 1 < len(text) and text[i + 1] == "'":
                    out.append("'")
                    i += 2
                    continue
                break
            out.append(text[i])
            i += 1
        return "".join(out).rstrip()
    val = text.split("/")[0].strip()
    if val in ("T", "F"):
        return val == "T"
    if val == "":
        return ""
    try:
        return float(val) if ("." in val or "E" in val.upper()) else int(val)
    except ValueError:
        return val


def parse_header(raw: bytes, off: int = 0) -> tuple[dict, int]:
    """Parse one header unit starting at ``off`` → (cards, offset past the
    header's last 2880 block). Values are str/bool/int/float. OGIP
    CONTINUE long-string convention supported (a quoted value ending in
    ``&`` continues on following CONTINUE cards — real metafits CHANNELS
    lists use it)."""
    header: dict[str, object] = {}
    done = False
    last_key: str | None = None
    while not done:
        block = raw[off:off + BLOCK]
        if len(block) < BLOCK:
            raise ValueError("truncated FITS header")
        off += BLOCK
        for i in range(0, BLOCK, 80):
            c = block[i:i + 80].decode("ascii")
            key = c[:8].strip()
            if key == "END":
                done = True
                break
            if key == "CONTINUE" and last_key is not None:
                prev = header.get(last_key)
                if isinstance(prev, str) and prev.endswith("&"):
                    header[last_key] = prev[:-1] + str(_card_value(c[9:]))
                continue
            if "=" not in c[:10]:
                last_key = None
                continue
            header[key] = _card_value(c[9:])
            last_key = key
    # resolve any unterminated '&' (no CONTINUE followed)
    for k, v in header.items():
        if isinstance(v, str) and v.endswith("&"):
            header[k] = v[:-1]
    return header, off


def data_size_bytes(header: dict) -> int:
    """Size of the data unit described by ``header`` (before padding)."""
    naxis = int(header.get("NAXIS", 0))
    if naxis == 0:
        return 0
    n = 1
    for i in range(1, naxis + 1):
        n *= int(header[f"NAXIS{i}"])
    if header.get("GROUPS") and int(header.get("NAXIS1", -1)) == 0:
        # random groups: NAXIS1=0 is a marker, groups counted by GCOUNT
        n = 1
        for i in range(2, naxis + 1):
            n *= int(header[f"NAXIS{i}"])
        n = (n + int(header.get("PCOUNT", 0))) * int(header.get("GCOUNT", 1))
        return n * abs(int(header["BITPIX"])) // 8
    # BINTABLE variable-length arrays: PCOUNT bytes of heap follow the
    # fixed table (FITS 4.0 §7.3.5)
    return (n * abs(int(header["BITPIX"])) // 8
            + int(header.get("PCOUNT", 0) or 0))


def skip_data(off: int, header: dict) -> int:
    size = data_size_bytes(header)
    rem = size % BLOCK
    return off + size + (BLOCK - rem if rem else 0)


# ------------------------------------------------- binary table parsing ---

_TFORM_BYTES = {"L": 1, "B": 1, "I": 2, "J": 4, "K": 8,
                "E": 4, "D": 8, "A": 1}
_TFORM_DTYPE = {"I": ">i2", "J": ">i4", "K": ">i8", "E": ">f4", "D": ">f8",
                "B": "u1", "L": "S1"}


def parse_bintable(header: dict, data: bytes) -> dict:
    """Decode one BINTABLE data unit into ``{TTYPEn: numpy array}``
    (FITS 4.0 §7.3). Supported TFORMs: rA (fixed string), rI/rJ/rK
    (big-endian ints), rE/rD (floats), rX (bit arrays, MSB-first), rB,
    rL. Multi-element numeric fields yield 2-D arrays (nrows, r)."""
    tfields = int(header["TFIELDS"])
    n_rows = int(header["NAXIS2"])
    row_bytes = int(header["NAXIS1"])
    cols = []
    offset = 0
    for i in range(1, tfields + 1):
        tform = str(header[f"TFORM{i}"]).strip()
        name = str(header.get(f"TTYPE{i}", f"col{i}")).strip()
        m = _re.match(r"^(\d*)([LXBIJKAED])", tform)
        if not m:
            raise ValueError(f"unsupported TFORM {tform!r}")
        r = int(m.group(1) or 1)
        code = m.group(2)
        width = (r + 7) // 8 if code == "X" else r * _TFORM_BYTES[code]
        cols.append((name, code, r, offset, width))
        offset += width
    if offset != row_bytes:
        raise ValueError(
            f"TFORM widths sum to {offset}, NAXIS1 is {row_bytes}")
    raw = _np.frombuffer(data, dtype="u1",
                         count=n_rows * row_bytes).reshape(n_rows, row_bytes)
    out = {}
    for name, code, r, off_, width in cols:
        field = raw[:, off_:off_ + width]
        if code == "A":
            out[name] = _np.array(
                [bytes(row).decode("ascii").rstrip() for row in field])
        elif code == "X":
            bits = _np.unpackbits(field, axis=1, bitorder="big")[:, :r]
            out[name] = bits.astype(bool)
        else:
            arr = field.reshape(-1).view(_TFORM_DTYPE[code]).reshape(
                n_rows, r)
            out[name] = arr[:, 0] if r == 1 else arr
    return out
