"""Mask-level pins for the three numpy RFI ladders (operators/rfi.py):
the float mwa-default island the CLI runs
(``mwa_strategy_mask_pols_float``), its integer-tick twin
(``mwa_strategy_mask_pols``) and the generic iterative strategy
(``aoflagger_strategy_mask``).

The goldens that measure these ladders against the reference need its
data; this gate does not. Each function runs over ~40 seeded images —
1 to 33 timesteps plus runs both below and above the 256-wide window,
5 to 768 channels, absent cells, prior flags, all-pol-zero cells,
constant images, picket-fence channel domains, ``eta`` None or 0.2 —
and the sha256 of every mask must match ``data_rfi_mask_pins.json``.

Re-record the pins (only when a mask change is intended):

    python tests/test_rfi_mask_pins.py --record
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

from birli_spark.operators import rfi  # noqa: E402

PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                    "data_rfi_mask_pins.json")

#: (nt, nc) per case: the 1..33-timestep / 5..768-channel grid, then
#: time runs below (200) and above (300) the longest 256 window
SHAPES = [(1, 5), (2, 31), (5, 96), (8, 257), (17, 64), (33, 768),
          (3, 128), (12, 40), (33, 96), (6, 384), (200, 6), (300, 7)]
N_CASES = 40

#: the float ladder's shipped setting was once passed as keyword
#: arguments (``rfi.MWA_FLOAT_KW``); it is now built in, and the pins
#: hold for both spellings
_FLOAT_KW = getattr(rfi, "MWA_FLOAT_KW", {})


def case(i: int) -> dict:
    """Seeded inputs for case ``i``: per-pol amplitude images with
    injected RFI (spikes, a hot channel, a hot timestep, a band), and
    the present/prior masks, channel values and ladder arguments."""
    rng = np.random.default_rng(7000 + i)
    nt, nc = SHAPES[i % len(SHAPES)]
    shape = (nt, nc)
    pols = {}
    for p in rfi.MWA_POLS:
        img = np.hypot(rng.normal(0, 1.0, shape), rng.normal(0, 1.0, shape))
        if p in ("xx", "yy"):
            img += 4.0 + 0.01 * np.arange(nc)[None, :]
        pols[p] = img
    kind = i % 5
    if kind == 1:                      # spikes + hot channel
        for p in rfi.MWA_POLS:
            pols[p][rng.integers(0, nt, 6), rng.integers(0, nc, 6)] += 40.0
            pols[p][:, nc // 3] += 12.0
    elif kind == 2:                    # hot timestep + weak band
        for p in rfi.MWA_POLS:
            pols[p][nt // 2, :] += 8.0
            pols[p][:, nc // 4:nc // 4 + max(1, nc // 16)] += 3.0
    elif kind == 3:                    # all-pol-zero cells
        zero = rng.uniform(size=shape) < 0.05
        for p in rfi.MWA_POLS:
            pols[p][zero] = 0.0
    elif kind == 4 and i % 10 == 9:    # constant image (sigma 0)
        for p in rfi.MWA_POLS:
            pols[p][:] = 2.5
            pols[p][0, 0] = 30.0 if i % 20 == 19 else 2.5
    absent = rng.uniform(size=shape) < (0.0, 0.1, 0.4)[i % 3]
    for p in rfi.MWA_POLS:
        pols[p][absent] = 0.0
    valid = ~absent
    prior = (rng.uniform(size=shape) < 0.05) & valid if i % 4 == 1 \
        else np.zeros(shape, bool)
    if i % 6 == 5:                     # picket fence: 2 of every 3 blocks
        chans = np.array([c for c in range(nc + nc // 2 + 8)
                          if (c // 4) % 3 != 2])[:nc]
    else:
        chans = np.arange(nc)
    return dict(pols=pols, valid=valid, prior=prior, chans=chans,
                eta=None if i % 7 == 3 else 0.2,
                sens=(6.0, 6.0, 4.0)[i % 3])


def masks(i: int) -> dict:
    c = case(i)
    stokes = (c["pols"]["xx"] + c["pols"]["yy"]) / 2.0
    return {
        "float": rfi.mwa_strategy_mask_pols_float(
            c["pols"], base_sensitivity=c["sens"], existing=c["prior"],
            valid=c["valid"], eta=c["eta"], **_FLOAT_KW),
        "tick": rfi.mwa_strategy_mask_pols(
            c["pols"], base_sensitivity=c["sens"], existing=c["prior"],
            valid=c["valid"], eta=c["eta"], chan_values=c["chans"]),
        "aoflagger": rfi.aoflagger_strategy_mask(
            stokes, c["sens"], existing=c["prior"], valid=c["valid"],
            eta=c["eta"]),
    }


def digest(mask: np.ndarray) -> list:
    """[flagged count, sha256 of shape + packed bits]."""
    m = np.ascontiguousarray(mask, dtype=bool)
    h = hashlib.sha256(repr(m.shape).encode())
    h.update(np.packbits(m).tobytes())
    return [int(m.sum()), h.hexdigest()]


@pytest.fixture(scope="module")
def pins():
    with open(PINS) as f:
        return json.load(f)


@pytest.mark.parametrize("i", range(N_CASES))
def test_rfi_mask_pins(pins, i):
    got = {k: digest(m) for k, m in masks(i).items()}
    assert got == pins[str(i)]


def test_rfi_mask_pins_are_not_trivial(pins):
    """Every ladder flags something in some case and leaves most cells
    alone in most — a pin set of empty or full masks would gate
    nothing."""
    for k in ("float", "tick", "aoflagger"):
        counts = [pins[str(i)][k][0] for i in range(N_CASES)]
        assert sum(n > 0 for n in counts) >= N_CASES // 2, k


def record(path: str = PINS) -> None:
    pinned = {str(i): {k: digest(m) for k, m in masks(i).items()}
              for i in range(N_CASES)}
    with open(path, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    if sys.argv[1:] != ["--record"]:
        raise SystemExit(__doc__)
    record()
