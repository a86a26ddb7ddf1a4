"""Complex / Jones-matrix scalar expression helpers.

Spark has no complex type (SURVEY.md §1.2); a visibility cell is 8 float
columns (xx_re, xx_im, xy_re, xy_im, yx_re, yx_im, yy_re, yy_im) — the
relational unfolding of Birli's ``Jones<f32>`` (reference
src/io/mod.rs:284-294, 8 floats per channel).

Every helper here returns a **SQL fragment string** that is valid in both
Spark SQL and DuckDB SQL. Operators use them through ``F.expr`` on the
Spark side, and the oracle generator reuses the *same strings* — so the
floating-point expression tree is bit-identical across engines.

The reference pattern "promote f32→f64, compute, demote f64→f32"
(src/corrections.rs:133-138, 280-283, 412-418) maps to :func:`f32`:
compute in DOUBLE, round through FLOAT, carry as DOUBLE. Besides matching
the reference's rounding this also absorbs 1-ulp libm differences between
the JVM and DuckDB, making cross-engine value hashes deterministic.
"""

from __future__ import annotations

POLS = ("xx", "xy", "yx", "yy")
#: 8 canonical visibility value columns, pol-major, re before im.
VIS_COLS = tuple(f"{p}_{c}" for p in POLS for c in ("re", "im"))

SPEED_OF_LIGHT_M_S = 299_792_458.0  # CODATA; same constant the reference uses


def f32(expr: str) -> str:
    """Demote a DOUBLE expression through FLOAT precision, back to DOUBLE.

    Reproduces the reference's per-operator f32 demotion
    (src/corrections.rs:133-138) and makes Spark-vs-DuckDB hashes stable.
    """
    return f"CAST(CAST(({expr}) AS FLOAT) AS DOUBLE)"


def cmul_re(ar: str, ai: str, br: str, bi: str) -> str:
    """Real part of (ar + i*ai) * (br + i*bi)."""
    return f"(({ar}) * ({br}) - ({ai}) * ({bi}))"


def cmul_im(ar: str, ai: str, br: str, bi: str) -> str:
    """Imag part of (ar + i*ai) * (br + i*bi)."""
    return f"(({ar}) * ({bi}) + ({ai}) * ({br}))"


def rot_re(re: str, im: str, cos_t: str, sin_t: str) -> str:
    """Real part of v * e^{i*theta} given cos/sin columns."""
    return f"(({re}) * ({cos_t}) - ({im}) * ({sin_t}))"


def rot_im(re: str, im: str, cos_t: str, sin_t: str) -> str:
    """Imag part of v * e^{i*theta} given cos/sin columns."""
    return f"(({re}) * ({sin_t}) + ({im}) * ({cos_t}))"


def jones_sandwich(v: dict[str, str], j1: dict[str, str], j2: dict[str, str]) -> dict[str, str]:
    """V' = J1 · V · J2^H — the DI-calibration 2x2 complex matrix sandwich
    (reference src/calibration.rs:111-115), expanded to 8 real fragments.

    ``v`` maps the 8 VIS_COLS to fragments; ``j1``/``j2`` map
    ``j00_re .. j11_im`` to fragments. Computation is f64 throughout with a
    single f32 demotion at the end, matching the reference (f64 Jones,
    src/calibration.rs:41-131).
    """
    # Matrix layout: [[xx, xy], [yx, yy]] == [[m00, m01], [m10, m11]].
    def m(d: dict[str, str], r: int, c: int, part: str, names=("00", "01", "10", "11")) -> str:
        return d[f"j{names[r * 2 + c]}_{part}"]

    pol_at = {(0, 0): "xx", (0, 1): "xy", (1, 0): "yx", (1, 1): "yy"}

    def v_at(r: int, c: int, part: str) -> str:
        return v[f"{pol_at[(r, c)]}_{part}"]

    # T = J1 · V  (2x2 complex matmul)
    t: dict[tuple[int, int, str], str] = {}
    for r in range(2):
        for c in range(2):
            re_terms, im_terms = [], []
            for k in range(2):
                ar, ai = m(j1, r, k, "re"), m(j1, r, k, "im")
                br, bi = v_at(k, c, "re"), v_at(k, c, "im")
                re_terms.append(cmul_re(ar, ai, br, bi))
                im_terms.append(cmul_im(ar, ai, br, bi))
            t[(r, c, "re")] = f"({re_terms[0]} + {re_terms[1]})"
            t[(r, c, "im")] = f"({im_terms[0]} + {im_terms[1]})"

    # V' = T · J2^H ; (J2^H)[k][c] = conj(J2[c][k])
    out: dict[str, str] = {}
    for r in range(2):
        for c in range(2):
            re_terms, im_terms = [], []
            for k in range(2):
                ar, ai = t[(r, k, "re")], t[(r, k, "im")]
                br = m(j2, c, k, "re")
                bi = f"(-({m(j2, c, k, 'im')}))"
                re_terms.append(cmul_re(ar, ai, br, bi))
                im_terms.append(cmul_im(ar, ai, br, bi))
            pol = pol_at[(r, c)]
            out[f"{pol}_re"] = f32(f"({re_terms[0]} + {re_terms[1]})")
            out[f"{pol}_im"] = f32(f"({im_terms[0]} + {im_terms[1]})")
    return out
