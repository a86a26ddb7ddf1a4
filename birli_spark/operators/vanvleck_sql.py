"""C1 (relational) — the Van Vleck correction as ONE cross-engine SQL
plan, giving the last reference-pipeline UDF island a DuckDB-checkable
oracle (reference ``src/van_vleck.rs``; UDF twin ``operators/vanvleck.py``).

The iterative Newton solves (sigma from ``sighat``, kappa from the
Simpson-integrated quantized-bivariate-normal) are spelled as a
**fixed-unroll Newton with convergence freeze**: N chained CTEs, each
updating a (guess, delta, active) state exactly like one loop step of the
UDF/reference, with sticky guards replacing data-dependent control flow.

Cross-engine bit-exactness (the driver hashes values exactly) rests on
three measured facts (tools/exp_parity_probe.py):

1. ``+ - * / sqrt`` are IEEE-correctly-rounded in every engine —
   identical inputs give identical bits;
2. ``EXP`` differs between Spark (JVM ``Math.exp``) and DuckDB (libm) by
   1 ulp on ~4% of arguments — so every EXP output is **demoted through
   f32** (``CAST(CAST(exp(x) AS FLOAT) AS DOUBLE)``: 0 mismatches in
   4M samples), making each Newton step a deterministic, engine-identical
   map at the cost of ~7-digit (instead of 16-digit) transcendentals;
3. float SUMS must be **sequential left folds** (Spark ``aggregate``,
   DuckDB ``list_reduce``) — group-SUM order is unspecified. The Simpson
   grid sum (11 points x 7x7 quantization levels) and the 7-term sighat
   sum are lambda folds over an index range, identical association in
   both engines (probed bit-exact over 5k random cells).

erf is Cody's rational-Chebyshev approximation (the netlib SPECFUN
constants, public domain — same constants as the UDF's vectorized
``_erf``), so Spark and DuckDB evaluate the *same polynomial tree*.

Because the transcendentals carry f32-grade noise, the Newton freeze /
acceptance tolerance is **relative** (1e-5 within, 1e-4 to accept) rather
than the reference's absolute 1e-12 — the f32-demoted integrand makes
|delta| <= 1e-12 unreachable (the evaluated F is a staircase with ~1e-6
relative steps). Calibrated on the reference's own fixtures
(tests/data_vanvleck_golden.json): the 480 cross solves and all sigma
solves converge in <= 2 iterations and land within 1e-5 relative of the
full-f64 UDF (tests/test_vanvleck_sql.py). The UDF island keeps the
reference's 1e-12 fidelity for the pipeline/CLI path; this plan is the
gated, hash-checkable spelling of the same operator.

Scale shape: the solves run on the **distinct solve inputs**, not the
fact rows — sighat values and (|khat|, sigma1, sigma2) triples live on
the correlator's quantization lattice, so the Newton chains iterate over
a dimension-sized relation and broadcast-join back onto the fact scan.
The fact-side work is one narrow melt (8 components via a literal comp
dimension) feeding the distinct triples, and broadcast joins back onto
the wide vis rows; nothing fact-sized crosses a shuffle.

There is one plan, :func:`van_vleck_wide_steps`, in the standard wide
vis layout: the ``c1_van_vleck`` query, its DuckDB oracle and the
relational pipeline head all run it. The lattice-sized relations Spark
checkpoints are single-partition by a ``COALESCE(1)`` hint in their own
SELECT (:data:`_ONE`), so :func:`textsql.run_steps` runs the chain with
no per-operator option.
"""

from __future__ import annotations

import numpy as np

from birli_spark.functions import textsql as X

#: f32-demoted exp — the one non-correctly-rounded primitive, pinned to a
#: cross-engine-stable grid (see module docstring, fact 2)
def _xe(e: str) -> str:
    return f"CAST(CAST(EXP({e}) AS FLOAT) AS DOUBLE)"


_NAN = "CAST('NaN' AS DOUBLE)"
_INF = "CAST('Infinity' AS DOUBLE)"


def _fin(e: str) -> str:
    """numpy ``isfinite`` with SQL NULL treated as not-finite."""
    return (f"COALESCE((NOT ISNAN({e})) AND ABS({e}) <> {_INF}, FALSE)")


def _fold(d: str, n: int, var: str, body: str) -> str:
    """Sequential left fold of ``body(var)`` for var in [0, n) starting
    from +0.0 — identical association in both dialects."""
    if d == X.SPARK:
        return (f"aggregate(sequence(0, {n - 1}), 0E0, "
                f"(acc, {var}) -> acc + ({body}))")
    return (f"list_reduce(list_prepend(0E0, list_transform(range(0, {n}), "
            f"{var} -> CAST(({body}) AS DOUBLE))), (acc, x) -> acc + x)")


# ------------------------------------------------------------------ erf ---
# Cody's rational-Chebyshev erf (Math. Comp. 23, 1969; netlib SPECFUN) —
# the same constants as operators/vanvleck.py::_erf, emitted as exact
# round-trip literals so both SQL parsers build the identical doubles.

from birli_spark.operators.vanvleck import (  # noqa: E402
    _CODY_A, _CODY_B, _CODY_C, _CODY_D, _CODY_P, _CODY_Q, _SQRPI,
)


def _r(v: float) -> str:
    return repr(float(v))


def erf_sql(x: str) -> str:
    """erf of expression ``x`` (keep ``x`` a cheap column reference — it
    is repeated). Mirrors the UDF's three-region Cody evaluation tree."""
    a, b = _CODY_A, _CODY_B
    c, dd = _CODY_C, _CODY_D
    p, q = _CODY_P, _CODY_Q
    # region 1: |x| <= 0.46875, poly in y = x^2, odd in x
    num1 = f"{_r(a[4])} * ({x} * {x})"
    den1 = f"({x} * {x})"
    for i in range(3):
        num1 = f"({num1} + {_r(a[i])}) * ({x} * {x})"
        den1 = f"({den1} + {_r(b[i])}) * ({x} * {x})"
    r1 = f"{x} * ({num1} + {_r(a[3])}) / ({den1} + {_r(b[3])})"
    # region 2: 0.46875 < |x| <= 4, erfc = exp(-x^2) P2(|x|)/Q2(|x|)
    ax = f"ABS({x})"
    num2 = f"{_r(c[8])} * {ax}"
    den2 = ax
    for i in range(7):
        num2 = f"({num2} + {_r(c[i])}) * {ax}"
        den2 = f"({den2} + {_r(dd[i])}) * {ax}"
    r2 = (f"1E0 - {_xe(f'0E0 - ({ax} * {ax})')} * ({num2} + {_r(c[7])})"
          f" / ({den2} + {_r(dd[7])})")
    # region 3: |x| > 4, erfc = exp(-x^2)/|x| * (1/sqrt(pi) - y P3(y)/Q3(y))
    y3 = f"(1E0 / ({ax} * {ax}))"
    num3 = f"{_r(p[5])} * {y3}"
    den3 = y3
    for i in range(4):
        num3 = f"({num3} + {_r(p[i])}) * {y3}"
        den3 = f"({den3} + {_r(q[i])}) * {y3}"
    r3 = (f"1E0 - ({_xe(f'0E0 - ({ax} * {ax})')} / {ax})"
          f" * ({_r(_SQRPI)} - {y3} * ({num3} + {_r(p[4])})"
          f" / ({den3} + {_r(q[4])}))")
    sgn2 = f"CASE WHEN {x} < 0E0 THEN 0E0 - ({r2}) ELSE {r2} END"
    sgn3 = f"CASE WHEN {x} < 0E0 THEN 0E0 - ({r3}) ELSE {r3} END"
    return (f"(CASE WHEN ABS({x}) <= 0.46875E0 THEN {r1}"
            f" WHEN ABS({x}) <= 4E0 THEN {sgn2}"
            f" ELSE {sgn3} END)")


# --------------------------------------------------------- sigma chain ---

SQRT_2 = repr(float(np.sqrt(2.0)))
SQRT_TAU = "2.5066282746310002"  # reference src/van_vleck.rs:377
N_AUTO = 4    # sigma solves freeze in <= 2 iterations on fixtures + gate
N_CROSS = 3   # cross solves freeze in <= 1 iteration on fixtures + gate

#: relative Newton tolerances (see module docstring: the f32-demoted
#: integrand floors |delta| around 1e-6 relative, so the reference's
#: absolute 1e-12 is spelled 1e-12 + rel*|target|)
TOL_AUTO_REL = "1E-5"
TOL_CROSS_REL = "1E-5"
ACCEPT_CROSS_REL = "1E-4"


def _sighat_acc(d: str, g: str) -> str:
    """fold_k 2(k+.5) erf((k+.5)/(g sqrt2)) — reference sighat sum
    (src/van_vleck.rs:368-374), sequential like the Rust loop."""
    k_ = "(CAST(k AS DOUBLE) + 5E-1)"
    return _fold(d, 7, "k",
                 f"2E0 * {k_} * {erf_sql(f'({k_} / ({g} * {SQRT_2}))')}")


def _prime_acc(d: str, g: str) -> str:
    """fold_k 2 K^2 exp(-K^2/(2 s^2)) / (sqrt_tau s^2), K=(k+.5)
    (src/van_vleck.rs:380-392)."""
    k2 = "((CAST(k AS DOUBLE) + 5E-1) * (CAST(k AS DOUBLE) + 5E-1))"
    s2 = f"({g} * {g})"
    return _fold(
        d, 7, "k",
        f"2E0 * {k2} * {_xe(f'(0E0 - {k2}) / (2E0 * {s2})')}"
        f" / ({SQRT_TAU} * {s2})")


def _sh_guard(acc: str) -> str:
    """sqrt(49 - acc) with the negative-argument guard DuckDB needs
    (it errors on sqrt of a negative; numpy/Spark yield NaN)."""
    return (f"CASE WHEN 49E0 - ({acc}) < 0E0 THEN {_NAN}"
            f" ELSE SQRT(49E0 - ({acc})) END")


#: single-partition hint on the lattice-sized barrier relations (a few
#: hundred rows): Spark plans it as ``coalesce(1)``, so each Newton
#: checkpoint is one task instead of a round trip over every core;
#: DuckDB reads it as a comment
_ONE = "/*+ COALESCE(1) */ "


def _closers(prefix: str, n: int) -> set[str]:
    """The barrier iteration closers of an ``n``-step Newton chain: every
    OTHER one from ``s0``, so one analyzed tree holds two inlined
    iterations (bounded — measured no blowup and identical output),
    halving the chain's job count. A chain with no barriers is NOT faster
    (analyzing the fully inlined tree costs more than the jobs it saves)
    and risks the exponential-substitution OOM (see
    :func:`van_vleck_wide_steps`)."""
    return {f"{prefix}_s{i}" for i in range(0, n + 1, 2)}


def sigma_chain_steps(d: str, src: str, n: int = N_AUTO,
                      prefix: str = "vva",
                      ) -> tuple[list[tuple[str, str]], str, set[str]]:
    """Newton chain inverting sighat over relation ``src`` (one DOUBLE
    column ``s`` of distinct sighat values, NaN-free). Returns
    ``(steps, final_name, barriers)`` where ``steps`` is an ordered list
    of (name, select_body) — CTE entries for DuckDB, temp-view steps for
    the Spark executor; the final relation is (s, sigma). ``barriers``
    (every other iteration closer and the final relation) are
    single-partition relations (:data:`_ONE`).

    State per iteration mirrors the UDF loop (vanvleck.py:160-176):
    guess starts at s; sticky-inactive on convergence, guess <= 0.5, or a
    non-finite delta; still-active after n iterations -> passthrough s.
    Division-by-zero (prime or sighat hitting exactly 0, impossible on
    the sighat range but guarded because Spark ANSI errors on float /0)
    sends the guess to NaN, which deactivates and yields a NaN sigma —
    the same downstream row-passthrough the UDF's inf/NaN wander ends in.
    """
    tol = f"(1E-12 + {TOL_AUTO_REL} * ABS(s))"
    closers = _closers(prefix, n)
    parts: list[tuple[str, str]] = [
        (f"{prefix}_b0",
         f"SELECT s, s AS g, {_sighat_acc(d, 's')} AS acc"
         f" FROM {src}"),
        (f"{prefix}_s0",
         f"SELECT {_ONE}s, g, sh, sh - s AS delta,"
         f" (ABS(sh - s) > {tol}) AND (g > 5E-1) AND {_fin('sh - s')} AS active"
         f" FROM (SELECT s, g, {_sh_guard('acc')} AS sh FROM {prefix}_b0)"),
    ]
    prev = f"{prefix}_s0"
    for i in range(1, n + 1):
        a, bq, cq, s_ = (f"{prefix}_a{i}", f"{prefix}_b{i}",
                         f"{prefix}_c{i}", f"{prefix}_s{i}")
        parts.append(
            (a,
             f"SELECT s, g, sh, delta, active,"
             f" CASE WHEN active THEN {_prime_acc(d, 'g')} ELSE 0E0 END"
             f" AS accp FROM {prev}"))
        parts.append(
            (bq,
             f"SELECT s, delta, active, sh AS sh_old,"
             f" CASE WHEN NOT active THEN g"
             f" WHEN sh = 0E0 OR accp = 0E0 THEN {_NAN}"
             f" ELSE g - delta / (accp / sh) END AS g FROM {a}"))
        parts.append(
            (cq,
             f"SELECT s, g, delta, active, sh_old,"
             f" CASE WHEN active THEN {_sighat_acc(d, 'g')} ELSE 0E0 END"
             f" AS acc FROM {bq}"))
        parts.append(
            (s_,
             f"SELECT {_ONE if s_ in closers else ''}s, g,"
             f" CASE WHEN active THEN sh2 ELSE sh_old END AS sh,"
             f" CASE WHEN active THEN sh2 - s ELSE delta END AS delta,"
             f" active AND ABS(sh2 - s) > {tol} AND g > 5E-1"
             f" AND {_fin('sh2 - s')} AS active"
             f" FROM (SELECT s, g, delta, active, sh_old,"
             f" CASE WHEN NOT active THEN sh_old ELSE {_sh_guard('acc')} END"
             f" AS sh2 FROM {cq})"))
        prev = s_
    final = f"{prefix}_out"
    parts.append(
        (final,
         f"SELECT {_ONE}s,"
         f" CASE WHEN active THEN s ELSE g END AS sigma FROM {prev}"))
    return parts, final, closers | {final}


# --------------------------------------------------------- cross chain ---

_PI = repr(float(np.pi))


def _pdf_term(d: str, var: str, rho: str, invd: str, w_over: str) -> str:
    """One (i, j) quantization-grid term of the Simpson integrand, for
    grid index ``var`` (i = floor(var/7), j = var%7), premultiplied by
    ``w_over`` = w_p / (pi sqrt(d_p)). Mirrors the UDF _pdf_grid algebra:
    2 cosh(rho xy/d) exp(-(x^2+y^2)/(2d)) as exp(a-b)+exp(-a-b)."""
    ki = (f"(CAST(FLOOR(CAST(({var}) % 49 AS DOUBLE) / 7E0) AS DOUBLE)"
          f" + 5E-1)")
    kj = f"(CAST(({var}) % 7 AS DOUBLE) + 5E-1)"
    xx = f"({ki} / sa)"
    yy = f"({kj} / sb)"
    a = f"(({xx} * {yy}) * {rho} * {invd})"
    b = f"((({xx} * {xx}) + ({yy} * {yy})) * 5E-1 * {invd})"
    return (f"({_xe(f'{a} - {b}')} + {_xe(f'(0E0 - {a}) - {b}')})"
            f" * ({w_over})")


def _cross_eval(d: str, g: str) -> tuple[str, str]:
    """(foldP, fold10) expressions evaluating the Simpson integral pieces
    at rho-scale ``g`` for a row with (sa, sb): foldP covers Simpson
    points p = 0..9 with weights [1,4,2,...,4] folded per-term; fold10 is
    the raw p=10 grid sum (divide by pi sqrt(d10) outside)."""
    # p = floor(n/49) in 0..9, grid index n%49
    pd_ = f"CAST(FLOOR(CAST(n AS DOUBLE) / 49E0) AS DOUBLE)"
    rho = f"({g} * ({pd_} * 1E-1))"
    dmax = f"GREATEST(1E0 - {rho} * {rho}, 1E-20)"
    w = (f"(CASE WHEN {pd_} = 0E0 THEN 1E0"
         f" WHEN {pd_} = 1E0 OR {pd_} = 3E0 OR {pd_} = 5E0"
         f" OR {pd_} = 7E0 OR {pd_} = 9E0 THEN 4E0 ELSE 2E0 END)")
    w_over = f"({w} / ({_PI} * SQRT({dmax})))"
    foldp = _fold(d, 490, "n",
                  _pdf_term(d, "n", rho, f"(1E0 / {dmax})", w_over))
    d10 = f"GREATEST(1E0 - {g} * {g}, 1E-20)"
    fold10 = _fold(d, 49, "n",
                   _pdf_term(d, "n", f"({g})", f"(1E0 / {d10})", "1E0"))
    return foldp, fold10


def cross_chain_steps(d: str, src: str, n: int = N_CROSS,
                      prefix: str = "vvc",
                      ) -> tuple[list[tuple[str, str]], str, set[str]]:
    """Newton chain for the cross Van Vleck integral over relation
    ``src`` with columns (ka, sa, sb) — ka = |khat| — distinct rows.
    Returns (steps, final_name, barriers) as :func:`sigma_chain_steps`;
    the final relation is (ka, sa, sb, rho, accepted).

    Mirrors van_vleck_crosses (vanvleck.py:229-309): solvable gate on the
    initial guess, delta/derivative from one Simpson evaluation per step
    (the derivative is the integrand at the last Simpson point), sticky
    ``bad`` on a zero derivative or non-finite delta -> passthrough."""
    tol = f"(1E-12 + {TOL_CROSS_REL} * ka)"
    closers = _closers(prefix, n)
    d10 = "GREATEST(1E0 - g * g, 1E-20)"
    integ = "(((fp + gp) * (g / 1E1)) / 3E0)"
    foldp, fold10 = _cross_eval(d, "g")
    parts: list[tuple[str, str]] = [
        # solvable gate; unsolvable rows idle at g=0 with active=false
        (f"{prefix}_x0",
         f"SELECT ka, sa, sb, solvable,"
         f" CASE WHEN solvable THEN g0 ELSE 0E0 END AS g FROM ("
         f"SELECT ka, sa, sb, g0, sa > 0E0 AND sb > 0E0"
         f" AND {_fin('g0')} AND g0 >= 0E0 AND g0 < 1E0 AS solvable"
         f" FROM (SELECT ka, sa, sb,"
         f" CASE WHEN sa * sb = 0E0 THEN {_NAN} ELSE ka / (sa * sb) END"
         f" AS g0 FROM {src}))"),
        (f"{prefix}_e0",
         f"SELECT ka, sa, sb, solvable, g,"
         f" CASE WHEN solvable THEN {foldp} ELSE 0E0 END AS fp,"
         f" CASE WHEN solvable THEN {fold10} ELSE 0E0 END AS f10"
         f" FROM {prefix}_x0"),
        (f"{prefix}_s0",
         f"SELECT {_ONE}ka, sa, sb, solvable, g, delta, gp,"
         f" solvable AND NOT {_fin('delta')} AS bad,"
         f" solvable AND ABS(delta) > {tol} AND {_fin('delta')} AS active"
         f" FROM (SELECT ka, sa, sb, solvable, g,"
         f" {integ} - ka AS delta, gp"
         f" FROM (SELECT ka, sa, sb, solvable, g, fp,"
         f" f10 / ({_PI} * SQRT({d10})) AS gp FROM {prefix}_e0))"),
    ]
    prev = f"{prefix}_s0"
    for i in range(1, n + 1):
        y, e, s_ = (f"{prefix}_y{i}", f"{prefix}_e{i}", f"{prefix}_s{i}")
        parts.append(
            (y,
             f"SELECT ka, sa, sb, solvable, delta, gp,"
             f" bad OR (active AND gp = 0E0) AS bad,"
             f" active AND gp <> 0E0 AS active,"
             f" CASE WHEN active AND gp <> 0E0 THEN g - delta / gp"
             f" ELSE g END AS g FROM {prev}"))
        parts.append(
            (e,
             f"SELECT ka, sa, sb, solvable, g, delta, gp, bad,"
             f" active,"
             f" CASE WHEN active THEN {foldp} ELSE 0E0 END AS fp,"
             f" CASE WHEN active THEN {fold10} ELSE 0E0 END AS f10"
             f" FROM {y}"))
        parts.append(
            (s_,
             f"SELECT {_ONE if s_ in closers else ''}ka, sa, sb, solvable, g,"
             f" delta, gp,"
             f" bad OR (active AND NOT {_fin('delta')}) AS bad,"
             f" active AND ABS(delta) > {tol} AND {_fin('delta')} AS active"
             f" FROM (SELECT ka, sa, sb, solvable, g, bad, active,"
             f" CASE WHEN active THEN {integ} - ka ELSE delta END AS delta,"
             f" gp FROM (SELECT ka, sa, sb, solvable, g, fp, delta, bad,"
             f" active, CASE WHEN active THEN f10 / ({_PI} * SQRT({d10}))"
             f" ELSE gp END AS gp FROM {e}))"))
        prev = s_
    final = f"{prefix}_out"
    parts.append(
        (final,
         f"SELECT {_ONE}ka, sa, sb, g AS rho,"
         f" solvable AND NOT bad AND NOT active"
         f" AND ABS(delta) <= (1E-12 + {ACCEPT_CROSS_REL} * ka) AS accepted"
         f" FROM {prev}"))
    return parts, final, closers | {final}


# ------------------------------------------------- full C1 assembly ---

_COMPS = ("xx_re", "xx_im", "xy_re", "xy_im",
          "yx_re", "yx_im", "yy_re", "yy_im")

#: the steps a DuckDB rendering of :func:`van_vleck_wide_steps` marks
#: MATERIALIZED: the fact-side melt, computed once
DUCK_MATERIALIZED = frozenset({"m1"})


def van_vleck_wide_steps(d: str, scale: float,
                         flagged_ants: tuple[int, ...] = (3,),
                         lineitem: str = "lineitem",
                         gate: str | None = None,
                         gate_ctes: tuple[tuple[str, str], ...] = (),
                         ) -> tuple[list[tuple[str, str]], str, set[str]]:
    """The complete C1 query over the synthetic legacy-encoded vis
    (sources/synthetic.py::load_vis_legacy spelled as shared SQL), in the
    standard WIDE vis layout: the closing relation ``vvwide`` has the vis
    schema with Van-Vleck-corrected, f32-demoted pol values — the
    drop-in head of the preprocess chain.

    Returns ``(steps, final, barriers)`` (the :mod:`textsql` chain form).
    ``barriers`` marks the **dimension-sized** solve relations (the
    distinct sighat/triple inputs, the sigma tables and every other
    Newton-iteration closer) that the Spark executor materializes behind
    ``localCheckpoint``: Spark inlines single-consumer views, so a lazy
    6-step Newton chain substitutes each step's expression into the next
    and the Catalyst tree grows exponentially (measured: OOM at
    sf0.001). The barriers cap every analyzed tree at two iterations'
    expressions while keeping the fact side lazy and fully pushed down.
    The lattice-sized ones (``sigs``, ``tris`` and the chain closers)
    carry the :data:`_ONE` hint, so each is one single-partition
    checkpoint. DuckDB materializes CTEs by cost, so its text form needs
    no barriers; only the melt is MATERIALIZED there
    (:data:`DUCK_MATERIALIZED`).

    Mirrors correct_van_vleck (operators/vanvleck.py:346-446) stage for
    stage: sigma table from unflagged autos (distinct-sighat Newton,
    broadcast back), double sigma join, per-component melt via a literal
    comp dimension (the input of the distinct-triple cross Newton only),
    then the guarded assembly with the reference's auto/cross/passthrough
    arms straight from the wide join ``j``: EIGHT per-component broadcast
    joins to the lattice-sized solve table, so no melt-pivot fact shuffle
    is on the output path.

    ``gate`` names a (t, cc, _caf) relation (plus any ``gate_ctes``
    defining it, spliced before the assembly): when set, rows of
    fully-flagged (t, cc) cells pass through RAW — the v0.18.0
    unflagged-timestep-range correction gate
    (src/preprocessing.rs:249-253, RELEASES.md:17-19)."""
    from birli_spark.sources import synthetic as syn

    sc = repr(float(scale))
    if "e" not in sc:
        sc += "E0"
    flg = ", ".join(str(a) for a in flagged_ants)
    not_flagged = f" AND ant1 NOT IN ({flg})" if flagged_ants else ""
    sig_steps, sig_out, sig_barriers = sigma_chain_steps(d, "sigs")
    tri_steps, tri_out, tri_barriers = cross_chain_steps(d, "tris")
    comps_vals = ", ".join(f"('{c}')" for c in _COMPS)
    v_case = " ".join(f"WHEN '{c}' THEN {c}" for c in _COMPS)
    legacy_cols = ", ".join(
        f"CASE WHEN ant1 = ant2 THEN (bb * bb) * {sc} ELSE kh0 * {sc} END"
        f" AS {c}" if c in ("xx_re", "yy_re") else f"kh0 * {sc} AS {c}"
        for c in _COMPS)
    # the dimension columns (bl, cc, fc, freq_hz, ts_gps, weight, flag)
    # ride along from the scan, so the assembly needs NO rejoin to it
    other = [c for c in syn.VIS_COLUMNS if c not in _COMPS]
    other_list = ", ".join(other)
    # the assembly reads each component's (kh, sa, sb) solve key from
    # the wide join; it references the INPUT pol columns (never the v_*
    # aliases defined in the same SELECT — lateral alias resolution
    # differs between the engines)
    jw_cols = []
    joins = []
    val_cols = []
    for c in _COMPS:
        if c in ("xy_re", "yx_re"):
            kh = f"CASE WHEN is_auto THEN khr ELSE {c} / {sc} END"
        elif c in ("xy_im", "yx_im"):
            kh = f"CASE WHEN is_auto THEN khi ELSE {c} / {sc} END"
        else:
            kh = f"{c} / {sc}"
        sa = ("CASE WHEN is_auto THEN s1x"
              + (" ELSE s1x END" if c.startswith("x") else " ELSE s1y END"))
        sb = ("CASE WHEN is_auto THEN s1y ELSE "
              + ("s2x END" if c in ("xx_re", "xx_im", "yx_re", "yx_im")
                 else "s2y END"))
        jw_cols.append(f"{kh} AS kh_{c}, {sa} AS sa_{c}, {sb} AS sb_{c}")
        joins.append(
            f" LEFT JOIN {tri_out} sv_{c}"
            f" ON ABS(jw.kh_{c}) = sv_{c}.ka AND jw.sa_{c} = sv_{c}.sa"
            f" AND jw.sb_{c} = sv_{c}.sb")
        solve = (f"((jw.is_auto AND jw.have1 AND jw.aok"
                 f" AND '{c}' IN ('xy_re', 'xy_im', 'yx_re', 'yx_im'))"
                 f" OR (NOT jw.is_auto AND jw.have1 AND jw.have2))")
        kval = (f"CASE WHEN COALESCE(sv_{c}.accepted, FALSE)"
                f" THEN ((SIGN(jw.kh_{c}) * sv_{c}.rho) * jw.sa_{c})"
                f" * jw.sb_{c} ELSE jw.kh_{c} END")
        arm = {"xx_re": f"{sc} * (jw.s1x * jw.s1x)",
               "yy_re": f"{sc} * (jw.s1y * jw.s1y)",
               "xx_im": "0E0", "yy_im": "0E0"}.get(c)
        auto_arm = (f" WHEN jw.is_auto AND jw.have1 THEN {arm}"
                    if arm is not None else "")
        gate_arm = (f" WHEN COALESCE(g._caf, FALSE) THEN jw.v_{c}"
                    if gate else "")
        val_cols.append(
            f"CAST(CAST((CASE{gate_arm}{auto_arm}"
            f" WHEN {solve} THEN {sc} * (CASE WHEN jw.is_auto"
            f" AND '{c}' = 'yx_im' THEN 0E0 - ({kval})"
            f" ELSE {kval} END)"
            f" ELSE jw.v_{c} END) AS FLOAT) AS DOUBLE) AS {c}")
    v_keep = ", ".join(f"{c} AS v_{c}" for c in _COMPS)
    aok = "COALESCE(NOT (khr > s1x * s1y OR khi > s1x * s1y), FALSE)"
    hint = "/*+ BROADCAST(" + ", ".join(
        [f"sv_{c}" for c in _COMPS] + (["g"] if gate else [])) + ") */ "
    gate_join = (f" LEFT JOIN {gate} g ON jw.t = g.t AND jw.cc = g.cc"
                 if gate else "")
    steps: list[tuple[str, str]] = [
        ("visr", syn.vis_sql(lineitem)),
        ("visb",
         f"SELECT {other_list},"
         " 13E-1 + CAST(kk % 650 AS DOUBLE) / 1E3 AS bb,"
         " CAST(kk % 200 - 100 AS DOUBLE) / 2E3 AS kh0"
         " FROM (SELECT *, (t * 31 + chan * 7 + ant1 * 3 + ant2) AS kk"
         " FROM visr)"),
        ("vvvis", f"SELECT {other_list}, {legacy_cols} FROM visb"),
        ("sigk",
         f"SELECT t, chan, ant1 AS ant,"
         f" CASE WHEN pxx / {sc} < 0E0 THEN {_NAN}"
         f" ELSE SQRT(pxx / {sc}) END AS shx,"
         f" CASE WHEN pyy / {sc} < 0E0 THEN {_NAN}"
         f" ELSE SQRT(pyy / {sc}) END AS shy"
         f" FROM (SELECT t, chan, ant1, MIN(xx_re) AS pxx, MIN(yy_re) AS pyy"
         f" FROM vvvis WHERE ant1 = ant2{not_flagged} GROUP BY t, chan, ant1)"),
        ("sigs",
         f"SELECT {_ONE}DISTINCT s FROM ("
         "SELECT shx AS s FROM sigk UNION ALL SELECT shy AS s FROM sigk) u"
         " WHERE NOT ISNAN(s)"),
        *sig_steps,
        ("sig",
         # the Newton-out relations are lattice-sized but checkpointed
         # (no stats) — hint the broadcast Spark can't infer; DuckDB
         # reads /*+ */ as a comment
         f"SELECT /*+ BROADCAST(a, b) */"
         f" k.t, k.chan, k.ant, a.sigma AS sx, b.sigma AS sy"
         f" FROM sigk k LEFT JOIN {sig_out} a ON k.shx = a.s"
         f" LEFT JOIN {sig_out} b ON k.shy = b.s"),
        ("j",
         "SELECT /*+ BROADCAST(s1, s2) */"
         " v.*, s1.sx AS s1x, s1.sy AS s1y, s2.sx AS s2x, s2.sy AS s2y"
         " FROM vvvis v"
         " LEFT JOIN sig s1 ON v.t = s1.t AND v.chan = s1.chan"
         " AND v.ant1 = s1.ant"
         " LEFT JOIN sig s2 ON v.t = s2.t AND v.chan = s2.chan"
         " AND v.ant2 = s2.ant"),
        ("m1",
         f"SELECT kh,"
         f" CASE WHEN is_auto THEN s1x"
         f" WHEN comp LIKE 'x%' THEN s1x ELSE s1y END AS sa_j,"
         f" CASE WHEN is_auto THEN s1y"
         f" WHEN comp IN ('xx_re', 'xx_im', 'yx_re', 'yx_im') THEN s2x"
         f" ELSE s2y END AS sb_j,"
         f" (is_auto AND have1 AND aok"
         f" AND comp IN ('xy_re', 'xy_im', 'yx_re', 'yx_im'))"
         f" OR (NOT is_auto AND have1 AND have2) AS solve_row"
         f" FROM ("
         f"SELECT *,"
         f" CASE WHEN is_auto THEN"
         f" CASE WHEN comp IN ('xy_re', 'yx_re') THEN khr ELSE khi END"
         f" ELSE v / {sc} END AS kh,"
         f" {aok} AS aok"
         f" FROM ("
         f"SELECT comp,"
         f" CASE comp {v_case} END AS v,"
         f" s1x, s1y, s2x, s2y,"
         f" ant1 = ant2 AS is_auto,"
         f" {_fin('s1x')} AS have1, {_fin('s2x')} AS have2,"
         f" xy_re / {sc} AS khr, xy_im / {sc} AS khi"
         f" FROM j CROSS JOIN (SELECT comp FROM (VALUES {comps_vals})"
         f" AS c(comp)) cd) i1) i2"),
        ("tris",
         f"SELECT {_ONE}DISTINCT ABS(kh) AS ka, sa_j AS sa, sb_j AS sb"
         " FROM m1"
         " WHERE solve_row AND kh IS NOT NULL AND NOT ISNAN(kh)"
         " AND sa_j IS NOT NULL AND NOT ISNAN(sa_j)"
         " AND sb_j IS NOT NULL AND NOT ISNAN(sb_j)"),
        *tri_steps,
        *gate_ctes,
        ("jw",
         f"SELECT {other_list}, {v_keep},"
         f" s1x, s1y, s2x, s2y, is_auto, have1, have2, {aok} AS aok,"
         f" {', '.join(jw_cols)}"
         f" FROM (SELECT jj.*, jj.ant1 = jj.ant2 AS is_auto,"
         f" {_fin('jj.s1x')} AS have1, {_fin('jj.s2x')} AS have2,"
         f" jj.xy_re / {sc} AS khr, jj.xy_im / {sc} AS khi"
         f" FROM j jj) i"),
        ("vvwide",
         f"SELECT {hint}"
         + ", ".join(f"jw.{c}" for c in other) + ", "
         + ", ".join(val_cols)
         + " FROM jw" + "".join(joins) + gate_join),
    ]
    # sigk/sig are (t, chan, ant)-sized and consumed twice by the double
    # sigma join — barrier them too so the auto aggregation runs once
    barriers = {"sigk", "sigs", "sig", "tris"} | sig_barriers | tri_barriers
    return steps, "SELECT * FROM vvwide", barriers


def van_vleck_spark_wide(spark, sf_dir: str, scale: float,
                         flagged_ants: tuple[int, ...] = (3,),
                         gate: str | None = None):
    """Relational C1 on Spark over ``sf_dir``'s lineitem: lazy temp views
    for the fact-side steps (scan→melt→join stays one pushed-down plan),
    eager checkpoints for the dimension-sized barriers (see
    :func:`van_vleck_wide_steps`) — returns the corrected vis DataFrame.
    ``gate`` names a pre-registered (t, cc, _caf) temp view (the caller
    checkpoints it — pipeline.preprocess_full_rel)."""
    spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
         .createOrReplaceTempView("c1rel_lineitem")
    return X.run_steps(spark, *van_vleck_wide_steps(
        X.SPARK, scale, flagged_ants, "c1rel_lineitem", gate=gate))
