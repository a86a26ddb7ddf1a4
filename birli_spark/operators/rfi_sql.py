"""F9 (relational) — SumThreshold RFI as ONE cross-engine SQL plan,
giving the second reference-pipeline UDF island (operators/rfi.py,
reference ``src/flags.rs:368-437``) a DuckDB-checkable oracle.

The twelve sequential passes (window lengths m = 1..32, time then
frequency direction, Offringa et al. 2012) become chained window
functions: per pass, the window sum of length m starting at each grid
cell, a full-window threshold compare, and a trailing-window dilation
that flags every cell of an exceeding window. The passes are sequential
by construction (each reads the flag state the previous pass wrote) —
exactly the reference's in-place loop, spelled as 24 window layers.

Cross-engine hash-exactness: float window sums are NOT
association-stable across engines (Spark slides an accumulator, DuckDB
uses a segment tree), so the per-cell residuals are quantized to
**integer ticks of the robust sigma** (2^20 ticks per sigma,
half-up via exact FLOOR(x + 0.5)) and every window sum is a BIGINT —
exact in any association. The thresholds divide out sigma entirely:
chi_m / sigma = base_sensitivity / rho^log2(m), a data-independent
Python-computed integer literal per pass. The only cross-engine-fragile
scalars left are the two medians (median / MAD), which reuse the SSINS
pattern: aggregate-as-window with the engine's percentile /
quantile_cont and an f32 demotion to absorb interpolation ulps.

Tick quantization (~1e-6 sigma) can only flip a decision where a window
sum sits within half a tick of the threshold; tests/test_rfi_sql.py
gates flag-for-flag equality with the f64 UDF island on the driver
tables and on the reference's spike fixture.

Scale shape: the dense per-baseline image grid is (bl-t dim) x (bl-chan
dim) joined back to the fact scan; each direction change is a fact-scale
sort-exchange (12 total). That is the price of the gated relational
spelling — the UDF island (ONE image-forming shuffle, zero with
baseline bucketing) remains the 100 TB path and the pipeline/CLI
default; this plan is the hash-checkable twin of the same operator.
"""

from __future__ import annotations

from birli_spark.functions.complex import f32
from birli_spark.operators.rfi import RHO, WINDOWS

#: ticks per robust sigma — fine enough that no real window sum lands
#: within half a tick of a threshold, coarse enough for exact BIGINTs
TICKS = 1 << 20

#: clamp on |resid| / sigma before tick quantization (keeps the BIGINT
#: window sums far from overflow; anything near the clamp is flagged by
#: the m=1 pass at 6 sigma regardless)
CLAMP = 1e9

_INF = "CAST('Infinity' AS DOUBLE)"


def _chi_ticks(base_sensitivity: float, m: int) -> int:
    """floor(chi_m / sigma * TICKS + 1/2) as a Python int literal:
    chi_m = base_sensitivity * sigma / rho^log2(m) (rfi.py:84-85), so
    sigma divides out and the threshold is data-independent."""
    import math

    chi_rel = base_sensitivity / (RHO ** math.log2(m)) if m > 1 \
        else base_sensitivity
    return int(math.floor(chi_rel * TICKS + 0.5))


def _frame(lo: str, hi: str) -> str:
    return f"ROWS BETWEEN {lo} AND {hi}"


def last_work_cte(prefix: str) -> str:
    """Name of the CTE holding the post-ladder ``work`` column (all grid
    cells, before the present-only final SELECT) — the chaining point
    the iterative strategy (:func:`aoflagger_strategy_steps`) reads."""
    return f"{prefix}_p{2 * len(WINDOWS)}b"


def sumthreshold_steps(vis: str = "flagged",
                       median_fn: str = "percentile",
                       base_sensitivity: float = 6.0,
                       prefix: str = "st",
                       vis_is_base: bool = False,
                       dense_base: bool = False,
                       extra: tuple[str, ...] = (),
                       ) -> tuple[list[tuple[str, str]], str, frozenset[str]]:
    """(steps, final mask SELECT, no barriers) of SumThreshold over
    relation ``vis`` (the standard vis columns incl. ``flag``) — the
    :mod:`~birli_spark.functions.textsql` chain form. The final SELECT
    yields (ant1, ant2, t, chan, det) for every PRESENT cell, where
    ``det`` is the post-SumThreshold mask (prior flags OR-ed in) —
    callers join it back onto the fact rows and OR into ``flag``.

    ``median_fn``: "percentile" (Spark) / "quantile_cont" (DuckDB) —
    the one dialect split, identical to operators/ssins.py.

    ``dense_base``: the caller's relation is ALREADY the dense grid with
    columns (ant1, ant2, t, chan, prior, present, amp) — skip the
    bt x bc grid build (the iterative strategy reuses one grid across
    all its SumThreshold calls, so each call is pure window layers on
    the same (ant1, ant2) partitioning: zero extra shuffles).

    ``extra``: column names of ``vis`` (dense_base only) carried
    untouched through every ladder CTE — the iterative strategy threads
    the original tick image through each call this way instead of
    re-joining it per iteration.
    """
    p = prefix
    med = f32(f"CAST({median_fn}(CASE WHEN present THEN amp END, 0.5)"
              f" OVER (PARTITION BY ant1, ant2) AS DOUBLE)")
    mad = f32(f"CAST({median_fn}(CASE WHEN present THEN ad END, 0.5)"
              f" OVER (PARTITION BY ant1, ant2) AS DOUBLE)")
    re_ = "((xx_re + yy_re) / 2E0)"
    im_ = "((xx_im + yy_im) / 2E0)"
    sig = "(1.4826E0 * mad)"
    sig_ok = (f"({sig} > 0E0 AND NOT ISNAN({sig})"
              f" AND ABS({sig}) <> {_INF})")
    tick = (f"CAST(FLOOR(LEAST(GREATEST((amp - med) / {sig},"
            f" {-CLAMP!r}), {CLAMP!r}) * {float(TICKS)!r} + 5E-1)"
            f" AS BIGINT)")
    base_body = (
        # caller already built the image samples (e.g. the streaming
        # twin's drained state, streaming/rfi_stream.py)
        f"SELECT ant1, ant2, t, chan, prior, amp FROM {vis}"
        if vis_is_base else
        # fact-side amplitude image samples (Stokes-I, rfi.py:113-115).
        # ONE baseline-hash exchange here (guide §2.4) serves the whole
        # chain: the bt/bc DISTINCTs, the two grid joins (subset
        # co-partitioning, session.py requireAllClusterKeysForCoPartition
        # =false) and every (ant1, ant2[, t|chan])-partitioned window of
        # the 24-layer ladder — the un-hinted plan re-exchanged the grid
        # at every direction change (12 fact-scale exchanges). The three
        # base consumers share the one exchange via ReuseExchange, so
        # the source is also scanned once instead of three times. DuckDB
        # parses the hint as a comment; window/percentile/BIGINT-sum
        # results are order-independent, so rows are unchanged.
        f"SELECT /*+ REPARTITION(ant1, ant2) */ ant1, ant2, t, chan,"
        f" flag AS prior,"
        f" SQRT({re_} * {re_} + {im_} * {im_}) AS amp FROM {vis}")
    if dense_base:
        ex = "".join(f", {c}" for c in extra)
        grid_ctes = [
            # dense-base callers read a checkpoint barrier (unknown
            # partitioning): re-establish the one (ant1, ant2) hash so
            # the ladder runs exchange-free (same §2.4 shape as above)
            (f"{p}_g0",
             f"SELECT /*+ REPARTITION(ant1, ant2) */"
             f" ant1, ant2, t, chan, prior, present, amp{ex}"
             f" FROM {vis}")]
    else:
        grid_ctes = [
            (f"{p}_base", base_body),
            # dense per-baseline grid: this baseline's t-set x chan-set
            # (absent cells behave as flagged inside window sums and are
            # never reported, rfi.py:62-66)
            (f"{p}_bt", f"SELECT DISTINCT ant1, ant2, t FROM {p}_base"),
            (f"{p}_bc", f"SELECT DISTINCT ant1, ant2, chan FROM {p}_base"),
            (f"{p}_g0",
             f"SELECT g.ant1, g.ant2, g.t, g.chan,"
             f" COALESCE(b.prior, FALSE) AS prior,"
             f" b.ant1 IS NOT NULL AS present,"
             f" COALESCE(b.amp, 0E0) AS amp"
             f" FROM (SELECT bt.ant1, bt.ant2, bt.t, bc.chan FROM {p}_bt bt"
             f" JOIN {p}_bc bc ON bt.ant1 = bc.ant1 AND bt.ant2 = bc.ant2) g"
             f" LEFT JOIN {p}_base b ON g.ant1 = b.ant1 AND g.ant2 = b.ant2"
             f" AND g.t = b.t AND g.chan = b.chan")]
    ex = "".join(f", {c}" for c in extra)
    ctes = [
        *grid_ctes,
        # robust stats over present cells only (rfi.py:72-77), as
        # aggregate-as-window so the plan stays linear
        (f"{p}_med",
         f"SELECT *, {med} AS med FROM {p}_g0"),
        (f"{p}_mad",
         f"SELECT ant1, ant2, t, chan, prior, present, amp, med{ex},"
         f" {mad} AS mad FROM"
         f" (SELECT *, {f32('ABS(amp - med)')} AS ad FROM {p}_med)"),
        # integer-tick residuals; work0 = prior | ~present (rfi.py:81)
        (f"{p}_w0",
         f"SELECT ant1, ant2, t, chan, prior, present, amp, med{ex},"
         f" {sig_ok} AS sig_ok,"
         f" CASE WHEN {sig_ok} THEN {tick} ELSE CAST(0 AS BIGINT) END AS rq,"
         f" prior OR NOT present AS work FROM {p}_mad"),
    ]
    carry = ("ant1, ant2, t, chan, prior, present, amp, med"
             + ex + ", sig_ok, rq")
    prev = f"{p}_w0"
    step = 0
    for m in WINDOWS:
        for axis in ("t", "chan"):       # time pass, then freq pass
            part, order = (("chan", "t") if axis == "t" else ("t", "chan"))
            cq = _chi_ticks(base_sensitivity, m)
            over = f"PARTITION BY ant1, ant2, {part} ORDER BY {order}"
            fwd = (_frame("CURRENT ROW", "CURRENT ROW") if m == 1
                   else _frame("CURRENT ROW", f"{m - 1} FOLLOWING"))
            back = (_frame("CURRENT ROW", "CURRENT ROW") if m == 1
                    else _frame(f"{m - 1} PRECEDING", "CURRENT ROW"))
            step += 1
            a, b = f"{p}_p{step}a", f"{p}_p{step}b"
            # window sums of the chi-substituted residuals (rfi.py:41)
            ctes.append(
                (a,
                 f"SELECT {carry}, work,"
                 f" SUM(CASE WHEN work THEN {cq} ELSE rq END)"
                 f" OVER ({over} {fwd}) AS wsum,"
                 f" COUNT(*) OVER ({over} {fwd}) AS wcnt FROM {prev}"))
            # dilate exceeding window starts over their m cells
            ctes.append(
                (b,
                 f"SELECT {carry}, work OR MAX(CASE WHEN wcnt = {m}"
                 f" AND wsum > {cq * m} THEN 1 ELSE 0 END)"
                 f" OVER ({over} {back}) = 1 AS work FROM {a}"))
            prev = b
    # flat-image arm: sigma 0 -> anything off the median is RFI
    # (rfi.py:78-80); otherwise (work & present) | prior
    final = (
        f"SELECT ant1, ant2, t, chan,"
        f" CASE WHEN sig_ok THEN work OR prior"
        f" ELSE (amp <> med) OR prior END AS det"
        f" FROM {prev} WHERE present"
    )
    return ctes, final, frozenset()


def cell_dedup_select(vis: str = "flagged",
                      columns: tuple[str, ...] = ()) -> str:
    """One row per image cell (ant1, ant2, t, chan), deterministically:
    per-column MIN over duplicate rows (flags OR-combined). The synthetic
    driver tables map several lineitem rows onto one correlator cell; the
    reference's data model has exactly one visibility per cell, and the
    UDF island's image-forming write (rfi.py:115) is last-row-wins —
    order-dependent under a shuffle. Both the UDF and relational F9
    surfaces run on this reduction so the operator is deterministic and
    the cross-engine MIN/MAX aggregation is association-free exact."""
    keys = {"ant1", "ant2", "t", "chan"}
    agg = ", ".join(
        c if c in keys
        else "MAX(CASE WHEN flag THEN 1 ELSE 0 END) = 1 AS flag"
        if c == "flag" else f"MIN({c}) AS {c}"
        for c in columns)
    return f"SELECT {agg} FROM {vis} GROUP BY ant1, ant2, t, chan"


def flag_rfi_steps(vis: str = "flagged",
                   median_fn: str = "percentile",
                   columns: tuple[str, ...] = (),
                   dedup: bool = False,
                   ) -> tuple[list[tuple[str, str]], str, frozenset[str]]:
    """(steps incl. the mask ``st_mask``, final SELECT, barriers) yielding
    ``vis`` with the SumThreshold mask OR-ed into ``flag`` (the F9
    operator's output contract, rfi.py:93-130), over a chain that already
    binds ``vis``.

    ``dedup``: ``vis`` may hold several rows per image cell (the
    flowchart's RFI slot) — the image is the cell-unique reduction
    :func:`cell_dedup_select` (step ``st_cell``, a barrier: it is
    (bl x t x chan)-sized, and the 24-layer ladder then analyzes against
    its rows instead of the whole upstream plan), and the mask is OR-ed
    onto every row of its cell. Without it ``vis`` is the image itself."""
    steps: list[tuple[str, str]] = []
    image = vis
    if dedup:
        image = "st_cell"
        steps.append((image, cell_dedup_select(vis, columns)))
    ladder, mask, _ = sumthreshold_steps(image, median_fn)
    steps += [*ladder, ("st_mask", mask)]
    out_cols = ", ".join(
        "(v.flag OR m.det) AS flag" if c == "flag" else f"v.{c}"
        for c in columns)
    # the mask side leaves the ladder (ant1, ant2)-partitioned; hashing
    # the vis side the same way makes the join-back subset
    # co-partitioned (one vis exchange, zero mask exchanges) — and, over
    # the image itself, the hinted vis scan is the SAME exchange subtree
    # the ladder's base uses, so ReuseExchange computes it once (guide
    # §2.4/§3)
    final = (
        f"SELECT {out_cols} FROM"
        f" (SELECT /*+ REPARTITION(ant1, ant2) */ * FROM {vis}) v"
        f" JOIN st_mask m"
        f" ON v.ant1 = m.ant1 AND v.ant2 = m.ant2"
        f" AND v.t = m.t AND v.chan = m.chan"
    )
    return steps, final, frozenset({image} if dedup else ())


# ------------------------------------------------- SIR morphology ---

def sir_steps(mask: str = "st_mask", eta: float = 0.2,
              prefix: str = "sir",
              extra: tuple[str, ...] = (),
              repartition_head: bool = False,
              ) -> tuple[list[tuple[str, str]], str, frozenset[str]]:
    """(steps, final SELECT, no barriers) of the scale-invariant-rank
    dilation (Offringa & van de Gronde 2012 — the morphological post-pass
    of AOFlagger's strategy, reference src/flags.rs:368-437 via FFI) over
    a mask relation (ant1, ant2, t, chan, det): time direction, then
    frequency on the time-dilated mask (rfi.py::sir_mask).

    Per 1-D pass: with integer-tick weights w = eta*D (flagged) /
    (eta-1)*D (unflagged) and P the exclusive prefix sum, sample i
    dilates iff max_{k>i} P(k) - min_{j<=i} P(j) >= 0 — a running sum,
    a forward running max, and a backward running min: three window
    layers, all BIGINT (association-exact in both engines).

    ``repartition_head``: the mask relation is a checkpoint barrier
    (unknown partitioning) — re-establish the one (ant1, ant2) hash at
    the first pass so both directions' windows run off a single
    exchange (guide §2.4). Leave False when the mask is in-plan and
    already (ant1, ant2)-partitioned (the f9c composition), where the
    hint would force a redundant shuffle."""
    from birli_spark.operators.rfi import SIR_D

    en = int(round(eta * SIR_D))
    p = prefix
    ex = "".join(f", {c}" for c in extra)

    def pass_ctes(src: str, part: str, order: str,
                  tag: str) -> list[tuple[str, str]]:
        over = f"PARTITION BY ant1, ant2, {part} ORDER BY {order}"
        return [
            (f"{p}_{tag}p",
             f"SELECT ant1, ant2, t, chan, det{ex},"
             f" SUM(CASE WHEN det THEN {en} ELSE {en - SIR_D} END)"
             f" OVER ({over} ROWS BETWEEN UNBOUNDED PRECEDING AND"
             f" CURRENT ROW) AS p_incl,"
             f" CASE WHEN det THEN {en} ELSE {en - SIR_D} END AS w"
             f" FROM {src}"),
            (f"{p}_{tag}o",
             f"SELECT ant1, ant2, t, chan{ex},"
             f" MAX(p_incl) OVER ({over} ROWS BETWEEN CURRENT ROW AND"
             f" UNBOUNDED FOLLOWING)"
             f" - MIN(p_incl - w) OVER ({over} ROWS BETWEEN UNBOUNDED"
             f" PRECEDING AND CURRENT ROW) >= 0 AS det"
             f" FROM {p}_{tag}p"),
        ]

    head = (f"(SELECT /*+ REPARTITION(ant1, ant2) */ * FROM {mask})"
            if repartition_head else mask)
    steps = (pass_ctes(head, "chan", "t", "t")
             + pass_ctes(f"{p}_to", "t", "chan", "f"))
    final = f"SELECT ant1, ant2, t, chan, det{ex} FROM {p}_fo"
    return steps, final, frozenset()


# ------------------------------------ F9d: iterative AOFlagger strategy ---

def _lp_off(col: str, d: int, over: str) -> str:
    """Value of ``col`` at row offset ``d`` inside the window partition
    (NULL past the edge — the kernel truncates like the numpy twin)."""
    if d == 0:
        return col
    fn = "LEAD" if d > 0 else "LAG"
    return f"{fn}({col}, {abs(d)}) OVER ({over})"


def _lp_sum(col: str, kernel: tuple[int, ...], radius: int,
            over: str) -> str:
    return " + ".join(
        f"{g} * COALESCE({_lp_off(col, dd, over)}, CAST(0 AS BIGINT))"
        for dd, g in zip(range(-radius, radius + 1), kernel))


def aoflagger_strategy_steps(vis: str = "flagged",
                             median_fn: str = "percentile",
                             base_sensitivity: float = 6.0,
                             eta: float | None = 0.2,
                             prefix: str = "aof",
                             ) -> tuple[list[tuple[str, str]], str,
                                        set[str]]:
    """F9d — the published AOFlagger GENERIC strategy structure
    (Offringa, aoflagger docs "the generic strategy"; the reference runs
    the derived mwa-default via FFI, src/flags.rs:368-437) as ordered
    relational steps: standardize the Stokes-I image to integer ticks
    once, then iterate {SumThreshold at ``base_sensitivity *
    AOF_STEP^(AOF_ITERS-i)`` -> subtract the flag-masked separable
    Gaussian sliding-window fit of the ORIGINAL tick image}, final
    SumThreshold at full sensitivity, then SIR. All arithmetic after
    the one f32 median/MAD standardization is exact BIGINT (integer
    kernel weights, half-up integer division), so both engines build
    identical residual images; tick semantics mirror operators/rfi.py::
    aoflagger_strategy_mask cell for cell.

    Returns ``(steps, final_select, barriers)``; barriers mark the
    grid-sized relations :func:`textsql.run_steps` checkpoints, so each
    iteration's ~30 window layers analyze against a materialized input
    instead of the whole upstream chain. The one dialect split is
    ``median_fn`` ("percentile" -> Spark, "quantile_cont" -> DuckDB);
    integer division spells DIV / // accordingly.
    """
    from birli_spark.operators.rfi import (
        AOF_ITERS, AOF_STEP, LP_CLAMP_SIGMA, LP_RADIUS_F, LP_RADIUS_T,
        LP_SIGMA_F, LP_SIGMA_T, LP_TICKS, lp_kernel)

    idiv = "DIV" if median_fn == "percentile" else "//"
    p = prefix
    clampt = int(LP_CLAMP_SIGMA) * LP_TICKS
    g_t = lp_kernel(LP_RADIUS_T, LP_SIGMA_T)
    g_f = lp_kernel(LP_RADIUS_F, LP_SIGMA_F)

    med = f32(f"CAST({median_fn}(CASE WHEN present THEN amp END, 0.5)"
              f" OVER (PARTITION BY ant1, ant2) AS DOUBLE)")
    mad = f32(f"CAST({median_fn}(CASE WHEN present THEN ad END, 0.5)"
              f" OVER (PARTITION BY ant1, ant2) AS DOUBLE)")
    re_ = "((xx_re + yy_re) / 2E0)"
    im_ = "((xx_im + yy_im) / 2E0)"
    sig = "(1.4826E0 * mad)"
    sig_ok = (f"({sig} > 0E0 AND NOT ISNAN({sig})"
              f" AND ABS({sig}) <> {_INF})")
    tick = (f"CAST(FLOOR(LEAST(GREATEST((amp - med) / {sig},"
            f" {-float(LP_CLAMP_SIGMA)!r}), {float(LP_CLAMP_SIGMA)!r})"
            f" * {float(LP_TICKS)!r} + 5E-1) AS BIGINT)")
    steps: list[tuple[str, str]] = [
        # one (ant1, ant2) hash exchange serves the DISTINCTs, grid
        # joins and every window below (guide §2.4; see
        # sumthreshold_steps for the full argument)
        (f"{p}_base",
         f"SELECT /*+ REPARTITION(ant1, ant2) */ ant1, ant2, t, chan,"
         f" flag AS prior,"
         f" SQRT({re_} * {re_} + {im_} * {im_}) AS amp FROM {vis}"),
        (f"{p}_bt", f"SELECT DISTINCT ant1, ant2, t FROM {p}_base"),
        (f"{p}_bc", f"SELECT DISTINCT ant1, ant2, chan FROM {p}_base"),
        (f"{p}_g0",
         f"SELECT g.ant1, g.ant2, g.t, g.chan,"
         f" COALESCE(b.prior, FALSE) AS prior,"
         f" b.ant1 IS NOT NULL AS present,"
         f" COALESCE(b.amp, 0E0) AS amp"
         f" FROM (SELECT bt.ant1, bt.ant2, bt.t, bc.chan FROM {p}_bt bt"
         f" JOIN {p}_bc bc ON bt.ant1 = bc.ant1 AND bt.ant2 = bc.ant2) g"
         f" LEFT JOIN {p}_base b ON g.ant1 = b.ant1 AND g.ant2 = b.ant2"
         f" AND g.t = b.t AND g.chan = b.chan"),
        (f"{p}_m1", f"SELECT *, {med} AS med FROM {p}_g0"),
        (f"{p}_m2",
         f"SELECT ant1, ant2, t, chan, prior, present, amp, med,"
         f" {mad} AS mad FROM"
         f" (SELECT *, {f32('ABS(amp - med)')} AS ad FROM {p}_m1)"),
        # one standardization for the whole strategy; sigma==0 arm sends
        # off-median cells to the clamp (rfi.py::standardize_ticks)
        (f"{p}_x0",
         f"SELECT ant1, ant2, t, chan, present,"
         f" prior OR NOT present AS work,"
         f" CASE WHEN {sig_ok} THEN {tick}"
         f" WHEN amp <> med THEN CAST({clampt} AS BIGINT)"
         f" ELSE CAST(0 AS BIGINT) END AS x FROM {p}_m2"),
        (f"{p}_in0",
         f"SELECT ant1, ant2, t, chan, work AS prior, present,"
         f" CAST(x AS DOUBLE) AS amp, x FROM {p}_x0"),
    ]
    barriers = {f"{p}_x0"}
    cur = f"{p}_in0"
    for i in range(1, AOF_ITERS):
        factor = AOF_STEP ** (AOF_ITERS - i)
        sp = f"{p}s{i}"
        st, _, _ = sumthreshold_steps(cur, median_fn,
                                      base_sensitivity * factor,
                                      prefix=sp, dense_base=True,
                                      extra=("x",))
        steps.extend(st)
        last = last_work_cte(sp)
        over_t = "PARTITION BY ant1, ant2, chan ORDER BY t"
        over_f = "PARTITION BY ant1, ant2, t ORDER BY chan"
        steps.extend([
            # fold the ladder + flat arm into the accumulated mask
            # (absent cells stay flagged for every later call)
            (f"{p}_w{i}",
             f"SELECT ant1, ant2, t, chan, present, x,"
             f" CASE WHEN present THEN"
             f" CASE WHEN sig_ok THEN work OR prior"
             f" ELSE (amp <> med) OR prior END"
             f" ELSE TRUE END AS work FROM {last}"),
            (f"{p}_l{i}a",
             f"SELECT ant1, ant2, t, chan, present, x, work,"
             f" CASE WHEN NOT work AND present THEN x"
             f" ELSE CAST(0 AS BIGINT) END AS xm,"
             f" CASE WHEN NOT work AND present THEN CAST(1 AS BIGINT)"
             f" ELSE CAST(0 AS BIGINT) END AS mi FROM {p}_w{i}"),
            # separable masked Gaussian fit: time kernel then channel
            # kernel, numerator / denominator as exact BIGINTs
            # l{i}a is a checkpoint barrier: one (ant1, ant2) re-hash
            # serves both kernel directions' windows (guide §2.4)
            (f"{p}_l{i}b",
             f"SELECT ant1, ant2, t, chan, present, x, work,"
             f" {_lp_sum('xm', g_t, LP_RADIUS_T, over_t)} AS num1,"
             f" {_lp_sum('mi', g_t, LP_RADIUS_T, over_t)} AS den1"
             f" FROM (SELECT /*+ REPARTITION(ant1, ant2) */ *"
             f" FROM {p}_l{i}a)"),
            (f"{p}_l{i}c",
             f"SELECT ant1, ant2, t, chan, present, x, work,"
             f" {_lp_sum('num1', g_f, LP_RADIUS_F, over_f)} AS num2,"
             f" {_lp_sum('den1', g_f, LP_RADIUS_F, over_f)} AS den2"
             f" FROM {p}_l{i}b"),
            # resid = x - round_half_up(num2/den2), spelled as the
            # math-mod floor of (2 num + den)/(2 den) — exact in BIGINT,
            # identical in both engines (numerator is an exact multiple)
            (f"{p}_r{i}",
             f"SELECT ant1, ant2, t, chan, work AS prior, present,"
             f" CAST(x - (CASE WHEN den2 > 0 THEN"
             f" ((2 * num2 + den2) - (((2 * num2 + den2) % (2 * den2)"
             f" + 2 * den2) % (2 * den2))) {idiv} (2 * den2)"
             f" ELSE CAST(0 AS BIGINT) END) AS DOUBLE) AS amp, x"
             f" FROM {p}_l{i}c"),
        ])
        # each iteration's folded mask, fit input and residual are
        # barriers: the next ~30 window layers analyze against
        # materialized rows instead of the whole upstream ladder
        barriers.update({f"{p}_w{i}", f"{p}_l{i}a", f"{p}_r{i}"})
        cur = f"{p}_r{i}"
    sf_ = f"{p}sf"
    st, _, _ = sumthreshold_steps(cur, median_fn, base_sensitivity,
                                  prefix=sf_, dense_base=True)
    steps.extend(st)
    last = last_work_cte(sf_)
    steps.append(
        (f"{p}_det",
         f"SELECT ant1, ant2, t, chan, present,"
         f" CASE WHEN present THEN"
         f" CASE WHEN sig_ok THEN work OR prior"
         f" ELSE (amp <> med) OR prior END"
         f" ELSE FALSE END AS det FROM {last}"))
    barriers.add(f"{p}_det")
    if eta is None:
        return steps, (f"SELECT ant1, ant2, t, chan, det FROM {p}_det"
                       f" WHERE present"), barriers
    # SIR over the DENSE grid (absent cells block dilation as
    # unflagged=False cells, mirroring the numpy twin's image shape);
    # det is a barrier — re-establish (ant1, ant2) once for both passes
    steps += sir_steps(f"{p}_det", eta, prefix=f"{p}r",
                       extra=("present",), repartition_head=True)[0]
    final = (f"SELECT ant1, ant2, t, chan, det FROM {p}r_fo"
             f" WHERE present")
    return steps, final, barriers


# ------------------------------ F9e: the mwa-default orchestration ---

def _rms_line_ctes(p: str, tag: str, src: str, line: str, other: str,
                   median_fn: str, thr: float, both: bool,
                   work_col: str = "work") -> tuple[list[tuple[str, str]],
                                                    str]:
    """CTE chain for one aoflagger rms-threshold pass over relation
    ``src`` (dense grid with BIGINT-valued resid ``amp``, ``present``,
    ``work_col``): per-``line`` f32 RMS of the unflagged resid (exact
    BIGINT sum of squares), median/MAD of the line RMSes within the
    (ant1, ant2) partition, out = lines beyond ``thr`` robust sigmas
    (HIGH side; ``both`` adds the low side — aoflagger
    threshold_channel_rms's third argument). Returns (ctes, name of the
    (ant1, ant2, line, out) relation); rfi.py::_rms_outliers is the
    numpy twin."""
    q = f"{p}_{tag}"
    ok = f"(NOT {work_col} AND present)"
    xb = "CAST(amp AS BIGINT)"
    rms = f32(f"SQRT(CAST(SUM(CASE WHEN {ok} THEN {xb} * {xb}"
              f" ELSE CAST(0 AS BIGINT) END) AS DOUBLE)"
              f" / CAST(GREATEST(SUM(CASE WHEN {ok} THEN 1 ELSE 0 END),"
              f" 1) AS BIGINT))")
    med = f32(f"CAST({median_fn}(rms, 0.5)"
              f" OVER (PARTITION BY ant1, ant2) AS DOUBLE)")
    mad = f32(f"CAST({median_fn}(ad, 0.5)"
              f" OVER (PARTITION BY ant1, ant2) AS DOUBLE)")
    sig = f"(1.4826E0 * mad)"
    sig_ok = (f"({sig} > 0E0 AND NOT ISNAN({sig})"
              f" AND ABS({sig}) <> {_INF})")
    out = f"rms > med + {thr!r} * {sig}"
    if both:
        out = f"({out}) OR (rms < med - {thr!r} * {sig})"
    ctes = [
        (f"{q}r",
         f"SELECT ant1, ant2, {line},"
         f" CASE WHEN SUM(CASE WHEN {ok} THEN 1 ELSE 0 END) > 0"
         f" THEN {rms} END AS rms"
         f" FROM {src} GROUP BY ant1, ant2, {line}"),
        (f"{q}m",
         f"SELECT *, {med} AS med,"
         f" COUNT(rms) OVER (PARTITION BY ant1, ant2) AS nl"
         f" FROM {q}r"),
        (f"{q}s",
         f"SELECT ant1, ant2, {line}, rms, med, nl, {mad} AS mad FROM"
         f" (SELECT *, {f32('ABS(rms - med)')} AS ad FROM {q}m)"),
        (f"{q}o",
         f"SELECT ant1, ant2, {line},"
         f" CASE WHEN rms IS NOT NULL AND nl >= 2 AND {sig_ok}"
         f" THEN {out} ELSE FALSE END AS line_out FROM {q}s"),
    ]
    return ctes, f"{q}o"


def mwa_strategy_steps(vis: str = "flagged",
                       median_fn: str = "percentile",
                       base_sensitivity: float = 6.0,
                       eta: float | None = 0.2,
                       prefix: str = "mwa",
                       ) -> tuple[list[tuple[str, str]], str, set[str]]:
    """F9e — the mwa-default AOFlagger orchestration (the strategy the
    reference FFIs, src/flags.rs:354-437; constants from the published
    strategy file the goldens were produced with,
    tests/data/README.md:394-412) as ordered relational steps:

      per polarization (melted into the partition key: ant2 <- ant2*4+p
      so every f9d window layer runs unchanged on per-pol images):
        standardize to ticks, then per non-final iteration
        { SumThreshold at base * AOF_STEP^(AOF_ITERS-i) ->
          threshold_timestep_rms(3.5) -> threshold_channel_rms(3*factor,
          both sides) -> masked Gaussian fit of the ORIGINAL ticks on
          the (t, chan DIV 3) downsampled grid, replicated back ->
          residual }, final SumThreshold at base;
      un-melt (BOOL_OR over pols) + all-pol-zero flagging, SIR once on
      the joined mask, final threshold_timestep_rms(4.0) over every
      (chan, pol) cell.

    Tick semantics mirror rfi.py::mwa_strategy_mask_pols cell for cell
    (tests/test_mwa_strategy.py); the measured flag agreement against
    the reference's own cotter mwa-default golden lives in
    tests/test_golden_mwa_flags.py. Same return contract as
    :func:`aoflagger_strategy_steps`; the DuckDB oracle renders the
    barriers MATERIALIZED — DuckDB inlines a multi-consumer CTE into each
    consumer, and the melted chain's fan-outs (w/wt/wb/l{i}a) would
    otherwise re-execute the whole upstream ladder per consumer
    (measured 73 s -> ~3 s at sf0.01)."""
    from birli_spark.operators.rfi import (
        AOF_ITERS, AOF_STEP, LP_CLAMP_SIGMA, LP_RADIUS_F, LP_RADIUS_T,
        LP_SIGMA_F, LP_SIGMA_T, LP_TICKS, MWA_CH_RMS, MWA_FINAL_TS_RMS,
        MWA_FREQ_RESIZE, MWA_POLS, MWA_TS_RMS, lp_kernel)

    idiv = "DIV" if median_fn == "percentile" else "//"
    p = prefix
    rf = MWA_FREQ_RESIZE
    clampt = int(LP_CLAMP_SIGMA) * LP_TICKS
    g_t = lp_kernel(LP_RADIUS_T, LP_SIGMA_T)
    g_f = lp_kernel(LP_RADIUS_F, LP_SIGMA_F)

    med = f32(f"CAST({median_fn}(CASE WHEN present THEN amp END, 0.5)"
              f" OVER (PARTITION BY ant1, ant2) AS DOUBLE)")
    mad = f32(f"CAST({median_fn}(CASE WHEN present THEN ad END, 0.5)"
              f" OVER (PARTITION BY ant1, ant2) AS DOUBLE)")
    sig = "(1.4826E0 * mad)"
    sig_ok = (f"({sig} > 0E0 AND NOT ISNAN({sig})"
              f" AND ABS({sig}) <> {_INF})")
    tick = (f"CAST(FLOOR(LEAST(GREATEST((amp - med) / {sig},"
            f" {-float(LP_CLAMP_SIGMA)!r}), {float(LP_CLAMP_SIGMA)!r})"
            f" * {float(LP_TICKS)!r} + 5E-1) AS BIGINT)")
    # per-pol amplitude melt: pol index packed into the partition key so
    # every downstream window layer sees independent per-pol images
    melt = " UNION ALL ".join(
        f"SELECT ant1, ant2 * 4 + {k} AS ant2, t, chan, flag AS prior,"
        f" SQRT({pol}_re * {pol}_re + {pol}_im * {pol}_im) AS amp"
        f" FROM {vis}"
        for k, pol in enumerate(MWA_POLS))
    steps: list[tuple[str, str]] = [
        (f"{p}_base", melt),
        # a UNION ALL has no output partitioning, so hash the melted
        # image ONCE by its per-pol baseline key right after the melt
        # (guide §2.4): the DISTINCTs, grid joins and every window of
        # the ladders below then run off this single exchange (the
        # three consumers share it via ReuseExchange)
        (f"{p}_rb",
         f"SELECT /*+ REPARTITION(ant1, ant2) */ * FROM {p}_base"),
        (f"{p}_bt", f"SELECT DISTINCT ant1, ant2, t FROM {p}_rb"),
        (f"{p}_bc", f"SELECT DISTINCT ant1, ant2, chan FROM {p}_rb"),
        (f"{p}_g0",
         f"SELECT g.ant1, g.ant2, g.t, g.chan,"
         f" COALESCE(b.prior, FALSE) AS prior,"
         f" b.ant1 IS NOT NULL AS present,"
         f" COALESCE(b.amp, 0E0) AS amp"
         f" FROM (SELECT bt.ant1, bt.ant2, bt.t, bc.chan FROM {p}_bt bt"
         f" JOIN {p}_bc bc ON bt.ant1 = bc.ant1 AND bt.ant2 = bc.ant2) g"
         f" LEFT JOIN {p}_rb b ON g.ant1 = b.ant1 AND g.ant2 = b.ant2"
         f" AND g.t = b.t AND g.chan = b.chan"),
        (f"{p}_m1", f"SELECT *, {med} AS med FROM {p}_g0"),
        (f"{p}_m2",
         f"SELECT ant1, ant2, t, chan, prior, present, amp, med,"
         f" {mad} AS mad FROM"
         f" (SELECT *, {f32('ABS(amp - med)')} AS ad FROM {p}_m1)"),
        (f"{p}_x0",
         f"SELECT ant1, ant2, t, chan, present,"
         f" prior OR NOT present AS work,"
         f" amp = 0E0 AND present AS zeroamp,"
         f" CASE WHEN {sig_ok} THEN {tick}"
         f" WHEN amp <> med THEN CAST({clampt} AS BIGINT)"
         f" ELSE CAST(0 AS BIGINT) END AS x FROM {p}_m2"),
        (f"{p}_in0",
         f"SELECT ant1, ant2, t, chan, work AS prior, present,"
         f" CAST(x AS DOUBLE) AS amp, x FROM {p}_x0"),
    ]
    barriers = {f"{p}_x0"}
    cur = f"{p}_in0"
    over_t = "PARTITION BY ant1, ant2, chan ORDER BY t"
    over_fg = "PARTITION BY ant1, ant2, t ORDER BY cg"

    def lp_sum(col, kernel, radius, over):
        return _lp_sum(col, kernel, radius, over)

    for i in range(1, AOF_ITERS):
        factor = AOF_STEP ** (AOF_ITERS - i)
        sp = f"{p}s{i}"
        st, _, _ = sumthreshold_steps(cur, median_fn,
                                      base_sensitivity * factor,
                                      prefix=sp, dense_base=True,
                                      extra=("x",))
        steps.extend(st)
        last = last_work_cte(sp)
        steps.append(
            (f"{p}_w{i}",
             f"SELECT ant1, ant2, t, chan, present, x, amp,"
             f" CASE WHEN present THEN"
             f" CASE WHEN sig_ok THEN work OR prior"
             f" ELSE (amp <> med) OR prior END"
             f" ELSE TRUE END AS work FROM {last}"))
        # aoflagger threshold_timestep_rms(3.5) then, with the timestep
        # flags visible, threshold_channel_rms(3*factor, both) — both on
        # the residual (rfi.py::mwa_strategy_mask order)
        ts_ctes, ts_rel = _rms_line_ctes(p, f"t{i}", f"{p}_w{i}", "t",
                                         "chan", median_fn, MWA_TS_RMS,
                                         both=False)
        steps.extend(ts_ctes)
        # the line-outlier relation is (baseline x line)-sized — bounded
        # by grid dims, never fact-sized — so broadcast it instead of
        # letting the statless checkpoint-backed join plan a grid-wide
        # sort-merge exchange (guide §3.1; DuckDB reads the hint as a
        # comment and picks its own join order)
        steps.append(
            (f"{p}_wt{i}",
             f"SELECT /*+ BROADCAST(r) */"
             f" w.ant1, w.ant2, w.t, w.chan, w.present, w.x,"
             f" w.amp, w.work OR COALESCE(r.line_out, FALSE) AS work"
             f" FROM {p}_w{i} w LEFT JOIN {ts_rel} r"
             f" ON w.ant1 = r.ant1 AND w.ant2 = r.ant2 AND w.t = r.t"))
        ch_ctes, ch_rel = _rms_line_ctes(p, f"c{i}", f"{p}_wt{i}",
                                         "chan", "t", median_fn,
                                         MWA_CH_RMS * factor, both=True)
        steps.extend(ch_ctes)
        steps.append(
            (f"{p}_wb{i}",
             f"SELECT /*+ BROADCAST(r) */"
             f" w.ant1, w.ant2, w.t, w.chan, w.present, w.x,"
             f" w.work OR COALESCE(r.line_out, FALSE) AS work"
             f" FROM {p}_wt{i} w LEFT JOIN {ch_rel} r"
             f" ON w.ant1 = r.ant1 AND w.ant2 = r.ant2"
             f" AND w.chan = r.chan"))
        # masked Gaussian fit of the ORIGINAL ticks on the
        # (t, chan DIV rf) grid (rfi.py::lowpass_resized_ticks): block
        # masked means, kernels at group resolution, replicated back
        steps.extend([
            (f"{p}_l{i}a",
             f"SELECT ant1, ant2, t, chan, present, x, work,"
             f" chan {idiv} {rf} AS cg,"
             f" CASE WHEN NOT work AND present THEN x"
             f" ELSE CAST(0 AS BIGINT) END AS xm,"
             f" CASE WHEN NOT work AND present THEN CAST(1 AS BIGINT)"
             f" ELSE CAST(0 AS BIGINT) END AS mi FROM {p}_wb{i}"),
            # l{i}a is a checkpoint barrier: one (ant1, ant2) re-hash
            # serves this block aggregate, both kernel windows below
            # AND the l{i}a side of the r{i} join (guide §2.4)
            (f"{p}_l{i}g",
             f"SELECT ant1, ant2, t, cg,"
             f" CASE WHEN SUM(mi) > 0 THEN"
             f" ((2 * SUM(xm) + SUM(mi)) - (((2 * SUM(xm) + SUM(mi))"
             f" % (2 * SUM(mi)) + 2 * SUM(mi)) % (2 * SUM(mi))))"
             f" {idiv} (2 * SUM(mi)) ELSE CAST(0 AS BIGINT) END AS xg,"
             f" CASE WHEN SUM(mi) > 0 THEN CAST(1 AS BIGINT)"
             f" ELSE CAST(0 AS BIGINT) END AS mg"
             f" FROM (SELECT /*+ REPARTITION(ant1, ant2) */ *"
             f" FROM {p}_l{i}a) GROUP BY ant1, ant2, t, cg"),
            (f"{p}_l{i}b",
             f"SELECT ant1, ant2, t, cg,"
             f" {lp_sum('(xg * mg)', g_t, LP_RADIUS_T, 'PARTITION BY ant1, ant2, cg ORDER BY t')} AS num1,"
             f" {lp_sum('mg', g_t, LP_RADIUS_T, 'PARTITION BY ant1, ant2, cg ORDER BY t')} AS den1"
             f" FROM {p}_l{i}g"),
            (f"{p}_l{i}c",
             f"SELECT ant1, ant2, t, cg,"
             f" {lp_sum('num1', g_f, LP_RADIUS_F, over_fg)} AS num2,"
             f" {lp_sum('den1', g_f, LP_RADIUS_F, over_fg)} AS den2"
             f" FROM {p}_l{i}b"),
            # both sides hashed by (ant1, ant2): the f side inherits it
            # from l{i}g's exchange, the barrier-backed w side re-hashes
            # once — subset co-partitioning makes the join exchange-free
            (f"{p}_r{i}",
             f"SELECT w.ant1, w.ant2, w.t, w.chan, w.work AS prior,"
             f" w.present,"
             f" CAST(w.x - (CASE WHEN f.den2 > 0 THEN"
             f" ((2 * f.num2 + f.den2) - (((2 * f.num2 + f.den2)"
             f" % (2 * f.den2) + 2 * f.den2) % (2 * f.den2)))"
             f" {idiv} (2 * f.den2)"
             f" ELSE CAST(0 AS BIGINT) END) AS DOUBLE) AS amp, w.x"
             f" FROM (SELECT /*+ REPARTITION(ant1, ant2) */ *"
             f" FROM {p}_l{i}a) w JOIN {p}_l{i}c f"
             f" ON w.ant1 = f.ant1 AND w.ant2 = f.ant2 AND w.t = f.t"
             f" AND w.cg = f.cg"),
        ])
        # w/wt/wb/l{i}a each feed TWO consumers (an rms GROUP BY or
        # block aggregate AND a join-back) — barrier them so the
        # 24-layer ladder behind each executes once, not once per
        # consumer (Spark: localCheckpoint; DuckDB: MATERIALIZED)
        barriers.update({f"{p}_w{i}", f"{p}_wt{i}", f"{p}_wb{i}",
                         f"{p}_l{i}a", f"{p}_r{i}"})
        cur = f"{p}_r{i}"
    sf_ = f"{p}sf"
    st, _, _ = sumthreshold_steps(cur, median_fn, base_sensitivity,
                                  prefix=sf_, dense_base=True)
    steps.extend(st)
    last = last_work_cte(sf_)
    steps.append(
        (f"{p}_det",
         f"SELECT ant1, ant2, t, chan, present,"
         f" CASE WHEN present THEN"
         f" CASE WHEN sig_ok THEN work OR prior"
         f" ELSE (amp <> med) OR prior END"
         f" ELSE FALSE END AS det FROM {last}"))
    barriers.add(f"{p}_det")
    # un-melt: OR over the four pol images + all-pol-zero flagging
    # (aoflagger flag_zeros), back on the REAL ant2
    steps.extend([
        (f"{p}_or",
         f"SELECT ant1, ant2 {idiv} 4 AS ant2, t, chan,"
         f" BOOL_OR(det) AS det, BOOL_OR(present) AS present"
         f" FROM {p}_det GROUP BY ant1, ant2 {idiv} 4, t, chan"),
        (f"{p}_zero",
         f"SELECT ant1, ant2 {idiv} 4 AS ant2, t, chan,"
         f" BOOL_AND(zeroamp) AS allzero"
         f" FROM {p}_x0 GROUP BY ant1, ant2 {idiv} 4, t, chan"),
        (f"{p}_j",
         f"SELECT o.ant1, o.ant2, o.t, o.chan, o.present,"
         f" o.det OR (COALESCE(z.allzero, FALSE) AND o.present) AS det"
         f" FROM {p}_or o LEFT JOIN {p}_zero z ON o.ant1 = z.ant1"
         f" AND o.ant2 = z.ant2 AND o.t = z.t AND o.chan = z.chan"),
    ])
    barriers.add(f"{p}_j")
    post = f"{p}_j"
    if eta is not None:
        steps += sir_steps(f"{p}_j", eta, prefix=f"{p}r",
                           extra=("present",), repartition_head=True)[0]
        post = f"{p}r_fo"
        # the post-SIR mask feeds both the final ts-rms aggregate and
        # the closing join
        barriers.add(post)
    # final threshold_timestep_rms(4.0) over every (chan, pol) cell of
    # the joined mask (rfi.py::mwa_strategy_mask_pols tail): per-pol
    # ticks from {p}_x0 under the joined post-SIR mask
    steps.extend([
        (f"{p}_f0",
         f"SELECT x.ant1, x.ant2 {idiv} 4 AS ant2r, x.t, x.chan, x.x,"
         f" (NOT x.work AND x.present) AS okp"
         f" FROM {p}_x0 x"),
        # both sides are checkpoint barriers: hash each ONCE by its
        # baseline key (the join-key prefix, positionally aligned
        # f.ant2r = m.ant2) so the grid-scale join runs off two subset
        # co-partitioned exchanges instead of two 4-key ones, and the
        # (ant1, ant2r, t) aggregate reuses the f-side partitioning
        (f"{p}_f1",
         f"SELECT f.ant1, f.ant2r AS ant2, f.t,"
         f" SUM(CASE WHEN f.okp AND NOT m.det THEN f.x * f.x"
         f" ELSE CAST(0 AS BIGINT) END) AS sumsq,"
         f" SUM(CASE WHEN f.okp AND NOT m.det THEN 1 ELSE 0 END) AS n"
         f" FROM (SELECT /*+ REPARTITION(ant1, ant2r) */ *"
         f" FROM {p}_f0) f"
         f" JOIN (SELECT /*+ REPARTITION(ant1, ant2) */ *"
         f" FROM {post}) m ON f.ant1 = m.ant1"
         f" AND f.ant2r = m.ant2 AND f.t = m.t AND f.chan = m.chan"
         f" GROUP BY f.ant1, f.ant2r, f.t"),
        (f"{p}_f2",
         f"SELECT ant1, ant2, t, CASE WHEN n > 0 THEN"
         f" {f32('SQRT(CAST(sumsq AS DOUBLE) / CAST(GREATEST(n, 1) AS BIGINT))')}"
         f" END AS rms FROM {p}_f1"),
        (f"{p}_f3",
         f"SELECT *, {f32(f'CAST({median_fn}(rms, 0.5) OVER (PARTITION BY ant1, ant2) AS DOUBLE)')} AS med,"
         f" COUNT(rms) OVER (PARTITION BY ant1, ant2) AS nl FROM {p}_f2"),
        (f"{p}_f4",
         f"SELECT ant1, ant2, t, rms, med, nl,"
         f" {f32(f'CAST({median_fn}(ad, 0.5) OVER (PARTITION BY ant1, ant2) AS DOUBLE)')} AS mad FROM"
         f" (SELECT *, {f32('ABS(rms - med)')} AS ad FROM {p}_f3)"),
        (f"{p}_f5",
         f"SELECT ant1, ant2, t,"
         f" CASE WHEN rms IS NOT NULL AND nl >= 2"
         f" AND (1.4826E0 * mad) > 0E0 AND NOT ISNAN(1.4826E0 * mad)"
         f" AND ABS(1.4826E0 * mad) <> {_INF}"
         f" THEN rms > med + {float(MWA_FINAL_TS_RMS)!r}"
         f" * (1.4826E0 * mad) ELSE FALSE END AS ts_out FROM {p}_f4"),
    ])
    # f5 is (baseline x timestep)-sized — broadcast it rather than
    # sort-merging the grid-scale mask against a statless checkpoint
    final = (f"SELECT /*+ BROADCAST(r) */ m.ant1, m.ant2, m.t, m.chan,"
             f" m.det OR COALESCE(r.ts_out, FALSE) AS det"
             f" FROM {post} m LEFT JOIN {p}_f5 r ON m.ant1 = r.ant1"
             f" AND m.ant2 = r.ant2 AND m.t = r.t"
             f" WHERE m.present")
    return steps, final, barriers
