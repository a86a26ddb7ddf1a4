"""Cross-dialect SQL fragments for the text / dedup / similarity operators,
and the one form of a stepwise relational chain.

Every helper emits an expression string for one of two dialects —
``"spark"`` (used via ``F.expr`` inside DataFrame plans) or ``"duck"``
(used verbatim inside the DuckDB oracle SQL). The two spellings build the
**same expression tree over the same scalar ops**, so integer results are
identical and float results are bit-identical (validated empirically:
sequential-fold dot products and md5-derived hashes match exactly).

Design rules that make cross-engine hashing work:

- hashing is ``md5`` over strings (identical hex in both engines); numeric
  ordering of hashes uses the **lexicographic order of fixed-width hex
  substrings**, never hex→int conversion (DuckDB lacks a clean one);
- float reductions are *sequential left-to-right folds* (Spark
  ``aggregate``; DuckDB ``list_dot_product`` / ``list_sum``), which both
  engines evaluate in list order — unlike SUM() over groups, whose order
  is unspecified;
- group SUMs of doubles are always demoted through f32
  (:func:`birli_spark.functions.complex.f32`) to absorb order-dependent
  last-ulp differences.

All per-row fragments here are pure narrow projections: at 100 TB they
whole-stage-codegen over the scan with zero shuffle.

A stepwise operator (Van Vleck, the RFI ladders, precession) is built as
``(steps, final, barriers)``: an ordered list of ``(name, select_body)``
steps, the closing SELECT over them, and the names of the steps Spark
must materialize. :func:`ctes` renders the steps as one WITH list (the
DuckDB oracle, or one Spark text) and :func:`run_steps` runs them on
Spark, one temp view per step.
"""

from __future__ import annotations

SPARK = "spark"
DUCK = "duck"


def toks(d: str, col: str = "text") -> str:
    """Whitespace tokens of a single-space-joined document."""
    fn = "split" if d == SPARK else "string_split"
    return f"{fn}(trim({col}), ' ')"


def size(d: str, arr: str) -> str:
    return f"size({arr})" if d == SPARK else f"len({arr})"


def distinct(d: str, arr: str) -> str:
    fn = "array_distinct" if d == SPARK else "list_distinct"
    return f"{fn}({arr})"


def lfilter(d: str, arr: str, lam: str) -> str:
    fn = "filter" if d == SPARK else "list_filter"
    return f"{fn}({arr}, {lam})"


def ltransform(d: str, arr: str, lam: str) -> str:
    fn = "transform" if d == SPARK else "list_transform"
    return f"{fn}({arr}, {lam})"


def arr_min(d: str, arr: str) -> str:
    fn = "array_min" if d == SPARK else "list_min"
    return f"{fn}({arr})"


def arr_max(d: str, arr: str) -> str:
    fn = "array_max" if d == SPARK else "list_max"
    return f"{fn}({arr})"


def seq(d: str, lo: str, hi: str) -> str:
    """Integer sequence [lo..hi], EMPTY when hi < lo in both dialects.

    Spark's ``sequence(a, b)`` steps *backwards* when b < a, so it must be
    guarded; DuckDB's ``generate_series`` is naturally empty.
    """
    if d == SPARK:
        return (f"IF(({hi}) >= ({lo}), sequence({lo}, {hi}), "
                f"CAST(array() AS ARRAY<INT>))")
    return f"generate_series({lo}, {hi})"


def shingles(d: str, toks_expr: str, n: int) -> str:
    """Overlapping n-token shingles (space-joined strings); empty when the
    document has fewer than n tokens."""
    nt = size(d, toks_expr)
    idx = seq(d, "1", f"{nt} - {n - 1}")
    if d == SPARK:
        lam = f"i -> concat_ws(' ', slice({toks_expr}, i, {n}))"
    else:
        lam = f"i -> array_to_string(({toks_expr})[i:i+{n - 1}], ' ')"
    return ltransform(d, idx, lam)


def bigrams(d: str, toks_expr: str) -> str:
    """Adjacent token bigrams (space-joined); empty under 2 tokens —
    the shared building block of the collocation operators."""
    n = size(d, toks_expr)
    idx = seq(d, "1", f"{n} - 1")
    if d == SPARK:
        lam = f"i -> concat({toks_expr}[i - 1], ' ', {toks_expr}[i])"
    else:
        lam = f"i -> ({toks_expr})[i] || ' ' || ({toks_expr})[i + 1]"
    return ltransform(d, idx, lam)


def minhash16(shingle_expr: str, seed: int) -> str:
    """Seeded 64-bit-equivalent minhash unit: first 16 hex chars of
    md5('<seed>#' || shingle). Fixed-width lowercase hex, so MIN() over
    strings == numeric min. Identical text in both dialects."""
    return f"substr(md5(concat('{seed}#', {shingle_expr})), 1, 16)"


# 16-bit SimHash: bit b of md5(token) extracted via hex-digit arithmetic.
# strpos/instr return the same 1-based positions; all arithmetic is integer.
_HEX = "0123456789abcdef"


def _hexdigit(d: str, hexpr: str, pos: str) -> str:
    fn = "instr" if d == SPARK else "strpos"
    return f"({fn}('{_HEX}', substr({hexpr}, {pos}, 1)) - 1)"


def _bit(d: str, hexstr: str, b: str) -> str:
    digit = _hexdigit(d, hexstr, f"1 + CAST(FLOOR(({b})/4) AS INT)")
    return (f"CAST(FLOOR(CAST({digit} AS DOUBLE) "
            f"/ CAST(POW(2, 3 - ({b}) % 4) AS DOUBLE)) AS INT) % 2")


def token_hashes(d: str, toks_expr: str) -> str:
    """md5 hex of each distinct token — computed ONCE, so the 16 per-bit
    scans of :func:`simhash16` reuse it instead of re-hashing (16× fewer
    md5 calls; materialize it as a column between the two steps)."""
    return ltransform(d, distinct(d, toks_expr), "t -> md5(t)")


def simhash16(d: str, hashes_col: str) -> str:
    """Per-row 16-bit SimHash over a precomputed md5(token) array column
    (:func:`token_hashes`): bit b of the signature is the majority vote of
    bit b of the token hashes. Pure projection — no shuffle, no UDF
    (cross-engine equality validated)."""
    cnt1 = size(d, lfilter(d, hashes_col, f"h -> ({_bit(d, 'h', 'b')}) = 1"))
    vote = f"IF(2 * ({cnt1}) > {size(d, hashes_col)}"
    if d == SPARK:
        return (f"aggregate(sequence(0, 15), 0, "
                f"(acc, b) -> acc + {vote}, CAST(shiftleft(1, b) AS INT), 0))")
    return (f"CAST(list_sum(list_transform(range(0, 16), "
            f"b -> {vote}, (1 << b), 0))) AS INT)")


def log2fix_duck_sql(inner: str, cnt: str, out: str, keep: list[str],
                     nbits: int = 24) -> str:
    """DuckDB side of the **deterministic fixed-point log2**:
    ``floor-ish(log2(cnt) * 2**nbits)`` as BIGINT, bit-identical across
    engines.

    ``log2`` from libm is NOT correctly rounded, and Java's and DuckDB's
    implementations differ in the last ulps — rounding such a value to
    ticks can flip across engines, which is exactly the hash-flap class
    the round-1 ``t4`` fix was about. This helper sidesteps libm: the
    classic binary-digit algorithm (normalize m = cnt / 2^b into [1, 2),
    then repeatedly square; each "≥ 2 → halve" decision emits one
    fractional bit) uses ONLY IEEE-exact-rounded ``*`` and exact
    power-of-two scaling, so every engine computes the identical BIGINT.
    The result is within 2^-(nbits-4) of true log2 — perfect for scoring.

    Emitted as ``nbits`` nested subqueries, one squaring step each — NOT
    a single-SELECT lateral-alias chain: both Spark's analyzer and
    DuckDB's binder resolve lateral aliases by substitution, which goes
    exponential over a 24-step recurrence. Subquery outputs are real
    columns, so the tree stays linear. (Spark side:
    ``operators.text._log2fix_ticks`` — the same steps as withColumns.)
    Apply to an already-aggregated (vocab-sized) relation only;
    ``cnt`` must be a BIGINT ≥ 1 (< 2^53)."""
    cols = ", ".join([*keep, cnt])
    q = (f"SELECT {cols}, CAST(length(bin({cnt})) - 1 AS INT) AS __b "
         f"FROM ({inner})")
    q = (f"SELECT *, CAST({cnt} AS DOUBLE) / "
         f"CAST((CAST(1 AS BIGINT) << __b) AS DOUBLE) AS __m, "
         f"CAST(0 AS BIGINT) AS __a FROM ({q})")
    for _ in range(nbits):
        q = (f"SELECT * EXCLUDE (__m, __a), "
             f"CASE WHEN __m * __m >= 2.0 THEN __m * __m * 0.5 "
             f"ELSE __m * __m END AS __m, "
             f"__a * 2 + CASE WHEN __m * __m >= 2.0 THEN 1 ELSE 0 END AS __a "
             f"FROM ({q})")
    sel = ", ".join(keep) + ", " if keep else ""
    return (f"SELECT {sel}CAST(__b AS BIGINT) * {1 << nbits} + __a AS {out} "
            f"FROM ({q})")


def log2fix_py(cnt: int, nbits: int = 24) -> int:
    """The same algorithm in Python (floats ARE IEEE doubles, ``*`` is
    exact-rounded): use to embed a literal for a driver-known count."""
    b = cnt.bit_length() - 1
    m = cnt / (1 << b)
    acc = 0
    for _ in range(nbits):
        m *= m
        if m >= 2.0:
            m *= 0.5
            acc = acc * 2 + 1
        else:
            acc *= 2
    return b * (1 << nbits) + acc


def dot(d: str, a: str, b: str) -> str:
    """Sequential-fold double dot product of two float arrays — bit-identical
    across engines (Spark ``aggregate`` fold == DuckDB ``list_dot_product``
    over DOUBLE[], both left-to-right)."""
    if d == SPARK:
        return (f"aggregate(zip_with({a}, {b}, "
                f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)")
    return f"list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"


def norm(d: str, a: str) -> str:
    return f"SQRT({dot(d, a, a)})"


def ctes(steps: list[tuple[str, str]],
         materialized: frozenset[str] | set[str] = frozenset()) -> str:
    """The CTE list of a chain: ``name AS [MATERIALIZED ](body)`` per step,
    joined by ``",\n"``. ``materialized`` names the steps DuckDB must
    compute once although several later steps read them (it inlines a
    multi-consumer CTE into each consumer otherwise)."""
    return ",\n".join(
        f"{n} AS {'MATERIALIZED ' if n in materialized else ''}({b})"
        for n, b in steps)


def run_steps(spark, steps: list[tuple[str, str]], final: str,
              barriers: frozenset[str] | set[str] = frozenset()):
    """Run a chain on Spark: one temp view per step, then ``final``.

    Spark inlines every view into its readers, so an unbroken chain is
    analyzed as one tree that grows with each step (an iterative chain
    can grow it exponentially). Each step named in ``barriers`` is
    materialized behind ``localCheckpoint(eager=True)`` before the next
    step reads it: later steps analyze against its rows, and a step that
    several consumers read is computed once. A chain with no barriers
    runs as one text instead, ``spark.sql(f"WITH {ctes(steps)} {final}")``:
    Spark analyzes its CTE references as fresh relations, whereas views
    made from DataFrames share their attribute ids, which a self-join over
    a streaming memory-sink view cannot tell apart."""
    for name, body in steps:
        df = spark.sql(body)
        if name in barriers:
            df = df.localCheckpoint(eager=True)
        df.createOrReplaceTempView(name)
    return spark.sql(final)
