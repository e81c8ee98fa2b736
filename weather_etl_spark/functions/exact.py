"""Exact-arithmetic helpers for oracle-hash-stable aggregation.

FP sums are order-dependent, and Spark and DuckDB reduce in different
orders — so money aggregates go through exact DECIMAL arithmetic and
only become DOUBLE in the final projection (SURVEY.md §7.4 rule 1).
Derived means divide the exact sum by the count in double space
(deterministic IEEE op on identical inputs) and round to 4 places.

DECIMAL scales: 2 for money columns, 6 for the (1 - discount) /
(1 + tax) factors — scale 6 keeps decimal-cast rounding ties out of
realistic double domains while keeping product precision within
Spark's 38-digit cap (no allowPrecisionLoss truncation, which would
diverge from DuckDB).

The same portability rule covers embedding similarity: every numpy
cosine goes through :func:`ltr_dot`, whose reduction order is DuckDB's.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dec2(c: Column | str) -> Column:
    """Money column -> DECIMAL(18,2) (both engines round half-up here)."""
    return _col(c).cast("decimal(18,2)")


def dec6(c: Column | str) -> Column:
    """Rate/factor column -> DECIMAL(18,6)."""
    return _col(c).cast("decimal(18,6)")


def money_sum(c: Column, alias: str) -> Column:
    """Exact decimal sum emitted as DOUBLE."""
    return F.sum(c).cast("double").alias(alias)


def exact_avg(c: Column, alias: str, scale: int = 4) -> Column:
    """Exact decimal sum / count, divided in double space, rounded."""
    return F.round(
        F.sum(c).cast("double") / F.count(F.lit(1)), scale
    ).alias(alias)


def md5_prefix_int(c: Column | str, digits: int) -> Column:
    """The first ``digits`` hex digits of the md5 of ``c``'s string form,
    as a BIGINT — the engine-portable hash (DuckDB: ``CAST('0x' ||
    substr(md5(c), 1, k) AS BIGINT)``).  ``digits`` <= 15 keeps it
    non-negative; a NULL input hashes to NULL."""
    return F.conv(
        F.substring(F.md5(_col(c).cast("string")), 1, digits), 16, 10
    ).cast("bigint")


def word_ngrams(tokens: Column | str, n: int) -> Column:
    """The space-joined word n-grams of a token array, in order —
    Python's ``[" ".join(t[i:i + n]) for i in range(len(t) - n + 1)]``,
    the engine's one n-gram kernel (shingles, bigrams, BPE pairs).  An
    array of fewer than ``n`` tokens yields an EMPTY array, as DuckDB's
    ``range(1, len(t) - n + 2)`` does; a NULL array yields NULL.

    The gram starts are the indices of ``slice(t, n, size(t))`` (one
    element per gram, empty once ``n`` passes the end), not
    ``sequence(1, size(t) - n + 1)``: Spark's ``sequence`` counts DOWN
    when its stop is below its start, so a document shorter than ``n``
    tokens gets starts ``[1, 0]`` or ``[1, 0, -1, ...]``.  Start 0
    makes ``slice`` throw at runtime, a negative start emits a
    spurious gram from the array's tail, and ``element_at(t, i + 1)``
    pairs emit NULL grams.

    ``tokens`` is read once per gram: pass a column already split in
    an earlier projection, not a ``split(...)`` expression.
    """
    t = _col(tokens)
    if n == 1:  # the unigrams are the tokens themselves
        return t
    return F.transform(
        F.slice(t, n, F.size(t)),
        lambda _, i: F.concat_ws(" ", *[t[i + j] for j in range(n)]),
    )


def ltr_dot(
    a: np.ndarray, b: np.ndarray, product=np.multiply
) -> np.ndarray:
    """``product(a[:, 0], b[:, 0]) + product(a[:, 1], b[:, 1]) + ...``:
    the engine's one embedding reduction, the kernel under
    :func:`cosine_rows` and :func:`cosine_matrix`.

    FP contract: the dimension axis (axis 1) is accumulated strictly
    left to right, each term rounded to double before it is added —
    the loop order of DuckDB's ``list_cosine_similarity`` and of the
    Column ``cosine()`` fold.  That order is what makes numpy scores
    bit-identical to both (DuckDB then clamps to [-1, 1]), so rows
    ranked, thresholded or tie-broken on them can sit under an exact
    oracle.  Vectorizing over the OTHER axes (rows with
    ``np.multiply``, row pairs with ``np.multiply.outer``) never
    reorders a sum; ``np.dot``/``matmul`` (BLAS: blocked,
    SIMD-reordered) and ``np.sum`` (pairwise) would.
    """
    acc = product(a[:, 0], b[:, 0])
    for i in range(1, a.shape[1]):
        acc += product(a[:, i], b[:, i])
    return acc


def ltr_norm(a: np.ndarray) -> np.ndarray:
    """L2 norm of each row of ``a`` (:func:`ltr_dot` order)."""
    return np.sqrt(ltr_dot(a, a))


def cosine_rows(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Cosine of each row pair ``(a[i], b[i])``."""
    return ltr_dot(a, b) / (ltr_norm(a) * ltr_norm(b))


def cosine_matrix(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """The ``len(a) x len(b)`` cosines of every row of ``a`` against
    every row of ``b``, by dimension-major outer-product accumulation
    (memory: one ``len(a) x len(b)`` block — chunk ``a`` to bound it)."""
    return ltr_dot(a, b, np.multiply.outer) / np.multiply.outer(
        ltr_norm(a), ltr_norm(b)
    )


def f64_matrix(vectors) -> np.ndarray:
    """A pandas Series of equal-length arrays as an ``n x dim`` float64
    matrix (float32 payloads widen exactly, as ``CAST(x AS DOUBLE)``
    does); ``vectors`` must be non-empty."""
    return np.stack(vectors.to_numpy()).astype(np.float64)


def round4(c: Column, alias: str) -> Column:
    return F.round(c, 4).alias(alias)


def ratio_round4_sql(num: str, den: str, intdiv: str) -> str:
    """SQL for ROUND(num/den, 4) computed EXACTLY in integer space.

    ``num``/``den`` are SQL expressions of non-negative bigints;
    ``intdiv`` is the dialect's integer-division operator (Spark
    ``div``, DuckDB ``//``).  Rationale (rule-8 exact-tie class, the
    q_llm_ppl_holdout remedy generalized): when num/den lands exactly
    on a 4th-decimal half boundary (e.g. 57/800 = 0.07125), Spark's
    ROUND (HALF_UP on the double's shortest decimal repr) and DuckDB's
    ROUND (half-away-from-zero on the fp-scaled product) break the tie
    in OPPOSITE directions whenever the nearest double sits below the
    true rational — measured: 21 of the 400 odd-numerator ties at
    den=800 diverge.  Quotient/remainder decomposition keeps the
    intermediate products at ~2e4 * den, far from bigint overflow:

        round4(num/den) = (num div den) * 1e4
                          + round_half_up((num mod den) * 1e4 / den)

    Division by zero yields NULL in both dialects (matching the old
    float path's NULL on empty groups).
    """
    return ratio_round_sql(num, den, 4, intdiv)


def ratio_round_sql(num: str, den: str, scale: int, intdiv: str) -> str:
    """:func:`ratio_round4_sql` at an arbitrary output scale.

    The quotient/remainder decomposition is only half-up-correct for
    NON-NEGATIVE operands (Spark ``div`` truncates toward zero while
    DuckDB ``//`` floors, so a signed numerator would silently diverge
    across engines).  The emitted SQL therefore guards the numerator:
    a negative value yields NULL identically in both dialects — loud
    in any oracle diff — instead of a plausible-but-split digit.  A
    signed call site must use :func:`signed_ratio_round_sql` (r11
    ADVICE).
    """
    p = 10 ** scale
    q = f"(({num}) {intdiv} ({den}))"
    r = f"(({num}) % ({den}))"
    half = f"(({2 * p} * {r} + ({den})) {intdiv} (2 * ({den})))"
    return (
        f"(CASE WHEN ({num}) < 0 THEN NULL "
        f"ELSE CAST({q} * {p} + {half} AS DOUBLE) / {p}.0 END)"
    )


def signed_ratio_round4_sql(num: str, den: str, intdiv: str) -> str:
    """Signed, overflow-safe ROUND(num/den, 4); see the general form."""
    return signed_ratio_round_sql(num, den, 4, intdiv)


def signed_ratio_round_sql(
    num: str, den: str, scale: int, intdiv: str
) -> str:
    """Signed, overflow-safe ROUND(num/den, scale) in exact integers.

    For ratios whose operands can reach ~1e15 (scale-8 decimal sums,
    corpus-wide token totals), :func:`ratio_round4_sql`'s
    ``2*10^scale * remainder`` product would overflow int64 — and the
    engines disagree on overflow (Spark wraps silently off-ANSI,
    DuckDB errors).  This variant long-divides the remainder in
    base-100 steps (scale must be even), so no intermediate exceeds
    ``100 * den``; the sign is split out because integer division of
    negatives also differs across dialects (Spark ``div`` truncates
    toward zero, DuckDB ``//`` floors).  ``den`` must be positive and
    below ~9.2e16.

        T = 10^scale * r = (sum_k d_k * 100^k) * den + r_last
        round(|x|, scale)*10^scale = q*10^scale + digits + (2*r_last >= den)

    Scale cap: each long-division step re-embeds the previous
    remainder expression in BOTH the digit and next-remainder terms,
    so the generated SQL's operand text grows ~2^(scale/2)-fold —
    fine at the scales used here (4-8; <= 16 operand copies), but a
    plan-size hazard beyond that, hence the hard cap (r11 ADVICE).
    """
    assert scale % 2 == 0, "base-100 long division needs an even scale"
    assert scale <= 8, (
        "signed_ratio_round_sql caps scale at 8: the base-100 steps "
        "duplicate the remainder expression ~2^(scale/2) times, which "
        "balloons plan/analysis cost at higher scales — restructure "
        "with per-step derived columns if you genuinely need more"
    )
    p = 10 ** scale

    def positive(n: str) -> str:
        q = f"(({n}) {intdiv} ({den}))"
        r = f"(({n}) % ({den}))"
        terms = [f"{q} * {p}"]
        for step in range(scale // 2):
            d = f"((100 * {r}) {intdiv} ({den}))"
            r = f"((100 * {r}) % ({den}))"
            terms.append(f"{d} * {10 ** (scale - 2 * (step + 1))}")
        carry = f"(CASE WHEN 2 * {r} >= ({den}) THEN 1 ELSE 0 END)"
        return "(" + " + ".join(terms) + f" + {carry})"

    return (
        f"(CAST(CASE WHEN ({num}) >= 0 THEN {positive(num)} "
        f"ELSE -{positive(f'-({num})')} END AS DOUBLE) / {p}.0)"
    )


def decimal_mean_round4_sql(
    sum_int: str, count: str, scale: int, intdiv: str
) -> str:
    """SQL for ROUND(decimal_sum / count, 4) computed EXACTLY.

    ``sum_int`` is the decimal sum scaled to an integer (sum * 10^scale,
    as bigint); ``count`` the row count; ``scale`` >= 4.  Same integer
    half-up as :func:`ratio_round4_sql`, generalizing the committed
    q_llm_ppl_holdout formula ((2*S_micro + 100*c) div (200*c)) to any
    decimal scale:

        round4(S / (10^scale * c))
          = (2*S + 10^(scale-4)*c) div (2 * 10^(scale-4) * c) / 1e4
    """
    p = 10 ** (scale - 4)
    return (
        f"(CAST((2 * ({sum_int}) + {p} * ({count})) {intdiv} "
        f"(2 * {p} * ({count})) AS DOUBLE) / 10000.0)"
    )


def portable_round4_sql(expr: str) -> str:
    """DuckDB-side portable ROUND(expr, 4) for a GENUINE double output
    (fp chains / raw column values) — the q_time_holt oracle idiom as
    a shared helper (first extracted in r12 when the seed campaign
    tripped q_time_cusum and a planted half-tie stream tripped
    q_time_ewma/q_time_anomaly's raw ``ROUND(value, 4)``).

    Spark's ``round(x, 4)`` is HALF_UP on the double's shortest
    decimal repr; DuckDB's ``ROUND`` scales in double and the two
    split on half-boundary reprs (x.xxxx5).  CAST-through-VARCHAR
    reproduces the shortest repr, the DECIMAL parse rounds it half-up,
    and the ABS guard covers DuckDB's sci-notation mantissa mis-parse
    below the half-ulp of scale 4.  Valid for |x| < ~1e9;
    fuzz-pinned equivalent to Spark round() (incl. negatives and
    -0.0) by tests/test_portable_round.py.  For pure RATIONAL outputs
    use the exact bigint helpers above instead — they fix the
    arithmetic, not just the presentation.
    """
    return (
        f"CASE WHEN ABS({expr}) < 0.00005 THEN 0.0 "
        f"ELSE CAST(CAST({expr} AS VARCHAR) AS DECIMAL(30,4))::DOUBLE END"
    )
