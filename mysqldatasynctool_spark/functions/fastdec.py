"""Unscaled-long fast path for the oracle-exact decimal aggregation
pattern (optimization guide §1.2 "per-task work" + §2.3 "narrower
types").

The engine's ``_dec`` discipline — per-value ``CAST(double AS
DECIMAL(22,s))`` followed by ``SUM`` — buys bit-exact cross-engine
hashes at a steep per-row price: Spark's double→decimal cast goes
through ``BigDecimal.valueOf`` (a ``Double.toString`` allocation +
parse per value), and because DECIMAL(22,s) exceeds the compact-long
precision (18), both the cast result and the SUM accumulator are
non-compact BigDecimals whose every add allocates. In hash aggregates
that is ~0.5 µs per measure per row; in sliding-window frames — which
Spark re-evaluates from scratch for every output row — it multiplies
by the frame length.

This module computes THE SAME decimal aggregate in pure long
arithmetic:

    ``unscaled_long(x, s)``  ==  unscaled value of CAST(x AS DECIMAL(_, s))
    ``dec_sum(x, s, prec)``  ==  SUM(CAST(x AS DECIMAL(prec, s)))  (value AND dtype)

**Equivalence contract** (why this is a rewrite, not an approximation):
Spark's double→decimal cast rounds the double's SHORTEST decimal
representation (``BigDecimal.valueOf``) HALF_UP at scale ``s``. The
fast path rounds ``x·10^s`` computed in binary floating point. The two
agree whenever the exact value ``v`` that ``x`` approximates is itself
an ``s``-decimal number and ``x`` is within far-less-than
``0.5·10^-s`` of ``v`` — then both roundings land exactly on ``v``,
with no tie to break (``v``'s own tie points are ``0.5·10^-s`` away).
That holds for the two value classes the declared queries feed it:

1. **Raw fixture money/measure columns** (l_quantity, l_extendedprice,
   l_discount, l_tax, o_totalprice, p_retailprice, c_acctbal,
   events.value): generated as exact 2-decimal values, stored as their
   nearest doubles — verified ``x == rint(x*100)/100`` bitwise for
   every row of every SF (see OPTIMIZATION_r18.md). Deviation of ``x``
   from ``v``: ≤ ulp/2 ≈ 7.5e-12 at 1e5 magnitude.
2. **Products of ≤3 such doubles cast at scale ≥ total-scale of the
   factors** (disc_price = price·(1-disc) → 4 dp, charge → 6 dp,
   value² → 4 dp): the exact rational product ``v`` has ≤ s decimals,
   and the FP product chain deviates from ``v`` by ≤ 5·2⁻⁵³ relative
   (≈ 7e-11 absolute at 1e5·10^s magnitude after the ·10^s shift) —
   both roundings still land on ``v`` with margin > 4 orders of
   magnitude.

Out-of-contract inputs (doubles that are NOT near an s-decimal value,
e.g. irrational measures) would round differently in rare half-way
cases — every converted call site's docstring states which class its
inputs are in, and the driver's oracle hash gate re-proves equality at
every SF on every round.

**Overflow**: per-row unscaled values are split hi = u div 10⁶ /
lo = u mod 10⁶ and summed separately, then recombined in DECIMAL(38,0)
arithmetic — exact up to ~10¹² rows per group at maximal fixture
magnitudes (and the split constant can be widened if a table ever
carries larger values), vs ~10¹¹ rows for a naive single long sum.
No silent wrap: the recombination arithmetic is decimal, where Spark
raises/NULLs on overflow instead of wrapping.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: hi/lo split base for the two-long overflow-safe sum
_SPLIT = 1_000_000


def _dec(col, scale: int = 2, prec: int = 22) -> Column:
    """Exact-decimal view of a (possibly noisy) double column.

    Per-row double→decimal rounding is deterministic and identical in
    Spark and DuckDB; summing decimals is exact and order-independent,
    which makes aggregate results hash-comparable across engines.
    Aggregation sites SUM through :func:`dec_sum` and its siblings
    instead (same value and dtype, no per-row BigDecimal); ``_dec``
    remains for per-row decimal VIEWS (joins, comparisons) and the
    incremental unbounded-preceding window sums, where a per-row
    reconstruct would cost more than the one decimal add it saves.
    """
    return col.cast(f"decimal({prec},{scale})")


def unscaled_long(x: Column, scale: int = 2) -> Column:
    """The unscaled long of ``CAST(x AS DECIMAL(_, scale))`` — i.e.
    the exact integer ``round_half_up(x · 10^scale)`` — computed in
    pure FP + long arithmetic (codegen-friendly, no BigDecimal).

    HALF_UP rounds away from zero, so the negative branch mirrors the
    positive one; NULL propagates (a NULL ``x`` fails the ``>= 0``
    test into the otherwise-branch, which is NULL-valued too).
    """
    f = F.lit(float(10**scale))
    y = x * f
    pos = (y + F.lit(0.5)).cast("long")
    neg = -(((-y) + F.lit(0.5)).cast("long"))
    return F.when(x >= 0, pos).otherwise(neg)


def _hi_lo(u: Column) -> tuple[Column, Column]:
    """Exact split u = hi·_SPLIT + lo with 0 ≤ lo < _SPLIT.

    ``(u - lo) / _SPLIT`` is an exactly-divisible division of a value
    well under 2^53, so the double division is exact before the cast
    back to long.
    """
    lo = F.pmod(u, F.lit(_SPLIT))
    hi = ((u - lo) / F.lit(_SPLIT)).cast("long")
    return hi, lo


def from_unscaled(total: Column, scale: int, out_prec: int) -> Column:
    """Materialize the decimal value ``total · 10^-scale`` from an
    unscaled total (long or decimal(38,0) column): exact decimal
    division by the power of ten, then a cast to the target dtype
    ``decimal(out_prec, scale)`` so both value and schema are
    indistinguishable from the BigDecimal-path original. Cost is a few
    decimal ops per GROUP / OUTPUT ROW, never per input row."""
    denom = F.lit(10**scale).cast(f"decimal({scale + 1},0)")
    return (total.cast("decimal(38,0)") / denom).cast(
        f"decimal({out_prec},{scale})"
    )


def _recombine(hi_sum: Column, lo_sum: Column, scale: int, out_prec: int) -> Column:
    """Rebuild the decimal value from the two long parts."""
    total = hi_sum.cast("decimal(38,0)") * F.lit(_SPLIT).cast(
        "decimal(7,0)"
    ) + lo_sum.cast("decimal(38,0)")
    return from_unscaled(total, scale, out_prec)


def dec_sum(x: Column, scale: int = 2, prec: int = 22) -> Column:
    """Drop-in replacement for ``F.sum(_dec(x, scale, prec))`` —
    identical value, identical dtype (``decimal(min(38, prec+10),
    scale)``, Spark's sum-over-decimal widening), ~pure-long per-row
    cost."""
    u = unscaled_long(x, scale)
    hi, lo = _hi_lo(u)
    return _recombine(F.sum(hi), F.sum(lo), scale, min(38, prec + 10))


def dec_sum_over(x: Column, w, scale: int = 2, prec: int = 22) -> Column:
    """Window form: ``F.sum(_dec(x, scale, prec)).over(w)`` as two
    long window sums over the same frame (one WindowExec pass) plus a
    per-row decimal recombination. For an n-row sliding frame this
    replaces n BigDecimal adds per output row with 2n long adds."""
    u = unscaled_long(x, scale)
    hi, lo = _hi_lo(u)
    return _recombine(
        F.sum(hi).over(w), F.sum(lo).over(w), scale, min(38, prec + 10)
    )


def dec_sum_over_bounded(x: Column, w, scale: int = 2, prec: int = 22) -> Column:
    """Single-long variant of :func:`dec_sum_over` for frames whose
    ROW COUNT is bounded by construction (e.g. ``rowsBetween(-20,-1)``
    or a calendar-bounded range frame): the frame sum
    ``n_frame · max|x| · 10^scale`` stays far under 2^63, so the hi/lo
    split is pure overhead. One long add per frame row."""
    u = unscaled_long(x, scale)
    return from_unscaled(F.sum(u).over(w), scale, min(38, prec + 10))


def dec_sum_when(
    cond: Column, x: Column, scale: int = 2, prec: int = 22
) -> Column:
    """Drop-in for the conditional-sum idiom
    ``F.sum(F.when(cond, _dec(x, scale)).otherwise(lit(0) as decimal))``
    — the zero branch contributes 0 to the unscaled sums exactly as
    the zero decimal did."""
    u = F.when(cond, unscaled_long(x, scale)).otherwise(F.lit(0).cast("long"))
    hi, lo = _hi_lo(u)
    return _recombine(F.sum(hi), F.sum(lo), scale, min(38, prec + 10))


def dec_sum_unscaled(u: Column, scale: int, out_prec: int) -> Column:
    """Sum an ALREADY-UNSCALED long column (e.g. a product of an
    unscaled value with an integral column) and materialize the
    decimal: hi/lo-split long sums recombined to
    ``decimal(out_prec, scale)``."""
    hi, lo = _hi_lo(u)
    return _recombine(F.sum(hi), F.sum(lo), scale, out_prec)


def dec_min(x: Column, scale: int = 2, prec: int = 22) -> Column:
    """``F.min(_dec(x, scale, prec))`` via the unscaled long: the
    decimal↔unscaled mapping is strictly monotone, so min commutes
    (dtype ``decimal(prec, scale)`` — min does not widen)."""
    u = F.min(unscaled_long(x, scale))
    hi, lo = _hi_lo(u)
    return _recombine(hi, lo, scale, prec)
