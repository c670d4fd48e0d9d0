"""Cross-engine-exact aggregation helpers.

Floating-point sums are order-dependent: Spark's partial/final aggregation
tree and DuckDB's aggregation associate additions differently, so
``SUM(double)`` can differ in the last ulps between engines — enough to
break an exact value-hash even after ``round()`` when the true value sits
near a rounding boundary (SURVEY.md §5.3 hazard 2).

The fix used engine-wide: **scaled-integer accumulation** on one
fixed-point grid. :func:`grid` (Spark) and :func:`grid_sql` (DuckDB and
Spark SQL text) are the one place that decision is made: ``x`` at scale
``s`` is ``CAST(FLOOR(x * 10^s + 0.5) AS BIGINT)``, and no module types
the idiom by hand (``tests/test_grid_twins.py`` lints for it). Per row
that is deterministic IEEE arithmetic — both engines evaluate the same
multiply tree on the same double; the input carries ≤ s decimal digits,
so the scaled value sits within ulps of an integer and never near a .5
boundary, making the +0.5/floor round-to-grid identical everywhere
(positive or negative). The integer SUM is exact in any association
order, and the final ``CAST(sum AS DOUBLE) / 10^s`` is a single,
identical division in both engines (:func:`dsum` / :func:`davg` and
their ``_sql`` twins). Result: bit-identical aggregates with no rounding
hazard. At ``s = 0`` neither twin multiplies: a ``* 1.0`` is not folded
away by Catalyst, so it would change the plan of every integer-grid
site.

FLOOR, not ROUND: Spark's ROUND(double) routes through BigDecimal
HALF_UP (an allocation per value — measured 2.2× slower on the Q1
aggregate), while FLOOR is a JVM intrinsic that stays in primitive
codegen. ROUND would also be wrong-by-engine at exact .5 inputs; the
grid argument above is what makes floor+0.5 safe.

Why not DECIMAL: casting per-row to decimal(18,s) also works (and an
earlier revision did), but Spark promotes the sum buffer past 18 digits of
precision, off the long-backed fast path onto Int128/BigDecimal — measured
2.5× slower on the Q1 shape at sf0.1 (1.25 s vs 0.51 s). Long sums stay
inside whole-stage codegen as primitive arithmetic.

Scale bounds: the long accumulator is safe while
``n_rows × max|x| × 10^s < 2^63`` — for the largest fixture expression
(charge ≈ 1.2e5 × 10^6) that is ~7.6e13 rows, i.e. multi-petabyte
lineitem. Beyond that, or for hot skewed keys at 100 TB, the remedy is a
decimal(38,s) accumulator (exact at any cardinality, ~2.5× slower) for
the few money columns that need it.

The md5→integer hash lives here for the same reason. Every hash-coin,
sketch cell and synthetic sky coordinate in the engine is an integer
read from an md5 hex prefix, and the oracle must rebuild it bit for bit.
So the decoding is engine-owned, not retyped per key: :func:`md5_int`
(Spark ``conv``) and :func:`md5_int_sql` (DuckDB ``'0x'`` cast) decode
the same hex chars ``off .. off+n-1`` of the same lowercase digest, and
:func:`sky_radec` / :func:`sky_radec_sql` build the one synthetic sky
catalog (RA/Dec in centi-degrees) from them. Widths stay ≤ 15 hex chars
(60 bits), so both decode to a non-negative BIGINT.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def grid(col: Column | str, s: int) -> Column:
    """``col`` on the fixed-point grid ``10^-s``: ``floor(col * 10^s + 0.5)``,
    a long. The Spark twin of :func:`grid_sql`."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor((c * float(10**s) if s else c) + 0.5)


def grid_sql(expr: str, s: int) -> str:
    """DuckDB-side twin of :func:`grid` (same text works in Spark SQL)."""
    scaled = f"({expr}) * {float(10**s)}" if s else f"({expr})"
    return f"CAST(FLOOR({scaled} + 0.5) AS BIGINT)"


def dsum(col: Column | str, alias: str, scale: int = 4) -> Column:
    """Order-independent SUM(double) via exact scaled-long accumulation."""
    return (F.sum(grid(col, scale)).cast("double") / F.lit(float(10**scale))).alias(
        alias
    )


def davg(col: Column | str, alias: str, scale: int = 6) -> Column:
    """Order-independent AVG(double): exact scaled sum / scale / count."""
    return (
        F.sum(grid(col, scale)).cast("double")
        / F.lit(float(10**scale))
        / F.count(F.lit(1))
    ).alias(alias)


def dsum_sql(expr: str, alias: str, scale: int = 4) -> str:
    """DuckDB-side twin of :func:`dsum` (same text works in Spark SQL)."""
    return (
        f"CAST(SUM({grid_sql(expr, scale)}) AS DOUBLE)"
        f" / {float(10**scale)} AS {alias}"
    )


def davg_sql(expr: str, alias: str, scale: int = 6) -> str:
    """DuckDB-side twin of :func:`davg`."""
    return (
        f"CAST(SUM({grid_sql(expr, scale)}) AS DOUBLE)"
        f" / {float(10**scale)} / COUNT(*) AS {alias}"
    )


def md5_int(col: Column | str, off: int, n: int, dtype: str = "long") -> Column:
    """Hex chars ``off .. off+n-1`` (1-based) of ``md5(col)`` as an integer,
    cast to ``dtype``."""
    assert 1 <= n <= 15, n
    return F.conv(F.substring(F.md5(col), off, n), 16, 10).cast(dtype)


def md5_int_sql(expr: str, off: int | str, n: int) -> str:
    """DuckDB-side twin of :func:`md5_int`; ``off`` may be an SQL expression."""
    assert 1 <= n <= 15, n
    return f"CAST(('0x' || substr(md5({expr}), {off}, {n})) AS BIGINT)"


def sky_radec(key_col: str, salt: str = "") -> tuple[Column, Column]:
    """The synthetic sky position ``(ra_c, dec_c)`` of a catalog key, in
    centi-degrees: RA from hex chars 1–6, Dec from hex chars 7–12 of
    ``md5(salt || key)``. A salt draws an independent catalog."""
    k = F.col(key_col).cast("string")
    h = F.concat(F.lit(salt), k) if salt else k
    return md5_int(h, 1, 6) % 36000, md5_int(h, 7, 6) % 18000 - 9000


def sky_radec_sql(key_sql: str, salt: str = "") -> tuple[str, str]:
    """DuckDB-side twin of :func:`sky_radec`."""
    k = f"CAST({key_sql} AS VARCHAR)"
    h = f"'{salt}' || {k}" if salt else k
    return (
        f"({md5_int_sql(h, 1, 6)} % 36000)",
        f"({md5_int_sql(h, 7, 6)} % 18000 - 9000)",
    )
