"""Numeric helpers that make float aggregates oracle-deterministic.

Summing doubles is order-dependent (IEEE addition is not associative);
Spark's shuffle order and DuckDB's parallel aggregation order differ, so
a naive SUM(double) can differ in the last bits between the engine and
its oracle. The rule: an exact sum casts each addend to DECIMAL(p,s) and
adds the decimals. Decimal addition is exact and associative, so the
total is bit-identical in any order, and partial sums stay map-side
combinable. The final cast back to DOUBLE is one deterministic rounding.
This module is the only spelling of that rule; the DECIMAL type is an
argument, chosen by the data:

- ``decimal(25,6)`` (``DEC``, the default): money and other values on a
  grid of 1e-6 or coarser (2dp money, 6dp-rounded terms);
- ``decimal(18,2)`` / ``decimal(25,2)``: values known to be exact 2dp
  money, where a product of two such decimals is itself exact;
- ``decimal(38,6)``: second-order sums (products of ~1e6 values) that
  outgrow 25 digits;
- ``decimal(p,9)``, ``decimal(25,12)``, ``decimal(25,18)``: terms
  rounded to 1e-9, logs and reciprocals that need the fractional digits;
- ``decimal(p,0)``: integer-valued terms (rank sums, counts);
- ``decimal(38,0)``: the grid sum's integer counts (below).

The kernel forms, each with its SQL twin (``*_sql``, text that DuckDB
oracles and ``spark.sql`` both run):

- ``dsum(col, dec)``: the exact sum as DOUBLE;
- ``decimal_sum(col, dec)``: the same sum kept DECIMAL, for totals that
  are compared, windowed (``.over(w)``) or combined as decimals;
- ``decimal_dot(a, b, dec)``: the exact sum of products of two DECIMAL
  casts (a second moment of exact 2dp values), kept DECIMAL;
- ``exact_avg(col)``: the exact ``DEC`` sum divided by the count, one
  deterministic division instead of the engines' running means (a
  mean of another type is ``dsum(col, dec) / COUNT``).

Domain of the DOUBLE forms: a total whose unscaled integer
(``|total|·10^s``) stays under 2^53. Spark rounds DECIMAL→DOUBLE once,
correctly; DuckDB converts the unscaled integer to a double and then
divides by ``10^s``, which rounds twice once that integer passes 2^53.

``r6`` rounds to 6 decimals, for genuinely order-dependent statistics
(stddev, interpolated percentiles, windowed means over long frames)
where last-ulp noise is unavoidable; 6 decimals is far above the noise
floor and far below data resolution.

The portable integer hash ``md5_int`` follows the same twin rule: Spark
``conv(substring(md5(x), 1, k), 16, 10)`` equals DuckDB
``('0x' || substr(md5(x), 1, k))::BIGINT`` for any UTF-8 string, and
the md5 prefix width fixes the integer range: ``k`` hex chars give a
value in ``[0, 16^k)`` = ``4k`` bits. So k <= 15 fits a signed long
(60 bits), and k <= 13 (52 bits) also survives a cast to double
exactly. Every engine-side use of that hash calls ``md5_int``.

The grid snap ``floor(x·10^s + 0.5) / 10^s`` is the engine's one
cross-engine rounding rule, and this module is its only spelling, with
one twin per context. Each twin runs the same IEEE operations
(multiply, add, floor, divide), so bit-identical inputs give
bit-identical outputs on Spark, DuckDB and the Python driver:

- ``fround(col, s)`` for a ``Column``;
- ``fround_sql(expr, s)`` for SQL text, run by DuckDB oracles and by
  ``spark.sql`` alike;
- ``fround_val(x, s)`` for a Python double on a driver fast path;
- ``grid_sum(col, s)`` / ``grid_sum_sql(expr, s)``: the exact sum on
  the same grid. Each addend snaps to an integer count of ``10^-s``
  units, the BIGINT counts add exactly as DECIMAL(38,0) in any order,
  and one cast to DOUBLE and one division by ``10^s`` finish. It is
  for terms where a double→DECIMAL(p,6) cast is engine-divergent
  (magnitudes above ~2^53·10^-6, PARITY.md §3b).

The SQL twins write every literal in exponent form (``1e6``, ``5e-1``).
Spark SQL parses ``1000000.0`` and ``0.5`` as DECIMAL literals, so
``FLOOR(x * 1000000.0 + 0.5) / 1000000.0`` is typed ``decimal(30,9)``
there, while ``FLOOR(x * 1e6 + 5e-1) / 1e6`` is DOUBLE on both engines
(DuckDB types either form DOUBLE for a DOUBLE ``x``). So one text
serves an oracle and a fragment that both engines run.

Domain: finite doubles with ``|x|·10^s < 2^63``, because Spark's
``FLOOR`` returns BIGINT (DuckDB's returns DOUBLE; inside that bound
both hold the same integral value). NULL passes through the Column and
SQL twins as NULL. Never spell an exact sum, the snap or the grid sum
out elsewhere; ``tests/test_numeric.py`` fails on an inline copy, on a
local DECIMAL type alias, and on a DECIMAL term bound to a name that a
SUM then reads (pass the double term to ``dsum`` instead). A site that
is deliberately not the kernel says ``not the kernel: <why>`` beside
it, for example a DECIMAL column whose products are summed too.

Scale note: DECIMAL(25,6) sums hold ~10^19 — at 100 TB (~10^11 rows of
~10^5-magnitude values) this still fits with headroom, and decimal
aggregation stays map-side combinable (partial sums are exact too).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

#: default DECIMAL type for exact accumulation (see the module docstring).
DEC = "decimal(25,6)"


def _col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def decimal_sum(col: Column | str, dec: str = DEC) -> Column:
    """Exact order-independent sum, kept as ``dec``."""
    return F.sum(_col(col).cast(dec))


def decimal_sum_sql(expr: str, dec: str = DEC) -> str:
    """SQL text twin of ``decimal_sum``."""
    return f"SUM(CAST(({expr}) AS {dec.upper()}))"


def dsum(col: Column | str, dec: str = DEC) -> Column:
    """Exact order-independent sum of a double column, as DOUBLE."""
    return decimal_sum(col, dec).cast("double")


def dsum_sql(expr: str, dec: str = DEC) -> str:
    """SQL text twin of ``dsum``."""
    return f"CAST({decimal_sum_sql(expr, dec)} AS DOUBLE)"


def decimal_dot(a: Column | str, b: Column | str, dec: str,
                dec_b: str | None = None) -> Column:
    """Exact ``Σ a·b`` of two DECIMAL casts (``dec_b`` defaults to
    ``dec``), kept DECIMAL: the product of two exact decimals is exact,
    unlike a decimal cast of the double product."""
    return F.sum(_col(a).cast(dec) * _col(b).cast(dec_b or dec))


def decimal_dot_sql(a: str, b: str, dec: str,
                    dec_b: str | None = None) -> str:
    """SQL text twin of ``decimal_dot``."""
    return (f"SUM(CAST(({a}) AS {dec.upper()})"
            f" * CAST(({b}) AS {(dec_b or dec).upper()}))")


def exact_avg(col: Column | str) -> Column:
    """Order-independent mean: exact ``DEC`` sum / count."""
    c = _col(col)
    return dsum(c) / F.count(c)


def exact_avg_sql(expr: str) -> str:
    """SQL text twin of ``exact_avg``."""
    return f"{dsum_sql(expr)} / COUNT({expr})"


def md5_int(col: Column | str, hex_chars: int) -> Column:
    """Portable integer hash: the first ``hex_chars`` hex digits of
    md5(col) as a long in ``[0, 16^hex_chars)``."""
    return (F.conv(F.substring(F.md5(_col(col).cast("binary")), 1, hex_chars),
                   16, 10).cast("long"))


def r6(col: Column, alias: str | None = None) -> Column:
    """Round to 6 decimals — tolerance band for order-dependent float stats."""
    out = F.round(col, 6)
    return out.alias(alias) if alias else out


def fround(col: Column, scale: int = 6) -> Column:
    """Cross-engine-deterministic round: ``floor(x·10^s + 0.5) / 10^s``.

    Native ROUND differs between engines at ties: Spark rounds the
    double's shortest decimal representation half-up (Scala BigDecimal),
    DuckDB rounds in binary — a value whose repr ends in "…5" can round
    differently even from bit-identical inputs. This formulation is
    three IEEE ops both engines execute identically, so bit-identical
    inputs give bit-identical outputs, always.
    """
    p = float(10 ** scale)
    return F.floor(col * p + F.lit(0.5)) / F.lit(p)


def fround_sql(expr: str, scale: int = 6) -> str:
    """SQL text twin of ``fround``: DOUBLE on Spark SQL and DuckDB."""
    return f"FLOOR(({expr}) * 1e{scale} + 5e-1) / 1e{scale}"


def fround_val(x: float, scale: int = 6) -> float:
    """Python value twin of ``fround`` for driver fast paths."""
    p = float(10 ** scale)
    return math.floor(x * p + 0.5) / p


def grid_sum(col: Column, scale: int) -> Column:
    """Exact order-independent sum on the ``10^-s`` grid (see the
    module docstring). Spark's FLOOR already yields BIGINT."""
    p = float(10 ** scale)
    return (F.sum(F.floor(col * F.lit(p) + F.lit(0.5)).cast("decimal(38,0)"))
            .cast("double") / F.lit(p))


def grid_sum_sql(expr: str, scale: int) -> str:
    """SQL text twin of ``grid_sum``; the BIGINT cast turns DuckDB's
    DOUBLE ``FLOOR`` into the integer that the DECIMAL sum adds."""
    return (f"CAST(SUM(CAST(CAST(FLOOR(({expr}) * 1e{scale} + 5e-1)"
            f" AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 1e{scale}")


# ---------------------------------------------------------------------------
# shared-term-order linear algebra (cross-engine Cramer solves)
# ---------------------------------------------------------------------------

def signed_perms(n: int) -> list[tuple[int, tuple[int, ...]]]:
    """Permutations of range(n) in LEXICOGRAPHIC order with parity
    sign — the shared Leibniz-determinant term order both engines
    replay (Python value twin + generated SQL text)."""
    import itertools
    out = []
    for perm in itertools.permutations(range(n)):
        inv = sum(1 for a in range(n) for b in range(a + 1, n)
                  if perm[a] > perm[b])
        out.append((1 if inv % 2 == 0 else -1, perm))
    return out


def det_val(M: list[list[float]]) -> float:
    """Leibniz determinant, terms in signed_perms order, products and
    the sum strictly left-to-right — the exact op sequence det_sql
    emits, so both engines produce the identical double."""
    n = len(M)
    acc = 0.0
    for sign, perm in signed_perms(n):
        term = M[0][perm[0]]
        for i in range(1, n):
            term = term * M[i][perm[i]]
        acc = acc + term if sign > 0 else acc - term
    return acc


def det_sql(M: list[list[str]]) -> str:
    """SQL text twin of det_val: same term order, left-associative
    products (a * b * c), left-associative signed sum. The emitted
    text parses identically in Spark SQL and DuckDB (only * + - and
    parentheses), so it can run on BOTH engines."""
    parts = []
    for sign, perm in signed_perms(len(M)):
        term = " * ".join(M[i][perm[i]] for i in range(len(M)))
        parts.append(("+ " if sign > 0 else "- ") + "(" + term + ")")
    body = " ".join(parts)
    return "(" + (body[2:] if body.startswith("+ ") else body) + ")"


def cramer_sql(A: list[list[str]], b: list[str], k: int) -> str:
    """x_k of A·x = b via Cramer's rule as shared SQL text: the k-th
    column of A replaced by b, both determinants in det_sql term
    order."""
    Ab = [[b[r] if c == k else A[r][c] for c in range(len(A))]
          for r in range(len(A))]
    return f"({det_sql(Ab)} / {det_sql(A)})"
