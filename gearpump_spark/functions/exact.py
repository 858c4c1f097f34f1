"""Exact arithmetic: how a measure is made identical in both engines.

The oracle check compares result hashes bit for bit, so a float measure
must come out of Spark and DuckDB as the same double. This module is the
only one that knows how. Every form has one DataFrame function here and
one DuckDB SQL twin, named ``sql_<form>``, that the oracles format in:
`dec`, `out_double`, `dsum`, `davg` and `ln_dec`; `ln_micro` has a
Python twin, `py_ln_micro`, and a SQL twin but no column form. A twin
takes SQL expressions and returns one.

Why each step is there:

- **Decimal sums are associative.** A double sum depends on the order
  of its terms, and the two engines add in different orders (Spark in
  parallel partial aggregates, DuckDB sequentially). A fixed-scale
  decimal sum is exact integer arithmetic on the unscaled values, so
  every order gives the same result. Measures are therefore cast to
  ``DECIMAL(18, scale)`` (`dec`, scale 4 unless the caller needs more)
  before they are summed.
- **Downcasts differ: Spark rounds, DuckDB truncates.** Casting a
  decimal to a smaller scale rounds HALF_UP in Spark but truncates
  toward zero in DuckDB. So the SQL twin of a scale reduction rounds
  first, ``ROUND(x, 2)``, and only then casts; the Spark side casts
  directly and rounds the same way.
- **ROUND comes before the ``DECIMAL(38,2)`` cast.** A decimal whose
  unscaled value exceeds 2^53 converts to double differently in DuckDB
  and the JVM (one ulp apart). `out_double` reduces to scale 2 first,
  which keeps the unscaled value small enough for an exact conversion
  on both sides; the ROUND is what makes that reduction the same one.
- **LN agrees once it is rounded.** DuckDB's ``LN`` and CPython's
  ``math.log`` call the same platform libm ``log``, so they agree bit
  for bit; Spark's ``log`` is ``java.lang.StrictMath.log`` (fdlibm),
  within one ulp of it. Rounding to ``scale`` places hides that ulp
  unless a value lies within it of a rounding tie, and the three ROUNDs
  (Spark's ``round``, DuckDB's ``ROUND``, ``Decimal.quantize`` with
  ROUND_HALF_UP) all round half away from zero. So a log term is taken
  of a double (`ln_dec` casts its argument), rounded and carried as a
  decimal, and a sum of log terms is again an exact decimal sum. The
  argument must reach LN as the same double in both engines: an integer
  count, or a quotient of doubles (IEEE division rounds correctly).
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dec(col: Column | str, scale: int = 4) -> Column:
    """Cast to the exact ``decimal(18, scale)``."""
    return _col(col).cast(f"decimal(18,{scale})")


def sql_dec(expr: str, scale: int = 4) -> str:
    """DuckDB twin of `dec`."""
    return f"CAST({expr} AS DECIMAL(18,{scale}))"


def out_double(col: Column) -> Column:
    """Surface a decimal as double, reduced to 2 places (HALF_UP)."""
    return col.cast("decimal(38,2)").cast("double")


def sql_out_double(expr: str) -> str:
    """DuckDB twin of `out_double`: ROUND first, because DuckDB's
    downcast truncates."""
    return f"CAST(CAST(ROUND({expr}, 2) AS DECIMAL(38,2)) AS DOUBLE)"


def dsum(col: Column | str) -> Column:
    """Exact decimal sum, surfaced as double."""
    return out_double(F.sum(dec(col)))


def sql_dsum(expr: str) -> str:
    """DuckDB twin of `dsum`."""
    return sql_out_double(f"SUM({sql_dec(expr)})")


def davg(col: Column | str) -> Column:
    """Exact-sum average: decimal sum / count, in double."""
    c = _col(col)
    return (dsum(c) / F.count(c)).cast("double")


def sql_davg(expr: str) -> str:
    """DuckDB twin of `davg`."""
    return f"CAST({sql_dsum(expr)} / COUNT({expr}) AS DOUBLE)"


def ln_dec(col: Column, scale: int = 6) -> Column:
    """``ROUND(ln(double x), scale)`` as an exact ``decimal(18, scale)``."""
    return F.round(F.log(col.cast("double")), scale).cast(f"decimal(18,{scale})")


def sql_ln_dec(expr: str, scale: int = 6) -> str:
    """DuckDB twin of `ln_dec`."""
    return sql_dec(f"ROUND(LN(CAST({expr} AS DOUBLE)), {scale})", scale)


def py_ln_micro(x: int) -> int:
    """``ROUND(ln x, 6)`` in integer micro-units, HALF_UP on the exact
    binary double: the Python twin of `sql_ln_micro`."""
    return int(
        Decimal(math.log(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        * 1_000_000
    )


def sql_ln_micro(expr: str) -> str:
    """DuckDB twin of `py_ln_micro`: `sql_ln_dec` at scale 6, times 10^6,
    as BIGINT."""
    return f"CAST({sql_ln_dec(expr)} * 1000000 AS BIGINT)"
