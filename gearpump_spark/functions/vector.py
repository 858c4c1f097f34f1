"""Vector arithmetic over embedding columns (array<float>).

This module is the only one that knows the vector arithmetic. Every
vector form has one DataFrame function here and one DuckDB SQL twin,
named ``sql_<form>``, that the oracles format in: `dot`, `int_dot`,
`l2_norm`, `cosine`, `sq_dist`, `int_sq_dist`, `micro_units` and
`milli_units`. A twin takes SQL expressions naming list
columns and returns a SQL expression.

The fold order is part of each form. Floating-point addition is not
associative: the order in which the products of a dot product or a norm
are summed decides the last bit of the result, and one bit is enough to
move a cosine across a rounding boundary or swap two neighbours in a
top-k. So every double form multiplies coordinate by coordinate and
sums left to right from 0.0, as ``aggregate`` over ``zip_with`` in Spark
and as ``LIST_SUM`` over ``LIST_TRANSFORM`` in DuckDB, and the two
spellings live side by side here so they cannot drift apart. `cosine` is
the unrounded quotient: every caller rounds it, to 4 places, at the call
site, where the result it defines is visible. The integer forms are exact
in any order; `int_sq_dist`'s twin is therefore an aggregate over
(vector, coordinate) rows, the shape the integer oracles hold their
vectors in.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Micro-unit quantization: floor((x + MICRO_OFFSET) * MICRO_SCALE) as BIGINT.
# The offset keeps embedding coordinates (|x| <= 2) positive, so floor and
# truncation agree in both engines; 1e-6 units sit far below any
# embedding's noise floor.
MICRO_OFFSET = 2.0
MICRO_SCALE = 1_000_000

# Milli-unit fixed point: round(x * MILLI_SCALE) as BIGINT, half away from
# zero in both engines (Spark's HALF_UP on the exact double, DuckDB's
# ROUND). Signed, so integer sums and products over the units keep the
# sign of the coordinates they stand for.
MILLI_SCALE = 1000

# Width of the fixture embeddings. Oracles that spell a per-coordinate
# range and callers that pass a width take it from here, so a table of
# another width fails in both engines alike instead of in one.
EMBED_DIM = 64


def to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def _fold(arr: Column, zero: Column) -> Column:
    return F.aggregate(arr, zero, lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic summation order)."""
    return _fold(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0))


def sql_dot(a: str, b: str) -> str:
    """DuckDB twin of `dot` over double casts of ``a`` and ``b``."""
    return (
        f"LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def int_dot(a: Column, b: Column) -> Column:
    """`dot` over integer arrays, as a BIGINT."""
    return _fold(F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"))


def sql_int_dot(a: str, b: str) -> str:
    """DuckDB twin of `int_dot`."""
    return f"LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN({a}) + 1), i -> {a}[i] * {b}[i]))"


def l2_norm(a: Column) -> Column:
    return F.sqrt(_fold(F.transform(a, lambda x: x * x), F.lit(0.0)))


def sql_l2_norm(a: str) -> str:
    """DuckDB twin of `l2_norm` over a double cast of ``a``."""
    return f"SQRT(LIST_SUM(LIST_TRANSFORM({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity in double, unrounded."""
    a, b = to_double(a), to_double(b)
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def sql_cosine(a: str, b: str) -> str:
    """DuckDB twin of `cosine`."""
    return f"({sql_dot(a, b)} / ({sql_l2_norm(a)} * {sql_l2_norm(b)}))"


def sq_dist(a: Column, b: Column) -> Column:
    """Squared L2 distance of two double arrays."""
    return _fold(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0))


def sql_sq_dist(a: str, b: str) -> str:
    """DuckDB twin of `sq_dist` over double casts of ``a`` and ``b``."""
    d = f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    return f"LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN({a}) + 1), i -> {d} * {d}))"


def int_sq_dist(a: Column, b: Column) -> Column:
    """Squared L2 distance of two integer arrays, as a BIGINT; ``b`` is
    widened first, so an int array (a literal of micro units) cannot
    overflow 32 bits."""
    return _fold(
        F.zip_with(a, F.transform(b, lambda x: x.cast("long")), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
    )


def sql_int_sq_dist(a: str, b: str) -> str:
    """DuckDB twin of `int_sq_dist` where ``a`` and ``b`` are matching
    coordinates of (vector, coordinate) rows: an aggregate, grouped by the
    caller."""
    return f"SUM(({a} - {b}) * ({a} - {b}))"


def micro_units(arr: Column) -> Column:
    """Each coordinate as a BIGINT count of micro units."""
    return F.transform(
        arr,
        lambda x: F.floor(
            (x.cast("double") + F.lit(MICRO_OFFSET)) * F.lit(float(MICRO_SCALE))
        ).cast("long"),
    )


def sql_micro_units(arr: str) -> str:
    """DuckDB twin of `micro_units`."""
    return (
        f"LIST_TRANSFORM({arr}, x -> CAST(FLOOR((CAST(x AS DOUBLE) + {MICRO_OFFSET})"
        f" * {MICRO_SCALE}) AS BIGINT))"
    )


def milli_units(arr: Column, scale: int = MILLI_SCALE) -> Column:
    """Each coordinate as a BIGINT count of 1/``scale`` units, rounded."""
    return F.transform(arr, lambda x: F.round(x.cast("double") * scale, 0).cast("long"))


def sql_milli_units(arr: str, scale: int = MILLI_SCALE) -> str:
    """DuckDB twin of `milli_units`."""
    return f"LIST_TRANSFORM({arr}, x -> CAST(ROUND(CAST(x AS DOUBLE) * {scale}) AS BIGINT))"
