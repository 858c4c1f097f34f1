"""The engine's cross-engine deterministic hash family.

Every hash-dependent operator (MinHash/LSH, SimHash, Bloom, count-min,
HLL and KMV sketches, sampling, splits, packing, the seeded pick) hashes
md5 over the UTF-8 string ``'<seed>|' || key``, or over the key itself
when unseeded. Spark, DuckDB and Python's hashlib evaluate it
bit-identically: that makes those operators exactly oracle-checkable,
and lets a streamed sketch be checked against a batch replay.

This module is the only one that knows the family. Every form has one
DataFrame function here and one DuckDB SQL twin, named ``sql_<form>``,
that the oracles format in; a form that Python code also computes has a
Python twin, named ``py_<form>``: `digest`, `seeded_md5`, `hash15` (the
first 15 hex digits as a BIGINT in [0, 2^60)), `hash32` (the first 8,
seed optional), `fingerprint`, `minhash_signature`, `band_key` and
`seed_order`. A SQL twin takes SQL expressions and returns one. A seed
is an int literal, or a SQL expression in a SQL twin (``'rs' || p``,
``(100 + j)``), or a Column in a DataFrame function.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

from gearpump_spark.functions.text import normalize_text, sql_normalize_text


def _keyed(key: Column, seed: int | Column | None) -> Column:
    key = key.cast("string")
    if seed is None:
        return key
    if isinstance(seed, Column):
        return F.concat(seed.cast("string"), F.lit("|"), key)
    return F.concat(F.lit(f"{seed}|"), key)


def _sql_keyed(key: str, seed: int | str | None) -> str:
    if seed is None:
        return key
    if isinstance(seed, int):
        return f"'{seed}|' || {key}"
    return f"{seed} || '|' || {key}"


def _prefix(hexdigest: Column, n: int) -> Column:
    return F.conv(F.substring(hexdigest, 1, n), 16, 10).cast("long")


def _sql_prefix(hexdigest: str, n: int) -> str:
    return f"CAST(CONCAT('0x', SUBSTR({hexdigest}, 1, {n})) AS BIGINT)"


def digest(value: Column) -> Column:
    """md5 hex digest of the UTF-8 string form of ``value``."""
    return F.md5(value.cast("string").cast("binary"))


def sql_digest(value: str) -> str:
    """DuckDB twin of `digest`."""
    return f"MD5({value})"


def seeded_md5(key: Column, seed: int | Column) -> Column:
    """md5 hex digest of '{seed}|{key}': the family's raw form."""
    return digest(_keyed(key, seed))


def sql_seeded_md5(key: str, seed: int | str) -> str:
    """DuckDB twin of `seeded_md5`."""
    return sql_digest(_sql_keyed(key, seed))


def hash15(key: Column, seed: int | Column) -> Column:
    """First 15 hex digits of `seeded_md5` as a non-negative BIGINT in
    [0, 2^60)."""
    return _prefix(seeded_md5(key, seed), 15)


def sql_hash15(key: str, seed: int | str) -> str:
    """DuckDB twin of `hash15`."""
    return _sql_prefix(sql_seeded_md5(key, seed), 15)


def _py_prefix(value, seed, n: int) -> int:
    keyed = str(value) if seed is None else f"{seed}|{value}"
    return int(hashlib.md5(keyed.encode()).hexdigest()[:n], 16)


def py_hash15(value, seed: int) -> int:
    """Python twin of `hash15`. The value is hashed as ``str(value)``,
    which must equal Spark's ``cast("string")`` of it: true for ints and
    strings, not for every float (1e-05 against 1.0E-5)."""
    return _py_prefix(value, seed, 15)


def hash32(key: Column, seed: int | Column | None = None) -> Column:
    """First 8 hex digits of the md5 of ``key`` (or of '{seed}|{key}') as
    a BIGINT in [0, 2^32)."""
    return _prefix(digest(_keyed(key, seed)), 8)


def sql_hash32(key: str, seed: int | str | None = None) -> str:
    """DuckDB twin of `hash32`."""
    return _sql_prefix(sql_digest(_sql_keyed(key, seed)), 8)


def py_hash32(value, seed: int | str | None = None) -> int:
    """Python twin of `hash32`, with `py_hash15`'s ``str(value)`` rule."""
    return _py_prefix(value, seed, 8)


def fingerprint(text: Column) -> Column:
    """128-bit content fingerprint (hex) of the normalized text."""
    return digest(normalize_text(text))


def sql_fingerprint(text: str = "text") -> str:
    """DuckDB twin of `fingerprint`."""
    return sql_digest(sql_normalize_text(text))


def minhash_signature(shingle: Column, k: int) -> list[Column]:
    """MinHash aggregates h_i = MIN(seeded_md5(shingle, i)) for seeds
    0..k-1, aliased ``h0..h{k-1}``: a lexicographic MIN over hex, the same
    in both engines."""
    return [F.min(seeded_md5(shingle, i)).alias(f"h{i}") for i in range(k)]


def sql_minhash_signature(shingle: str = "shingle", k: int = 6) -> str:
    """DuckDB twin of `minhash_signature`, as a select list."""
    return ", ".join(f"MIN({sql_seeded_md5(shingle, i)}) AS h{i}" for i in range(k))


def _band_cols(band: int, rows_per_band: int) -> list[str]:
    return [f"h{band * rows_per_band + r}" for r in range(rows_per_band)]


def band_key(band: int, rows_per_band: int) -> Column:
    """LSH band key of band ``band``: the `digest` of its signature
    columns joined by '|'."""
    return digest(F.concat_ws("|", *map(F.col, _band_cols(band, rows_per_band))))


def sql_band_key(band: str = "band_idx", k: int = 6, rows_per_band: int = 2) -> str:
    """DuckDB twin of `band_key`: the key of the band numbered by the SQL
    expression ``band``, over a signature of k columns."""
    keys = [
        sql_digest(" || '|' || ".join(_band_cols(b, rows_per_band)))
        for b in range(k // rows_per_band)
    ]
    whens = " ".join(f"WHEN {b} THEN {key}" for b, key in enumerate(keys[:-1]))
    return f"CASE {band} {whens} ELSE {keys[-1]} END"


def seed_order(id_col: str) -> list[Column]:
    """Sort keys of the seeded pick: (md5(id), id). Taking the first k
    rows in this order gives k seeds decorrelated from id order, the same
    on any engine or partitioning."""
    return [digest(F.col(id_col)), F.col(id_col)]


def sql_seed_order(id_col: str = "vec_id") -> str:
    """DuckDB twin of `seed_order`, as an ORDER BY list."""
    return f"{sql_digest(f'CAST({id_col} AS VARCHAR)')}, {id_col}"
