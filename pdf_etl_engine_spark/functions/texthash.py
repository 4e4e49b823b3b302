"""Portable text hashing: each Spark Column builder next to its DuckDB
twin, so DuckDB recomputes the text-dedup keys (x9b, x3d/x22c, x3e,
x46, x49/x50) bit for bit without an engine hash builtin.

The hash is a Karp-Rabin left fold ``h = (h·base + c) mod M`` from
``seed``, with M = 2³¹ − 1 so every product stays below 2⁶³. Callers
pick (base, seed): (131, 7) for word and gram hashes, (137, 11) for the
second span hash, (31, 7) for feature buckets. Char codes are Unicode
code points on both engines (``ascii``, ``length`` and ``substr`` count
code points), so the hashes agree on non-ASCII text too.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

M = 2147483647  # Karp-Rabin modulus, the Mersenne prime 2^31 - 1


def words(col: str = "text") -> Column:
    """Non-empty single-space-separated tokens of ``col``."""
    return F.filter(F.split(F.col(col), " "), lambda w: w != "")


def words_sql(col: str = "text") -> str:
    """DuckDB twin of :func:`words`."""
    return f"list_filter(string_split({col}, ' '), w -> w <> '')"


def char_codes(s: Column) -> Column:
    """Code point of each character of ``s``; empty for ''. (A
    ``sequence(1, length)`` index would count down to [1, 0] there.)"""
    return F.transform(
        F.array_repeat(F.lit(0), F.length(s)),
        lambda _, i: F.ascii(s.substr(i + 1, F.lit(1))),
    )


def char_codes_sql(s: str) -> str:
    """DuckDB twin of :func:`char_codes` over a VARCHAR expression."""
    return (
        f"list_transform(range(1, len({s}) + 1), "
        f"i -> CAST(ascii(substr({s}, CAST(i AS INTEGER), 1)) AS BIGINT))"
    )


def kr_roll(arr: Column, base: int = 131, seed: int = 7) -> Column:
    """Karp-Rabin fold of an integer array, int64-exact."""
    b = F.lit(base).cast("long")
    m = F.lit(M).cast("long")
    return F.aggregate(
        arr, F.lit(seed).cast("long"), lambda a, c: (a * b + c.cast("long")) % m
    )


def kr_roll_sql(arr: str, base: int = 131, seed: int = 7) -> str:
    """DuckDB twin of :func:`kr_roll` over a list expression."""
    return (
        f"list_reduce([CAST({seed} AS BIGINT)] || {arr}, "
        f"(a, b) -> (a * {base} + b) % {M})"
    )


def word_hashes(col: str = "text") -> Column:
    """Per-token Karp-Rabin hash of :func:`words` at (131, 7)."""
    return F.transform(words(col), lambda w: kr_roll(char_codes(w)))


def word_hashes_sql(col: str = "text") -> str:
    """DuckDB twin of :func:`word_hashes`."""
    return f"list_transform({words_sql(col)}, w -> {kr_roll_sql(char_codes_sql('w'))})"
