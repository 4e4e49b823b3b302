"""Portable text hashes (functions/texthash.py): every Spark builder
must return exactly what its DuckDB twin returns, including on text
the corpus never holds — non-ASCII code points (BMP and astral), empty
text, runs of spaces, 1-char tokens and a token longer than a 40-char
span gram.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from pdf_etl_engine_spark.functions.texthash import (
    char_codes,
    char_codes_sql,
    kr_roll,
    kr_roll_sql,
    word_hashes,
    word_hashes_sql,
    words,
    words_sql,
)

TEXTS = [
    "naïve café",
    "日本 語",
    "😀x x😀 😀",
    "",
    " ",
    "a  b   c ",
    "  leading and trailing  ",
    "a b c d e",
    "x" * 45 + " " + "ab" * 23,
    "mixed naïve 日本 😀x 1 " + "z" * 41,
]


@pytest.fixture(scope="module")
def frames(spark):
    sdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "id INT, text STRING"
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(TEXTS)))
    return sdf, con


def _both(frames, col, sql):
    sdf, con = frames
    got = {r[0]: r[1] for r in sdf.select("id", col).collect()}
    want = dict(con.execute(f"SELECT id, {sql} FROM t").fetchall())
    return got, want


def test_words_match_duckdb(frames):
    got, want = _both(frames, words(), words_sql())
    assert got == want
    assert got[3] == [] and got[4] == [] and got[5] == ["a", "b", "c"]


def test_char_codes_are_code_points(frames):
    got, want = _both(frames, char_codes(F.col("text")), char_codes_sql("text"))
    assert got == want
    for i, t in enumerate(TEXTS):
        assert got[i] == [ord(c) for c in t]


@pytest.mark.parametrize("base,seed", [(131, 7), (137, 11), (31, 7)])
def test_kr_roll_matches_duckdb(frames, base, seed):
    got, want = _both(
        frames,
        kr_roll(char_codes(F.col("text")), base, seed),
        kr_roll_sql(char_codes_sql("text"), base, seed),
    )
    assert got == want
    for i, t in enumerate(TEXTS):
        h = seed
        for c in t:
            h = (h * base + ord(c)) % 2147483647
        assert got[i] == h


def test_word_hashes_match_duckdb(frames):
    got, want = _both(frames, word_hashes(), word_hashes_sql())
    assert got == want
    assert got[3] == [] and len(got[8]) == 2 and len(got[9]) == 6
