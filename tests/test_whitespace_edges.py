"""Edge-whitespace contract of the word tokenizer and the whitespace
normalizer (functions/text.py ``words`` / ``normalize_ws`` and their
DuckDB and Python twins).

One table: a base text with each of the six ASCII whitespace characters
at its leading and at its trailing edge, plus NBSP at each edge, the
empty text, an all-whitespace text, NULL, and a space before a trailing
Unicode line terminator. Edge whitespace of the
class must not change any operator's answer; NBSP is content, not
whitespace. Each operator runs one Spark job over the whole table, and
the helpers must agree exactly across Spark, DuckDB and Python.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pinecone_datasets_spark.functions.text import (
    normalize_ws,
    normalize_ws_sql,
    rolling_hash_fingerprint,
    split_words,
    stopword_ratio,
    word_count,
    words,
    words_sql,
)
from pinecone_datasets_spark.operators.dedup import exact_dedup, simhash64
from pinecone_datasets_spark.operators.keyword import _tf_frames

BASE = "the alpha beta"
BASE_ID = 1
ASCII_WS = (" ", "\t", "\n", "\r", "\f", "\x0b")
#: ids whose text is BASE with one class character at one edge
EDGE_IDS = tuple(range(10, 10 + 2 * len(ASCII_WS)))
NBSP_IDS = (30, 31)
EMPTY_ID, ALL_WS_ID, NULL_ID = 40, 41, 42
#: a trailing space before a Unicode line terminator (U+2028, U+0085,
#: U+2029): the space is whitespace, the terminator is content, in
#: every engine (Java's ``$`` would match before the terminator)
LINE_SEP_IDS = (50, 51, 52)

ROWS = (
    [(BASE_ID, BASE)]
    + [(10 + i, ch + BASE) for i, ch in enumerate(ASCII_WS)]
    + [(10 + len(ASCII_WS) + i, BASE + ch) for i, ch in enumerate(ASCII_WS)]
    + [(NBSP_IDS[0], "\xa0" + BASE), (NBSP_IDS[1], BASE + "\xa0")]
    + [(EMPTY_ID, ""), (ALL_WS_ID, "".join(ASCII_WS)), (NULL_ID, None)]
    + [
        (i, "alpha " + ch)
        for i, ch in zip(LINE_SEP_IDS, ("\u2028", "\x85", "\u2029"))
    ]
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


def _by_id(df, col):
    return {r["doc_id"]: r[col] for r in df.collect()}


def test_exact_dedup_folds_class_edges_and_keeps_nbsp(docs):
    kept = {r["doc_id"] for r in exact_dedup(docs).select("doc_id").collect()}
    # every class-edge variant folds into BASE; the all-whitespace text
    # folds into the empty one; NBSP and line-terminator texts are
    # distinct content
    assert kept == {BASE_ID, *NBSP_IDS, EMPTY_ID, NULL_ID, *LINE_SEP_IDS}


def test_simhash64_ignores_class_edges(docs):
    # md5: the oracle-replayable path (the xxhash64 path shares the
    # token array and costs ~8 s of plan compile per call)
    got = _by_id(simhash64(docs, hash_fn="md5"), "simhash")
    assert {got[i] for i in EDGE_IDS} == {got[BASE_ID]}
    assert got[EMPTY_ID] == got[ALL_WS_ID] == 0


@pytest.mark.parametrize(
    "fn, base, empty",
    [
        (word_count, 3, 0),
        (stopword_ratio, 1 / 3, 0.0),
        (rolling_hash_fingerprint, None, 0),
    ],
    ids=["word_count", "stopword_ratio", "rolling_hash_fingerprint"],
)
def test_scalar_signals_ignore_class_edges(docs, fn, base, empty):
    got = _by_id(docs.select("doc_id", fn(F.col("text")).alias("v")), "v")
    if base is not None:
        assert got[BASE_ID] == pytest.approx(base)
    assert {got[i] for i in EDGE_IDS} == {got[BASE_ID]}
    assert got[EMPTY_ID] == got[ALL_WS_ID] == empty
    assert got[NULL_ID] is None


def test_nbsp_is_content_for_scalar_signals(docs):
    got = {
        r["doc_id"]: (r["n"], r["stop"])
        for r in docs.select(
            "doc_id",
            word_count(F.col("text")).alias("n"),
            stopword_ratio(F.col("text")).alias("stop"),
        ).collect()
    }
    # "\xa0the" is one token and not a stopword; "beta\xa0" one token
    assert got[NBSP_IDS[0]] == (3, 0.0)
    assert got[NBSP_IDS[1]] == (3, pytest.approx(1 / 3))


def test_bm25_term_sets_ignore_class_edges(docs):
    tf, _, _ = _tf_frames(docs, "doc_id", "text")
    terms: dict[int, set] = {}
    for r in tf.collect():
        terms.setdefault(r["doc_id"], set()).add(r["term"])
    want = {"the", "alpha", "beta"}
    assert all(terms[i] == want for i in (BASE_ID, *EDGE_IDS))
    assert terms[NBSP_IDS[0]] == {"\xa0the", "alpha", "beta"}
    assert terms[NBSP_IDS[1]] == {"the", "alpha", "beta\xa0"}
    assert not {EMPTY_ID, ALL_WS_ID, NULL_ID} & set(terms)


def test_helpers_agree_across_spark_duckdb_python(docs):
    spark_rows = {
        r["doc_id"]: (r["w"], r["n"])
        for r in docs.select(
            "doc_id",
            words(F.col("text")).alias("w"),
            normalize_ws(F.col("text")).alias("n"),
        ).collect()
    }
    con = duckdb.connect()
    con.register("t", pd.DataFrame(ROWS, columns=["doc_id", "text"]))
    duck_rows = {
        i: (w, n)
        for i, w, n in con.execute(
            f"SELECT doc_id, {words_sql('text')}, {normalize_ws_sql('text')}"
            " FROM t"
        ).fetchall()
    }
    con.close()
    py_rows = {
        i: (None, None)
        if t is None
        else (split_words(t), " ".join(split_words(t)))
        for i, t in ROWS
    }
    assert spark_rows == duck_rows == py_rows
    assert py_rows[BASE_ID] == (["the", "alpha", "beta"], BASE)
    assert all(py_rows[i] == py_rows[BASE_ID] for i in EDGE_IDS)
    assert py_rows[ALL_WS_ID] == py_rows[EMPTY_ID] == ([], "")
