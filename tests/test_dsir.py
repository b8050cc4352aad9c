"""DSIR importance resampling (operators/dsir.py)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pinecone_datasets_spark.functions.text import words
from pinecone_datasets_spark.operators.dsir import (
    _ngrams,
    doc_bucket_counts,
    dsir_log_ratios,
    dsir_resample,
    dsir_sql,
    dsir_weights,
    gumbel_key,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def _grams_of(spark, text, n):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(
        _ngrams(words(F.lower(F.col("text"))), n).alias("g")
    ).first().g


def test_ngrams_shapes(spark):
    assert _grams_of(spark, "a b c d", 1) == ["a", "b", "c", "d"]
    assert _grams_of(spark, "a b c d", 2) == ["a b", "b c", "c d"]
    assert _grams_of(spark, "a b c d", 3) == ["a b c", "b c d"]
    assert _grams_of(spark, "a", 2) == []
    assert _grams_of(spark, "  ", 2) == []
    # tokenizer folds case and collapses whitespace runs
    assert _grams_of(spark, " A   b ", 2) == ["a b"]


def test_doc_bucket_counts_conserves_grams(spark, docs):
    per_doc = doc_bucket_counts(docs, n=2, n_buckets=64)
    total = per_doc.agg(F.sum("cnt")).first()[0]
    expected = docs.select(
        F.sum(
            F.greatest(F.size(words(F.lower(F.col("text")))) - 1, F.lit(0))
        )
    ).first()[0]
    assert total == expected
    assert per_doc.where((F.col("bucket") < 0) | (F.col("bucket") >= 64)).count() == 0


def test_log_ratios_zero_when_target_is_raw(spark, docs):
    # target == raw -> identical smoothed LMs -> every ratio is 0
    r = dsir_log_ratios(docs, docs, n=2, n_buckets=128)
    mx = r.agg(F.max(F.abs("log_ratio"))).first()[0]
    assert mx == pytest.approx(0.0, abs=1e-12)


def test_weights_favor_target_like_docs(spark, docs):
    tgt = docs.where(F.col("lang") == "en").select("text")
    w = dsir_weights(docs, tgt, n=2, n_buckets=2000).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    means = {
        r.lang: r.m
        for r in w.groupBy("lang").agg(F.avg("log_weight").alias("m")).collect()
    }
    assert means["en"] > max(v for k, v in means.items() if k != "en")


def test_weights_cover_all_docs(spark, docs):
    w = dsir_weights(docs, docs.limit(50).select("text"), n=2, n_buckets=500)
    assert w.count() == docs.count()
    assert w.where(F.col("log_weight").isNull()).count() == 0


def test_resample_skews_toward_target(spark, docs):
    tgt = docs.where(F.col("lang") == "en").select("text")
    sel = dsir_resample(docs, tgt, k=50, n=2, n_buckets=2000)
    picked = sel.join(docs.select("doc_id", "lang"), "doc_id")
    n_en = picked.where(F.col("lang") == "en").count()
    base = docs.where(F.col("lang") == "en").count() / docs.count()
    assert sel.count() == 50
    assert n_en / 50 > base + 0.2  # strong, not marginal, enrichment


def test_resample_deterministic_given_seed(spark, docs):
    tgt = docs.where(F.col("source") == "web").select("text")
    a = dsir_resample(docs, tgt, k=20, seed=7, n_buckets=500).collect()
    b = dsir_resample(docs, tgt, k=20, seed=7, n_buckets=500).collect()
    assert [r.doc_id for r in a] == [r.doc_id for r in b]
    c = dsir_resample(docs, tgt, k=20, seed=8, n_buckets=500).collect()
    assert [r.doc_id for r in a] != [r.doc_id for r in c]


def test_temperature_extremes(spark, docs):
    # temperature -> tiny: Gumbel noise is negligible, selection is the
    # deterministic top-k by weight
    tgt = docs.where(F.col("lang") == "zh").select("text")
    det = dsir_resample(docs, tgt, k=10, temperature=1e-9, n_buckets=500)
    top = dsir_weights(docs, tgt, n_buckets=500).orderBy(
        F.desc("log_weight"), "doc_id"
    ).limit(10)
    assert {r.doc_id for r in det.collect()} == {r.doc_id for r in top.collect()}


def test_gumbel_key_distribution(spark):
    # mean of a standard Gumbel is the Euler-Mascheroni constant ~0.577
    ids = spark.range(20000).select(F.col("id").cast("string").alias("i"))
    m = ids.select(gumbel_key(F.col("i"), seed=1).alias("g")).agg(
        F.avg("g")
    ).first()[0]
    assert m == pytest.approx(0.5772, abs=0.05)


def test_duckdb_twin_bit_exact(spark, docs):
    import duckdb

    sel = dsir_resample(
        docs, docs.where(F.col("lang") == "de").select("text"),
        k=30, n=2, n_buckets=1000, seed=5,
    )
    got = [(r.doc_id, round(r.log_weight, 6), round(r.key, 6))
           for r in sel.collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    want = [(r[0], round(r[1], 6), round(r[2], 6)) for r in con.execute(
        dsir_sql(
            "documents", "(SELECT text FROM documents WHERE lang = 'de')",
            k=30, n=2, n_buckets=1000, seed=5,
        )
    ).fetchall()]
    assert got == want


def test_vertical_tab_tokenizes_identically_across_twins(spark):
    # Java \s matches \x0B, RE2's does not — the dsir tokenizer uses an
    # explicit class on BOTH sides so a \x0B-bearing document gets the
    # same buckets/weights/keep-set in Spark and DuckDB (ADVICE r5).
    import duckdb

    rows = [("a", "alpha\x0bbeta gamma"), ("b", "alpha beta\x0bgamma")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    sel = dsir_resample(df, df.select("text"), k=2, n=2, n_buckets=64,
                        seed=3, id_col="doc_id")
    got = sorted((r.doc_id, round(r.log_weight, 6), round(r.key, 6))
                 for r in sel.collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW d AS SELECT * FROM (VALUES "
        "('a', 'alpha' || chr(11) || 'beta gamma'), "
        "('b', 'alpha beta' || chr(11) || 'gamma')) t(doc_id, text)"
    )
    want = sorted((r[0], round(r[1], 6), round(r[2], 6)) for r in con.execute(
        dsir_sql("d", "(SELECT text FROM d)", k=2, n=2, n_buckets=64,
                 seed=3, id_col="doc_id")
    ).fetchall())
    assert got == want
    # and the Spark tokenizer itself splits on \x0B (Java-\s parity)
    assert _grams_of(spark, "x\x0by", 1) == ["x", "y"]


def test_guards(spark, docs):
    with pytest.raises(ValueError):
        dsir_resample(docs, docs, k=0)
    with pytest.raises(ValueError):
        dsir_resample(docs, docs, k=5, temperature=0.0)
    with pytest.raises(ValueError):
        dsir_weights(docs, docs, smoothing=0.0)


def test_null_text_gets_zero_weight(spark):
    raw = spark.createDataFrame(
        [(1, "hello world hello"), (2, None), (3, "x")],
        "doc_id long, text string",
    )
    tgt = raw.where(F.col("doc_id") == 1).select("text")
    w = {r.doc_id: r.log_weight
         for r in dsir_weights(raw, tgt, n=2, n_buckets=64).collect()}
    assert set(w) == {1, 2, 3}       # NULL-text doc is not dropped
    assert w[2] == 0.0 and w[3] == 0.0


def test_n_guard(spark, docs):
    with pytest.raises(ValueError, match="n must be"):
        dsir_weights(docs, docs, n=0)
    with pytest.raises(ValueError, match="n must be"):
        dsir_sql("documents", "documents", k=5, n=0)
