"""Benchmark n-gram decontamination (operators/decontaminate.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pinecone_datasets_spark.operators.decontaminate import (
    _grams_table,
    decontaminate,
    ngram_contamination,
)

from conftest import TESTDATA


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{TESTDATA}/documents.parquet")


def test_word_ngrams_known_answer(spark):
    """The word n-grams ngram_contamination builds (``_grams_table``):
    lower-cased, distinct, of size exactly n."""
    df = spark.createDataFrame(
        [(1, "The quick  brown fox"), (2, "a b"), (3, "  "), (4, None)],
        "id long, text string",
    )
    got = {
        r["id"]: None if r["_grams"] is None else sorted(r["_grams"])
        for r in _grams_table(df, "text", 3, "id").collect()
    }
    assert got[1] == ["quick brown fox", "the quick brown"]
    # exact semantics: n-grams of size exactly 3
    df3 = spark.createDataFrame([(1, "x y z w")], "id long, text string")
    (row,) = _grams_table(df3, "text", 3).collect()
    assert sorted(row["_grams"]) == ["x y z", "y z w"]
    assert got[2] == []  # shorter than n
    assert got[3] == []  # whitespace only
    assert got[4] is None or got[4] == []  # null text


def test_contamination_known_answer(spark):
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),   # contains bench 3-gram
            (2, "alpha beta epsilon zeta"),  # shares words, no 3-gram
            (3, "unrelated text entirely here"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "ALPHA beta   gamma omicron")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["n_doc_ngrams"], r["n_hit_ngrams"])
        for r in ngram_contamination(corpus, bench, n=3).collect()
    }
    assert out[1] == (2, 1)  # "alpha beta gamma" hits (case-folded)
    assert out[2] == (2, 0)
    assert out[3] == (2, 0)
    kept = decontaminate(corpus, bench, n=3)
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 3]


def test_hash_join_variant_identical(spark, docs):
    bench = docs.where(F.col("doc_id") % 97 == 0)
    plain = ngram_contamination(docs, bench, n=3).collect()
    hashed = ngram_contamination(docs, bench, n=3, join_on_hash=True).collect()
    key = lambda rows: sorted(
        (r["doc_id"], r["n_doc_ngrams"], r["n_hit_ngrams"]) for r in rows
    )
    assert key(plain) == key(hashed)


def test_fixture_contamination_sane(spark, docs):
    """The fixture corpus has planted duplicates, so a doc subset used as
    'benchmark' must contaminate its duplicate partners (and itself when
    left in the corpus)."""
    bench = docs.where(F.col("doc_id") % 97 == 0)
    out = ngram_contamination(docs, bench, n=3)
    self_rows = out.join(bench.select("doc_id"), "doc_id").where(
        (F.col("n_doc_ngrams") > 0)
        & (F.col("n_hit_ngrams") != F.col("n_doc_ngrams"))
    )
    assert self_rows.count() == 0  # bench docs are fully self-contaminated
    n_flagged = out.where(F.col("n_hit_ngrams") > 0).count()
    assert n_flagged >= bench.where(F.length(F.trim("text")) > 0).count()


def test_no_corpus_scale_shuffle(spark, docs):
    """Both joins must be broadcasts — the corpus never crosses an
    exchange except as the post-agg hit sliver."""
    bench = docs.where(F.col("doc_id") % 97 == 0)
    plan = (
        ngram_contamination(docs, bench, n=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# semantic (embedding-space) contamination
# ---------------------------------------------------------------------------


@pytest.fixture()
def emb_frames(spark):
    """4 corpus vectors, 2 bench vectors; c1 is (almost) a bench dup,
    c2 is its exact negative, c3/c4 are orthogonal to the bench."""
    corpus = spark.createDataFrame(
        [
            ("c1", [1.0, 0.01, 0.0]),
            ("c2", [-1.0, 0.0, 0.0]),
            ("c3", [0.0, 1.0, 0.0]),
            ("c4", [0.0, 0.0, 1.0]),
        ],
        "vec_id string, embedding array<double>",
    )
    bench = spark.createDataFrame(
        [("b1", [1.0, 0.0, 0.0]), ("b2", [0.7071, 0.7071, 0.0])],
        "vec_id string, embedding array<double>",
    )
    return corpus, bench


def test_semantic_contamination_known_answer(spark, emb_frames):
    from pinecone_datasets_spark.operators.decontaminate import (
        semantic_contamination,
    )

    corpus, bench = emb_frames
    out = {
        r.vec_id: r
        for r in semantic_contamination(corpus, bench, threshold=0.9).collect()
    }
    assert out["c1"].is_contaminated and out["c1"].n_bench_ge == 1
    assert abs(out["c1"].max_cos - (1.0 / (1.0 + 0.01**2) ** 0.5)) < 1e-9
    assert not out["c2"].is_contaminated and out["c2"].max_cos < 0
    # c3 hits b2 at cos ~0.7071 — below 0.9, above 0.5
    assert not out["c3"].is_contaminated
    assert abs(out["c3"].max_cos - 0.7071067811) < 1e-6
    assert not out["c4"].is_contaminated and abs(out["c4"].max_cos) < 1e-12
    # threshold 0.5: c1 hits both bench vectors, c3 hits b2
    out5 = {
        r.vec_id: r
        for r in semantic_contamination(corpus, bench, threshold=0.5).collect()
    }
    assert out5["c1"].n_bench_ge == 2 and out5["c3"].n_bench_ge == 1


def test_semantic_contamination_matches_expression_path(spark, sf_dir):
    """UDF GEMM path == built-in cosine_similarity cross-join fold on
    the real fixture (float64 both sides)."""
    from pinecone_datasets_spark.functions.vector import cosine_similarity
    from pinecone_datasets_spark.operators.decontaminate import (
        semantic_contamination,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    bench = emb.where(F.col("vec_id") % 31 == 0)
    corpus = emb.where(F.col("vec_id") % 31 != 0)
    got = {
        r.vec_id: (round(r.max_cos, 9), r.n_bench_ge)
        for r in semantic_contamination(corpus, bench, threshold=0.3).collect()
    }
    b = bench.select(F.col("embedding").alias("_bv"))
    want = {
        r.vec_id: (round(r.mc, 9), r.ng)
        for r in corpus.crossJoin(F.broadcast(b))
        .select(
            "vec_id",
            cosine_similarity("embedding", "_bv").alias("_c"),
        )
        .groupBy("vec_id")
        .agg(
            F.max("_c").alias("mc"),
            F.sum((F.col("_c") >= 0.3).cast("long")).alias("ng"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_semantic_decontaminate_one_pass_and_guards(spark, emb_frames):
    from pinecone_datasets_spark.operators.decontaminate import (
        semantic_contamination,
        semantic_decontaminate,
    )

    corpus, bench = emb_frames
    kept = semantic_decontaminate(corpus, bench, threshold=0.9)
    assert sorted(r.vec_id for r in kept.collect()) == ["c2", "c3", "c4"]
    assert kept.columns == corpus.columns
    # one-pass shape: no join/exchange in the physical plan
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan, plan
    # guards: empty benchmark, over-size benchmark, bad threshold
    empty = bench.where(F.lit(False))
    with pytest.raises(ValueError, match="no non-null"):
        semantic_contamination(corpus, empty)
    with pytest.raises(ValueError, match="max_bench_rows"):
        semantic_contamination(corpus, bench, max_bench_rows=1)
    with pytest.raises(ValueError, match="threshold"):
        semantic_contamination(corpus, bench, threshold=0.0)


def test_semantic_contamination_null_empty_and_dim_mismatch(spark):
    from pinecone_datasets_spark.operators.decontaminate import (
        semantic_contamination,
    )

    bench = spark.createDataFrame(
        [("b1", [1.0, 0.0, 0.0])], "vec_id string, embedding array<double>"
    )
    corpus = spark.createDataFrame(
        [
            ("c1", [1.0, 0.0, 0.0]),
            ("cnull", None),
            ("cempty", []),
        ],
        "vec_id string, embedding array<double>",
    )
    out = {
        r.vec_id: r
        for r in semantic_contamination(corpus, bench, threshold=0.9).collect()
    }
    # NULL/empty vectors score 0 (not contaminated), never crash
    for vid in ("cnull", "cempty"):
        assert out[vid].max_cos == 0.0 and not out[vid].is_contaminated
    assert out["c1"].is_contaminated
    # a wrong-width vector is a data bug: the job fails loudly
    bad = spark.createDataFrame(
        [("cbad", [1.0, 0.0])], "vec_id string, embedding array<double>"
    )
    with pytest.raises(Exception, match="dim"):
        semantic_contamination(bad, bench, threshold=0.9).collect()
