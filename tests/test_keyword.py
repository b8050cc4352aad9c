"""BM25 keyword search and RRF fusion (operators/keyword.py)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pinecone_datasets_spark.operators.keyword import bm25_topk, rrf_fuse
from pinecone_datasets_spark.plans.explain import formatted_plan


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "apple banana apple"),
        (1, "banana cherry"),
        (2, "cherry cherry cherry date"),
        (3, "apple date"),
    ]
    return spark.createDataFrame(rows, schema="doc_id long, text string")


def _bm25_ref(corpus_rows, query_terms, k1=1.2, b=0.75):
    """Plain-Python BM25 over the fixture for expected values."""
    toks = {d: t.split() for d, t in corpus_rows}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    scores = {}
    for term in query_terms:
        df = sum(1 for v in toks.values() if term in v)
        if df == 0:
            continue
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        for d, v in toks.items():
            tf = v.count(term)
            if tf == 0:
                continue
            dl = len(v)
            contrib = idf * (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * dl / avgdl)
            )
            scores[d] = scores.get(d, 0.0) + contrib
    return scores


def test_bm25_matches_reference_formula(spark, corpus):
    queries = spark.createDataFrame(
        [(0, "apple cherry")], schema="query_id long, query_text string"
    )
    got = {
        r.doc_id: r.score
        for r in bm25_topk(corpus, queries, k=10).collect()
    }
    rows = [(0, "apple banana apple"), (1, "banana cherry"),
            (2, "cherry cherry cherry date"), (3, "apple date")]
    want = _bm25_ref(rows, ["apple", "cherry"])
    assert set(got) == set(want)
    for d in want:
        assert got[d] == pytest.approx(want[d], rel=1e-12)


def test_bm25_rank_is_deterministic_and_bounded(spark, corpus):
    queries = spark.createDataFrame(
        [(0, "apple"), (1, "cherry")],
        schema="query_id long, query_text string",
    )
    out = bm25_topk(corpus, queries, k=1).collect()
    got = {(r.query_id): r.doc_id for r in out}
    # doc 0 has tf(apple)=2; doc 2 has tf(cherry)=3
    assert got == {0: 0, 1: 2}


def test_bm25_repeated_query_terms_count_once(spark, corpus):
    q1 = spark.createDataFrame(
        [(0, "apple apple")], schema="query_id long, query_text string"
    )
    q2 = spark.createDataFrame(
        [(0, "apple")], schema="query_id long, query_text string"
    )
    s1 = {r.doc_id: r.score for r in bm25_topk(corpus, q1, k=10).collect()}
    s2 = {r.doc_id: r.score for r in bm25_topk(corpus, q2, k=10).collect()}
    assert s1 == s2


def test_bm25_unseen_term_scores_nothing(spark, corpus):
    queries = spark.createDataFrame(
        [(0, "zebra")], schema="query_id long, query_text string"
    )
    assert bm25_topk(corpus, queries, k=10).count() == 0


def test_bm25_plan_partial_topk_and_broadcast(spark, corpus):
    queries = spark.createDataFrame(
        [(0, "apple")], schema="query_id long, query_text string"
    )
    plan = formatted_plan(bm25_topk(corpus, queries, k=5))
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan


def test_bm25_index_path_matches_online_path(spark, corpus, tmp_path):
    from pinecone_datasets_spark.operators.keyword import (
        bm25_index_topk,
        build_bm25_index,
    )

    path = str(tmp_path / "bm25_idx")
    build_bm25_index(corpus, path)
    queries = spark.createDataFrame(
        [(0, "apple cherry"), (1, "date")],
        schema="query_id long, query_text string",
    )
    online = sorted(
        (r.query_id, r.doc_id, round(r.score, 9), r.rank)
        for r in bm25_topk(corpus, queries, k=10).collect()
    )
    indexed = sorted(
        (r.query_id, r.doc_id, round(r.score, 9), r.rank)
        for r in bm25_index_topk(spark, path, queries, k=10).collect()
    )
    assert indexed == online


def test_bm25_index_scan_pushes_term_filter(spark, corpus, tmp_path):
    from pinecone_datasets_spark.operators.keyword import (
        bm25_index_topk,
        build_bm25_index,
    )

    path = str(tmp_path / "bm25_idx2")
    build_bm25_index(corpus, path)
    queries = spark.createDataFrame(
        [(0, "apple cherry")], schema="query_id long, query_text string"
    )
    plan = formatted_plan(bm25_index_topk(spark, path, queries, k=5))
    # the literal term predicate must reach the parquet reader
    # (1 term compiles to EqualTo, >1 to In)
    assert "PushedFilters" in plan
    assert "In(term" in plan or "EqualTo(term" in plan


def test_merge_bm25_indexes_matches_full_rebuild(spark, sf_dir, tmp_path):
    from pinecone_datasets_spark.operators.keyword import (
        bm25_index_topk,
        build_bm25_index,
        merge_bm25_indexes,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    seg_a = docs.where(F.col("doc_id") % 3 == 0)
    seg_b = docs.where(F.col("doc_id") % 3 == 1)
    seg_c = docs.where(F.col("doc_id") % 3 == 2)
    pa, pb, pc = (str(tmp_path / s) for s in ("a", "b", "c"))
    for seg, p in ((seg_a, pa), (seg_b, pb), (seg_c, pc)):
        build_bm25_index(seg, p)
    merged = str(tmp_path / "merged")
    merge_bm25_indexes(spark, [pa, pb, pc], merged, validate=True)
    full = str(tmp_path / "full")
    build_bm25_index(docs, full)

    queries = spark.createDataFrame(
        [(0, "spark join table"), (1, "window agg row")],
        schema="query_id long, query_text string",
    )
    got = sorted(
        (r.query_id, r.doc_id, round(r.score, 6), r.rank)
        for r in bm25_index_topk(spark, merged, queries, k=10).collect()
    )
    want = sorted(
        (r.query_id, r.doc_id, round(r.score, 6), r.rank)
        for r in bm25_index_topk(spark, full, queries, k=10).collect()
    )
    assert got == want
    # merged sidecar carries the union corpus scalars
    from pinecone_datasets_spark import index_store

    m = index_store.load(spark, merged, "bm25")
    f = index_store.load(spark, full, "bm25")
    assert m["n_docs"] == f["n_docs"]
    assert abs(m["avgdl"] - f["avgdl"]) < 1e-9


def test_merge_bm25_rejects_overlap_and_bad_args(spark, corpus, tmp_path):
    from pinecone_datasets_spark.operators.keyword import (
        build_bm25_index,
        merge_bm25_indexes,
    )

    p1, p2 = str(tmp_path / "i1"), str(tmp_path / "i2")
    build_bm25_index(corpus, p1)
    build_bm25_index(corpus.where(F.col("doc_id") < 2), p2)  # overlaps p1
    with pytest.raises(ValueError, match="overlap"):
        merge_bm25_indexes(spark, [p1, p2], str(tmp_path / "m"),
                           validate=True)
    with pytest.raises(ValueError, match=">= 2"):
        merge_bm25_indexes(spark, [p1], str(tmp_path / "m"))
    # in-place merge fails fast, before any I/O
    with pytest.raises(ValueError, match="also an input"):
        merge_bm25_indexes(spark, [p1, p2], p1)


def test_rrf_fuse_sums_and_ranks(spark):
    a = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2)], schema="query_id long, doc_id long, rank long"
    )
    b = spark.createDataFrame(
        [(0, 11, 1), (0, 12, 2)], schema="query_id long, doc_id long, rank long"
    )
    out = {r.doc_id: (r.rrf_score, r.rank) for r in rrf_fuse([a, b]).collect()}
    # doc 11 appears in both lists -> highest fused score
    assert out[11][0] == pytest.approx(1 / 62 + 1 / 61)
    assert out[11][1] == 1
    assert out[10][0] == pytest.approx(1 / 61)
    assert out[12][0] == pytest.approx(1 / 62)


def test_rrf_fuse_requires_input(spark):
    with pytest.raises(ValueError):
        rrf_fuse([])


def test_bm25_index_topk_semi_join_path_matches_literal(
    spark, tmp_path, monkeypatch
):
    """r11 review: bm25_index_topk's literal term IN list was unbounded
    (the plan-bloat pathology _MAX_ISIN_LITERALS exists for). It now
    routes through _filtered_postings; forcing the broadcast-semi-join
    branch must give identical results to the literal branch."""
    from pinecone_datasets_spark.operators import keyword as kw

    docs = spark.createDataFrame(
        [
            ("d1", "alpha beta gamma"),
            ("d2", "beta gamma delta"),
            ("d3", "epsilon zeta alpha"),
        ],
        "doc_id string, text string",
    )
    queries = spark.createDataFrame(
        [("q1", "alpha beta"), ("q2", "delta zeta")],
        "query_id string, query_text string",
    )
    path = str(tmp_path / "bm25_semi")
    kw.build_bm25_index(docs, path)
    lit = {
        (r.query_id, r.doc_id, r.rank, round(r.score, 9))
        for r in kw.bm25_index_topk(spark, path, queries, k=3).collect()
    }
    monkeypatch.setattr(kw, "_MAX_ISIN_LITERALS", 1)
    semi = {
        (r.query_id, r.doc_id, r.rank, round(r.score, 9))
        for r in kw.bm25_index_topk(spark, path, queries, k=3).collect()
    }
    assert lit == semi and lit
