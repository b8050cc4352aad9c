"""The per-query tie rule of every ranking operator.

Each operator ends in ``sampling.cap_per_group``: ``row_number`` over
(score desc, id asc) with a literal bound. The inputs below make every
candidate tie on score (identical vectors, identical texts, one judged
relevance), so the kept set is decided by the id tiebreak alone: each
query must return exactly ``k`` rows, ranked 1..k, holding the ``k``
smallest ids in ascending order.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

K = 3
IDS = [4, 1, 5, 0, 3, 2]  # scrambled on purpose; the k smallest win
QIDS = [10, 11]
VEC = [1.0, 2.0, 0.5, -1.0]
TEXT = "red fox jumps"


def _vec_docs(spark):
    return spark.createDataFrame(
        [(i, VEC) for i in IDS], "id long, values array<double>"
    )


def _vec_queries(spark):
    return spark.createDataFrame(
        [(q, VEC) for q in QIDS], "query_id long, vector array<double>"
    )


def _text_docs(spark):
    return spark.createDataFrame(
        [(i, TEXT) for i in IDS], "doc_id long, text string"
    )


def _text_queries(spark):
    return spark.createDataFrame(
        [(q, TEXT) for q in QIDS], "query_id long, query_text string"
    )


def _topk_search(spark):
    from pinecone_datasets_spark.operators.search import topk_search

    out = topk_search(
        _vec_docs(spark), _vec_queries(spark), k=K, metadata_col=None
    )
    return out, "query_id", "id", "rank"


def _topk_search_arrow(spark):
    from pinecone_datasets_spark.operators.search import topk_search_arrow

    out = topk_search_arrow(
        _vec_docs(spark), np.asarray([VEC, VEC]), QIDS, k=K
    )
    return out, "query_id", "id", "rank"


def _hamming_topk(spark):
    from pinecone_datasets_spark.operators.search import hamming_topk

    out = hamming_topk(
        _vec_docs(spark), _vec_queries(spark), dim=len(VEC), k=K, rerank=2
    )
    return out, "query_id", "id", "rank"


def _ivf_topk_inplan(spark):
    from pinecone_datasets_spark.operators.ivf import ivf_topk_inplan

    cells = _vec_docs(spark).withColumn("ivf_cell", F.lit(0))
    cents = [(0, VEC), (1, [-x for x in VEC])]
    out = ivf_topk_inplan(cells, _vec_queries(spark), cents, k=K, nprobe=1)
    return out, "query_id", "id", "rank"


def _pq_topk(spark):
    from pinecone_datasets_spark.operators.pq import pq_topk

    books = np.asarray([[VEC[:2], [0.0, 1.0]], [VEC[2:], [1.0, 0.0]]])
    coded = spark.createDataFrame(
        [(i, [0, 0]) for i in IDS], "id long, pq_code array<int>"
    )
    out = pq_topk(coded, books, np.asarray([VEC, VEC]), QIDS, k=K)
    return out, "query_id", "id", "rank"


def _projected_topk(spark):
    from pinecone_datasets_spark.operators.rproject import projected_topk

    out = projected_topk(
        _vec_docs(spark),
        _vec_queries(spark),
        k=K,
        candidates=len(IDS),
        dim=len(VEC),
        out_dim=2,
    )
    return out, "query_id", "id", "rank"


def _crossencoder_rerank(spark):
    from pinecone_datasets_spark.operators.rerank import crossencoder_rerank

    cand = _text_queries(spark).select("query_id").crossJoin(
        _text_docs(spark).select("doc_id")
    )
    out = crossencoder_rerank(
        cand, _text_queries(spark), _text_docs(spark), k=K
    )
    return out, "query_id", "doc_id", "rank"


def _maxsim_topk(spark):
    from pinecone_datasets_spark.operators.lateinteraction import maxsim_topk

    docs = _vec_docs(spark).select(
        "id", F.array("values", F.reverse("values")).alias("token_vecs")
    )
    queries = _vec_queries(spark).select(
        "query_id", F.array("vector").alias("token_vecs")
    )
    return maxsim_topk(docs, queries, k=K), "query_id", "id", "rank"


def _bm25_topk(spark):
    from pinecone_datasets_spark.operators.keyword import bm25_topk

    out = bm25_topk(_text_docs(spark), _text_queries(spark), k=K)
    return out, "query_id", "doc_id", "rank"


def _rrf_fuse(spark):
    from pinecone_datasets_spark.operators.keyword import rrf_fuse

    first = spark.createDataFrame(
        [(q, i, 1) for q in QIDS for i in IDS],
        "query_id long, doc_id long, rank int",
    )
    return rrf_fuse([first], topk=K), "query_id", "doc_id", "rank"


def _bm25_weighted_topk(spark):
    from pinecone_datasets_spark.operators.prf import bm25_weighted_topk

    terms = spark.createDataFrame(
        [(q, t, 1.0) for q in QIDS for t in TEXT.split()],
        "query_id long, term string, weight double",
    )
    out = bm25_weighted_topk(_text_docs(spark), terms, k=K)
    return out, "query_id", "doc_id", "rank"


def _mine_hard_negatives(spark):
    from pinecone_datasets_spark.operators.mining import mine_hard_negatives

    # the positive is the largest id, so the k smallest stay negatives
    pos = spark.createDataFrame(
        [(q, max(IDS)) for q in QIDS], "query_id long, id long"
    )
    out = mine_hard_negatives(
        _vec_docs(spark), _vec_queries(spark), pos, k=K, overfetch=1
    )
    return out, "query_id", "id", "neg_rank"


def _characteristic_terms(spark):
    from pinecone_datasets_spark.operators.terms import characteristic_terms

    # every doc holds the same six once-each terms: they all tie, and
    # the term itself is the tiebreak
    words = [f"w{i}" for i in IDS]
    docs = spark.createDataFrame(
        [(d, " ".join(words)) for d in QIDS], "doc_id long, text string"
    )
    out = characteristic_terms(docs, k=K).withColumn(
        "term_id", F.substring("term", 2, 1).cast("long")
    )
    return out, "doc_id", "term_id", "rank"


CASES = {
    "search.topk_search": _topk_search,
    "search.topk_search_arrow": _topk_search_arrow,
    "search.hamming_topk": _hamming_topk,
    "ivf.ivf_topk_inplan": _ivf_topk_inplan,
    "pq.pq_topk": _pq_topk,
    "rproject.projected_topk": _projected_topk,
    "rerank.crossencoder_rerank": _crossencoder_rerank,
    "lateinteraction.maxsim_topk": _maxsim_topk,
    "keyword.bm25_topk": _bm25_topk,
    "keyword.rrf_fuse": _rrf_fuse,
    "prf.bm25_weighted_topk": _bm25_weighted_topk,
    "mining.mine_hard_negatives": _mine_hard_negatives,
    "terms.characteristic_terms": _characteristic_terms,
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_all_tied_keeps_k_smallest_ids(spark, case):
    out, group, item, rank = CASES[case](spark)
    by_group: dict = {}
    for r in out.select(group, item, rank).collect():
        by_group.setdefault(r[0], []).append((r[2], r[1]))
    assert sorted(by_group) == QIDS, by_group
    expected = sorted(IDS)[:K]
    for g, rows in by_group.items():
        rows.sort()
        assert [rk for rk, _ in rows] == list(range(1, K + 1)), (g, rows)
        assert [i for _, i in rows] == expected, (g, rows)


def test_retrieval_metrics_ideal_cut_under_tied_relevance(spark):
    """``evaluate.retrieval_metrics``: with one judged relevance for all
    six documents the ideal DCG keeps exactly k rows ranked 1..k — a
    result list holding k relevant documents then scores NDCG 1.0, and
    a result list missing rank 1 scores exactly the discounted share."""
    from pinecone_datasets_spark.operators.evaluate import retrieval_metrics

    qrels = spark.createDataFrame(
        [(q, i, 1) for q in QIDS for i in IDS],
        "query_id long, id long, rel int",
    )
    results = spark.createDataFrame(
        [(10, i, r) for r, i in enumerate(sorted(IDS)[:K], 1)]
        + [(11, i, r) for r, i in enumerate(sorted(IDS)[:K], 2)],
        "query_id long, id long, rank int",
    )
    out = {r.query_id: r for r in retrieval_metrics(results, qrels, k=K).collect()}
    idcg = sum(1.0 / math.log2(r + 1) for r in range(1, K + 1))
    dcg_11 = sum(1.0 / math.log2(r + 1) for r in range(2, K + 1))
    assert out[10].ndcg_at_k == pytest.approx(1.0)
    assert out[11].ndcg_at_k == pytest.approx(dcg_11 / idcg)


def test_zero_k_raises(spark):
    from pinecone_datasets_spark.operators.search import topk_search

    with pytest.raises(ValueError, match="must be positive"):
        topk_search(
            _vec_docs(spark), _vec_queries(spark), k=0, metadata_col=None
        )
