"""Hard-negative mining for embedding-model training.

Contrastive / triplet training of retrieval embedders needs, per
training query, the corpus items that score *highest without being
labeled relevant* — "hard" negatives (in-batch random negatives are too
easy; the standard recipe — DPR, Sentence-BERT, E5 — mines them from a
first-stage retriever over the full corpus). Given a ``positives``
table of labeled (query, doc) pairs, this operator returns the top-k
non-positive retrieval results per query, each with its retrieval rank,
score, the query's *hardest positive* score (the min over its labeled
positives, scored exactly), and the triplet ``margin`` between them —
negative or small margins are exactly the informative training pairs.

Reference scope note: the reference (pinecone-io/pinecone-datasets)
stores the evaluation pairs and delegates search to the hosted service;
Layer-B extension, cited against its data model only (cfg.py:23-36).

Scale shape (100 TB corpus, 10^4-10^6 training queries, positives ~
a few per query):

* Candidate generation IS ``topk_search`` — map-side scoring against
  broadcast queries, WindowGroupLimit-capped shuffle. Overfetching
  ``k + overfetch`` covers positives that land inside the top-k.
* ``positives`` is broadcast twice (anti-join to exclude, exact-score
  join): it is labeled training data, small by construction.
* Positive scores are computed EXACTLY, not looked up in the candidate
  list: positives ⋈ documents is a broadcast probe of the corpus scan
  (map-only — the sliver that matches flows out), so a positive that
  the retriever would have missed entirely still anchors the margin.
* For corpora where even one more corpus pass matters, swap the exact
  candidate stage for ``ivfpq_index_topk`` / ``ann_lsh_topk`` — the
  contract downstream of the candidate frame is identical.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sampling import cap_per_group
from .search import Metric, _score, topk_search


def mine_hard_negatives(
    documents: DataFrame,
    queries: DataFrame,
    positives: DataFrame,
    k: int = 10,
    overfetch: int = 10,
    metric: Metric = "cosine",
    query_id_col: str = "query_id",
    doc_id_col: str = "id",
    doc_vector_col: str = "values",
    query_vector_col: str = "vector",
    candidates: Optional[DataFrame] = None,
) -> DataFrame:
    """Per query: the ``k`` highest-scoring documents NOT in
    ``positives``, plus margin against the query's hardest positive.

    Returns ``(query_id, id, score, neg_rank, pos_score_min, margin,
    n_labeled, n_positives_scored)`` where ``margin = pos_score_min -
    score`` (a correctly-ordered triplet has margin > 0; mined rows with
    margin <= 0 are retriever failures — the gold pairs a trainer wants
    most). Queries with no labeled positive return ``NULL`` pos/margin
    (their negatives are still valid for in-batch use); the two counts
    distinguish that case from label/corpus drift: ``n_labeled`` is the
    query's distinct labeled pairs, ``n_positives_scored`` how many of
    them produced an exact score — ``n_labeled > 0`` with
    ``n_positives_scored == 0`` means no labeled positive could anchor
    the floor (and pos/margin are NULL for that reason, not because the
    query is unlabeled). A positive counts as unscored both when its
    doc id is absent from ``documents`` and when the doc exists but its
    vector (or the query's) is NULL — either way it contributed no
    floor; and if ``documents`` contains duplicate ids, each duplicate
    scores, so the count can exceed ``n_labeled``.

    ``positives`` needs columns (``query_id_col``, ``doc_id_col``).
    Pass ``candidates`` (any frame with query_id/id/score, e.g. an ANN
    result) to skip the built-in exact retrieval stage.

    A query can return fewer than ``k`` rows only if more than
    ``overfetch`` of its labeled positives rank inside the top
    ``k + overfetch`` — raise ``overfetch`` for densely-labeled sets.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if overfetch < 0:
        raise ValueError(f"overfetch must be >= 0: {overfetch}")
    pos_pairs = positives.select(
        F.col(query_id_col), F.col(doc_id_col)
    ).distinct()
    if candidates is None:
        candidates = topk_search(
            documents,
            queries,
            metric=metric,
            k=k + overfetch,
            query_id_col=query_id_col,
            doc_id_col=doc_id_col,
            doc_vector_col=doc_vector_col,
            query_vector_col=query_vector_col,
            metadata_col=None,
        )
    negs = candidates.join(
        F.broadcast(pos_pairs), [query_id_col, doc_id_col], "left_anti"
    )
    negs = cap_per_group(
        negs,
        query_id_col,
        k,
        [F.desc("score"), F.col(doc_id_col)],
        rank_col="neg_rank",
    ).select(query_id_col, doc_id_col, "score", "neg_rank")
    # Exact positive scores: broadcast the labeled pairs onto the corpus
    # scan (map-only probe), then attach the query vectors (broadcast).
    pos_scored = (
        documents.select(
            F.col(doc_id_col), F.col(doc_vector_col).alias("_dv")
        )
        .join(F.broadcast(pos_pairs), doc_id_col)
        .join(
            F.broadcast(
                queries.select(
                    F.col(query_id_col),
                    F.col(query_vector_col).alias("_qv"),
                )
            ),
            query_id_col,
        )
        .select(
            query_id_col,
            _score(metric, F.col("_dv"), F.col("_qv")).alias("_ps"),
        )
        .groupBy(query_id_col)
        .agg(
            F.min("_ps").alias("pos_score_min"),
            F.count("_ps").alias("n_positives_scored"),
        )
    )
    n_labeled = pos_pairs.groupBy(query_id_col).agg(
        F.count(F.lit(1)).alias("n_labeled")
    )
    return (
        negs.join(F.broadcast(pos_scored), query_id_col, "left")
        .join(F.broadcast(n_labeled), query_id_col, "left")
        .select(
            query_id_col,
            doc_id_col,
            "score",
            "neg_rank",
            "pos_score_min",
            (F.col("pos_score_min") - F.col("score")).alias("margin"),
            F.coalesce("n_labeled", F.lit(0)).alias("n_labeled"),
            F.coalesce("n_positives_scored", F.lit(0)).alias(
                "n_positives_scored"
            ),
        )
    )
