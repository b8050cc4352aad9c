"""Retrieval-quality evaluation: recall / precision / MRR / nDCG @ k.

The reference's whole domain is *search evaluation datasets* — corpora
plus replayable query sets (reference `cfg.py:30-36`: the queries table
exists to be replayed against an index). The missing last step is
scoring the replayed results against ground truth; this module computes
the standard IR metrics for ANY retrieval frame (exact, ANN, BM25,
hybrid — anything shaped (query_id, doc_id, rank)) against a ``qrels``
table of graded relevance judgments.

Definitions (TREC conventions):

* ``recall_at_k``  = |retrieved@k ∩ relevant| / |relevant|
* ``precision_at_k`` = |retrieved@k ∩ relevant| / k
* ``mrr_at_k``     = 1 / rank of the first relevant hit (0 if none)
* ``ndcg_at_k``    = DCG@k / IDCG@k with gain (2^rel − 1)/log2(rank+1)
  (graded relevance; binary qrels degrade to the familiar 1/log2 form)

Scale shape: evaluation never touches the corpus — ``results`` is
Q·k rows by construction and ``qrels`` is labeled data (small). Both
aggregates key on query_id; the only exchanges carry per-query metric
partials. Queries present in ``qrels`` but absent from ``results``
still emit rows (all-zero metrics) — a retriever that drops a query
entirely must not inflate its averages (same anchoring rule as the
recall certificates in ``__spark_entry__._recall_certificate``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sampling import cap_per_group


def retrieval_metrics(
    results: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    doc_id_col: str = "id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """Per-query metrics: ``(query_id, n_relevant, hits_at_k,
    recall_at_k, precision_at_k, mrr_at_k, ndcg_at_k)``.

    ``results`` needs (query_id, doc_id, rank) with rank 1-based;
    rows with rank > k are ignored, so passing a deeper result list is
    fine. ``qrels`` needs (query_id, doc_id, rel) with rel > 0 meaning
    relevant; duplicate judgments keep the max rel, and a document
    appearing at several ranks of one query's results counts ONCE at
    its best rank (a duplicated hit must not inflate recall past 1 —
    caught by the property suite)."""
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    qid, did = query_id_col, doc_id_col
    judged = (
        qrels.where(F.col(rel_col) > 0)
        .groupBy(qid, did)
        .agg(F.max(rel_col).cast("double").alias("_rel"))
    )
    topk = (
        results.where(F.col(rank_col) <= k)
        .groupBy(qid, did)
        .agg(F.min(rank_col).alias("_rank"))
    )
    gain = (F.pow(F.lit(2.0), F.col("_rel")) - 1.0) / F.log2(
        F.col("_rank") + 1.0
    )
    hits = (
        topk.join(judged, [qid, did])
        .groupBy(qid)
        .agg(
            F.count(F.lit(1)).cast("long").alias("hits_at_k"),
            F.min("_rank").alias("_first_rank"),
            F.sum(gain).alias("_dcg"),
        )
    )
    # Ideal DCG: the query's own judgments, best-first, truncated at k.
    ideal = (
        cap_per_group(
            judged, qid, k, [F.desc("_rel"), F.col(did)], rank_col="_rn"
        )
        .groupBy(qid)
        .agg(
            F.sum(
                (F.pow(F.lit(2.0), F.col("_rel")) - 1.0)
                / F.log2(F.col("_rn") + 1.0)
            ).alias("_idcg")
        )
    )
    spine = judged.groupBy(qid).agg(
        F.count(F.lit(1)).cast("long").alias("n_relevant")
    )
    return (
        spine.join(hits, qid, "left")
        .join(ideal, qid, "left")
        .select(
            qid,
            "n_relevant",
            F.coalesce("hits_at_k", F.lit(0)).alias("hits_at_k"),
            (
                F.coalesce("hits_at_k", F.lit(0)) / F.col("n_relevant")
            ).alias("recall_at_k"),
            (F.coalesce("hits_at_k", F.lit(0)) / F.lit(float(k))).alias(
                "precision_at_k"
            ),
            F.coalesce(
                1.0 / F.col("_first_rank"), F.lit(0.0)
            ).alias("mrr_at_k"),
            F.when(
                F.col("_idcg") > 0,
                F.coalesce("_dcg", F.lit(0.0)) / F.col("_idcg"),
            )
            .otherwise(F.lit(0.0))
            .alias("ndcg_at_k"),
        )
    )


def macro_metrics(per_query: DataFrame) -> DataFrame:
    """One-row macro averages over ``retrieval_metrics`` output:
    ``(n_queries, recall_at_k, precision_at_k, mrr_at_k, ndcg_at_k)``
    — each metric averaged with equal query weight (macro, the TREC
    default)."""
    return per_query.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.avg("recall_at_k").alias("recall_at_k"),
        F.avg("precision_at_k").alias("precision_at_k"),
        F.avg("mrr_at_k").alias("mrr_at_k"),
        F.avg("ndcg_at_k").alias("ndcg_at_k"),
    )
