"""Late-interaction (multi-vector) retrieval: ColBERT-style MaxSim.

Single-vector search compresses a document to one embedding; late
interaction (Khattab & Zaharia 2020, ColBERT; PLAID) keeps one vector
PER TOKEN and scores

    MaxSim(q, d) = Σ_{t ∈ q} max_{u ∈ d} ⟨t, u⟩

— each query token finds its best-matching document token, so local
phrase evidence survives pooling. This module scores any pair of
multi-vector columns (``array<array<double>>``), with the same
result contract as ``search.topk_search``.

Two execution paths, equivalence-tested against each other:

* ``maxsim_topk`` — pure built-in expressions (nested ``transform`` /
  ``array_max`` / ``aggregate``), fully codegen'd and replayable in SQL
  (DuckDB: ``list_transform``/``list_max``/``list_inner_product``). The
  oracle-clean reference plan.
* ``maxsim_topk_arrow`` — the 100 TB path: query token matrices ride in
  the UDF closure; per Arrow batch ALL document tokens concatenate into
  one matrix, ONE BLAS matmul scores every (doc token, query token)
  pair, and two ``reduceat`` passes fold it to per-(doc, query) MaxSim
  — per-batch Python crossing, no per-row loops.

Scale shape: identical to ``topk_search`` — queries broadcast (token
matrices are Q·T·D floats, still a replay set), scoring is map-side,
and the single shuffle carries only (query_id, doc_id, score) triples
capped by the windowed partial top-k. Token count multiplies FLOPs,
not shuffle bytes.

Reference scope note: the reference delegates search to the hosted
service; Layer-B extension, cited against its data model only
(cfg.py:23-36 — ``values`` is its single-vector column; multi-vector
is the natural extension slot alongside ``sparse_values``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import dot_product
from ..parallel import widen
from .sampling import cap_per_group


def maxsim_score(doc_tokens, query_tokens) -> Column:
    """MaxSim as one built-in expression: for each query token the max
    sequential-fold dot over the doc's tokens, summed. Documents or
    queries with empty token lists score 0."""
    d = F.col(doc_tokens) if isinstance(doc_tokens, str) else doc_tokens
    q = (
        F.col(query_tokens)
        if isinstance(query_tokens, str)
        else query_tokens
    )
    per_qtok = F.transform(
        q,
        lambda qt: F.array_max(
            F.transform(d, lambda dt: dot_product(dt, qt))
        ),
    )
    return F.coalesce(
        F.aggregate(
            F.filter(per_qtok, lambda x: x.isNotNull()),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        F.lit(0.0),
    )


def maxsim_topk(
    documents: DataFrame,
    queries: DataFrame,
    k: int = 5,
    query_id_col: str = "query_id",
    doc_id_col: str = "id",
    doc_tokens_col: str = "token_vecs",
    query_tokens_col: str = "token_vecs",
) -> DataFrame:
    """Per-query MaxSim top-k, pure expressions: broadcast queries,
    map-side scoring, WindowGroupLimit-capped shuffle. Returns
    ``(query_id, doc_id, score, rank)`` with deterministic id
    tie-breaks."""
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    q = queries.select(
        F.col(query_id_col),
        F.col(query_tokens_col).alias("_qtoks"),
    )
    scored = (
        widen(documents, doc_id_col)
        .crossJoin(F.broadcast(q))
        .select(
            query_id_col,
            F.col(doc_id_col),
            maxsim_score(F.col(doc_tokens_col), F.col("_qtoks")).alias(
                "score"
            ),
        )
    )
    return cap_per_group(
        scored,
        query_id_col,
        k,
        [F.desc("score"), F.col(doc_id_col)],
        rank_col="rank",
    ).select(query_id_col, doc_id_col, "score", "rank")


def _maxsim_batch_udf(query_tokens: list, dim: int):
    """doc token list -> array of per-query MaxSim scores, one BLAS
    matmul + two reduceat folds per Arrow batch."""
    mats = [np.asarray(m, dtype=np.float64).reshape(-1, dim) for m in query_tokens]
    # Zero-token queries score 0 for every doc (the expression path's
    # coalesce contract). They must NOT enter the reduceat index list:
    # an empty segment duplicates the next query's start (reduceat
    # would return that query's first-token seg_max, not 0), and a
    # trailing empty query would index one past the end.
    ne_cols = np.array(
        [i for i, m in enumerate(mats) if m.shape[0] > 0], dtype=np.int64
    )
    ne_mats = [mats[i] for i in ne_cols]
    allq = (
        np.concatenate(ne_mats, axis=0)
        if ne_mats
        else np.zeros((0, dim), dtype=np.float64)
    )  # (totalQT, dim)
    qt_starts = np.cumsum([0] + [m.shape[0] for m in ne_mats])[:-1]

    def kernel(tok_lists: pd.Series) -> pd.Series:
        n = len(tok_lists)
        if n == 0:
            return pd.Series([], dtype=object)
        doc_mats = [
            np.asarray(list(t), dtype=np.float64).reshape(-1, dim)
            if t is not None and len(t) > 0
            else np.zeros((0, dim), dtype=np.float64)
            for t in tok_lists
        ]
        lens = np.array([m.shape[0] for m in doc_mats])
        keep = lens > 0
        out = np.zeros((n, len(mats)), dtype=np.float64)
        if keep.any() and allq.shape[0] > 0:
            stacked = np.concatenate(
                [m for m in doc_mats if m.shape[0] > 0], axis=0
            )  # (Ntok, dim)
            sims = stacked @ allq.T  # (Ntok, totalQT)
            d_starts = np.cumsum([0] + list(lens[keep]))[:-1]
            seg_max = np.maximum.reduceat(sims, d_starts, axis=0)
            per_query = np.add.reduceat(seg_max, qt_starts, axis=1)
            out[np.ix_(np.flatnonzero(keep), ne_cols)] = per_query
        return pd.Series(list(out))

    from pyspark.sql.types import ArrayType, DoubleType

    return F.pandas_udf(kernel, ArrayType(DoubleType()))


def maxsim_topk_arrow(
    documents: DataFrame,
    query_token_matrices: list,
    query_ids: list,
    k: int = 5,
    dim: int = 64,
    doc_id_col: str = "id",
    doc_tokens_col: str = "token_vecs",
) -> DataFrame:
    """Arrow fast path: same contract as ``maxsim_topk`` (equivalence-
    tested), ~one matmul per batch instead of nested per-row folds.
    Documents with empty/null token lists score 0 for every query (the
    expression path's coalesce does the same)."""
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if len(query_token_matrices) != len(query_ids):
        raise ValueError("query_token_matrices and query_ids must align")
    udf = _maxsim_batch_udf(query_token_matrices, dim)
    scored = (
        widen(documents, doc_id_col)
        .select(
            F.col(doc_id_col),
            F.posexplode_outer(udf(F.col(doc_tokens_col))).alias(
                "_qidx", "score"
            ),
        )
        .where(F.col("_qidx").isNotNull())
    )
    qid = F.element_at(F.lit(list(query_ids)), F.col("_qidx") + 1).alias(
        "query_id"
    )
    return cap_per_group(
        scored.select(qid, F.col(doc_id_col), F.col("score")),
        "query_id",
        k,
        [F.desc("score"), F.col(doc_id_col)],
        rank_col="rank",
    )
