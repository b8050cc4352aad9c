"""Diversity re-ranking: maximal marginal relevance (MMR) over a
candidate set.

Carbonell & Goldstein (1998): iteratively pick the candidate maximizing
``lam * rel(d) - (1 - lam) * max_{s in selected} sim(d, s)`` — relevance
traded against redundancy with what is already picked. The standard
final stage of a retrieval pipeline whose top-k would otherwise be
near-duplicates (exactly what a deduplicated-corpus search still
returns when the corpus has topical clusters).

Scale shape: MMR is inherently sequential *within one query* (each pick
conditions the next), so the right distribution axis is **across
queries** — ``applyInPandas`` grouped by query id, one Arrow batch per
query, greedy loop in NumPy over the candidate set (bounded: C
candidates from the retrieval stage, so the loop is O(k·C·dim) on ≤ C
rows — microseconds). Millions of queries parallelize embarrassingly;
the corpus itself is never touched (candidates carry their vectors from
the retrieval join).

Determinism: ties break on doc id, and the greedy trace is a pure
function of (candidates, lam, k).

Reference scope note: the reference (pinecone-io/pinecone-datasets)
delegates search and reranking to the hosted service; Layer-B
extension, cited against its data model only (cfg.py:23-36).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..functions.vector import unit_rows


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lam: float = 0.5,
    query_id_col: str = "query_id",
    doc_id_col: str = "id",
    score_col: str = "score",
    vector_col: str = "values",
    normalize: bool = True,
) -> DataFrame:
    """Greedy MMR top-k per query over a scored candidate frame that
    carries the candidates' vectors (``vector_col``).

    Returns ``(query_id, doc_id, score, mmr_score, mmr_rank)`` with at
    most k rows per query: ``mmr_score`` is the marginal objective at
    pick time (the first pick's is ``lam * rel`` — no redundancy term
    yet), ``score`` the original relevance. ``lam=1`` degenerates to
    pure relevance order.

    ``normalize=False`` uses raw dot products as the redundancy term
    (the caller vouches for the vectors' scaling — e.g. they are
    already unit vectors, or an un-normalized inner-product geometry is
    wanted). Besides the geometric choice, this makes the greedy trace
    *exactly* replayable: vectors quantized to a dyadic grid (say
    multiples of 1/1024 with dim·max²·2^20 < 2^53) have dot products
    that are exact in float64 regardless of summation order, so the
    NumPy path here and a sequential-fold SQL replay pick identical
    candidates bit-for-bit — no epsilon, no rounding contract.
    """
    if not 0.0 < lam <= 1.0:
        raise ValueError(f"lam must be in (0, 1]: {lam}")
    if k <= 0:
        raise ValueError(f"k must be positive: {k}")

    qf = candidates.schema[query_id_col].dataType
    df_ = candidates.schema[doc_id_col].dataType
    out_schema = StructType(
        [
            StructField(query_id_col, qf, False),
            StructField(doc_id_col, df_, False),
            StructField("score", DoubleType(), True),
            StructField("mmr_score", DoubleType(), True),
            StructField("mmr_rank", LongType(), False),
        ]
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        # deterministic candidate order: the tiebreak axis
        pdf = pdf.sort_values(doc_id_col, kind="mergesort").reset_index(
            drop=True
        )
        rel = pdf[score_col].to_numpy(dtype=np.float64)
        mat = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf[vector_col]]
        )
        unit = unit_rows(mat) if normalize else mat
        n = len(pdf)
        chosen: list[int] = []
        obj: list[float] = []
        max_sim = np.full(n, -np.inf)
        remaining = np.ones(n, dtype=bool)
        for _ in range(min(k, n)):
            red = np.where(np.isinf(max_sim), 0.0, max_sim)
            marginal = lam * rel - (1.0 - lam) * red
            marginal[~remaining] = -np.inf
            pick = int(np.argmax(marginal))  # first max = smallest doc id
            chosen.append(pick)
            obj.append(float(marginal[pick]))
            remaining[pick] = False
            sims = unit @ unit[pick]
            max_sim = np.maximum(max_sim, sims)
        return pd.DataFrame(
            {
                query_id_col: pdf[query_id_col].iloc[chosen].to_numpy(),
                doc_id_col: pdf[doc_id_col].iloc[chosen].to_numpy(),
                "score": rel[chosen],
                "mmr_score": obj,
                "mmr_rank": np.arange(1, len(chosen) + 1, dtype=np.int64),
            }
        )

    return candidates.select(
        query_id_col, doc_id_col, score_col, vector_col
    ).groupBy(query_id_col).applyInPandas(greedy, out_schema)


# ---------------------------------------------------------------------------
# Cross-encoder re-ranking: Arrow-batched pair scoring
# ---------------------------------------------------------------------------

def _xe_schema(pairs: DataFrame, query_id_col: str, doc_id_col: str):
    """Output schema mirrors the caller's id types (long ids, string
    ids, …) instead of assuming one."""
    by_name = {f.name: f.dataType for f in pairs.schema.fields}
    return StructType(
        [
            StructField("query_id", by_name[query_id_col]),
            StructField("doc_id", by_name[doc_id_col]),
            StructField("xe_score", DoubleType()),
        ]
    )


def _default_pair_scorer(queries: "pd.Series", docs: "pd.Series"):
    """Deterministic stand-in for a neural cross-encoder.

    No transformer runtime ships in this environment, so the default
    scorer is an honest, fully deterministic lexical proxy: token-set
    overlap (|q ∩ d| / |q|) plus a tiny md5-derived tiebreak so scores
    are distinct and reproducible across engines and runs. The Spark
    plumbing around it — candidate join, Arrow batching, partition
    shape — is exactly what a real model scorer drops into.
    """
    import hashlib
    import re

    # Explicit ASCII whitespace class, NOT str.split(): Python splits on
    # Unicode whitespace (NBSP, U+2028, ...) while the SQL twin's RE2
    # '\s' does not — the explicit class means the same thing to
    # Python re, Java regex, and RE2, keeping the parity contract.
    ws = re.compile(r"[ \t\n\r\f\v]+")

    def one(q, d):
        if q is None or d is None:
            return 0.0
        qs = {t for t in ws.split(str(q).lower()) if t}
        ds = {t for t in ws.split(str(d).lower()) if t}
        ov = len(qs & ds) / max(len(qs), 1)
        h = hashlib.md5(f"{q}\x01{d}".encode("utf-8")).hexdigest()
        return ov + int(h[:13], 16) / float(1 << 52) * 1e-6

    return pd.Series([one(q, d) for q, d in zip(queries, docs)])


def crossencoder_rerank(
    candidates: DataFrame,
    queries: DataFrame,
    docs: DataFrame,
    k: int = 10,
    scorer=None,
    batch_size: int = 512,
    query_id_col: str = "query_id",
    doc_id_col: str = "doc_id",
    query_text_col: str = "query_text",
    doc_text_col: str = "text",
) -> DataFrame:
    """Re-rank retrieval candidates with a pair scorer (cross-encoder).

    ``candidates`` is the first-stage output ``(query_id, doc_id, ...)``
    — typically ``bm25_topk`` / ``topk_search`` top-C per query. The
    query text BROADCASTS onto the candidate set (queries are the small
    side by construction); document text arrives by joining candidates
    to the corpus on doc id — a shuffle bounded by Q·C candidate rows,
    NOT a corpus scan per query. Pairs then stream through an
    Arrow-batched ``mapInPandas`` kernel in ``batch_size`` chunks — the
    exact feeding shape a GPU cross-encoder wants — and a literal-k
    rank window (WindowGroupLimit) keeps the top-k per query.

    ``scorer(queries: pd.Series, docs: pd.Series) -> pd.Series`` plugs
    in the real model; the default is a deterministic lexical proxy
    (see ``_default_pair_scorer``) so tests and oracles replay exactly.

    Returns ``(query_id, doc_id, xe_score, rank)``.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    fn = scorer or _default_pair_scorer

    pairs = (
        candidates.select(query_id_col, doc_id_col)
        .join(
            F.broadcast(
                queries.select(
                    query_id_col, F.col(query_text_col).alias("__qt")
                )
            ),
            query_id_col,
        )
        .join(
            docs.select(doc_id_col, F.col(doc_text_col).alias("__dt")),
            doc_id_col,
        )
    )

    def kernel(batches):
        for pdf in batches:
            for lo in range(0, len(pdf), batch_size):
                chunk = pdf.iloc[lo : lo + batch_size]
                out = pd.DataFrame(
                    {
                        "query_id": chunk[query_id_col].to_numpy(),
                        "doc_id": chunk[doc_id_col].to_numpy(),
                        "xe_score": fn(
                            chunk["__qt"], chunk["__dt"]
                        ).to_numpy(dtype="float64"),
                    }
                )
                yield out

    scored = pairs.mapInPandas(
        kernel, _xe_schema(pairs, query_id_col, doc_id_col)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("xe_score"), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.lit(int(k)))
        .select(
            F.col("query_id").alias(query_id_col),
            F.col("doc_id").alias(doc_id_col),
            "xe_score",
            "rank",
        )
    )


def crossencoder_rerank_sql(
    candidates_clause: str,
    queries_clause: str,
    docs_clause: str,
    k: int = 10,
    query_id_col: str = "query_id",
    doc_id_col: str = "doc_id",
    query_text_col: str = "query_text",
    doc_text_col: str = "text",
) -> str:
    """DuckDB replay of ``crossencoder_rerank`` with the DEFAULT scorer
    (token-overlap + md5 tiebreak — both exactly portable)."""
    u = (
        "CAST(concat('0x', substr(md5(q.__qt || chr(1) || d.__dt), 1, 13)) "
        f"AS BIGINT) / {float(1 << 52)!r} * 1e-6"
    )
    wcls = "[ \\t\\n\\r\\f\\v]+"  # same class the Python scorer uses
    ov = (
        "len(list_intersect("
        f"list_distinct(list_filter(string_split_regex(lower(q.__qt), '{wcls}'), t -> t != '')), "
        f"list_distinct(list_filter(string_split_regex(lower(d.__dt), '{wcls}'), t -> t != ''))"
        ")) / greatest(len(list_distinct(list_filter("
        f"string_split_regex(lower(q.__qt), '{wcls}'), t -> t != ''))), 1)"
    )
    return f"""
WITH cand AS (SELECT {query_id_col}, {doc_id_col} FROM {candidates_clause}),
q AS (SELECT {query_id_col}, {query_text_col} AS __qt FROM {queries_clause}),
d AS (SELECT {doc_id_col}, {doc_text_col} AS __dt FROM {docs_clause}),
scored AS (
  SELECT cand.{query_id_col} AS query_id, cand.{doc_id_col} AS doc_id,
         ({ov}) + ({u}) AS xe_score
  FROM cand JOIN q USING ({query_id_col}) JOIN d USING ({doc_id_col})
)
SELECT query_id AS {query_id_col}, doc_id AS {doc_id_col}, xe_score, rank
FROM (
  SELECT query_id, doc_id, xe_score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY xe_score DESC, doc_id
         ) AS rank
  FROM scored
)
WHERE rank <= {int(k)}
"""
