"""Sign random projection: compress embeddings for cheap first-pass
retrieval.

At 100 TB the cost of dense retrieval is dominated by moving and
scoring full-width vectors. The classic fix (Achlioptas 2003; the
Johnson–Lindenstrauss lemma) is a random ±1 projection: ``p = R @ v``
with ``R ∈ {±1}^{d'×d}`` preserves angles in expectation at d' ≪ d, so
a coarse top-C in projected space (d'/d of the bytes, d'/d of the
arithmetic) followed by an exact rescore of only C candidates per query
recovers exact-search quality at a fraction of the cost.

Engine-portability: ``R`` is not drawn from an RNG but derived from the
repo's portable-md5 idiom — ``R[j][i] = +1 if md5("{seed}|{i}|{j}")``'s
first 8 hex chars parse to an even int, else ``-1`` — so any engine
(the DuckDB replay test does) reconstructs the exact matrix and the
exact projected values; determinism is what lets the projected top-k
carry a value-level oracle.

Scale shapes:

* ``project_vectors``: map-only Arrow-batched matmul (one BLAS GEMM per
  record batch; the ``d'×d`` matrix rides in the UDF closure — KBs).
  No shuffle; fuses into whatever scan already runs.
* ``projected_topk``: stage 1 scores in projected space through
  ``topk_search`` (broadcast queries, map-side scoring, WindowGroupLimit
  partial top-C); stage 2 broadcasts the Q×C candidate set back against
  the corpus — the corpus side again never shuffles — and rescores with
  full vectors. Total full-width work: C per query instead of N.

Reference scope note: the reference (pinecone-io/pinecone-datasets)
delegates all vector search to the hosted index; this is Layer-B
extension, cited against its data model only (cfg.py:23-36).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

from .sampling import cap_per_group
from .search import topk_search


def sign_matrix(dim: int, out_dim: int, seed: int = 13) -> np.ndarray:
    """The deterministic ±1 projection matrix, shape (out_dim, dim).
    Entry (j, i) derives from md5(f"{seed}|{i}|{j}") — engine-portable,
    no RNG state."""
    R = np.empty((out_dim, dim), dtype=np.float64)
    for j in range(out_dim):
        for i in range(dim):
            h = hashlib.md5(f"{seed}|{i}|{j}".encode()).hexdigest()[:8]
            R[j, i] = 1.0 if int(h, 16) % 2 == 0 else -1.0
    return R


def project_vectors(
    df: DataFrame,
    vec_col: str,
    dim: int,
    out_dim: int,
    seed: int = 13,
    out_col: str = "proj",
) -> DataFrame:
    """Append ``out_col`` = R @ vec as array<double>. Raw ±1 sums (no
    1/sqrt(d') scaling): cosine is scale-invariant and the unscaled
    integer-combination values are exactly reproducible in SQL."""
    R = sign_matrix(dim, out_dim, seed)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _proj(v: pd.Series) -> pd.Series:
        # empty Arrow batches and NULL vector cells both crash
        # np.stack (r11 review) — guard like every other Arrow kernel
        # (functions/vector.py, lateinteraction.py); NULL in → NULL out
        if len(v) == 0:
            return pd.Series([], dtype=object)
        mask = v.notna()
        if not mask.all():
            out = pd.Series([None] * len(v), dtype=object)
            if mask.any():
                M = np.stack(v[mask].to_numpy())
                P = M.astype(np.float64) @ R.T
                out[mask] = list(P)
            return out
        M = np.stack(v.to_numpy())  # (batch, dim)
        P = M.astype(np.float64) @ R.T  # one GEMM per Arrow batch
        return pd.Series(list(P))

    # asNondeterministic: the function IS deterministic, but without the
    # marker the optimizer pushes join-key null checks derived from the
    # projected column BELOW this projection and re-evaluates the GEMM +
    # a second Python crossing for every corpus row — observed as two
    # ArrowEvalPython nodes per join side in the semdedup / SRP-band
    # candidate plans (r13, guide §4.4). Values are unchanged; only the
    # optimizer's licence to duplicate/reorder the call is revoked.
    return df.withColumn(
        out_col, _proj.asNondeterministic()(F.col(vec_col))
    )


def projected_topk(
    documents: DataFrame,
    queries: DataFrame,
    k: int = 10,
    candidates: int = 50,
    dim: int = 64,
    out_dim: int = 16,
    seed: int = 13,
    doc_id_col: str = "id",
    doc_vector_col: str = "values",
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
) -> DataFrame:
    """Two-stage retrieval: coarse top-``candidates`` per query in
    projected space, exact cosine rescore of those candidates at full
    width, final top-k. Returns (query_id, doc_id, score, rank) — same
    contract as ``topk_search``."""
    if candidates < k:
        raise ValueError(f"candidates ({candidates}) must be >= k ({k})")
    d_proj = project_vectors(
        documents.select(doc_id_col, doc_vector_col),
        doc_vector_col, dim, out_dim, seed,
    )
    q_proj = project_vectors(
        queries.select(query_id_col, query_vector_col),
        query_vector_col, dim, out_dim, seed,
    )
    coarse = topk_search(
        d_proj.select(doc_id_col, F.col("proj").alias(doc_vector_col)),
        q_proj.select(query_id_col, F.col("proj").alias(query_vector_col)),
        metric="cosine",
        k=candidates,
        doc_id_col=doc_id_col,
        query_id_col=query_id_col,
        doc_vector_col=doc_vector_col,
        query_vector_col=query_vector_col,
        metadata_col=None,
    ).select(query_id_col, doc_id_col)
    # Rescore: candidates are Q×C rows (small by construction) — they
    # broadcast; the corpus side stays put. Exact cosine on full
    # vectors, norms factored per side as in topk_search.
    cand_docs = documents.select(doc_id_col, doc_vector_col).join(
        F.broadcast(coarse), doc_id_col
    )
    return _rescore(
        cand_docs, queries, k,
        doc_id_col, doc_vector_col, query_id_col, query_vector_col,
    )


def _rescore(
    cand_docs: DataFrame,
    queries: DataFrame,
    k: int,
    doc_id_col: str,
    doc_vector_col: str,
    query_id_col: str,
    query_vector_col: str,
) -> DataFrame:
    """Exact cosine over an already-candidate-filtered (query, doc) set:
    join the query vectors back (broadcast — queries are small), score
    once per surviving pair, top-k per query."""
    from ..functions.vector import cosine_from_norms, l2_norm

    scored = (
        cand_docs.withColumn("__dnorm", l2_norm(doc_vector_col))
        .join(
            F.broadcast(
                queries.select(
                    query_id_col,
                    F.col(query_vector_col).alias("__qvec"),
                ).withColumn("__qnorm", l2_norm("__qvec"))
            ),
            query_id_col,
        )
        .select(
            query_id_col,
            doc_id_col,
            cosine_from_norms(
                doc_vector_col, "__qvec", "__dnorm", "__qnorm"
            ).alias("score"),
        )
    )
    return cap_per_group(
        scored,
        query_id_col,
        k,
        [F.desc("score"), F.col(doc_id_col)],
        rank_col="rank",
    )
