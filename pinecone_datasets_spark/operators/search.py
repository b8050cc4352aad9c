"""Top-k vector search operators (Layer B).

The reference's data model declares these semantics — ``queries.vector``,
``queries.filter``, ``queries.top_k`` (``cfg.py:30-36``) — and delegates
execution to the Pinecone index. Here they are Spark plans:

* ``topk_single``: one query vector → ``WHERE`` (compiled metadata filter)
  → score → ``ORDER BY score DESC LIMIT k``. Catalyst turns the tail into
  ``TakeOrderedAndProject`` — per-partition partial top-k, only k rows per
  partition cross the wire. This is the shape that survives 100 TB.
* ``topk_search``: replay a whole queries table → broadcast the (small)
  queries side, crossJoin, score, then per-query
  ``row_number() OVER (PARTITION BY query ORDER BY score DESC) <= top_k``.
  Spark ≥3.5 inserts ``WindowGroupLimit`` (partial top-k before the
  shuffle), so the full cross product never materializes post-shuffle.
* ``ann_lsh_topk``: the approximate scale path — random-hyperplane LSH
  (signed projections, banded) to bucket candidates, exact re-score inside
  buckets. Turns O(N·Q) into O(candidates) with one shuffle join on
  (band, signature).
"""

from __future__ import annotations

import json
from typing import Any, Mapping, Optional, Union

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.filters import compile_filter
from ..functions.vector import (
    cosine_from_norms,
    cosine_similarity,
    dot_product,
    l2_distance,
    l2_norm,
)
from ..parallel import widen

Metric = str  # "dot" | "cosine" | "euclidean"


def _score(metric: Metric, doc_vec: Union[str, Column], q_vec: Union[str, Column]) -> Column:
    if metric == "dot":
        return dot_product(doc_vec, q_vec)
    if metric == "cosine":
        return cosine_similarity(doc_vec, q_vec)
    if metric == "euclidean":
        # Negated so "higher is better" uniformly.
        return -l2_distance(doc_vec, q_vec)
    raise ValueError(f"unknown metric: {metric}")


def topk_single(
    documents: DataFrame,
    vector: list[float],
    k: int = 5,
    metric: Metric = "cosine",
    filter: Optional[Mapping[str, Any]] = None,
    id_col: str = "id",
    vector_col: str = "values",
    metadata_col: str = "metadata",
) -> DataFrame:
    """One query against the documents table.

    Plan shape: scan → (pushed) filter → project(score) → TakeOrderedAndProject.
    """
    q = F.lit([float(x) for x in vector]).cast("array<double>")
    df = documents
    if filter is not None:
        df = df.where(compile_filter(filter, metadata_col))
    scored = df.select(
        F.col(id_col),
        _score(metric, F.col(vector_col), q).alias("score"),
    )
    # Deterministic tie-break on id.
    return scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)


def topk_search(
    documents: DataFrame,
    queries: DataFrame,
    metric: Metric = "cosine",
    k: Optional[int] = None,
    query_id_col: str = "query_id",
    doc_id_col: str = "id",
    doc_vector_col: str = "values",
    query_vector_col: str = "vector",
    metadata_col: Optional[str] = "metadata",
    apply_stored_filters: bool = False,
    stored_filter_mode: str = "compile",
) -> DataFrame:
    """Replay a queries table: per-query top-k over documents.

    ``queries`` must carry ``query_id_col``; ``top_k`` per row is honored
    unless a global ``k`` is given. The queries side is broadcast — it is
    small by construction (a replay set), the documents side is the 100 TB
    side and never shuffles: scoring is map-side, and the window's
    partial-top-k (WindowGroupLimit) caps what the single shuffle carries.

    ``apply_stored_filters=True`` applies each query's stored Pinecone
    ``filter`` JSON to the documents' ``metadata``. Default mode
    (``stored_filter_mode="compile"``) collects the DISTINCT filter
    strings from the small queries side on the driver, compiles each via
    ``functions.filters.compile_filter``, and pushes one native CASE chain
    before scoring — the whole predicate stays inside whole-stage codegen;
    no Python crosses the N·Q hot path. ``"interpret"`` keeps the
    Arrow-batched pandas-UDF interpreter (one kernel call per batch) as an
    explicit fallback for debugging/regression comparison. A malformed
    stored filter raises in BOTH modes.
    """
    q = queries
    if k is not None:
        q = q.withColumn("top_k", F.lit(int(k)))
        max_k = int(k)
    elif "top_k" not in q.columns:
        q = q.withColumn("top_k", F.lit(5))
        max_k = 5
    else:
        # A NULL top_k cell gets the declared default (5) — without the
        # coalesce, rank <= NULL filters every row and the query
        # silently returns ZERO results (reference semantics: a missing
        # top_k column back-fills 5; a missing value must too).
        q = q.withColumn(
            "top_k", F.coalesce(F.col("top_k"), F.lit(5))
        )
        # Literal rank bound from the small queries side (driver-side agg,
        # one tiny job). Spark's InferWindowGroupLimit only fires on a
        # rank <= LITERAL predicate; with only the per-row
        # rank <= col(top_k) refinement the partial top-k never kicks in
        # and the full N·Q scored set crosses the shuffle — invisible at
        # sf0.1, fatal at 100 TB.
        row = q.agg(F.max("top_k")).collect()[0]
        max_k = int(row[0]) if row[0] is not None else 5

    # Scoring multiplies work ×Q per document: rebalance an under-split
    # documents scan across cores first (no-op on real corpora).
    docs = widen(documents, doc_id_col)

    # Cosine factored: higher-order-function folds (aggregate/zip_with)
    # run interpreted, not codegen'd, so each fold on the N·Q hot path is
    # expensive. Norms depend on one side only — compute ||d|| once per
    # document and ||q|| once per query BEFORE the crossJoin, leaving a
    # single fold (the dot) per pair instead of three.
    if metric == "cosine":
        docs = docs.withColumn("__dnorm", l2_norm(doc_vector_col))
        q = q.withColumn("__qnorm", l2_norm(query_vector_col))
        score_col = cosine_from_norms(
            doc_vector_col, query_vector_col, "__dnorm", "__qnorm"
        )
    else:
        score_col = _score(
            metric, F.col(doc_vector_col), F.col(query_vector_col)
        )

    joined = docs.crossJoin(F.broadcast(q))

    if apply_stored_filters and (
        "filter" not in q.columns or metadata_col is None
    ):
        # fail loud: silently searching UNFILTERED would return wrong,
        # over-broad top-k lists with no signal distinguishing it from
        # filters that legitimately matched everything
        missing = (
            "queries has no 'filter' column"
            if "filter" not in q.columns
            else "metadata_col is None"
        )
        raise ValueError(
            f"apply_stored_filters=True but {missing}"
        )
    if apply_stored_filters and metadata_col is not None and "filter" in q.columns:
        if stored_filter_mode == "compile":
            joined = joined.where(
                _compiled_stored_filter_predicate(q, metadata_col)
            )
        elif stored_filter_mode == "interpret":
            joined = joined.where(
                _matches_filter_udf(F.col(metadata_col), F.col("filter"))
            )
        else:
            raise ValueError(
                f"unknown stored_filter_mode: {stored_filter_mode!r}"
            )

    scored = joined.select(
        F.col(query_id_col),
        F.col(doc_id_col),
        score_col.alias("score"),
        F.col("top_k"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.col(doc_id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        # The literal conjunct enables WindowGroupLimit's partial top-k;
        # the per-row conjunct refines it to each query's own top_k.
        .where(
            (F.col("rank") <= F.lit(max_k))
            & (F.col("rank") <= F.col("top_k"))
        )
        .drop("top_k")
    )


def _compiled_stored_filter_predicate(
    queries: DataFrame, metadata_col: str
) -> Column:
    """One native predicate for all stored per-query filters.

    The queries side is small and driver-visible by construction, so the
    distinct filter JSONs are collected (tiny job) and each is compiled to
    a Catalyst predicate. The result is a CASE chain keyed on the filter
    string — evaluated JVM-side inside codegen, unlike the per-(doc,query)
    Python interpreter it replaces. Raises ``ValueError`` on malformed
    filter JSON (same contract as ``compile_filter``)."""
    rows = queries.select("filter").distinct().collect()
    # No/empty filter → match everything (reference semantics: a query
    # without a filter searches the whole namespace).
    expr = F.when(
        F.col("filter").isNull() | (F.col("filter") == ""), F.lit(True)
    )
    for (f,) in rows:
        if f is None or f == "":
            continue
        try:
            fd = json.loads(f)
        except (TypeError, ValueError) as e:
            raise ValueError(
                f"Malformed stored filter JSON: {f!r}"
            ) from e
        expr = expr.when(
            F.col("filter") == F.lit(f), compile_filter(fd, metadata_col)
        )
    # Unreachable when `queries` is the frame the distinct set came from;
    # fail closed for safety.
    return expr.otherwise(F.lit(False))


def _matches_filter_series(metadata: pd.Series, filt: pd.Series) -> pd.Series:
    def match(m: Optional[str], f: Optional[str]) -> bool:
        if f is None or f == "":
            return True
        try:
            fd = json.loads(f)
        except (TypeError, ValueError) as e:
            # Same contract as the compiled path: a corrupt stored filter
            # is an error, not silently match-everything.
            raise ValueError(f"Malformed stored filter JSON: {f!r}") from e
        if fd is None:
            # the string 'null' parses to None: same as no filter
            # (compiled path: null/empty filter matches everything)
            return True
        if not isinstance(fd, Mapping):
            raise ValueError(f"Malformed stored filter JSON: {f!r}")
        md = {}
        if m:
            try:
                md = json.loads(m)
            except (TypeError, ValueError):
                md = {}
        return _eval_filter(fd, md)

    return pd.Series(
        [match(m, f) for m, f in zip(metadata, filt)], dtype=bool
    )


def _matches_filter_udf(metadata: Column, filt: Column) -> Column:
    from pyspark.sql import SparkSession
    from pyspark.sql.types import BooleanType

    from ..shipping import ensure_shipped

    spark = SparkSession.getActiveSession()
    if spark is not None:
        # The kernel references module-level functions (pickled by
        # reference); ship the package so workers can import it.
        ensure_shipped(spark)
    udf = F.pandas_udf(_matches_filter_series, BooleanType())
    return udf(metadata, filt)


def _eval_filter(node: Mapping[str, Any], md: Mapping[str, Any]) -> bool:
    """Interpreter twin of functions/filters.py:compile_filter (same
    Pinecone semantics, evaluated against a parsed metadata dict)."""
    for key, value in node.items():
        if key == "$and":
            if not all(_eval_filter(n, md) for n in value):
                return False
        elif key == "$or":
            if not any(_eval_filter(n, md) for n in value):
                return False
        elif key.startswith("$"):
            # same contract as the compiled path: $not etc. raise, they
            # are NOT field names (a '$not' literal-field $eq would
            # silently match nothing)
            raise ValueError(f"Unsupported top-level operator: {key}")
        elif isinstance(value, Mapping):
            field_val = md.get(key)
            for op, rhs in value.items():
                if not _eval_leaf(field_val, op, rhs):
                    return False
        else:
            # implicit-$eq shorthand routes through the SAME typed
            # equality as explicit $eq: Python's True == 1 must not
            # make interpret mode match rows compile mode rejects
            if not _json_eq(md.get(key), value):
                return False
    return True


def _json_eq(val: Any, rhs: Any) -> bool:
    """Type-sensitive JSON equality, the spec shared with the compiled
    path (functions/filters.py:_typed): bools only equal bools, numbers
    only numbers, strings only strings. Python's ``True == 1`` must not
    leak into filter semantics."""
    if isinstance(rhs, bool):
        return isinstance(val, bool) and val == rhs
    if isinstance(rhs, (int, float)):
        return (
            isinstance(val, (int, float))
            and not isinstance(val, bool)
            and float(val) == float(rhs)
        )
    return isinstance(val, str) and val == rhs


_LEAF_OPS = frozenset(
    ("$exists", "$in", "$nin", "$eq", "$ne", "$gt", "$gte", "$lt", "$lte")
)


def _eval_leaf(val: Any, op: str, rhs: Any) -> bool:
    # validate the operator BEFORE the absent-field short-circuit: an
    # unknown op must raise for every row (compiled-path contract), not
    # only for rows that happen to carry the field
    if op not in _LEAF_OPS:
        raise ValueError(f"Unsupported filter operator: {op}")
    if op == "$exists":
        return (val is not None) == bool(rhs)
    if op == "$in":
        return any(_json_eq(val, v) for v in rhs)
    if op == "$nin":
        return val is not None and not any(_json_eq(val, v) for v in rhs)
    if val is None:
        return False
    if op == "$eq":
        return _json_eq(val, rhs)
    if op == "$ne":
        # field present and differing (type mismatch counts as differing)
        return not _json_eq(val, rhs)
    if op in ("$gt", "$gte", "$lt", "$lte"):
        # numeric ordering only; bools and strings never order-match
        # (matches the compiled try_cast-to-double path)
        if isinstance(val, bool) or not isinstance(val, (int, float)):
            return False
        if isinstance(rhs, bool) or not isinstance(rhs, (int, float)):
            return False
        v, r = float(val), float(rhs)
        return {
            "$gt": v > r,
            "$gte": v >= r,
            "$lt": v < r,
            "$lte": v <= r,
        }[op]
    raise ValueError(f"Unsupported filter operator: {op}")


def topk_search_arrow(
    documents: DataFrame,
    query_matrix: np.ndarray,
    query_ids: list,
    k: int = 5,
    metric: Metric = "cosine",
    doc_id_col: str = "id",
    doc_vector_col: str = "values",
) -> DataFrame:
    """Arrow fast path for batch top-k: the query set rides into each task
    as a NumPy matrix inside the UDF closure; per Arrow batch one BLAS
    matmul scores every (doc, query) pair, then posexplode + windowed
    partial top-k. Same result contract as ``topk_search`` (dot/cosine),
    ~10x less per-row overhead at wide query sets — the 100 TB scoring
    path when exactness is required.
    """
    from ..functions.vector import make_batch_cosine_udf, make_batch_dot_udf

    if metric == "dot":
        udf = make_batch_dot_udf(query_matrix)
    elif metric == "cosine":
        udf = make_batch_cosine_udf(query_matrix)
    else:
        raise ValueError(f"unsupported metric for arrow path: {metric}")

    # outer + null filter: a non-outer generate lets Catalyst infer
    # size(scores)>0 as a filter that re-runs the scoring UDF per row.
    scored = widen(documents, doc_id_col).select(
        F.col(doc_id_col),
        F.posexplode_outer(udf(F.col(doc_vector_col))).alias(
            "_qidx", "score"
        ),
    ).where(F.col("_qidx").isNotNull())
    qid = F.element_at(F.lit(list(query_ids)), F.col("_qidx") + 1).alias(
        "query_id"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col(doc_id_col)
    )
    return (
        scored.select(qid, F.col(doc_id_col), F.col("score"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# Approximate path: random-hyperplane LSH for cosine similarity.
# ---------------------------------------------------------------------------


def _band_signature_udf(planes: np.ndarray, bands: int, bits: int):
    """Signed-projection band signatures as one Arrow-batched NumPy kernel:
    (batch, dim) @ (dim, bands*bits) matmul → sign bits → packed per-band
    bigints. One Python crossing per batch, BLAS inside — the equivalent
    built-in expression tree (bands*bits nested aggregates) blows codegen
    limits and evaluates interpreted."""
    p = np.ascontiguousarray(planes.T, dtype=np.float64)  # (dim, bands*bits)
    weights = (1 << np.arange(bits, dtype=np.int64))

    def kernel(vecs: pd.Series) -> pd.Series:
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if len(m) == 0:
            return pd.Series([], dtype=object)
        signs = (m @ p) > 0  # (batch, bands*bits)
        sig = signs.reshape(len(m), bands, bits) @ weights  # (batch, bands)
        return pd.Series(list(sig.astype(np.int64)))

    from pyspark.sql.types import ArrayType, LongType

    return F.pandas_udf(kernel, ArrayType(LongType()))


def ann_lsh_topk(
    documents: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bands: int = 8,
    bits: int = 12,
    dim: int = 64,
    seed: int = 42,
    query_id_col: str = "query_id",
    doc_id_col: str = "id",
    doc_vector_col: str = "values",
    query_vector_col: str = "vector",
) -> DataFrame:
    """Approximate per-query cosine top-k via random-hyperplane LSH.

    Candidates = pairs agreeing on at least one band signature. The join
    key (band_id, signature) is a plain shuffle-hash join — at 100 TB this
    is the path that replaces the O(N·Q) crossJoin: each side explodes to
    ``bands`` rows, the join fans in only same-bucket pairs, and the exact
    cosine re-score runs on candidates only. Recall is tuned by
    (bands, bits): more bands → higher recall, more candidates.
    """
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((bands * bits, dim))
    sig_udf = _band_signature_udf(planes, bands, bits)

    # No widen() here: the signature UDF is one matmul row per doc (not
    # ×Q-multiplied work like topk_search's scoring), so a repartition of
    # full vectors costs a shuffle it never earns back — measured 3.4×
    # bench regression in r2 when it was added.
    # Norms ride along from the per-row stage so the per-PAIR rescore
    # below is one interpreted fold (dot), not three — same factoring as
    # topk_search's cosine path, bit-identical scores.
    d_sig = documents.select(
        F.col(doc_id_col),
        F.col(doc_vector_col),
        l2_norm(doc_vector_col).alias("_dnorm"),
        sig_udf(F.col(doc_vector_col)).alias("_sigs"),
    )
    q_sig = queries.select(
        F.col(query_id_col),
        F.col(query_vector_col),
        l2_norm(query_vector_col).alias("_qnorm"),
        sig_udf(F.col(query_vector_col)).alias("_sigs"),
    )

    def explode_bands(df: DataFrame, keep: list[str]) -> DataFrame:
        # outer + null filter: keeps InferFiltersFromGenerate from
        # double-evaluating the signature UDF (see topk_search_arrow).
        return df.select(
            *keep, F.posexplode_outer("_sigs").alias("band", "sig")
        ).where(F.col("sig").isNotNull())

    d_exp = explode_bands(d_sig, [doc_id_col, doc_vector_col, "_dnorm"])
    q_exp = explode_bands(q_sig, [query_id_col, query_vector_col, "_qnorm"])

    # Score map-side straight off the broadcast band-join: a pair that
    # agrees on b bands is scored b times (cheap codegen arithmetic), but
    # duplicates then collapse via a PARTIAL-aggregating groupBy — the one
    # shuffle carries only (query_id, doc_id, score) triples. The r2
    # shape (dropDuplicates over rows still holding both 64-dim vectors)
    # pushed every vector through the dedup exchange.
    pair_scores = (
        d_exp.join(F.broadcast(q_exp), on=["band", "sig"])
        .select(
            F.col(query_id_col),
            F.col(doc_id_col),
            cosine_from_norms(
                doc_vector_col, query_vector_col, "_dnorm", "_qnorm"
            ).alias("score"),
        )
        .groupBy(query_id_col, doc_id_col)
        .agg(F.first("score").alias("score"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.col(doc_id_col)
    )
    return (
        pair_scores.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def hamming_topk(
    documents: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    rerank: int = 0,
    doc_id_col: str = "id",
    doc_vector_col: str = "values",
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
) -> DataFrame:
    """Top-k by Hamming distance over 1-bit sign codes — the all-JVM
    coarse retrieval stage (`functions.vector.sign_bits`).

    Both sides encode in-plan (pure expressions, map-side); the corpus
    representation under comparison is ceil(dim/64) longs per vector —
    a 64-dim corpus is compared one long at a time. Plan shape matches
    ``topk_search``: broadcast query codes, per-partition
    WindowGroupLimit, only (query, doc, distance) triples shuffle, and
    zero Python crossings anywhere.

    ``rerank=R`` keeps R·k Hamming candidates and exactly re-scores
    them with true cosine — the standard two-stage shape (sign codes
    are Charikar's angle estimator: monotone in expectation, noisy per
    pair, so re-rank recovers the metric's order).
    """
    from ..functions.vector import (
        cosine_similarity,
        hamming_distance,
        sign_bits,
    )

    doc_codes = documents.select(
        F.col(doc_id_col), sign_bits(F.col(doc_vector_col), dim).alias("_dc")
    )
    q_codes = queries.select(
        F.col(query_id_col),
        sign_bits(F.col(query_vector_col), dim).alias("_qc"),
    )
    cand = doc_codes.crossJoin(F.broadcast(q_codes)).select(
        F.col(query_id_col),
        F.col(doc_id_col),
        hamming_distance(F.col("_dc"), F.col("_qc")).alias("hamming"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("hamming"), F.col(doc_id_col)
    )
    bound = int(rerank) * k if rerank else k
    short = cand.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= F.lit(bound)
    )
    if not rerank:
        return short
    exact = (
        short.drop("rank")
        .join(
            documents.select(doc_id_col, doc_vector_col), doc_id_col
        )
        .join(
            F.broadcast(
                queries.select(query_id_col, query_vector_col)
            ),
            query_id_col,
        )
        .select(
            F.col(query_id_col),
            F.col(doc_id_col),
            cosine_similarity(doc_vector_col, query_vector_col).alias(
                "score"
            ),
        )
    )
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.col(doc_id_col)
    )
    return exact.withColumn("rank", F.row_number().over(w2)).where(
        F.col("rank") <= F.lit(int(k))
    )


LSH_META_FILE = "_lsh_meta.json"


def build_lsh_index(
    documents: DataFrame,
    path: str,
    bands: int = 8,
    bits: int = 12,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "id",
    vector_col: str = "values",
) -> None:
    """Persist the hyperplane-LSH index — the offline/online split for
    ANN, completing the persisted-index family (BM25 ``keyword.py``,
    IVF ``ivf.py``, IVF-PQ ``pq.py``; ``ann_lsh_topk`` is the in-plan
    twin that re-signs the corpus per query session).

    Layout:

    * ``signatures/`` — ``(band, sig, id)`` range-partitioned and
      sorted by (band, sig): probes push literal band/sig filters into
      the scan and row-group min/max skipping serves them, exactly the
      term-sorted-postings trick.
    * ``vectors/`` — ``(id, vector, norm)`` for candidate re-scoring
      without the source table; norms precomputed with the same
      ``l2_norm`` fold the in-plan path uses (bit-identical scores).
    * sidecar JSON — (bands, bits, dim, seed, id_col); the hyperplanes
      re-derive from the seed, so the index stores no float planes.

    Build cost: one signature pass (Arrow matmul kernel) + the sorted
    rewrite of bands·N rows of three scalars; the vector table is a
    map-only copy."""
    import json as _json

    from ..fs import FS, join as _join

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((bands * bits, dim))
    sig_udf = _band_signature_udf(planes, bands, bits)
    sigs = (
        documents.select(
            F.col(id_col), sig_udf(F.col(vector_col)).alias("_sigs")
        )
        .select(
            F.posexplode_outer("_sigs").alias("band", "sig"),
            F.col(id_col),
        )
        .where(F.col("sig").isNotNull())
    )
    # the signatures rewrite (range shuffle) and the vectors copy
    # (map-only) read the same source but not each other — submitted as
    # concurrent jobs so the copy back-fills the shuffle's idle tail
    # (guide §2.6; same pattern as dedup.build_minhash_index).
    # Overlap re-verified r14: sequential 3.1-4.4 s vs concurrent
    # 1.9-2.5 s isolated at sf0.1, alternating same-window runs.
    from ..parallel import concurrent_actions

    def _write_sigs():
        (
            sigs.repartitionByRange("band", "sig")
            .sortWithinPartitions("band", "sig")
            .write.mode("overwrite")
            .parquet(_join(path, "signatures"))
        )

    def _write_vectors():
        (
            documents.select(
                F.col(id_col),
                F.col(vector_col).alias("vector"),
                l2_norm(vector_col).alias("norm"),
            )
            .write.mode("overwrite")
            .parquet(_join(path, "vectors"))
        )

    concurrent_actions(
        documents.sparkSession,
        [_write_sigs, _write_vectors],
        "lsh index build: signatures + vectors",
    )
    FS(documents.sparkSession).write_text(
        _join(path, LSH_META_FILE),
        _json.dumps(
            {
                "bands": bands,
                "bits": bits,
                "dim": dim,
                "seed": seed,
                "id_col": id_col,
            }
        ),
    )


def lsh_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
) -> DataFrame:
    """Approximate cosine top-k against a persisted ``build_lsh_index``
    layout. Same results as ``ann_lsh_topk`` with the same
    (bands, bits, seed) — equivalence-tested — but the corpus is
    neither re-signed nor rescanned: the probe reads only the signature
    row groups holding the queried (band, sig) buckets plus the
    candidate slice of the vector table.

    Query signatures are computed driver-side (queries are a replay
    set — the same driver-visible contract as ``bm25_index_topk``'s
    literal terms) and pushed as literal band/sig filters; candidates
    are query-proportional and broadcast onto the vector scan, so the
    corpus-sized tables never shuffle."""
    import json as _json

    from pyspark.sql import types as T

    from ..fs import FS, join as _join

    meta = _json.loads(FS(spark).read_text(_join(path, LSH_META_FILE)))
    bands, bits = int(meta["bands"]), int(meta["bits"])
    dim, seed = int(meta["dim"]), int(meta["seed"])
    id_col = meta["id_col"]
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")

    qrows = queries.select(query_id_col, query_vector_col).collect()
    qid_type = queries.schema[query_id_col].dataType
    if not qrows:
        id_type = (
            spark.read.parquet(_join(path, "vectors"))
            .schema[id_col]
            .dataType
        )
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(query_id_col, qid_type),
                    T.StructField(id_col, id_type),
                    T.StructField("score", T.DoubleType()),
                    T.StructField("rank", T.IntegerType()),
                ]
            ),
        )

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((bands * bits, dim))
    qmat = np.asarray(
        [np.asarray(r[query_vector_col], dtype=np.float64) for r in qrows]
    )
    # identical kernel math to _band_signature_udf (same BLAS matmul,
    # same bit packing) so probe signatures match the stored ones
    signs = (qmat @ planes.T) > 0
    weights = 1 << np.arange(bits, dtype=np.int64)
    qsigs = signs.reshape(len(qrows), bands, bits) @ weights

    probe_rows = [
        (int(b), int(qsigs[i, b]), qrows[i][query_id_col])
        for i in range(len(qrows))
        for b in range(bands)
    ]
    probe = spark.createDataFrame(
        probe_rows,
        T.StructType(
            [
                T.StructField("band", T.IntegerType()),
                T.StructField("sig", T.LongType()),
                T.StructField(query_id_col, qid_type),
            ]
        ),
    )
    band_list = sorted({b for b, _, _ in probe_rows})
    sig_list = sorted({s for _, s, _ in probe_rows})
    # coarse literal filters reach the parquet scan (PushedFilters +
    # row-group skipping on the (band, sig)-sorted layout); the exact
    # (band, sig) pairing happens in the broadcast join
    sig_scan = (
        spark.read.parquet(_join(path, "signatures"))
        .where(F.col("band").isin(band_list) & F.col("sig").isin(sig_list))
    )
    cands = (
        sig_scan.join(F.broadcast(probe), ["band", "sig"])
        .select(query_id_col, id_col)
        .distinct()
    )
    qv = spark.createDataFrame(
        [(r[query_id_col], list(map(float, r[query_vector_col])))
         for r in qrows],
        T.StructType(
            [
                T.StructField(query_id_col, qid_type),
                T.StructField("_qvec", T.ArrayType(T.DoubleType())),
            ]
        ),
    ).withColumn("_qnorm", l2_norm("_qvec"))
    scored = (
        spark.read.parquet(_join(path, "vectors"))
        .join(F.broadcast(cands), id_col)
        .join(F.broadcast(qv), query_id_col)
        .select(
            F.col(query_id_col),
            F.col(id_col),
            cosine_from_norms("vector", "_qvec", "norm", "_qnorm").alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.lit(int(k)))
        .select(query_id_col, id_col, "score", "rank")
    )
