"""Vector similarity primitives.

Layer B (SURVEY.md §2.5/§2.9): the reference declares top-k semantics via
``queries.top_k`` but delegates scoring to the external index. Here scoring
is native Spark:

* Default path: built-in array expressions (``zip_with`` + ``aggregate``)
  — runs JVM-side, deterministic sequential float accumulation, exactly
  reproducible by a SQL oracle (DuckDB ``list_dot_product``).
* Fast path: Arrow-batched ``pandas_udf`` doing a NumPy matmul per batch —
  the 100 TB scale option (SIMD, one Python crossing per ~10k rows instead
  of per row).

All built-in paths compute in ``double`` regardless of the (float32) input
arrays: cross-engine reproducibility beats the 2× memory of the widened
accumulator, and the accumulator is per-row scratch, not stored.

Zero-vector guard: this module is the only one that knows the norm floor.
Every cosine divides by EACH norm floored at ``NORM_FLOOR`` separately
(never by the floored product — two tiny norms would multiply below the
floor and shrink the score). A zero vector (failed embedding, padding)
then scores 0.0 instead of raising DIVIDE_BY_ZERO under Spark's default
ANSI mode, and for any norm above the floor the guard is the identity.
Column callers score with ``cosine_from_norms``; NumPy callers normalize
with ``unit_rows``.
"""

from __future__ import annotations

from typing import Iterator, Union

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

ColumnOrName = Union[Column, str]

NORM_FLOOR = 1e-30


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _as_double(col: ColumnOrName) -> Column:
    return _c(col).cast("array<double>")


def dot_product(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Sequential-order dot product in double precision (JVM codegen)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: ColumnOrName) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(_as_double(a), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_from_norms(
    a: ColumnOrName,
    b: ColumnOrName,
    a_norm: ColumnOrName,
    b_norm: ColumnOrName,
) -> Column:
    """Cosine of ``a`` and ``b`` given their raw ``l2_norm`` columns.

    Callers compute the norms once per row (before a pair join) and pass
    them unguarded: each is floored at ``NORM_FLOOR`` here, so a zero
    vector scores 0.0. Same double ops in the same order as
    ``cosine_similarity``, so scores are bit-identical to it."""
    return dot_product(a, b) / (
        F.greatest(_c(a_norm), F.lit(NORM_FLOOR))
        * F.greatest(_c(b_norm), F.lit(NORM_FLOOR))
    )


def cosine_similarity(a: ColumnOrName, b: ColumnOrName) -> Column:
    return cosine_from_norms(a, b, l2_norm(a), l2_norm(b))


def l2_distance(a: ColumnOrName, b: ColumnOrName) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(
                _as_double(a), _as_double(b), lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def with_int8_quantized(
    df, vector_col: ColumnOrName = "values", prefix: str = "q8"
):
    """Symmetric per-vector int8 scalar quantization: adds
    ``{prefix}_scale`` (double, = 127/max|x|, or 1 for the zero vector)
    and ``{prefix}_q`` (array<int> of ``round(x * scale)``).

    The 100 TB rationale: int8 codes are 4× smaller than float32 on disk
    and in shuffle/broadcast, and the decode is a single multiply —
    re-score on quantized codes first, exact-rescore only the survivors.

    Two-step on purpose: the scale is materialized as an attribute
    column before the per-element lambda references it — Catalyst does
    not CSE into higher-order-function lambdas, so inlining the
    ``array_max`` scale expression would make quantization O(dim²).
    """
    v = _as_double(vector_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale_col = f"{prefix}_scale"
    step1 = df.withColumn(
        scale_col,
        F.when(amax > 0, F.lit(127.0) / amax).otherwise(F.lit(1.0)),
    )
    q = F.transform(
        v, lambda x: F.round(x * F.col(scale_col)).cast("int")
    )
    return step1.withColumn(f"{prefix}_q", q)


def int8_dot(
    qa: ColumnOrName,
    scale_a: ColumnOrName,
    qb: ColumnOrName,
    scale_b: ColumnOrName,
) -> Column:
    """Dot product reconstructed from two int8-quantized vectors: the
    integer code dot (exact, long accumulator — products cap at 127² per
    element, far from ANSI overflow) rescaled by both scales. Bit-equal
    across engines because the integer sum is exact and the final
    divide is one IEEE op."""
    s = F.aggregate(
        F.zip_with(
            _c(qa), _c(qb), lambda x, y: (x * y).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return s.cast("double") / (_c(scale_a) * _c(scale_b))


def sparse_dot_product(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Dot product of two sparse vectors (struct{indices, values}).

    Builds a lookup map from side ``a`` and sums matches over side
    ``b`` — pure built-in expressions (``map_from_arrays`` +
    ``aggregate``), no UDF. Put the lower-cardinality vector on the
    ``a`` side when the choice is free (the map is per-row transient
    either way). Sparse struct layout per reference
    ``MAINTAINERS.md:97``.

    Malformed rows whose ``a.indices`` contain DUPLICATES yield NULL
    (quarantine) instead of killing the whole job with
    DUPLICATED_MAP_KEY under Spark's default dedup policy (r11
    review); duplicate indices on the ``b`` side simply contribute one
    term each, i.e. their values sum — standard sparse semantics.
    """
    a, b = _c(a), _c(b)
    a_map = F.map_from_arrays(
        a["indices"], a["values"].cast("array<double>")
    )
    dot = F.aggregate(
        F.zip_with(
            b["indices"],
            b["values"].cast("array<double>"),
            lambda i, v: F.coalesce(F.element_at(a_map, i), F.lit(0.0)) * v,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    has_dup = F.size(a["indices"]) != F.size(F.array_distinct(a["indices"]))
    return F.when(has_dup, F.lit(None).cast("double")).otherwise(dot)


def sign_bits(vec: ColumnOrName, dim: int) -> Column:
    """Dense vector → 1-bit binary code: sign bits packed into
    ``ceil(dim/64)`` longs. Pure built-in expressions (no Python), so
    encoding rides inside whole-stage codegen on the scan.

    The most aggressive embedding compression short of dropping the
    column — 32× smaller than float32 (a 64-dim vector becomes ONE
    long) — and for angular similarity the Hamming distance between
    sign codes estimates the angle (Charikar 2002, the same sign-bit
    fact ``search.ann_lsh_topk`` banks on, here with the identity
    projection). Use as a coarse first stage with exact re-rank, like
    ``operators.pq`` refine.
    """
    v = _c(vec)
    n_words = (dim + 63) // 64
    words = F.sequence(F.lit(0), F.lit(n_words - 1))

    def word(w: Column) -> Column:
        bits = F.sequence(F.lit(0), F.lit(63))
        return F.aggregate(
            bits,
            F.lit(0).cast("long"),
            lambda acc, i: acc
            + F.when(
                F.coalesce(
                    # try_: past-the-end dims of the last word read as
                    # null -> 0-bit (plain element_at is an ANSI error)
                    F.try_element_at(v, (w * 64 + i + 1).cast("int")),
                    F.lit(0.0),
                )
                > 0,
                # call_function: the Python shiftleft() wrapper only
                # takes a literal shift, the SQL function takes a column
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), i.cast("int")
                ),
            ).otherwise(F.lit(0).cast("long")),
        )

    return F.transform(words, word)


def hamming_distance(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Hamming distance between packed sign codes: popcount of XOR per
    word, summed — three built-ins, fully codegen'd."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )


def dense_to_sparse(
    vec: ColumnOrName, threshold: float = 0.0, one_based: bool = True
) -> Column:
    """Dense array → sparse struct{indices, values}, keeping elements
    with ``abs(value) > threshold``. Magnitude, not signed value (r11
    review): the signed form silently dropped every NEGATIVE component,
    so the sparse form of a signed embedding reconstructed the wrong
    dot product — with the default threshold 0.0 it now keeps exactly
    the nonzero elements. Pure built-ins (filter + transform +
    element_at); index base configurable (1-based matches SQL engines'
    list indexing, easing oracle parity). Sparse struct layout per
    reference ``MAINTAINERS.md:97``."""
    v = _c(vec)
    n = F.size(v)
    base = F.sequence(F.lit(1), n)
    keep = F.filter(
        base, lambda i: F.abs(F.element_at(v, i)) > F.lit(threshold)
    )
    indices = keep if one_based else F.transform(keep, lambda i: i - 1)
    values = F.transform(keep, lambda i: F.element_at(v, i))
    return F.struct(
        indices.cast("array<bigint>").alias("indices"),
        values.cast("array<float>").alias("values"),
    )


# ---------------------------------------------------------------------------
# Fast path: Arrow-batched NumPy kernels. One Python crossing per Arrow
# batch; inside the batch it's a BLAS matmul over a contiguous (n, dim)
# block. Use when the query side is fixed (broadcast as a closure constant).
# ---------------------------------------------------------------------------


def unit_rows(m: np.ndarray) -> np.ndarray:
    """Rows of ``m`` scaled to unit length, each row norm floored at
    ``NORM_FLOOR`` (a zero row stays zero)."""
    return m / np.maximum(
        np.linalg.norm(m, axis=1, keepdims=True), NORM_FLOOR
    )


def make_batch_dot_udf(query_matrix: np.ndarray):
    """Returns pandas_udf: array<float> column -> array<double> of scores
    against every row of ``query_matrix`` (shape (q, dim))."""
    q = np.ascontiguousarray(query_matrix, dtype=np.float64)

    @pandas_udf("array<double>")
    def batch_dot(vecs: pd.Series) -> pd.Series:
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if len(m) == 0:
            return pd.Series([], dtype=object)
        scores = m @ q.T  # (batch, q)
        return pd.Series(list(scores))

    return batch_dot


def make_batch_cosine_udf(query_matrix: np.ndarray):
    q = np.ascontiguousarray(query_matrix, dtype=np.float64)
    qn = unit_rows(q)

    @pandas_udf("array<double>")
    def batch_cosine(vecs: pd.Series) -> pd.Series:
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if len(m) == 0:
            return pd.Series([], dtype=object)
        return pd.Series(list(unit_rows(m) @ qn.T))

    return batch_cosine
