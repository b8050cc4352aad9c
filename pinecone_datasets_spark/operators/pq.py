"""Product quantization (PQ) and IVF-PQ: the ANN memory path at 100 TB.

IVF (`ivf.py`) bounds how much of the corpus a query SCANS (nprobe cells
of n). PQ bounds how many bytes per vector the scan READS: each vector
is split into ``m`` subvectors, each subvector replaced by the id of its
nearest codeword in a per-subspace codebook of ``n_codes`` entries. At
``m=96, n_codes=256`` a dim-768 float32 vector (3,072 B) becomes 96
one-byte codes — 32× less I/O and cache footprint, which is the
difference between an index that fits the page cache and one that
doesn't. This is the IVFADC layout of Jégou, Douze & Schmid, "Product
Quantization for Nearest Neighbor Search" (TPAMI 2011) — the FAISS
workhorse — re-expressed as DataFrame ops:

  train:  bounded driver sample → per-subspace Lloyd (m independent,
          tiny KMeans problems; same sample-suffices argument as IVF
          coarse training)
  encode: map-only Arrow kernel, one argmin matmul per subspace per
          batch; NO shuffle — codes are just a new column
  search: ADC (asymmetric distance computation) — each query
          precomputes an (m × n_codes) lookup table of partial dot
          products; scoring a candidate is m table gathers + adds,
          never a reconstruction. Tables ride into tasks as a NumPy
          closure; only (query, doc, score) triples ever shuffle.

Exactness anchor (tested): ADC against codes equals brute-force scoring
against the decoded reconstructions bit-for-bit up to float summation
order — approximation comes ONLY from quantizing the corpus, never from
the scoring path. Cosine uses the reconstruction norm, which decomposes
exactly across subspaces (the concatenation is orthogonal), so it too
is pure table lookups.

The reference stores raw dense vectors and delegates search
(`cfg.py:25`, `MAINTAINERS.md:100-102`); compression of the stored
representation is out of its scope entirely — this module is Layer-B
scale engineering on the same data model.
"""

from __future__ import annotations

import json as _json
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType

from ..functions.vector import NORM_FLOOR, unit_rows
from .ivf import _nearest, _sq_dists, assign_cells, train_centroids_local


def _lloyd(m: np.ndarray, k: int, seed: int, max_iter: int) -> np.ndarray:
    """Seeded NumPy Lloyd on a local sample (same recipe as
    ``ivf.train_centroids_local``, reused per subspace).

    Means via per-dimension ``bincount`` (O(n·d) scatter-add) instead of
    a per-centroid boolean-mask loop (O(n·k)) — at n_codes=256 on a
    100k sample that loop was the whole IVF-PQ build cost.

    Assignment runs in float32: the (n, k) score matrix is the
    bandwidth cost of every iteration (33 MB/step at the defaults in
    float64), and a *training* assignment only steers codeword means —
    the stored codebooks, and every encode/ADC path that uses them,
    stay float64. Halving the bytes roughly halves Lloyd time.
    """
    rng = np.random.default_rng(seed)
    k = min(k, len(m))
    init = rng.choice(len(m), size=k, replace=False)
    c = m[np.sort(init)].copy()
    d = m.shape[1]
    m32 = np.ascontiguousarray(m, dtype=np.float32)
    scores = np.empty((len(m32), k), dtype=np.float32)
    for _ in range(max_iter):
        assign = _nearest(m32, c.astype(np.float32), out=scores)
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        sums = np.empty((k, d), dtype=np.float64)
        for t in range(d):
            sums[:, t] = np.bincount(
                assign, weights=m[:, t], minlength=k
            )
        empty = counts == 0
        new_c = sums / np.maximum(counts, 1.0)[:, None]
        new_c[empty] = c[empty]
        if np.allclose(new_c, c, atol=1e-9):
            return new_c
        c = new_c
    return c


def train_pq_codebooks(
    documents: DataFrame,
    m: int = 8,
    n_codes: int = 256,
    vector_col: str = "values",
    sample_cap: Optional[int] = None,
    seed: int = 42,
    max_iter: int = 20,
    n_rows: Optional[int] = None,
    sample_fraction: Optional[float] = None,
) -> np.ndarray:
    """Per-subspace codebooks, shape ``(m, n_codes, dim//m)``.

    One bounded-sample collect (the SAME scale argument as IVF coarse
    training: codebooks represent the distribution, not the corpus), then
    ``m`` independent small KMeans problems locally — each is
    (sample × dim/m), so the whole training fits in driver memory at any
    corpus size. Deterministic for fixed (seed, sample).

    ``sample_cap=None`` auto-sizes to ``64 · n_codes`` points (floor
    10k) — FAISS's own training guidance (~39–256 points per centroid);
    more sample buys nothing but Lloyd time because every subspace
    problem has only ``n_codes`` degrees of freedom.

    ``n_rows``: the frame's row count, when the caller already knows it
    from a cheaper source. The count only sizes the sample fraction,
    but counting ``documents`` itself forces a full evaluation of its
    plan — for the IVF-PQ residual frame that meant one whole
    assign-cells UDF + residual pass spent on a row count the raw
    corpus scan answers from parquet metadata (r13, guide §1.4/§5).

    ``sample_fraction``: the caller has already decided (or applied) the
    sampling — skip the count entirely and use this fraction as-is
    (``1.0`` = train on every row of ``documents``). This is how
    ``build_ivfpq_index`` pushes the Bernoulli sample BELOW its
    assign-cells UDF: it samples the raw corpus first and hands the
    (already bounded) residual frame here with ``sample_fraction=1.0``,
    so training never evaluates the UDF on unsampled rows (r13,
    guide §1.2 — don't compute things you throw away).
    """
    if sample_cap is None:
        sample_cap = max(10_000, 64 * n_codes)
    if sample_fraction is None:
        n = documents.count() if n_rows is None else int(n_rows)
        sample_fraction = min(1.0, sample_cap / max(n, 1))
    src = documents.select(F.col(vector_col).alias("_v"))
    if sample_fraction < 1.0:
        src = src.sample(fraction=sample_fraction, seed=seed)
    sample = np.asarray(
        [np.asarray(v, dtype=np.float64) for (v,) in src.collect()]
    )
    dim = sample.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = np.zeros((m, n_codes, dsub), dtype=np.float64)
    for j in range(m):
        sub = sample[:, j * dsub : (j + 1) * dsub]
        cb = _lloyd(sub, n_codes, seed + j, max_iter)
        books[j, : len(cb)] = cb
        if len(cb) < n_codes:
            # sample smaller than the codebook: repeat the last codeword
            # so code ids stay dense and decode never indexes junk
            books[j, len(cb) :] = cb[-1]
    return books


def _encode_udf(codebooks: np.ndarray):
    """vec -> array<int> of ``m`` code ids; one argmin matmul per
    subspace per Arrow batch. At rest parquet dictionary+RLE encoding
    stores the small ints in ~1 byte each."""
    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, _, dsub = books.shape

    def kernel(vecs: pd.Series) -> pd.Series:
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if len(mat) == 0:
            return pd.Series([], dtype=object)
        codes = np.empty((len(mat), m), dtype=np.int32)
        scores = np.empty((len(mat), books.shape[1]), dtype=np.float64)
        for j in range(m):
            sub = mat[:, j * dsub : (j + 1) * dsub]
            codes[:, j] = _nearest(sub, books[j], out=scores)
        return pd.Series(list(codes))

    return F.pandas_udf(kernel, ArrayType(IntegerType()))


def pq_encode(
    documents: DataFrame,
    codebooks: np.ndarray,
    vector_col: str = "values",
    code_col: str = "pq_code",
) -> DataFrame:
    """Add the PQ code column (map-only; no shuffle)."""
    return documents.withColumn(
        code_col, _encode_udf(codebooks)(F.col(vector_col))
    )


def pq_decode_udf(codebooks: np.ndarray):
    """code array -> reconstructed vector (codeword concatenation).
    The test anchor: ADC scores must equal scoring these."""
    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, _, dsub = books.shape

    def kernel(codes: pd.Series) -> pd.Series:
        arr = np.asarray([np.asarray(c, dtype=np.int64) for c in codes])
        if len(arr) == 0:
            return pd.Series([], dtype=object)
        out = np.empty((len(arr), m * dsub), dtype=np.float64)
        for j in range(m):
            out[:, j * dsub : (j + 1) * dsub] = books[j][arr[:, j]]
        return pd.Series(list(out))

    return F.pandas_udf(kernel, ArrayType(DoubleType()))


def _adc_luts(
    codebooks: np.ndarray, query_matrix: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(dot-LUTs, norm²-LUT).

    ``luts[q, j, c]`` = dot(query_q subspace j, codeword c of book j) —
    one (Q·m × n_codes) matmul. ``norm2[j, c]`` = ||codeword||²; the
    reconstruction norm is their sum over j because subspaces are
    orthogonal coordinate blocks.
    """
    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, n_codes, dsub = books.shape
    q = np.ascontiguousarray(query_matrix, dtype=np.float64)
    qsub = q.reshape(len(q), m, dsub)
    luts = np.einsum("qjd,jcd->qjc", qsub, books)
    norm2 = (books * books).sum(axis=2)
    return luts, norm2


def _adc_score_udf(
    luts: np.ndarray, norm2: Optional[np.ndarray]
):
    """codes -> array of per-query ADC scores (dot, or cosine when the
    norm² LUT is given — queries must then be pre-normalized). Scoring
    is ``m`` table gathers per batch, no reconstruction."""
    nq, m, _ = luts.shape

    def kernel(codes: pd.Series) -> pd.Series:
        arr = np.asarray([np.asarray(c, dtype=np.int64) for c in codes])
        if len(arr) == 0:
            return pd.Series([], dtype=object)
        dots = np.zeros((nq, len(arr)), dtype=np.float64)
        for j in range(m):
            dots += luts[:, j, arr[:, j]]
        if norm2 is not None:
            rn = np.zeros(len(arr), dtype=np.float64)
            for j in range(m):
                rn += norm2[j, arr[:, j]]
            dots /= np.maximum(np.sqrt(rn), NORM_FLOOR)
        return pd.Series(list(dots.T))

    return F.pandas_udf(kernel, ArrayType(DoubleType()))


def pq_topk(
    documents_with_codes: DataFrame,
    codebooks: np.ndarray,
    query_matrix: np.ndarray,
    query_ids: list,
    k: int = 5,
    metric: str = "cosine",
    doc_id_col: str = "id",
    code_col: str = "pq_code",
) -> DataFrame:
    """Per-query top-k over PQ codes via ADC — the compressed-domain twin
    of ``search.topk_search_arrow`` (same output contract: query_id, doc
    id, score, rank). The corpus scan reads only (id, codes); the one
    shuffle carries (query, doc, score) triples into the windowed
    partial top-k."""
    q = np.asarray(query_matrix, dtype=np.float64)
    if metric == "cosine":
        q = unit_rows(q)
        luts, norm2 = _adc_luts(codebooks, q)
    elif metric == "dot":
        luts, norm2 = _adc_luts(codebooks, q)
        norm2 = None
    else:
        raise ValueError(f"unsupported metric: {metric}")
    udf = _adc_score_udf(luts, norm2)
    # outer + null filter: a non-outer generate lets Catalyst infer
    # size(scores)>0 as a filter that re-runs the scoring UDF per row
    # (same trap as search.topk_search_arrow).
    scored = documents_with_codes.select(
        F.col(doc_id_col),
        F.posexplode_outer(udf(F.col(code_col))).alias("_qidx", "score"),
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
# IVF-PQ: persisted cell-partitioned layout with PQ-coded (residual) vectors
# ---------------------------------------------------------------------------

IVFPQ_META_FILE = "_ivfpq_meta.json"


def _residual_encode_udf(codebooks: np.ndarray, centroids: np.ndarray):
    """(vec, cell) -> PQ code of (vec - coarse_centroid[cell]).

    Residual coding is what makes PQ work WITH a coarse quantizer: inside
    a cell the residuals live near the origin with far less variance than
    raw vectors, so the same (m, n_codes) budget buys much finer
    resolution (Jégou et al. §III-C, "IVFADC").
    """
    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    cents = np.ascontiguousarray(centroids, dtype=np.float64)
    m, _, dsub = books.shape

    def kernel(vecs: pd.Series, cells: pd.Series) -> pd.Series:
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if len(mat) == 0:
            return pd.Series([], dtype=object)
        mat = mat - cents[np.asarray(cells, dtype=np.int64)]
        codes = np.empty((len(mat), m), dtype=np.int32)
        scores = np.empty((len(mat), books.shape[1]), dtype=np.float64)
        for j in range(m):
            sub = mat[:, j * dsub : (j + 1) * dsub]
            codes[:, j] = _nearest(sub, books[j], out=scores)
        return pd.Series(list(codes))

    return F.pandas_udf(kernel, ArrayType(IntegerType()))


def build_ivfpq_index(
    documents: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 8,
    n_codes: int = 256,
    vector_col: str = "values",
    doc_id_col: str = "id",
    metric: str = "cosine",
    residual: bool = True,
    store_vectors: bool = False,
    opq: bool = False,
    seed: int = 42,
    cell_col: str = "ivf_cell",
    code_col: str = "pq_code",
) -> None:
    """Train coarse + PQ codebooks, encode, persist.

    ``opq=True`` first trains an OPQ rotation
    (``pca.train_opq_rotation``, uncentered so dot/cosine are exactly
    preserved) and builds the WHOLE index — coarse cells, codebooks,
    codes — in rotated space; the (dim × dim, KBs) rotation rides in
    the sidecar and queries are rotated at search time. Pays one extra
    moment pass at build; cuts quantization error when embedding
    dimensions are correlated or variance-skewed (no effect on
    isotropic data).

    Layout: parquet partitioned by cell id, rows = (id, pq_code) — the
    whole point is that the searched representation is ~m bytes/vector,
    so raw vectors are NOT stored unless ``store_vectors=True`` (needed
    only when exact refine should avoid a join back to the corpus).
    Codebooks + centroids ride in a JSON sidecar (m·n_codes·dim/m + 
    n_centroids·dim doubles — KBs, not data).

    Two bounded driver samples train everything; encoding is map-only;
    the partitioned write is the only shuffle-ish cost (split by an
    already-computed column).
    """
    rotation = None
    orig_vector_col = vector_col
    if opq:
        from .pca import pca_project, train_opq_rotation

        rotation, _ = train_opq_rotation(
            documents, m=m, vector_col=vector_col, center=False
        )
        documents = pca_project(
            documents,
            rotation,
            np.zeros(rotation.shape[0]),
            vector_col=vector_col,
            out_col="__rotv",
        ).drop(vector_col)
        vector_col = "__rotv"
    # ONE count job sizes every training sample below (raw parquet
    # metadata count — r13; previously the coarse trainer and the PQ
    # trainer each ran their own).
    n_rows = documents.count()
    cents = train_centroids_local(
        documents, n_centroids=n_centroids, vector_col=vector_col,
        seed=seed, n_rows=n_rows,
    )
    assigned = assign_cells(
        documents, cents, vector_col=vector_col, metric=metric,
        cell_col=cell_col,
    )
    if residual:
        # train the PQ books on residuals: broadcast the (tiny) centroid
        # table and subtract per row — but sample the RAW corpus FIRST,
        # so the assign-cells UDF + residual zip only ever run on the
        # bounded training sliver, not the whole corpus (r13, guide
        # §1.2/§5: the full-corpus evaluation happens exactly once, in
        # the encode pass that actually needs it). The Bernoulli sampler
        # draws per row in partition order, which map-only transforms
        # and a broadcast inner join on an always-present key preserve —
        # so pre- and post-UDF sampling select the SAME rows and the
        # codebooks are unchanged.
        pq_cap = max(10_000, 64 * n_codes)
        frac = min(1.0, pq_cap / max(n_rows, 1))
        train_src = documents
        if frac < 1.0:
            train_src = documents.sample(fraction=frac, seed=seed)
        cent_df = documents.sparkSession.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
            f"{cell_col} int, __cent array<double>",
        )
        res_frame = (
            assign_cells(
                train_src, cents, vector_col=vector_col, metric=metric,
                cell_col=cell_col,
            )
            .join(F.broadcast(cent_df), cell_col)
            .withColumn(
                "_res",
                F.expr(f"zip_with({vector_col}, __cent, (x, c) -> x - c)"),
            )
        )
        books = train_pq_codebooks(
            res_frame, m=m, n_codes=n_codes, vector_col="_res", seed=seed,
            sample_fraction=1.0,
        )
        coded = assigned.withColumn(
            code_col,
            _residual_encode_udf(books, cents)(
                F.col(vector_col), F.col(cell_col)
            ),
        )
    else:
        books = train_pq_codebooks(
            documents, m=m, n_codes=n_codes, vector_col=vector_col,
            seed=seed, n_rows=n_rows,
        )
        coded = pq_encode(
            assigned, books, vector_col=vector_col, code_col=code_col
        )
    cols = [doc_id_col, code_col, cell_col]
    if store_vectors:
        cols.insert(1, vector_col)
    out = coded.select(*cols)
    if store_vectors and vector_col != orig_vector_col:
        # stored vectors are in index (rotated) space; keep the
        # caller's column name
        out = out.withColumnRenamed(vector_col, orig_vector_col)
    out.write.partitionBy(cell_col).mode("overwrite").parquet(path)

    from ..fs import FS, join as _join

    FS(documents.sparkSession).write_text(
        _join(path, IVFPQ_META_FILE),
        _json.dumps(
            {
                "metric": metric,
                "residual": residual,
                "cell_col": cell_col,
                "code_col": code_col,
                "doc_id_col": doc_id_col,
                # pre-OPQ name: refine re-scores RAW vectors, so the
                # search must select the column the index was built
                # from, not assume "values" (r11 review)
                "vector_col": orig_vector_col,
                "centroids": cents.tolist(),
                "codebooks": books.tolist(),
                "opq_rotation": (
                    rotation.tolist() if rotation is not None else None
                ),
            }
        ),
    )


def load_ivfpq_index(spark, path: str):
    """(lazy coded scan, meta dict with NumPy codebooks/centroids)."""
    from ..fs import FS, join as _join

    meta = _json.loads(FS(spark).read_text(_join(path, IVFPQ_META_FILE)))
    meta["centroids"] = np.asarray(meta["centroids"], dtype=np.float64)
    meta["codebooks"] = np.asarray(meta["codebooks"], dtype=np.float64)
    if meta.get("opq_rotation") is not None:
        meta["opq_rotation"] = np.asarray(
            meta["opq_rotation"], dtype=np.float64
        )
    return spark.read.parquet(path), meta


def _pair_score_udf(
    qluts: np.ndarray,
    nluts: Optional[np.ndarray],
    dot_bias: np.ndarray,
    norm_bias: Optional[np.ndarray],
    pair_qi: np.ndarray,
    pair_ci: Optional[np.ndarray],
):
    """(codes, pair_id) -> ADC score under that (query, cell) pair.

    Residual scoring decomposed into pure lookups:
      dot(q, c + r)   = [q·c]            + Σ_j qlut[query, j, code_j]
      ||c + r||²      = [||c||²]         + Σ_j nlut[cell, j, code_j]
    where nlut folds 2·c·r + ||r||² per codeword. The dot table is per
    QUERY and the norm table per PROBED CELL (not per (query, cell)
    pair): a pair's tables are pure functions of its query resp. cell,
    so shipping Q + C tables plus two tiny pair→index arrays carries
    the same floats as the former P = Q·nprobe pair-stacked tables at
    ~nprobe× less closure weight — the closure is pickled into every
    task binary, and at 100 queries × nprobe 4 the pair-stacked form
    was ~26 MB per query session (r14, guide §4.1: control how many
    bytes cross the boundary). Lookup indirection only; every float
    value and accumulation order is unchanged, so scores are BITWISE
    identical.
    """
    ql = np.ascontiguousarray(qluts, dtype=np.float64)
    _, m, _ = ql.shape

    def kernel(codes: pd.Series, pairs: pd.Series) -> pd.Series:
        arr = np.asarray([np.asarray(c, dtype=np.int64) for c in codes])
        if len(arr) == 0:
            return pd.Series([], dtype="float64")
        pid = np.asarray(pairs, dtype=np.int64)
        qi = pair_qi[pid]
        dots = dot_bias[pid].copy()
        for j in range(m):
            dots += ql[qi, j, arr[:, j]]
        if nluts is not None:
            ci = pair_ci[pid]
            norms = norm_bias[pid].copy()
            for j in range(m):
                norms += nluts[ci, j, arr[:, j]]
            dots /= np.maximum(np.sqrt(np.maximum(norms, 0.0)), NORM_FLOOR)
        return pd.Series(dots)

    return F.pandas_udf(kernel, DoubleType())


def ivfpq_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    refine: Optional[int] = None,
    documents: Optional[DataFrame] = None,
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
) -> DataFrame:
    """Top-k against a persisted IVF-PQ index.

    Per query: rank cells by the coarse codebook (driver NumPy — the
    codebook is KBs), scan ONLY the probed cells' directories (partition
    pruning on the stored cell column), ADC-score their codes, windowed
    partial top-k. ``refine=R`` keeps R·k ADC candidates per query and
    exactly re-scores them against ``documents`` (id → raw vector
    broadcast-joinable candidate set, R·k·Q rows) — the standard
    two-stage recall recovery for aggressive compression.
    """
    coded, meta = load_ivfpq_index(spark, path)
    books, cents = meta["codebooks"], meta["centroids"]
    metric, residual = meta["metric"], meta["residual"]
    cell_col, code_col = meta["cell_col"], meta["code_col"]
    doc_id_col = meta["doc_id_col"]
    m, n_codes, dsub = books.shape

    qrows = queries.select(query_id_col, query_vector_col).collect()
    if not qrows:
        # an upstream filter matching nothing must yield an empty
        # result frame, not a np.stack crash (r11 review)
        from pyspark.sql import types as T

        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(
                        query_id_col, queries.schema[query_id_col].dataType
                    ),
                    T.StructField(
                        doc_id_col, coded.schema[doc_id_col].dataType
                    ),
                    T.StructField("score", T.DoubleType()),
                    T.StructField("rank", T.IntegerType()),
                ]
            ),
        )
    qmat = np.asarray(
        [np.asarray(r[query_vector_col], dtype=np.float64) for r in qrows]
    )
    if meta.get("opq_rotation") is not None:
        # index lives in OPQ-rotated space; rotate queries to match
        # (pure rotation: dot/cosine identical, refine stays raw-space)
        qmat = qmat @ meta["opq_rotation"]
    qn = qmat
    if metric == "cosine":
        qn = unit_rows(qmat)
        cn = unit_rows(cents)
        probe_order = np.argsort(-(qn @ cn.T), axis=1, kind="stable")
    else:
        d = _sq_dists(qmat, cents)
        probe_order = np.argsort(d, axis=1, kind="stable")
    probe_cells = probe_order[:, : min(nprobe, len(cents))]

    # Per-(query, cell) pair tables. Residual geometry:
    #   qlut[p, j, c] = dot(q_sub, codeword)            (+ bias q·cent)
    #   nlut[p, j, c] = 2·dot(cent_sub, cw) + ||cw||²   (+ bias ||cent||²)
    # With residual=False the centroid contribution is identically zero.
    csub = cents.reshape(len(cents), m, dsub)
    base_qlut = np.einsum("qjd,jcd->qjc", qn.reshape(len(qn), m, dsub), books)
    cw_norm2 = (books * books).sum(axis=2)  # (m, n_codes)
    cent_dot = np.einsum("kjd,jcd->kjc", csub, books)  # (cells, m, n_codes)

    need_norm = metric == "cosine"
    # Per-cell norm tables, computed once per DISTINCT probed cell (the
    # value depends only on the cell; same expression, same operand
    # order as the former per-pair copy — bitwise identical).
    probed_sorted = sorted({int(c) for row in probe_cells for c in row})
    cell_slot = {c: i for i, c in enumerate(probed_sorted)}
    nluts_arr = None
    if need_norm:
        nluts_arr = np.stack(
            [
                (cw_norm2 + 2.0 * cent_dot[c]) if residual else cw_norm2
                for c in probed_sorted
            ]
        )
    pair_rows = []
    pair_qi, pair_ci, dot_bias, norm_bias = [], [], [], []
    for qi, r in enumerate(qrows):
        for cell in probe_cells[qi]:
            pid = len(pair_rows)
            pair_rows.append((r[query_id_col], int(cell), pid))
            pair_qi.append(qi)
            pair_ci.append(cell_slot[int(cell)])
            dot_bias.append(
                float(qn[qi] @ cents[cell]) if residual else 0.0
            )
            if need_norm:
                norm_bias.append(
                    float(cents[cell] @ cents[cell]) if residual else 0.0
                )
    pair_qi = np.asarray(pair_qi, dtype=np.int64)
    pair_ci_arr = np.asarray(pair_ci, dtype=np.int64) if need_norm else None
    dot_bias = np.asarray(dot_bias)
    norm_bias_arr = np.asarray(norm_bias) if need_norm else None

    from pyspark.sql import types as T

    qid_type = queries.schema[query_id_col].dataType
    probe_df = spark.createDataFrame(
        pair_rows,
        T.StructType(
            [
                T.StructField(query_id_col, qid_type, True),
                T.StructField(cell_col, T.IntegerType(), False),
                T.StructField("_pair", T.IntegerType(), False),
            ]
        ),
    )
    # isin over the stored partition column → directory-level pruning
    candidates = coded.where(F.col(cell_col).isin(probed_sorted)).join(
        F.broadcast(probe_df), cell_col
    )
    scored = candidates.select(
        F.col(query_id_col),
        F.col(doc_id_col),
        _pair_score_udf(
            base_qlut, nluts_arr, dot_bias, norm_bias_arr,
            pair_qi, pair_ci_arr,
        )(F.col(code_col), F.col("_pair")).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.col(doc_id_col)
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if refine is None:
        return ranked.where(F.col("rank") <= k)
    if documents is None:
        raise ValueError("refine requires the documents frame")
    from ..functions.vector import cosine_similarity, dot_product

    shortlist = ranked.where(F.col("rank") <= int(refine) * k).drop(
        "rank", "score"
    )
    # the column the index was built from (pre-OPQ name); older
    # sidecars lack the key, for which "values" was the only choice
    doc_vec_col = meta.get("vector_col", "values")
    qvec_df = queries.select(query_id_col, query_vector_col)
    exact = (
        shortlist.join(
            documents.select(doc_id_col, doc_vec_col), doc_id_col
        )
        .join(F.broadcast(qvec_df), query_id_col)
        .select(
            F.col(query_id_col),
            F.col(doc_id_col),
            (
                cosine_similarity(doc_vec_col, query_vector_col)
                if metric == "cosine"
                else dot_product(doc_vec_col, query_vector_col)
            ).alias("score"),
        )
    )
    return exact.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def train_pq_inplan(
    documents: DataFrame,
    m: int = 4,
    n_codes: int = 8,
    iters: int = 2,
    dim: int = 64,
    vector_col: str = "values",
    id_col: str = "id",
    scale: int = 1000,
):
    """Deterministic distributed PQ trainer + encoder, every float op
    replayable bit-for-bit in SQL — the value-level-oracle twin of
    ``train_pq_codebooks``/``pq_encode``, built on the same three
    determinism choices as ``ivf.train_centroids_inplan`` (smallest-id
    init, integer codeword sums, sequential-fold cosine assignment with
    a (sim DESC, code ASC) tiebreak).

    The subspace index rides as a KEY COLUMN: one explode turns the
    corpus into ``m·N`` (id, s, subvector) rows and all ``m`` Lloyd
    problems train in the SAME plan — per round one broadcast codebook
    join into a hash agg plus one codebook-sized integer aggregate, not
    m sequential jobs. Driver traffic per round is the (m × n_codes ×
    subdim) codebook, nothing corpus-sized.

    Returns ``(codes, codebooks)``: ``codes`` is ``(id, s, code)`` with
    one row per (document, subspace); ``codebooks`` a list of
    ``(s, code, codeword)``. Codes that lose all members drop out, as
    in the IVF twin. For cheap approximate training at production m and
    n_codes prefer ``train_pq_codebooks`` (bounded driver sample); this
    variant buys exact cross-engine replay and full-corpus training at
    iters× the scan cost.

    Constraint: subvectors must be non-zero (cosine assignment — a
    zero-norm slice raises DIVIDE_BY_ZERO under ANSI mode rather than
    silently mis-assigning)."""
    from ..functions.vector import cosine_similarity

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if n_codes < 1 or iters < 0:
        raise ValueError(f"bad n_codes/iters: {n_codes}/{iters}")
    subdim = dim // m
    spark = documents.sparkSession
    from ..parallel import widen

    # The per-round assignment folds (sequential cosine over every
    # (row, codeword) pair) multiply work ×(m·n_codes) per input byte —
    # a single-file scan would run them on one core (r14; no-op on any
    # real corpus, same guard as topk_search/ngram paths).
    documents = widen(documents, id_col)
    subs = (
        documents.select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("s"),
            F.col(vector_col).cast("array<double>").alias("_v64"),
        )
        .select(
            id_col,
            "s",
            F.expr(f"slice(_v64, s * {subdim} + 1, {subdim})").alias("_v"),
        )
        .withColumn(
            "_qv",
            F.expr(
                f"transform(_v, x -> CAST(round(x * {scale}) AS BIGINT))"
            ),
        )
    )
    if iters > 0:
        # The exploded/sliced/quantized frame feeds iters round-collects
        # PLUS the final assignment — without a persist each of those
        # actions re-scans the corpus and re-runs the explode+quantize
        # (r14, guide §5: reuse > recompute when the frame is hot in the
        # same plan family). Values are untouched, so the bit-replay
        # contract holds. The returned `codes` frame is lazy and still
        # reads this cache; the ContextCleaner unpersists it when the
        # frame is garbage-collected (same ownership model as
        # prf.rm3_search's persist_tf).
        from pyspark import StorageLevel

        subs = subs.persist(StorageLevel.MEMORY_AND_DISK)
    # Init = the n_codes smallest doc ids per subspace. Every doc
    # carries every subspace, so those are the n_codes globally
    # smallest ids: a TakeOrdered limit (driver-side heap over scan
    # partials) replaces the former full Window shuffle of the whole
    # exploded corpus (r13, guide §2.4 — the orderBy existed only to
    # pick a deterministic sliver). The slice/quantize expressions are
    # identical, so the init codebook is bit-for-bit unchanged.
    init_docs = documents.select(
        F.col(id_col), F.col(vector_col).cast("array<double>").alias("_v64")
    ).orderBy(id_col).limit(n_codes)
    init = (
        init_docs.select(
            id_col,
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("s"),
            F.col("_v64"),
        )
        .select(
            id_col,
            "s",
            F.expr(f"slice(_v64, s * {subdim} + 1, {subdim})").alias("_v"),
        )
        .select(
            "s",
            id_col,
            F.expr(
                f"transform(_v, x -> CAST(round(x * {scale}) AS BIGINT))"
            ).alias("_qv"),
        )
        .collect()
    )
    by_s: dict[int, list] = {}
    for r in sorted(init, key=lambda r: (int(r["s"]), r[id_col])):
        by_s.setdefault(int(r["s"]), []).append(r)
    books = [
        (s, code, [float(x) for x in r["_qv"]])
        for s, rows in sorted(by_s.items())
        for code, r in enumerate(rows)
    ]

    def assign(df: DataFrame, books_now) -> DataFrame:
        # NOTE(r13): a map-only literal-expression argmax (array_max
        # over struct(sim, -code) per subspace) was measured here and
        # REVERTED — it removes the join + groupBy exchanges but the
        # generated/interpreted expression tree (n_codes × subdim
        # literals under nested HOFs) cost more in per-pass plan
        # compilation than the two exchanges it saved (isolated leg
        # 6.7 s → 16.5 s). The broadcast-join of a codebook-sized frame
        # is bounded at every scale, so it keeps the hint.
        cdf = spark.createDataFrame(
            books_now, "s int, code int, cvec array<double>"
        )
        return (
            df.join(F.broadcast(cdf), "s")
            .withColumn(
                "_sim", cosine_similarity(F.col("_v"), F.col("cvec"))
            )
            .groupBy(id_col, "s")
            .agg(
                F.expr("max_by(code, struct(_sim, -code))").alias("code"),
                F.first("_qv").alias("_qv"),
            )
        )

    for _ in range(iters):
        sums = (
            assign(subs, books)
            .select("s", "code", F.posexplode("_qv").alias("dim", "q"))
            .groupBy("s", "code", "dim")
            .agg(F.sum("q").alias("t"), F.count(F.lit(1)).alias("n"))
            .collect()
        )  # one exchange per round now: the map-only assign feeds the
        # (s, code, dim) aggregate directly
        acc: dict[tuple[int, int], dict[int, float]] = {}
        for r in sums:
            acc.setdefault((int(r["s"]), int(r["code"])), {})[
                int(r["dim"])
            ] = float(r["t"]) / float(r["n"])
        books = [
            (s, code, [by_dim[d] for d in sorted(by_dim)])
            for (s, code), by_dim in sorted(acc.items())
        ]
    codes = assign(subs, books).select(id_col, "s", "code")
    return codes, books


def pq_reconstruct_inplan(
    codes: DataFrame, codebooks, id_col: str = "id"
) -> DataFrame:
    """Decode ``train_pq_inplan`` codes back to reconstruction vectors
    IN-PLAN: broadcast-join the (s, code) keys to their codewords and
    concatenate in subspace order (``array_sort`` over (s, codeword)
    structs keeps the flatten deterministic — s is unique per id).

    ADC scoring against the reconstruction is this module's tested
    exactness anchor (``dot(q, recon) == Σ_s dot(q_s, codeword_s)``
    up to summation order — and the repo's sequential-fold dot pins
    even that order), so downstream scoring of the returned ``recon``
    column replays bit-for-bit in SQL. Returns ``(id, recon)``."""
    spark = codes.sparkSession
    cdf = spark.createDataFrame(
        codebooks, "s int, code int, cvec array<double>"
    )
    return (
        codes.join(F.broadcast(cdf), ["s", "code"])
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("s", "cvec"))),
                    lambda x: x["cvec"],
                )
            ).alias("recon")
        )
    )
