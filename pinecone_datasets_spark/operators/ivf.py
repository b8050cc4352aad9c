"""IVF (inverted-file) approximate nearest-neighbor search.

The scale path for similarity search: partition the corpus into Voronoi
cells around KMeans centroids, then search only the ``nprobe`` cells
closest to each query. At 100 TB this turns every query from a full-corpus
scan into a scan of nprobe/n_centroids of the data — and because cell
assignment is a *stored* column, a cell-partitioned layout gets partition
pruning from the Parquet reader for free.

Plan shape:
  build: one sample collect -> driver-side seeded Lloyd (NumPy) ->
         assign cells via one matmul kernel (map-only, no shuffle)
  query: per query pick nprobe cells (tiny driver/broadcast compute) ->
         explode -> shuffle-hash join on cell id -> exact re-score ->
         windowed partial top-k
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import index_store
from ..functions.vector import (
    NORM_FLOOR,
    cosine_from_norms,
    cosine_similarity,
    dot_product,
    l2_norm,
    unit_rows,
)
from .sampling import cap_per_group


def _sq_dists(m: np.ndarray, c: np.ndarray) -> np.ndarray:
    """(rows, k) squared distances via ||x||^2 - 2*x@c.T + ||c||^2.

    One BLAS matmul with a (rows, k) output — never the
    (rows, k, dim) broadcast intermediate, which at dim 768 and a 100k
    training sample would be ~10 GB per Lloyd step and sink the
    "bounded driver memory" claim this module makes."""
    x2 = (m * m).sum(axis=1, keepdims=True)
    c2 = (c * c).sum(axis=1)
    return np.maximum(x2 - 2.0 * (m @ c.T) + c2, 0.0)


def _nearest(
    m: np.ndarray, c: np.ndarray, out: Optional[np.ndarray] = None
) -> np.ndarray:
    """Row-wise nearest centroid by squared distance.

    The ||x||^2 term is constant per row, so argmin only needs
    ``||c||^2 - 2*x@c.T`` — two fewer full passes over the (rows, k)
    score array than ``argmin(_sq_dists(...))`` (no x2 broadcast-add,
    no clamp). Same ordering in exact arithmetic; the hot path for
    Lloyd assignment and PQ encoding, where (rows, k) is the cost.

    ``out``: optional (rows, k) scratch of the inputs' dtype. Callers
    that evaluate many same-shape assignments (Lloyd iterations, the
    per-subspace encode loop) pass one preallocated buffer so the
    (rows, k) score matrix is not mmap'd/faulted afresh per call —
    measured 6.5 ms → 0.9 ms per assignment at (2000 × 256) from
    allocator churn alone (r13). The scores are written by the same
    ops in the same order, so assignments are BITWISE identical with
    or without ``out``.
    """
    c2 = (c * c).sum(axis=1)
    # -2x + c2 in place of c2 - 2x: negation is exact and IEEE addition
    # is commutative, so the scores (and every argmin tie) are BITWISE
    # identical — but the (rows, k) buffer is written in place
    # instead of materializing a second temporary (this is pure memory
    # traffic at Lloyd/encode shapes; r13).
    if out is None:
        s = np.multiply(m @ c.T, -2.0)
    else:
        np.matmul(m, c.T, out=out)
        s = np.multiply(out, -2.0, out=out)
    np.add(s, c2, out=s)
    return np.argmin(s, axis=1)


def _assign_udf(centroids: np.ndarray, normalize: bool):
    """vec -> nearest-centroid id, one BLAS matmul per Arrow batch."""
    c = np.ascontiguousarray(centroids, dtype=np.float64)
    cn = unit_rows(c)

    def kernel(vecs: pd.Series) -> pd.Series:
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if len(m) == 0:
            return pd.Series([], dtype="int32")
        if normalize:
            sims = unit_rows(m) @ cn.T
            return pd.Series(np.argmax(sims, axis=1).astype(np.int32))
        return pd.Series(_nearest(m, c).astype(np.int32))

    from pyspark.sql.types import IntegerType

    # asNondeterministic: deterministic in fact, but the marker stops the
    # optimizer from pushing join-key isnotnull filters below the
    # projection and evaluating the assignment matmul twice per row
    # (two ArrowEvalPython nodes in the IVF-PQ residual-training subtree;
    # r13, guide §4.4). Output values are unchanged.
    return F.pandas_udf(kernel, IntegerType()).asNondeterministic()


def _sample_matrix(
    documents: DataFrame,
    vector_col: str,
    sample_cap: int,
    seed: int,
    n_rows: Optional[int] = None,
    fraction: Optional[float] = None,
) -> np.ndarray:
    """(rows, dim) float64 matrix of a seeded Bernoulli sample of
    ``vector_col`` — the one collect job behind the driver-side trainers.

    ``fraction`` is used as-is when given; otherwise it is sized so the
    sample holds about ``sample_cap`` rows, from ``n_rows`` when the
    caller already knows the row count, else from a count job."""
    if fraction is None:
        n = documents.count() if n_rows is None else int(n_rows)
        fraction = min(1.0, sample_cap / max(n, 1))
    src = documents.select(F.col(vector_col).alias("_v"))
    if fraction < 1.0:
        src = src.sample(fraction=fraction, seed=seed)
    return np.asarray(
        [np.asarray(v, dtype=np.float64) for (v,) in src.collect()]
    )


def train_centroids_local(
    documents: DataFrame,
    n_centroids: int = 16,
    vector_col: str = "values",
    sample_cap: int = 100_000,
    seed: int = 42,
    max_iter: int = 20,
    n_rows: Optional[int] = None,
) -> np.ndarray:
    """KMeans centroids via seeded NumPy Lloyd iterations on a driver-side
    sample.

    The scale rationale is the same one FAISS uses: centroids only need to
    represent the *distribution*, so training runs on a bounded sample
    (``sample_cap`` rows — ~50 MB at dim 64) regardless of corpus size.
    Collecting that sample is ONE Spark job; every Lloyd iteration is then
    a local BLAS matmul (~ms), where a distributed KMeans pays a full
    driver-coordinated job per iteration — ~20 jobs of fixed overhead
    that dwarf the actual math at any corpus size. Deterministic for a
    fixed (seed, sample): init picks ``n_centroids`` distinct sample rows.

    ``n_rows``: the frame's row count when the caller already knows it
    (sizes the sample fraction only) — saves the count job (r13).
    """
    m = _sample_matrix(documents, vector_col, sample_cap, seed, n_rows)
    rng = np.random.default_rng(seed)
    init_idx = rng.choice(len(m), size=min(n_centroids, len(m)), replace=False)
    c = m[np.sort(init_idx)].copy()
    scores = np.empty((len(m), len(c)), dtype=np.float64)
    for _ in range(max_iter):
        assign = _nearest(m, c, out=scores)
        new_c = np.array(
            [
                m[assign == j].mean(axis=0) if np.any(assign == j) else c[j]
                for j in range(len(c))
            ]
        )
        if np.allclose(new_c, c, atol=1e-9):
            c = new_c
            break
        c = new_c
    return c


def assign_cells(
    documents: DataFrame,
    centroids: np.ndarray,
    vector_col: str = "values",
    metric: str = "cosine",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """Add the nearest-centroid cell id (map-only; persist + partition the
    output by this column to get Parquet partition pruning at query time).
    """
    udf = _assign_udf(centroids, normalize=(metric == "cosine"))
    return documents.withColumn(cell_col, udf(F.col(vector_col)))


def ivf_topk(
    documents_with_cells: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    nprobe: int = 4,
    metric: str = "cosine",
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
    doc_id_col: str = "id",
    doc_vector_col: str = "values",
    cell_col: str = "ivf_cell",
    prune_cells: bool = False,
    cell_ids: Optional[list] = None,
) -> DataFrame:
    """Per-query top-k over the nprobe nearest cells only.

    The probe set rides with the (small, broadcast) queries side; the join
    on cell id is the only shuffle of corpus rows, and it moves just the
    probed fraction. ``cell_ids`` maps centroid rows to cell ids when the
    codebook is sparse (``train_centroids_inplan`` drops empty cells).
    """
    c = np.ascontiguousarray(centroids, dtype=np.float64)
    cn = unit_rows(c)

    # Centroid row i belongs to cell id cell_ids[i] (dense 0..n-1 by
    # default; sparse for codebooks that dropped empty cells).
    ids = list(cell_ids) if cell_ids is not None else list(range(len(c)))

    def probes(vec) -> list[int]:
        v = np.asarray(vec, dtype=np.float64)
        if metric == "cosine":
            # 1-D norm on purpose: numpy takes the dot path here, not
            # unit_rows' row reduction, and the last bit can differ
            v = v / max(np.linalg.norm(v), NORM_FLOOR)
            # stable sort + ascending-cell tiebreak: the probe set is a
            # pure function of (query, codebook), replayable in SQL
            order = np.argsort(-(cn @ v), kind="stable")
        else:
            order = np.argsort(((c - v) ** 2).sum(axis=1), kind="stable")
        return [ids[int(x)] for x in order[:nprobe]]

    qsel = queries.select(query_id_col, query_vector_col)
    qrows = qsel.collect()
    probe_rows = [
        (r[query_id_col], r[query_vector_col], cell)
        for r in qrows
        for cell in probes(r[query_vector_col])
    ]
    spark = documents_with_cells.sparkSession
    # Probe-rows schema is derived from the queries frame, not hardcoded:
    # string query ids (the dataset schema's id type) and double vectors
    # must survive the driver round-trip unchanged.
    from pyspark.sql import types as T

    probe_schema = T.StructType(
        list(qsel.schema.fields)
        + [T.StructField(cell_col, T.IntegerType(), False)]
    )
    q_exp = spark.createDataFrame(probe_rows, schema=probe_schema)
    if prune_cells:
        # Static pruning: the probed cell set is known driver-side. Only
        # worth it when the cell column is STORED (partitioned layout →
        # whole directories skipped); on a freshly-computed UDF column the
        # extra filter just re-evaluates the assignment kernel.
        probed_cells = sorted({cell for (_, _, cell) in probe_rows})
        documents_with_cells = documents_with_cells.where(
            F.col(cell_col).isin(probed_cells)
        )
    if metric == "cosine":
        # Cosine factored exactly as topk_search (r14): each norm
        # depends on one side only, so compute ||d|| once per corpus row
        # and ||q|| once per probe row BEFORE the join — a candidate
        # pair then pays ONE interpreted fold (the dot), not three.
        # q35's SQL twin replays these scores bit for bit.
        documents_with_cells = documents_with_cells.withColumn(
            "__dnorm", l2_norm(doc_vector_col)
        )
        q_exp = q_exp.withColumn("__qnorm", l2_norm(query_vector_col))
        score = cosine_from_norms(
            doc_vector_col, query_vector_col, "__dnorm", "__qnorm"
        )
    else:
        score = dot_product(doc_vector_col, query_vector_col)
    candidates = documents_with_cells.join(
        F.broadcast(q_exp), on=cell_col
    ).select(
        F.col(query_id_col),
        F.col(doc_id_col),
        score.alias("score"),
    )
    return cap_per_group(
        candidates,
        query_id_col,
        k,
        [F.desc("score"), F.col(doc_id_col)],
        rank_col="rank",
    )


def train_centroids_inplan(
    documents: DataFrame,
    n_centroids: int = 8,
    iters: int = 2,
    vector_col: str = "values",
    id_col: str = "id",
    scale: int = 1000,
    cell_col: str = "ivf_cell",
):
    """Deterministic distributed Lloyd, every float op replayable
    bit-for-bit in SQL — the trainer behind q35's value-level oracle.

    Three determinism choices make cross-engine bit-equality possible
    (and are why this exists alongside ``train_centroids_local``):

    * **init** = the quantized vectors of the ``n_centroids`` smallest
      ids (no RNG state to replay);
    * **updates** are ratios of **integer** sums of the
      ``scale``-quantized vectors — integer addition is associative, so
      no aggregation order can perturb a centroid;
    * **assignment** uses the repo's sequential-fold cosine
      (``functions.vector.cosine_similarity``), whose exact operation
      order a SQL engine reproduces with ``list_reduce``/
      ``list_transform`` (left-to-right adds seeded at 0.0), with a
      (sim DESC, cell ASC) tiebreak.

    Scale shape per round: one 8-ish× candidate explode (docs ×
    broadcast codebook) into a ``max_by`` hash agg (one shuffle), then
    a codebook-sized integer aggregate; the only collects are the
    (n_centroids × dim) codebooks. This is the classic distributed
    KMeans round — for cheap *approximate* training prefer the bounded
    driver sample (``train_centroids_local``); this variant buys
    exactness of replay and full-corpus training at iters× the scan
    cost. Cells that lose all members drop out of the codebook.

    Returns ``(documents_with_cells, cents)`` where cents is a list of
    ``(cell_id, centroid_list)`` for the final codebook.
    """
    spark = documents.sparkSession
    from ..parallel import widen

    # Per-round assignment folds multiply work ×n_centroids per input
    # byte — widen so a single-file scan doesn't run them on one core
    # (r14; no-op on any real corpus).
    documents = widen(documents, id_col)
    qdocs = documents.select(
        F.col(id_col),
        F.col(vector_col),
        F.expr(
            f"transform({vector_col},"
            f" x -> CAST(round(x * {scale}) AS BIGINT))"
        ).alias("__qv"),
    )
    if iters > 0:
        # qdocs feeds every round's collect plus the final assignment
        # join — persist so the scan+quantize runs once, not iters+1
        # times (r14; values untouched, bit-replay contract holds; the
        # ContextCleaner unpersists when the returned frame is GC'd).
        from pyspark import StorageLevel

        qdocs = qdocs.persist(StorageLevel.MEMORY_AND_DISK)
    init = (
        qdocs.orderBy(id_col)
        .limit(n_centroids)
        .select("__qv")
        .collect()
    )
    cents = [
        (i, [float(x) for x in r["__qv"]]) for i, r in enumerate(init)
    ]

    def assign(df, cents_now):
        cdf = spark.createDataFrame(
            cents_now, "cell int, cvec array<double>"
        )
        return (
            df.crossJoin(F.broadcast(cdf))
            .withColumn(
                "__sim", cosine_similarity(F.col(vector_col), F.col("cvec"))
            )
            .groupBy(id_col)
            .agg(
                F.expr("max_by(cell, struct(__sim, -cell))").alias(
                    cell_col
                ),
                F.first("__qv").alias("__qv"),
            )
        )

    for _ in range(iters):
        sums = (
            assign(qdocs, cents)
            .select(cell_col, F.posexplode("__qv").alias("dim", "q"))
            .groupBy(cell_col, "dim")
            .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        acc: dict[int, dict[int, float]] = {}
        for r in sums:
            acc.setdefault(int(r[cell_col]), {})[int(r["dim"])] = (
                float(r["s"]) / float(r["n"])
            )
        cents = [
            (cell, [by_dim[d] for d in sorted(by_dim)])
            for cell, by_dim in sorted(acc.items())
        ]
    with_cells = documents.join(
        assign(qdocs, cents).select(id_col, cell_col), id_col
    )
    return with_cells, cents


def ivf_topk_inplan(
    documents_with_cells: DataFrame,
    queries: DataFrame,
    cents: list,
    k: int = 5,
    nprobe: int = 6,
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
    doc_id_col: str = "id",
    doc_vector_col: str = "values",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """``ivf_topk`` with the probe ranking computed *in-plan* (queries ×
    broadcast codebook, window rank) instead of driver-side NumPy — so
    every float decision uses the same sequential-fold cosine as the
    final scoring and a SQL oracle can replay the probe sets exactly."""
    spark = documents_with_cells.sparkSession
    cdf = spark.createDataFrame(cents, "cell int, cvec array<double>")
    sims = (
        queries.select(query_id_col, query_vector_col)
        .crossJoin(F.broadcast(cdf))
        .withColumn(
            "__sim",
            cosine_similarity(F.col(query_vector_col), F.col("cvec")),
        )
    )
    probe = cap_per_group(
        sims,
        query_id_col,
        nprobe,
        [F.desc("__sim"), F.col("cell")],
        rank_col="__pr",
    ).select(
        query_id_col,
        query_vector_col,
        F.col("cell").alias(cell_col),
    )
    # Cosine factored exactly as ivf_topk/topk_search (r14): one
    # interpreted fold (the dot) per candidate pair instead of three;
    # the SQL oracle replays these scores bit for bit.
    docs_n = documents_with_cells.withColumn(
        "__dnorm", l2_norm(doc_vector_col)
    )
    probe_n = probe.withColumn("__qnorm", l2_norm(query_vector_col))
    candidates = docs_n.join(
        F.broadcast(probe_n), cell_col
    ).select(
        F.col(query_id_col),
        F.col(doc_id_col),
        cosine_from_norms(
            doc_vector_col, query_vector_col, "__dnorm", "__qnorm"
        ).alias("score"),
    )
    return cap_per_group(
        candidates,
        query_id_col,
        k,
        [F.desc("score"), F.col(doc_id_col)],
        rank_col="rank",
    )


# ---------------------------------------------------------------------------
# Persisted index: cell-partitioned parquet layout + centroid sidecar
# ---------------------------------------------------------------------------


def build_ivf_index(
    documents: DataFrame,
    path: str,
    n_centroids: int = 16,
    vector_col: str = "values",
    metric: str = "cosine",
    cell_col: str = "ivf_cell",
    seed: int = 42,
    trainer: str = "local",
) -> np.ndarray:
    """Train, assign, and persist the IVF layout in one call.

    The corpus lands as parquet **partitioned by cell id** — the layout
    that turns nprobe cell selection into Parquet partition pruning (the
    reader skips whole directories, not just row groups). Centroids ride
    in a JSON sidecar next to the data so a later session can search
    without retraining. Returns the centroid matrix.

    Centroids come from ``train_centroids_local`` (one collect job on a
    bounded sample, then driver-side Lloyd). ``trainer`` accepts only
    ``"local"``; it is kept because callers pass it (the vbench search
    family does), and any other value raises ``ValueError``.
    """
    if trainer != "local":
        raise ValueError(f"unknown trainer: {trainer}")
    centroids = train_centroids_local(
        documents, n_centroids=n_centroids, vector_col=vector_col, seed=seed
    )
    assigned = assign_cells(
        documents, centroids, vector_col=vector_col,
        metric=metric, cell_col=cell_col,
    )
    index_store.save(
        path,
        "ivf",
        {"metric": metric, "cell_col": cell_col,
         "centroids": centroids.tolist()},
        [(None, assigned, ("partition", cell_col))],
    )
    return centroids


def load_ivf_index(spark, path: str):
    """(documents_with_cells, centroids, metric, cell_col) from a layout
    written by ``build_ivf_index``. The scan is lazy — filters on the
    cell column prune partitions before any file is opened."""
    meta = index_store.load(spark, path, "ivf")
    df = spark.read.parquet(path)
    return (
        df,
        np.asarray(meta["centroids"], dtype=np.float64),
        meta["metric"],
        meta["cell_col"],
    )


def ivf_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    **kwargs,
) -> DataFrame:
    """Top-k against a persisted index: load sidecar + pruned scan +
    ``ivf_topk``. Only the probed cells' directories are read."""
    docs, centroids, metric, cell_col = load_ivf_index(spark, path)
    return ivf_topk(
        docs,
        queries,
        centroids,
        k=k,
        nprobe=nprobe,
        metric=metric,
        cell_col=cell_col,
        prune_cells=True,
        **kwargs,
    )
