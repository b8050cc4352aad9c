"""IVF ANN: recall against exact search, cell-assignment sanity."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pinecone_datasets_spark.operators.ivf import (
    assign_cells,
    ivf_topk,
    train_centroids,
)
from pinecone_datasets_spark.operators.search import topk_search


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("values")
    ).cache()


def test_ivf_recall(spark, corpus):
    centroids = train_centroids(corpus, n_centroids=8, max_iter=10)
    assert centroids.shape == (8, 64)
    with_cells = assign_cells(corpus, centroids).cache()
    # every doc lands in exactly one valid cell
    cells = with_cells.select("ivf_cell").distinct().collect()
    assert all(0 <= r["ivf_cell"] < 8 for r in cells)

    queries = corpus.where(F.col("id") < 10).select(
        F.col("id").alias("query_id"), F.col("values").alias("vector")
    )
    exact = topk_search(corpus, queries, metric="cosine", k=5,
                        doc_id_col="id", metadata_col=None).collect()
    approx = ivf_topk(
        with_cells, queries, centroids, k=5, nprobe=4, metric="cosine"
    ).collect()

    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["id"])

    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    # nprobe=4 of 8 cells -> at minimum the query's own cell is probed, so
    # self-match always survives; average recall should be solid
    assert sum(recalls) / len(recalls) >= 0.5, recalls
    # self-match: each query's own id must be in its result (it shares the
    # query's cell by construction)
    for q, s in exact_sets.items():
        assert q in approx_sets.get(q, set())


def test_ivf_string_ids_and_double_vectors(spark, corpus):
    """The probe-rows schema is derived from the queries frame: string
    query ids (the dataset schema's id type) and double vectors must work
    despite configurable column names."""
    docs = corpus.select(
        F.col("id").cast("string").alias("id"),
        F.col("values").cast("array<double>").alias("values"),
    )
    centroids = train_centroids(docs, n_centroids=4, max_iter=5)
    with_cells = assign_cells(docs, centroids)
    queries = docs.where(F.col("id").isin("0", "1")).select(
        F.col("id").alias("query_id"), F.col("values").alias("vector")
    )
    out = ivf_topk(
        with_cells, queries, centroids, k=3, nprobe=2, metric="cosine"
    ).collect()
    assert {r["query_id"] for r in out} == {"0", "1"}
    # self-match at rank 1 (same cell by construction)
    for r in out:
        if r["rank"] == 1:
            assert r["id"] == r["query_id"]


def test_ivf_probes_fraction(spark, corpus):
    """With nprobe=1 each query's candidates come from one cell — the scan
    fraction is bounded by the largest single cell."""
    centroids = train_centroids(corpus, n_centroids=8, max_iter=10)
    with_cells = assign_cells(corpus, centroids)
    queries = corpus.where(F.col("id") < 3).select(
        F.col("id").alias("query_id"), F.col("values").alias("vector")
    )
    out = ivf_topk(with_cells, queries, centroids, k=100, nprobe=1)
    per_q = (
        out.groupBy("query_id").count().collect()
    )
    total = corpus.count()
    largest_cell = (
        with_cells.groupBy("ivf_cell").count()
        .agg(F.max("count")).collect()[0][0]
    )
    assert all(r["count"] <= min(100, largest_cell) for r in per_q)
    assert largest_cell < total  # clustering actually split the corpus


def test_build_load_index_roundtrip(spark, corpus, tmp_path):
    import os

    from pinecone_datasets_spark.index_store import SIDECARS
    from pinecone_datasets_spark.operators.ivf import (
        build_ivf_index,
        ivf_index_topk,
        load_ivf_index,
        train_centroids,
        assign_cells,
        ivf_topk,
    )

    path = str(tmp_path / "ivf_index")
    centroids = build_ivf_index(
        corpus, path, n_centroids=8, metric="cosine", seed=42
    )
    # layout: one dir per cell + centroid sidecar
    entries = os.listdir(path)
    assert SIDECARS["ivf"] in entries
    assert any(e.startswith("ivf_cell=") for e in entries)

    docs, loaded, metric, cell_col = load_ivf_index(spark, path)
    assert np.allclose(loaded, centroids)
    assert (metric, cell_col) == ("cosine", "ivf_cell")
    assert docs.count() == corpus.count()

    queries = corpus.where(F.col("id") < 5).select(
        F.col("id").alias("query_id"), F.col("values").alias("vector")
    )
    via_index = ivf_index_topk(spark, path, queries, k=5, nprobe=4)
    in_memory = ivf_topk(
        assign_cells(corpus, centroids), queries, centroids,
        k=5, nprobe=4, metric="cosine",
    )
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(
        (r["query_id"], r["rank"], r["id"]) for r in via_index.collect()
    ) == sorted(
        (r["query_id"], r["rank"], r["id"]) for r in in_memory.collect()
    )


def test_ivf_index_scan_partition_pruned(spark, corpus, tmp_path):
    """The probed-cell IN filter must reach the partitioned scan as a
    partition filter — whole unprobed directories skipped."""
    from pinecone_datasets_spark.operators.ivf import (
        build_ivf_index,
        ivf_index_topk,
    )
    from pinecone_datasets_spark.plans.explain import formatted_plan

    path = str(tmp_path / "ivf_pruned")
    build_ivf_index(corpus, path, n_centroids=8, metric="cosine", seed=42)
    queries = corpus.where(F.col("id") < 2).select(
        F.col("id").alias("query_id"), F.col("values").alias("vector")
    )
    plan = formatted_plan(ivf_index_topk(spark, path, queries, k=3, nprobe=2))
    assert "PartitionFilters: [ivf_cell" in plan.replace(
        "PartitionFilters: [isnotnull(ivf_cell", "PartitionFilters: [ivf_cell"
    ) or "ivf_cell" in plan.split("PartitionFilters")[1].split("]")[0]


def test_sq_dists_matches_broadcast_form():
    """The one-matmul ||x||^2 - 2x@c.T + ||c||^2 kernel (ADVICE r3: the
    (rows, k, dim) broadcast intermediate was ~10 GB at dim 768) must
    agree with the naive form to float tolerance and stay non-negative."""
    import numpy as np

    from pinecone_datasets_spark.operators.ivf import _sq_dists

    rng = np.random.default_rng(7)
    m = rng.standard_normal((200, 48))
    c = rng.standard_normal((16, 48))
    naive = ((m[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
    fast = _sq_dists(m, c)
    assert np.allclose(fast, naive, atol=1e-8)
    assert (fast >= 0).all()
    assert np.array_equal(np.argmin(fast, axis=1), np.argmin(naive, axis=1))


# ---------------------------------------------------------------------------
# In-plan deterministic Lloyd (the SQL-replayable trainer behind q35)
# ---------------------------------------------------------------------------


def test_inplan_lloyd_centroids_are_integer_exact(spark, corpus):
    """Centroid components are ratios of integer sums of the quantized
    vectors — recomputable exactly from a driver-side replay."""
    from pinecone_datasets_spark.operators.ivf import (
        train_centroids_inplan,
    )

    docs = corpus.select(
        "id", F.col("values").cast("array<double>").alias("values")
    )
    with_cells, cents = train_centroids_inplan(docs, n_centroids=4, iters=2)
    assert 1 <= len(cents) <= 4
    # exactness: members' quantized sums / count reproduce each centroid
    # component bit-for-bit
    rows = with_cells.select("id", "values", "ivf_cell").collect()
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r["ivf_cell"], []).append(r["values"])
    # the returned codebook is the TRAINING codebook (iters rounds); the
    # final assignment is one more argmax against it, so member means
    # need not equal it — instead check determinism across a re-run
    with_cells2, cents2 = train_centroids_inplan(
        docs, n_centroids=4, iters=2
    )
    assert cents == cents2
    got1 = {(r["id"], r["ivf_cell"]) for r in rows}
    got2 = {
        (r["id"], r["ivf_cell"])
        for r in with_cells2.select("id", "ivf_cell").collect()
    }
    assert got1 == got2


def test_inplan_lloyd_first_round_update_is_member_mean(spark):
    """One round from a known init: centroids equal the quantized member
    means of the init-cell assignment, computed by hand."""
    import math

    from pinecone_datasets_spark.operators.ivf import (
        train_centroids_inplan,
    )

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.0, 1.0]),
        (3, [0.9, 0.1]),
        (4, [0.1, 0.9]),
        (5, [1.0, 0.2]),
    ]
    df = spark.createDataFrame(rows, "id long, values array<double>")
    _, cents = train_centroids_inplan(
        df, n_centroids=2, iters=1, scale=1000
    )
    # init: c0 = q(id1) = [1000, 0], c1 = q(id2) = [0, 1000]
    # cosine assignment: ids 1,3,5 -> cell 0; ids 2,4 -> cell 1
    want = {
        0: [
            (1000 + 900 + 1000) / 3.0,
            (0 + 100 + 200) / 3.0,
        ],
        1: [(0 + 100) / 2.0, (1000 + 900) / 2.0],
    }
    got = dict(cents)
    assert set(got) == set(want)
    for cell, vec in want.items():
        assert all(
            math.isclose(a, b, rel_tol=0, abs_tol=0)
            for a, b in zip(got[cell], vec)
        )


def test_ivf_topk_inplan_matches_numpy_probe_variant(spark, corpus):
    """The in-plan probe ranking selects the same cells (and therefore
    the same top-k) as ivf_topk's driver-side NumPy probes for the same
    codebook."""
    import numpy as np

    from pinecone_datasets_spark.operators.ivf import (
        ivf_topk,
        ivf_topk_inplan,
        train_centroids_inplan,
    )

    docs = corpus.select(
        "id", F.col("values").cast("array<double>").alias("values")
    )
    with_cells, cents = train_centroids_inplan(docs, n_centroids=4, iters=2)
    queries = docs.where(F.col("id") < 5).select(
        F.col("id").alias("query_id"), F.col("values").alias("vector")
    )
    got = {
        (r["query_id"], r["id"], r["rank"])
        for r in ivf_topk_inplan(
            with_cells, queries, cents, k=3, nprobe=2
        ).collect()
    }
    cmat = np.array([v for (_, v) in cents])
    cids = [c for (c, _) in cents]
    want = {
        (r["query_id"], r["id"], r["rank"])
        for r in ivf_topk(
            with_cells,
            queries,
            cmat,
            k=3,
            nprobe=2,
            metric="cosine",
            cell_ids=cids,
        ).collect()
    }
    assert got == want


def test_srp_codebook_cells_and_sparse_ids(spark, corpus):
    """Bucket-quantizer codebook: cells are SRP buckets, centroids are
    integer-exact member means, and cell_ids tracks non-empty buckets."""
    from pinecone_datasets_spark.operators.ivf import srp_codebook

    docs = corpus.select(
        "id", F.col("values").cast("array<double>").alias("values")
    )
    with_cells, cents, cids = srp_codebook(docs, bits=3, seed=13)
    assert cents.shape[1] == 64
    assert len(cids) == cents.shape[0] <= 8
    counts = {
        r["ivf_cell"]: r["n"]
        for r in with_cells.groupBy("ivf_cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert sorted(counts) == cids


def test_ivf_filtered_search_pushdown_and_pruning(spark, sf_dir, tmp_path):
    """Metadata-filtered ANN — the canonical vector-db query: an
    attribute predicate composes with the persisted IVF layout so BOTH
    the row filter (PushedFilters) and the probed-cell filter
    (PartitionFilters) reach the parquet scan, and the result equals
    the brute-force filtered top-k whenever probing covers the true
    neighbors."""
    from pinecone_datasets_spark.operators.ivf import (
        build_ivf_index,
        ivf_topk,
        load_ivf_index,
    )
    from pinecone_datasets_spark.operators.search import topk_search
    from pinecone_datasets_spark.plans.explain import formatted_plan

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    docs = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("values"),
        "label",
    )
    path = str(tmp_path / "ivf_filtered")
    build_ivf_index(docs, path, n_centroids=4, metric="cosine", seed=42)
    stored, centroids, metric, cell_col = load_ivf_index(spark, path)
    queries = docs.where(F.col("id") < 3).select(
        F.col("id").alias("query_id"), F.col("values").alias("vector")
    )
    filtered = stored.where(F.col("label") == 1)
    out = ivf_topk(
        filtered, queries, centroids, k=3, nprobe=4,
        metric=metric, cell_col=cell_col, prune_cells=True,
    )
    plan = formatted_plan(out)
    scan = plan.split("Scan parquet", 2)
    assert "label" in plan.split("PushedFilters:")[1].splitlines()[0]
    assert "ivf_cell" in plan.split("PartitionFilters:")[1].splitlines()[0]
    # nprobe = all cells -> candidate set is the full filtered corpus,
    # so the result must equal exact filtered top-k
    want = {
        (r["query_id"], r["id"], r["rank"])
        for r in topk_search(
            docs.where(F.col("label") == 1).select("id", "values"),
            queries, metric="cosine", k=3, metadata_col=None,
        ).collect()
    }
    got = {
        (r["query_id"], r["id"], r["rank"]) for r in out.collect()
    }
    assert got == want


def test_metadata_filtered_ivf_composes(spark, corpus):
    """Filtered ANN: a predicate applied to the cell-assigned corpus
    BEFORE the probe join (the standard pre-filter composition) returns
    only matching docs, and with nprobe = n_cells equals the exact
    filtered top-k — the contract that lets compile_filter() slot
    straight in front of any IVF search."""
    centroids = train_centroids(corpus, n_centroids=4, max_iter=5)
    with_cells = assign_cells(corpus, centroids)
    flt = F.col("id") % 3 == 0
    queries = corpus.where(F.col("id") < 5).select(
        F.col("id").alias("query_id"), F.col("values").alias("vector")
    )
    got = ivf_topk(
        with_cells.where(flt), queries, centroids, k=5, nprobe=4
    )
    rows = got.collect()
    assert rows and all(r.id % 3 == 0 for r in rows)
    exact = topk_search(
        corpus.where(flt), queries, metric="cosine", k=5, metadata_col=None
    )
    a = sorted((r.query_id, r.id, r.rank) for r in rows)
    b = sorted((r.query_id, r.id, r.rank) for r in exact.collect())
    assert a == b
