"""Persisted LSH index (operators/search.py:build_lsh_index /
lsh_index_topk)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pinecone_datasets_spark.operators.search import (
    ann_lsh_topk,
    build_lsh_index,
    lsh_index_topk,
)
from pinecone_datasets_spark.plans.explain import formatted_plan


def _docs_queries(spark, sf_dir, nq=10):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    docs = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("values"),
    )
    queries = docs.where(F.col("id") < nq).select(
        F.col("id").alias("query_id"), F.col("values").alias("vector")
    )
    return docs, queries


def test_index_path_matches_inplan_path(spark, sf_dir, tmp_path):
    docs, queries = _docs_queries(spark, sf_dir)
    path = str(tmp_path / "lsh_idx")
    build_lsh_index(docs, path, bands=16, bits=8, dim=64)
    indexed = sorted(
        (r.query_id, r.id, round(r.score, 9), r.rank)
        for r in lsh_index_topk(spark, path, queries, k=5).collect()
    )
    inplan = sorted(
        (r.query_id, r.id, round(r.score, 9), r.rank)
        for r in ann_lsh_topk(
            docs, queries, k=5, bands=16, bits=8, dim=64
        ).collect()
    )
    assert indexed == inplan and len(indexed) > 0


def test_probe_pushes_literal_filters(spark, sf_dir, tmp_path):
    docs, queries = _docs_queries(spark, sf_dir, nq=3)
    path = str(tmp_path / "lsh_idx2")
    build_lsh_index(docs, path, bands=4, bits=10, dim=64)
    plan = formatted_plan(lsh_index_topk(spark, path, queries, k=3))
    # the signature scan carries pushed band/sig IN filters
    assert "PushedFilters" in plan
    assert "In(sig" in plan or "In(band" in plan
    # corpus-sized tables never shuffle: candidate + query sides are
    # broadcast onto the scans
    assert plan.count("BroadcastHashJoin") >= 2


def test_empty_queries_and_bad_k(spark, sf_dir, tmp_path):
    docs, queries = _docs_queries(spark, sf_dir)
    path = str(tmp_path / "lsh_idx3")
    build_lsh_index(docs, path, bands=4, bits=6, dim=64)
    empty = queries.where(F.col("query_id") < 0)
    out = lsh_index_topk(spark, path, empty, k=3)
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "id", "score", "rank"}
    with pytest.raises(ValueError):
        lsh_index_topk(spark, path, queries, k=0)


def test_self_match_rank1(spark, sf_dir, tmp_path):
    docs, queries = _docs_queries(spark, sf_dir, nq=5)
    path = str(tmp_path / "lsh_idx4")
    build_lsh_index(docs, path, bands=16, bits=6, dim=64)
    hits = lsh_index_topk(spark, path, queries, k=3)
    top1 = {r.query_id: (r.id, r.score) for r in hits.collect() if r.rank == 1}
    assert len(top1) == 5
    for qid, (did, score) in top1.items():
        assert qid == did  # a query always collides with itself
        assert score == pytest.approx(1.0, abs=1e-9)


def test_failed_rebuild_leaves_no_index(spark, sf_dir, tmp_path):
    """A rebuild that fails half-way must not leave the old sidecar
    over the new tables: the vectors copy can finish before the
    signatures rewrite fails, so an old sidecar would make the probe
    score against the wrong vectors."""
    docs, queries = _docs_queries(spark, sf_dir, nq=3)
    path = str(tmp_path / "lsh_idx5")
    build_lsh_index(docs, path, bands=2, bits=4, dim=64)
    flat = docs.select("id", F.slice("values", 1, 2).alias("values"))
    with pytest.raises(Exception):
        build_lsh_index(flat, path, bands=2, bits=4, dim=64)
    with pytest.raises(ValueError, match="no complete 'lsh' index"):
        lsh_index_topk(spark, path, queries, k=3)
