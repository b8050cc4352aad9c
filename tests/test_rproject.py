"""Sign random projection: engine-portable matrix, DuckDB replay of the
projected values, and a recall certificate for the two-stage retrieval."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from pinecone_datasets_spark.operators.rproject import (
    project_vectors,
    projected_topk,
    sign_matrix,
)
from pinecone_datasets_spark.operators.search import topk_search


def test_sign_matrix_deterministic_and_balanced():
    R = sign_matrix(64, 16, seed=13)
    R2 = sign_matrix(64, 16, seed=13)
    assert (R == R2).all()
    assert set(np.unique(R)) == {-1.0, 1.0}
    # md5 parity is ~uniform: neither sign dominates grossly
    frac_pos = (R > 0).mean()
    assert 0.35 < frac_pos < 0.65
    assert not (sign_matrix(64, 16, seed=14) == R).all()


def test_projection_matches_numpy_and_duckdb(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    got = (
        project_vectors(emb, "embedding", dim=64, out_dim=8, seed=13)
        .select("vec_id", "proj")
        .orderBy("vec_id")
        .collect()
    )
    R = sign_matrix(64, 8, seed=13)
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    for spark_row, src in zip(got, rows):
        want = R @ np.array(src["embedding"], dtype=np.float64)
        assert spark_row["vec_id"] == src["vec_id"]
        np.testing.assert_allclose(spark_row["proj"], want, rtol=1e-12)

    # DuckDB reconstructs the same matrix from md5 parity and the same
    # projected values from the same floats.
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    want_sql = con.execute(
        """
WITH R AS (
  SELECT j, i,
         CASE WHEN ('0x' || substr(md5('13|' || i || '|' || j), 1, 8))::BIGINT
                   % 2 = 0 THEN 1.0 ELSE -1.0 END AS s
  FROM generate_series(0, 7) t1(j), generate_series(0, 63) t2(i)
), v AS (
  SELECT vec_id, i.i, embedding[i.i + 1]::DOUBLE AS x
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 50),
       generate_series(0, 63) i(i)
)
SELECT v.vec_id, R.j, sum(v.x * R.s) AS p
FROM v JOIN R USING (i)
GROUP BY v.vec_id, R.j
ORDER BY v.vec_id, R.j
"""
    ).fetchall()
    by_vec: dict[int, list[float]] = {}
    for vec_id, j, p in want_sql:
        by_vec.setdefault(vec_id, [0.0] * 8)[j] = p
    for spark_row in got:
        np.testing.assert_allclose(
            spark_row["proj"], by_vec[spark_row["vec_id"]], rtol=1e-9
        )


@pytest.fixture(scope="module")
def emb_frames(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    docs = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("values")
    )
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("vector"),
    )
    return docs, queries


def test_projected_topk_recall(spark, emb_frames):
    docs, queries = emb_frames
    exact = topk_search(
        docs, queries, metric="cosine", k=10, metadata_col=None
    ).select("query_id", F.col("id").alias("doc_id"))
    # The synthetic embeddings are ~isotropic random vectors — the
    # hardest case for JL projection (all cosines concentrate near 0, so
    # ranking hangs on tiny margins). Measured at these settings:
    # avg 0.93 / min 0.80; floors leave one-seed margin.
    approx = projected_topk(
        docs, queries, k=10, candidates=200, dim=64, out_dim=32, seed=13,
        doc_id_col="id",
    ).select("query_id", F.col("id").alias("doc_id"))
    hits = exact.join(approx, ["query_id", "doc_id"]).groupBy(
        "query_id"
    ).count()
    recalls = [r["count"] / 10 for r in hits.collect()]
    assert len(recalls) == 20  # every query produced overlap rows
    assert min(recalls) >= 0.7
    assert sum(recalls) / len(recalls) >= 0.85


def test_projected_topk_self_match(spark, emb_frames):
    docs, queries = emb_frames
    out = projected_topk(
        docs, queries, k=5, candidates=25, dim=64, out_dim=16,
        doc_id_col="id",
    )
    top1 = {
        r["query_id"]: (r["id"], r["score"])
        for r in out.where(F.col("rank") == 1).collect()
    }
    for qid, (doc, score) in top1.items():
        assert qid == doc
        assert score == pytest.approx(1.0, abs=1e-9)


def test_projected_topk_validates_candidates(spark, emb_frames):
    docs, queries = emb_frames
    with pytest.raises(ValueError):
        projected_topk(docs, queries, k=10, candidates=5)


def test_project_vectors_null_and_rescore_zero_vector(spark):
    """r11 review: a NULL vector cell crashed np.stack in the
    projection kernel, and a zero vector in the rescore stage raised
    ANSI DIVIDE_BY_ZERO (the guard every other cosine path has). Each
    norm is floored on its own: two 1e-16 vectors are parallel, though
    the product of their norms (1e-32) is below the floor."""
    from pinecone_datasets_spark.operators.rproject import (
        project_vectors,
        projected_topk,
    )

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, None),
        (4, [0.0, 0.0, 0.0, 0.0]),  # zero vector
        (5, [1e-16, 0.0, 0.0, 0.0]),  # tiny vector
    ]
    df = spark.createDataFrame(rows, "id long, values array<double>")
    proj = {
        r["id"]: r["proj"]
        for r in project_vectors(df, "values", 4, 2).collect()
    }
    assert proj[3] is None and len(proj[1]) == 2

    q = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0, 0.0]), (11, [1e-16, 0.0, 0.0, 0.0])],
        "query_id long, vector array<double>",
    )
    out = projected_topk(
        df.where(F.col("values").isNotNull()), q, k=2, candidates=3,
        dim=4, out_dim=2,
    ).collect()
    by_q: dict = {}
    for r in sorted(out, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q[10]) == 2  # no crash; zero vector scored, not fatal
    assert by_q[10][0]["id"] == 1  # self-match ranks first
    assert {r["id"]: r["score"] for r in by_q[11]}[5] == 1.0
