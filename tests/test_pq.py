"""Product quantization + IVF-PQ (operators/pq.py).

The correctness spine is the ADC-equals-reconstruction anchor: ADC
scoring against codes must equal brute-force scoring against the
decoded reconstructions — so the ONLY approximation is the corpus
quantization itself, which the recall tests then bound.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pinecone_datasets_spark.operators.pq import (
    build_ivfpq_index,
    ivfpq_index_topk,
    pq_decode_udf,
    pq_encode,
    pq_topk,
    train_pq_codebooks,
)
from pinecone_datasets_spark.operators.search import topk_search_arrow


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("values")
    )


@pytest.fixture(scope="module")
def qmat(corpus):
    rows = corpus.where(F.col("id") < 20).orderBy("id").collect()
    ids = [r["id"] for r in rows]
    mat = np.asarray([r["values"] for r in rows], dtype=np.float64)
    return ids, mat


def test_codebook_shape_and_determinism(corpus):
    b1 = train_pq_codebooks(corpus, m=8, n_codes=16, seed=7)
    b2 = train_pq_codebooks(corpus, m=8, n_codes=16, seed=7)
    assert b1.shape == (8, 16, 8)  # dim 64 → dsub 8
    assert np.array_equal(b1, b2)
    with pytest.raises(ValueError, match="not divisible"):
        train_pq_codebooks(corpus, m=7)


def test_encode_shape_and_code_range(corpus):
    books = train_pq_codebooks(corpus, m=8, n_codes=16)
    coded = pq_encode(corpus, books)
    row = coded.select("pq_code").limit(5).collect()
    for r in row:
        assert len(r["pq_code"]) == 8
        assert all(0 <= c < 16 for c in r["pq_code"])


def test_adc_equals_reconstruction_scoring(spark, corpus, qmat):
    """The anchor: top-k by ADC over codes == top-k by exact scoring of
    the decoded reconstructions, scores equal to float tolerance."""
    ids, mat = qmat
    books = train_pq_codebooks(corpus, m=8, n_codes=16)
    coded = pq_encode(corpus, books)
    recon = coded.select(
        "id", pq_decode_udf(books)(F.col("pq_code")).alias("values")
    )
    for metric in ("dot", "cosine"):
        adc = pq_topk(coded, books, mat, ids, k=5, metric=metric)
        exact = topk_search_arrow(recon, mat, ids, k=5, metric=metric)
        a = {
            (r["query_id"], r["rank"]): (r["id"], r["score"])
            for r in adc.collect()
        }
        e = {
            (r["query_id"], r["rank"]): (r["id"], r["score"])
            for r in exact.collect()
        }
        assert set(a) == set(e)
        for key in a:
            assert a[key][0] == e[key][0], (metric, key, a[key], e[key])
            assert abs(a[key][1] - e[key][1]) < 1e-9


def test_zero_quantization_error_is_exact(spark):
    """A corpus whose subvectors all appear in the codebook quantizes
    losslessly — PQ top-k must then equal raw top-k exactly."""
    rng = np.random.default_rng(3)
    # 4 subspaces × 4 distinct patterns each → every vector representable
    patterns = rng.normal(size=(4, 4, 2))
    vecs = []
    for i in range(64):
        vecs.append(
            np.concatenate([patterns[j][(i >> j) % 4] for j in range(4)])
        )
    spark_df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "id long, values array<double>",
    )
    books = train_pq_codebooks(spark_df, m=4, n_codes=8, seed=1)
    coded = pq_encode(spark_df, books)
    qmat = np.asarray(vecs[:5])
    adc = pq_topk(coded, books, qmat, list(range(5)), k=3, metric="cosine")
    exact = topk_search_arrow(
        spark_df, qmat, list(range(5)), k=3, metric="cosine"
    )
    a = [(r["query_id"], r["rank"], r["id"]) for r in adc.collect()]
    e = [(r["query_id"], r["rank"], r["id"]) for r in exact.collect()]
    assert sorted(a) == sorted(e)
    # self-match survives quantization
    top1 = {r["query_id"]: r["id"] for r in adc.collect() if r["rank"] == 1}
    assert top1 == {q: q for q in range(5)}


def _recall(approx_df, exact_df, k):
    a = {}
    for r in approx_df.collect():
        a.setdefault(r["query_id"], set()).add(r["id"])
    hits = tot = 0
    for r in exact_df.collect():
        if r["rank"] <= k:
            tot += 1
            if r["id"] in a.get(r["query_id"], set()):
                hits += 1
    return hits / max(tot, 1)


def test_ivfpq_index_roundtrip_recall_and_pruning(
    spark, corpus, qmat, tmp_path
):
    ids, mat = qmat
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(
        corpus, path, n_centroids=8, m=16, n_codes=256, metric="cosine"
    )
    queries = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in zip(ids, mat)],
        "query_id long, vector array<double>",
    )
    res = ivfpq_index_topk(spark, path, queries, k=5, nprobe=4)
    assert res.columns == ["query_id", "id", "score", "rank"]
    assert res.count() == len(ids) * 5

    # partition pruning: the probe plan must carry partition filters on
    # the stored cell column, not scan every directory
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "ivf_cell" in plan

    # Recall bounds are empirical on the synthetic fixture (near-random
    # 64-dim vectors — VQ's worst case; measured 0.69 / 1.0 with margin).
    exact = topk_search_arrow(corpus, mat, ids, k=5, metric="cosine")
    rec = _recall(res, exact, k=5)
    assert rec >= 0.55, rec

    # exact refine over a wide probe recovers full recall: the shortlist
    # covers the true neighbors, and re-scoring is exact
    refined = ivfpq_index_topk(
        spark, path, queries, k=5, nprobe=8, refine=4, documents=corpus
    )
    rec_refined = _recall(refined, exact, k=5)
    assert rec_refined >= 0.95, rec_refined


def test_ivfpq_residual_beats_plain_at_same_budget(
    spark, corpus, qmat, tmp_path
):
    """Residual coding is the reason IVF-PQ exists: same (m, n_codes)
    budget, measurably better quantization. Compare mean ADC score gap
    to exact instead of recall (less variance at fixture scale)."""
    ids, mat = qmat
    queries = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in zip(ids, mat)],
        "query_id long, vector array<double>",
    )
    exact = topk_search_arrow(corpus, mat, ids, k=5, metric="cosine")
    recalls = {}
    for residual in (True, False):
        p = str(tmp_path / f"idx_{residual}")
        build_ivfpq_index(
            corpus, p, n_centroids=8, m=8, n_codes=16,
            metric="cosine", residual=residual,
        )
        res = ivfpq_index_topk(spark, p, queries, k=5, nprobe=8)
        recalls[residual] = _recall(res, exact, k=5)
    # nprobe=8 of 8 cells = exhaustive scan, so the difference is purely
    # quantization quality
    assert recalls[True] >= recalls[False], recalls


def test_opq_index_end_to_end_exact(spark):
    """opq=True index: whole pipeline lives in rotated space, queries
    rotate at search time. With a codebook big enough to hold every
    distinct (rotated) subvector and all cells probed, quantization is
    lossless -> results equal exact top-k, proving the rotation is
    applied consistently on both sides."""
    import tempfile

    from pinecone_datasets_spark.operators.pq import (
        build_ivfpq_index,
        ivfpq_index_topk,
        load_ivfpq_index,
    )

    rng = np.random.default_rng(9)
    scales = np.geomspace(8.0, 0.3, 8)
    mix = np.linalg.qr(rng.normal(size=(8, 8)))[0]
    vecs = (rng.normal(size=(64, 8)) * scales) @ mix.T
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "id long, values array<double>",
    )
    path = tempfile.mkdtemp(prefix="opq_idx_") + "/idx"
    build_ivfpq_index(
        df, path, n_centroids=4, m=4, n_codes=64, opq=True, seed=5
    )
    _, meta = load_ivfpq_index(spark, path)
    R = meta["opq_rotation"]
    assert R is not None and np.allclose(R @ R.T, np.eye(8), atol=1e-9)

    queries = df.where(F.col("id") < 6).select(
        F.col("id").alias("query_id"), F.col("values").alias("vector")
    )
    got = ivfpq_index_topk(spark, path, queries, k=3, nprobe=4)
    exact = topk_search_arrow(
        df, vecs[:6], list(range(6)), k=3, metric="cosine"
    )
    g = sorted((r["query_id"], r["rank"], r["id"]) for r in got.collect())
    e = sorted((r["query_id"], r["rank"], r["id"]) for r in exact.collect())
    assert g == e


def test_opq_index_off_by_default(spark, sf_dir):
    import tempfile

    from pinecone_datasets_spark.operators.pq import (
        build_ivfpq_index,
        load_ivfpq_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    docs = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("values")
    ).limit(200)
    path = tempfile.mkdtemp(prefix="noopq_idx_") + "/idx"
    build_ivfpq_index(docs, path, n_centroids=4, m=8, n_codes=16)
    _, meta = load_ivfpq_index(spark, path)
    assert meta.get("opq_rotation") is None


# -- in-plan deterministic trainer (the q50 'adc' oracle path) -----------


def test_train_pq_inplan_shapes_and_determinism(corpus):
    from pinecone_datasets_spark.operators.pq import train_pq_inplan

    codes1, books1 = train_pq_inplan(
        corpus, m=4, n_codes=8, iters=2, dim=64
    )
    codes2, books2 = train_pq_inplan(
        corpus, m=4, n_codes=8, iters=2, dim=64
    )
    assert books1 == books2  # float-exact: integer sums / counts
    n = corpus.count()
    assert codes1.count() == 4 * n
    rows = codes1.collect()
    assert {r["s"] for r in rows} == {0, 1, 2, 3}
    assert all(0 <= r["code"] < 8 for r in rows)
    assert sorted((r["id"], r["s"]) for r in rows) == sorted(
        set((r["id"], r["s"]) for r in rows)
    )  # exactly one code per (doc, subspace)
    assert codes1.collect() == codes2.collect() or (
        sorted(map(tuple, codes1.collect()))
        == sorted(map(tuple, codes2.collect()))
    )
    with pytest.raises(ValueError, match="not divisible"):
        train_pq_inplan(corpus, m=7, dim=64)


def test_pq_reconstruct_inplan_adc_identity(spark, corpus):
    """dot(q, recon) must equal the sum of per-subspace codeword dots —
    the ADC identity the 'adc' oracle part rests on."""
    from pinecone_datasets_spark.functions.vector import dot_product
    from pinecone_datasets_spark.operators.pq import (
        pq_reconstruct_inplan,
        train_pq_inplan,
    )

    small = corpus.where(F.col("id") < 60)
    codes, books = train_pq_inplan(small, m=4, n_codes=4, iters=1, dim=64)
    recon = pq_reconstruct_inplan(codes, books)
    rec_rows = {r["id"]: r["recon"] for r in recon.collect()}
    assert all(len(v) == 64 for v in rec_rows.values())

    book = {(s, c): v for s, c, v in books}
    code_rows = {}
    for r in codes.collect():
        code_rows.setdefault(r["id"], {})[r["s"]] = r["code"]
    q = np.asarray(
        corpus.where(F.col("id") == 3).collect()[0]["values"],
        dtype=np.float64,
    )
    for did, recv in rec_rows.items():
        manual = np.concatenate(
            [np.asarray(book[(s, code_rows[did][s])]) for s in range(4)]
        )
        assert np.array_equal(np.asarray(recv), manual)
        # per-subspace LUT sum == full-vector dot (float-exact here:
        # the subspace partial sums are exactly the fold's running
        # values at the boundaries... not in general; compare at 1e-9)
        lut = sum(
            float(np.dot(q[s * 16 : s * 16 + 16], manual[s * 16 : s * 16 + 16]))
            for s in range(4)
        )
        assert abs(lut - float(np.dot(q, manual))) < 1e-9


def test_train_pq_inplan_empty_codes_drop(spark):
    """With more codewords than distinct subvectors, losing codes drop
    out instead of surfacing NaN centroids."""
    from pinecone_datasets_spark.operators.pq import train_pq_inplan

    rows = [(i, [float(1 + i % 2)] * 8) for i in range(12)]
    df = spark.createDataFrame(rows, "id long, values array<double>")
    # two parallel subvector directions per subspace: cosine ties
    # everywhere, the (sim DESC, code ASC) tiebreak funnels members to
    # the lowest codes and the rest must drop (no NaN centroids)
    codes, books = train_pq_inplan(
        df, m=2, n_codes=6, iters=2, dim=8, scale=1000
    )
    assert all(np.isfinite(v).all() for _, _, v in [(s, c, np.asarray(v)) for s, c, v in books])
    assert codes.count() == 24


def test_ivfpq_refine_honors_custom_vector_col(spark, corpus, qmat, tmp_path):
    """r11 review: the refine path hardcoded documents."values" — an
    index built with vector_col="embedding" then refined against the
    same frame crashed with UNRESOLVED_COLUMN (or silently re-scored a
    wrong column if one named "values" happened to exist)."""
    ids, mat = qmat
    renamed = corpus.select(
        "id", F.col("values").alias("embedding")
    )
    path = str(tmp_path / "ivfpq_vc")
    build_ivfpq_index(
        renamed, path, n_centroids=4, m=8, n_codes=16,
        vector_col="embedding",
    )
    queries = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in zip(ids[:5], mat[:5])],
        "query_id long, vector array<double>",
    )
    refined = ivfpq_index_topk(
        spark, path, queries, k=3, nprobe=4, refine=3, documents=renamed
    )
    assert refined.columns == ["query_id", "id", "score", "rank"]
    assert refined.count() == 5 * 3


@pytest.fixture(scope="module")
def small_ivfpq(corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivfpq_small"))
    build_ivfpq_index(corpus, path, n_centroids=4, m=8, n_codes=16)
    return path


def test_ivfpq_empty_queries_returns_empty_frame(spark, small_ivfpq):
    """r11 review: an empty query frame (upstream filter matched
    nothing) crashed np.stack instead of returning zero rows."""
    path = small_ivfpq
    queries = spark.createDataFrame(
        [], "query_id long, vector array<double>"
    )
    res = ivfpq_index_topk(spark, path, queries, k=3, nprobe=2)
    assert res.columns == ["query_id", "id", "score", "rank"]
    assert res.count() == 0


def test_load_ivf_index_names_the_kind_it_found(spark, small_ivfpq):
    from pinecone_datasets_spark.operators.ivf import load_ivf_index

    with pytest.raises(ValueError, match="holds a 'ivfpq' index"):
        load_ivf_index(spark, small_ivfpq)


def test_training_sample_pushdown_selects_same_rows(spark, corpus):
    """r13: ``build_ivfpq_index`` samples the RAW corpus before the
    assign-cells UDF instead of sampling the residual frame after it
    (so training never evaluates the UDF on rows it throws away). The
    rewrite is only sound because Bernoulli sampling commutes with
    map-only transforms and broadcast inner joins on an always-present
    key: the per-partition draw sequence is identical either side, so
    the SAME rows are selected. Pin that commutation at two fractions."""
    from pinecone_datasets_spark.operators.ivf import (
        assign_cells,
        train_centroids_local,
    )

    cents = train_centroids_local(
        corpus, n_centroids=4, vector_col="values", seed=42
    )
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "ivf_cell int, __cent array<double>",
    )

    def residuals(frame):
        return (
            assign_cells(
                frame, cents, vector_col="values", metric="cosine",
                cell_col="ivf_cell",
            )
            .join(F.broadcast(cent_df), "ivf_cell")
            .withColumn(
                "_res", F.expr("zip_with(values, __cent, (x, c) -> x - c)")
            )
        )

    for frac in (0.5, 0.1):
        post = sorted(
            r["id"]
            for r in residuals(corpus)
            .sample(fraction=frac, seed=42)
            .select("id")
            .collect()
        )
        pre = sorted(
            r["id"]
            for r in residuals(corpus.sample(fraction=frac, seed=42))
            .select("id")
            .collect()
        )
        assert pre == post and len(pre) > 0
