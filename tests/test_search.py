"""Top-k vector search: brute force vs NumPy oracle, LSH recall, plans."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pinecone_datasets_spark.operators.search import (
    ann_lsh_topk,
    topk_search,
    topk_single,
)

N, DIM, NQ = 200, 16, 5


@pytest.fixture(scope="module")
def vectors():
    rng = np.random.default_rng(7)
    docs = rng.standard_normal((N, DIM)).astype(np.float32)
    queries = rng.standard_normal((NQ, DIM)).astype(np.float32)
    return docs, queries


@pytest.fixture(scope="module")
def docs_df(spark, vectors):
    docs, _ = vectors
    return spark.createDataFrame(
        [(str(i), [float(x) for x in docs[i]]) for i in range(N)],
        schema="id string, values array<float>",
    ).cache()


@pytest.fixture(scope="module")
def queries_df(spark, vectors):
    _, queries = vectors
    return spark.createDataFrame(
        [
            (i, [float(x) for x in queries[i]], 5)
            for i in range(NQ)
        ],
        schema="query_id int, vector array<float>, top_k int",
    )


def numpy_topk(docs, q, k, metric):
    d64, q64 = docs.astype(np.float64), q.astype(np.float64)
    if metric == "dot":
        scores = d64 @ q64
    elif metric == "cosine":
        scores = (d64 @ q64) / (
            np.linalg.norm(d64, axis=1) * np.linalg.norm(q64)
        )
    else:
        scores = -np.linalg.norm(d64 - q64, axis=1)
    order = np.lexsort((np.arange(len(scores)), -scores))
    return [str(i) for i in order[:k]]


@pytest.mark.parametrize("metric", ["dot", "cosine", "euclidean"])
def test_topk_search_matches_numpy(docs_df, queries_df, vectors, metric):
    docs, queries = vectors
    out = topk_search(docs_df, queries_df, metric=metric).collect()
    by_q = {}
    for r in sorted(out, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["id"])
    for qi in range(NQ):
        expected = numpy_topk(docs, queries[qi], 5, metric)
        # scores may tie at float noise level; compare sets then order of
        # clearly-distinct scores via the numpy oracle's ordering
        assert by_q[qi] == expected, f"query {qi} metric {metric}"


def test_topk_single_matches_numpy(spark, docs_df, vectors):
    docs, queries = vectors
    out = topk_single(
        docs_df, [float(x) for x in queries[0]], k=7, metric="cosine"
    ).collect()
    assert [r["id"] for r in out] == numpy_topk(docs, queries[0], 7, "cosine")


def test_topk_honors_per_query_topk(spark, docs_df, vectors):
    _, queries = vectors
    qdf = spark.createDataFrame(
        [(0, [float(x) for x in queries[0]], 2),
         (1, [float(x) for x in queries[1]], 9)],
        schema="query_id int, vector array<float>, top_k int",
    )
    out = topk_search(docs_df, qdf, metric="dot").collect()
    counts = {}
    for r in out:
        counts[r["query_id"]] = counts.get(r["query_id"], 0) + 1
    assert counts == {0: 2, 1: 9}


def test_topk_with_stored_filters(spark):
    import json

    docs = spark.createDataFrame(
        [
            ("a", [1.0, 0.0], json.dumps({"lang": "en"})),
            ("b", [0.9, 0.1], json.dumps({"lang": "de"})),
            ("c", [0.8, 0.2], json.dumps({"lang": "en"})),
        ],
        schema="id string, values array<float>, metadata string",
    )
    qdf = spark.createDataFrame(
        [(0, [1.0, 0.0], json.dumps({"lang": {"$eq": "en"}}), 5)],
        schema="query_id int, vector array<float>, filter string, top_k int",
    )
    out = topk_search(
        docs, qdf, metric="dot", apply_stored_filters=True
    ).collect()
    assert sorted(r["id"] for r in out) == ["a", "c"]


def _reference_stored_filter_topk(docs, queries, k):
    """Python replay of ``topk_search(metric="dot",
    apply_stored_filters=True)``: each stored filter is evaluated by
    ``search._eval_filter``, the reference twin of ``compile_filter``,
    and ranks follow (score desc, id asc)."""
    import json

    from pinecone_datasets_spark.operators.search import _eval_filter

    out = set()
    for q in queries.collect():
        f = q["filter"]
        fd = json.loads(f) if f else None
        hits = []
        for d in docs.collect():
            md = json.loads(d["metadata"]) if d["metadata"] else {}
            if fd is None or _eval_filter(fd, md):
                score = float(np.dot(d["values"], q["vector"]))
                hits.append((-score, d["id"]))
        for rank, (_, did) in enumerate(sorted(hits)[:k], 1):
            out.add((q["query_id"], did, rank))
    return out


def test_stored_filters_compiled_matches_reference_evaluator(spark):
    """The compiled CASE chain must select and rank exactly what the
    Python reference evaluator selects, on mixed null/typed filters."""
    import json

    docs = spark.createDataFrame(
        [
            ("a", [1.0, 0.0], json.dumps({"lang": "en", "stars": 5})),
            ("b", [0.9, 0.1], json.dumps({"lang": "de", "stars": 2})),
            ("c", [0.8, 0.2], json.dumps({"lang": "en", "stars": 1})),
            ("d", [0.7, 0.3], None),
        ],
        schema="id string, values array<float>, metadata string",
    )
    qdf = spark.createDataFrame(
        [
            (0, [1.0, 0.0], json.dumps({"stars": {"$gte": 2}}), 5),
            (1, [1.0, 0.0], None, 5),
        ],
        schema="query_id int, vector array<float>, filter string, top_k int",
    )
    compiled = topk_search(
        docs, qdf, metric="dot", apply_stored_filters=True
    ).collect()
    got = {(r["query_id"], r["id"], r["rank"]) for r in compiled}
    assert got == _reference_stored_filter_topk(docs, qdf, 5)
    assert {(q, d) for q, d, _ in got} == {
        (0, "a"), (0, "b"), (1, "a"), (1, "b"), (1, "c"), (1, "d")
    }


def test_stored_filter_malformed_json_raises(spark):
    docs = spark.createDataFrame(
        [("a", [1.0, 0.0], "{}")],
        schema="id string, values array<float>, metadata string",
    )
    qdf = spark.createDataFrame(
        [(0, [1.0, 0.0], "{not-json", 5)],
        schema="query_id int, vector array<float>, filter string, top_k int",
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="Malformed stored filter"):
        topk_search(docs, qdf, metric="dot", apply_stored_filters=True)


def test_broadcast_in_plan(docs_df, queries_df):
    out = topk_search(docs_df, queries_df, metric="dot")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan  # queries side broadcast, docs never shuffle


def test_ann_lsh_recall(spark, docs_df, queries_df, vectors):
    docs, queries = vectors
    out = ann_lsh_topk(
        docs_df,
        queries_df,
        k=5,
        bands=16,
        bits=4,
        dim=DIM,
        seed=1,
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], set()).add(r["id"])
    recalls = []
    for qi in range(NQ):
        exact = set(numpy_topk(docs, queries[qi], 5, "cosine"))
        got = by_q.get(qi, set())
        recalls.append(len(exact & got) / 5)
    assert sum(recalls) / len(recalls) >= 0.6, recalls


def test_zero_vector_scores_zero_not_divide_by_zero(spark):
    """A zero document vector (failed embedding / padding) must score
    0.0 under cosine, not raise DIVIDE_BY_ZERO under Spark 4's default
    ANSI mode and kill the job (r10 review, runtime-confirmed)."""
    docs = spark.createDataFrame(
        [("d0", [0.0, 0.0]), ("d1", [1.0, 0.0])],
        "id string, values array<double>",
    )
    qs = spark.createDataFrame(
        [("q0", [1.0, 0.0])], "query_id string, vector array<double>"
    )
    got = {
        r["id"]: r["score"]
        for r in topk_search(
            docs, qs, metric="cosine", k=2, metadata_col=None
        ).collect()
    }
    assert got["d1"] == pytest.approx(1.0)
    assert got["d0"] == pytest.approx(0.0)


# Vectors that stress the norm floor: a zero vector, a tiny one whose
# squared norm (1e-32) is below the floor, and ordinary ones.
_GUARD_DOCS = [
    ("d0", [0.0, 0.0, 0.0, 0.0]),
    ("d1", [1e-16, 0.0, 0.0, 0.0]),
    ("d2", [1.0, 0.5, -0.25, 2.0]),
    ("d3", [-3.0, 1.0, 0.0, 0.5]),
    ("d4", [0.1, 0.2, 0.3, 0.4]),
]
_GUARD_QUERIES = [
    ("q0", [0.0, 0.0, 0.0, 0.0]),
    ("q1", [1e-16, 0.0, 0.0, 0.0]),
    ("q2", [0.5, -1.0, 2.0, 0.25]),
]


def _guard_topk_search(spark, docs, qs, tmp_path):
    return topk_search(
        docs, qs, metric="cosine", k=len(_GUARD_DOCS), metadata_col=None
    )


def _guard_ivf_topk(spark, docs, qs, tmp_path):
    from pinecone_datasets_spark.operators.ivf import assign_cells, ivf_topk

    cents = np.array([[1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 1.0, 1.0]])
    return ivf_topk(
        assign_cells(docs, cents), qs, cents, k=len(_GUARD_DOCS), nprobe=2
    )


def _guard_ivf_topk_inplan(spark, docs, qs, tmp_path):
    from pinecone_datasets_spark.operators.ivf import (
        assign_cells,
        ivf_topk_inplan,
    )

    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 1.0, 1.0])]
    return ivf_topk_inplan(
        assign_cells(docs, np.array([c for _, c in cents])),
        qs,
        cents,
        k=len(_GUARD_DOCS),
        nprobe=2,
    )


def _guard_ann_lsh_topk(spark, docs, qs, tmp_path):
    return ann_lsh_topk(
        docs, qs, k=len(_GUARD_DOCS), bands=4, bits=2, dim=4, seed=1
    )


def _guard_lsh_index_topk(spark, docs, qs, tmp_path):
    from pinecone_datasets_spark.operators.search import (
        build_lsh_index,
        lsh_index_topk,
    )

    path = str(tmp_path / "lsh")
    build_lsh_index(docs, path, bands=4, bits=2, dim=4, seed=1)
    return lsh_index_topk(spark, path, qs, k=len(_GUARD_DOCS))


def _guard_projected_topk(spark, docs, qs, tmp_path):
    from pinecone_datasets_spark.operators.rproject import projected_topk

    n = len(_GUARD_DOCS)
    return projected_topk(docs, qs, k=n, candidates=n, dim=4, out_dim=2)


def _guard_embedding_neardup_pairs(spark, docs, qs, tmp_path):
    from pinecone_datasets_spark.operators.dedup import (
        embedding_neardup_pairs,
    )

    return embedding_neardup_pairs(
        docs, threshold=-1.0, id_col="id", vector_col="values"
    )


def _guard_semantic_dedup_pairs(spark, docs, qs, tmp_path):
    from pinecone_datasets_spark.operators.semdedup import (
        semantic_dedup_pairs,
    )

    return semantic_dedup_pairs(
        docs.withColumn("cell", F.lit(0)),
        threshold=-1.0,
        id_col="id",
        vector_col="values",
        cell_col="cell",
    )


@pytest.mark.parametrize(
    "path",
    [
        _guard_topk_search,
        _guard_ivf_topk,
        _guard_ivf_topk_inplan,
        _guard_ann_lsh_topk,
        _guard_lsh_index_topk,
        _guard_projected_topk,
        _guard_embedding_neardup_pairs,
        _guard_semantic_dedup_pairs,
    ],
    ids=lambda f: f.__name__[len("_guard_"):],
)
def test_cosine_paths_equal_cosine_similarity_exactly(spark, tmp_path, path):
    """Every cosine path scores a pair bit-identically to
    ``cosine_similarity`` on the same two vectors (``==``, not approx),
    and a zero vector scores exactly 0.0."""
    from pinecone_datasets_spark.functions.vector import cosine_similarity

    docs = spark.createDataFrame(
        _GUARD_DOCS, "id string, values array<double>"
    )
    qs = spark.createDataFrame(
        _GUARD_QUERIES, "query_id string, vector array<double>"
    )
    out = path(spark, docs, qs, tmp_path)
    # (a side, b side) of each scored pair, keyed as id_a / id_b
    if "cosine" in out.columns:  # pair frames: (id_a, id_b, cosine)
        a_vecs, b_vecs = docs, docs
        pairs = out.select("id_a", "id_b", F.col("cosine").alias("score"))
    else:  # top-k frames: (query_id, id, score, rank)
        a_vecs = qs.select("query_id", F.col("vector").alias("values"))
        b_vecs = docs
        pairs = out.select(
            F.col("query_id").alias("id_a"),
            F.col("id").alias("id_b"),
            "score",
        )
    rows = (
        pairs.join(a_vecs.toDF("id_a", "a"), "id_a")
        .join(b_vecs.toDF("id_b", "b"), "id_b")
        .select(
            "id_a", "id_b", "score", cosine_similarity("a", "b").alias("ref")
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert r["score"] == r["ref"], (r["id_a"], r["id_b"])
    zero = [
        r["score"]
        for r in rows
        if {r["id_a"], r["id_b"]} & {"q0", "d0"}
    ]
    assert zero and all(z == 0.0 for z in zero)


def test_null_top_k_defaults_to_five(spark):
    """A NULL top_k cell must back-fill the declared default (5) like a
    missing column does — rank <= NULL silently returned ZERO rows for
    that query (r10 review, runtime-confirmed)."""
    docs = spark.createDataFrame(
        [(f"d{i}", [float(i), 1.0]) for i in range(8)],
        "id string, values array<double>",
    )
    qs = spark.createDataFrame(
        [("q0", [1.0, 0.0], None), ("q1", [1.0, 0.0], 2)],
        "query_id string, vector array<double>, top_k int",
    )
    out = topk_search(docs, qs, metric="cosine", metadata_col=None)
    counts = {
        r["query_id"]: r["n"]
        for r in out.groupBy("query_id").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    assert counts == {"q0": 5, "q1": 2}


def test_stored_filter_typed_equality_matches_reference(spark):
    """The implicit-$eq shorthand must use the typed JSON equality in
    the compiled path and in the Python reference evaluator alike:
    {'x': 1} must NOT match metadata {'x': true} (Python's True == 1)
    (r10 review, runtime-confirmed divergence)."""
    docs = spark.createDataFrame(
        [
            ("bool", [1.0, 0.0], '{"x": true}'),
            ("int", [1.0, 0.0], '{"x": 1}'),
        ],
        "id string, values array<double>, metadata string",
    )
    qs = spark.createDataFrame(
        [("q0", [1.0, 0.0], '{"x": 1}')],
        "query_id string, vector array<double>, filter string",
    )
    ids = {
        r["id"]
        for r in topk_search(
            docs, qs, metric="dot", k=5, apply_stored_filters=True
        ).collect()
    }
    assert ids == {"int"}
    assert {d for _, d, _ in _reference_stored_filter_topk(docs, qs, 5)} == ids


def test_interpret_mode_rejects_malformed_like_compile(spark):
    """Unknown operators and $-prefixed top-level keys must raise in
    the reference evaluator for EVERY row — not only rows carrying the field —
    and regardless of field presence (r10 review)."""
    from pinecone_datasets_spark.operators.search import (
        _eval_filter,
    )

    with pytest.raises(ValueError, match="Unsupported filter operator"):
        _eval_filter({"price": {"$gt_typo": 5}}, {})  # field ABSENT
    with pytest.raises(ValueError, match="Unsupported top-level"):
        _eval_filter({"$not": {"x": 1}}, {"x": 1})


def test_apply_stored_filters_requires_filter_column(spark):
    docs = spark.createDataFrame(
        [("d0", [1.0], '{"x": 1}')],
        "id string, values array<double>, metadata string",
    )
    qs = spark.createDataFrame(
        [("q0", [1.0])], "query_id string, vector array<double>"
    )
    with pytest.raises(ValueError, match="no 'filter' column"):
        topk_search(docs, qs, k=1, apply_stored_filters=True)
