from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import SparkSession

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    builder = (
        SparkSession.builder.master("local[8]")
        .appName("pinecone-datasets-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "4g")
    )
    spark = builder.getOrCreate()
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TESTDATA


def make_vector_dataset(tmp_path, spark, n_docs=6, dim=4, with_queries=True):
    """Write a reference-shaped vector dataset directory (FIXTURES.md §1)."""
    import pandas as pd

    base = tmp_path / "vds"
    docs_dir = base / "documents"
    docs_dir.mkdir(parents=True)
    docs = pd.DataFrame(
        {
            "id": [str(i) for i in range(1, n_docs + 1)],
            "values": [
                [float(i) / 10 + j / 100 for j in range(dim)]
                for i in range(1, n_docs + 1)
            ],
            "sparse_values": [
                {"indices": [1, 2], "values": [0.1, 0.2]}
                if i % 2 == 0
                else None
                for i in range(1, n_docs + 1)
            ],
            "metadata": [
                json.dumps({"title": f"title{i}", "n": i, "even": i % 2 == 0})
                for i in range(1, n_docs + 1)
            ],
            "blob": [None] * n_docs,
        }
    )
    docs.to_parquet(docs_dir / "part-0.parquet", index=False)
    if with_queries:
        qdir = base / "queries"
        qdir.mkdir()
        queries = pd.DataFrame(
            {
                "vector": [[0.1] * dim, [0.5] * dim],
                "sparse_vector": [None, None],
                "filter": [json.dumps({"even": {"$eq": True}}), None],
                "top_k": [3, 2],
                "blob": [None, None],
            }
        )
        queries.to_parquet(qdir / "part-0.parquet", index=False)
    meta = {
        "name": "unit-test-ds",
        "created_at": "2021-01-01 00:00:00.000000",
        "documents": n_docs,
        "queries": 2 if with_queries else 0,
        "dense_model": {"name": "test", "tokenizer": None, "dimension": dim},
        "sparse_model": None,
    }
    (base / "metadata.json").write_text(json.dumps(meta))
    return str(base)
