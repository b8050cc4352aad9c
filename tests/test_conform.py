"""Schema-conformance tests (reference style 2: the correctness spec,
tests/unit/test_schema_validation.py + test_utils.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from pinecone_datasets_spark.conform import conform, conform_queries
from pinecone_datasets_spark.cfg import DOCUMENTS_SCHEMA, QUERIES_SCHEMA


def test_documents_happy_path(spark):
    df = spark.createDataFrame(
        [("1", [0.1, 0.2], None, '{"a":1}', None)],
        schema=DOCUMENTS_SCHEMA,
    )
    out = conform(df, "documents")
    assert [f.name for f in out.schema.fields] == [
        "id",
        "values",
        "sparse_values",
        "metadata",
        "blob",
    ]
    assert out.count() == 1


def test_documents_missing_required_raises(spark):
    df = spark.createDataFrame([("1",)], schema="id string")
    with pytest.raises(ValueError, match="values not found"):
        conform(df, "documents")


def test_queries_missing_required_raises(spark):
    df = spark.createDataFrame([(5,)], schema="top_k int")
    with pytest.raises(ValueError, match="vector not found"):
        conform_queries(df)


def test_queries_missing_topk_raises(spark):
    # Reference parity: top_k is declared non-nullable (cfg.py:34), so a
    # queries table without it raises instead of back-filling the default
    # (dataset_fsreader.py:128-131).
    df = spark.createDataFrame(
        [([0.1, 0.2],)], schema="vector array<float>"
    )
    with pytest.raises(ValueError, match="top_k not found"):
        conform_queries(df)


def test_backfill_optional_columns(spark):
    df = spark.createDataFrame(
        [([0.1, 0.2], 7)], schema="vector array<float>, top_k int"
    )
    out = conform_queries(df)
    row = out.collect()[0]
    assert row["top_k"] == 7
    assert row["sparse_vector"] is None
    assert row["filter"] is None
    assert row["blob"] is None


def test_minimal_docs_backfilled(spark):
    df = spark.createDataFrame(
        [("1", [0.1])], schema="id string, values array<float>"
    )
    out = conform(df, "documents")
    row = out.collect()[0]
    assert row["sparse_values"] is None
    assert row["metadata"] is None
    assert row["blob"] is None


def test_extra_columns_dropped(spark):
    df = spark.createDataFrame(
        [("1", [0.1], "junk")],
        schema="id string, values array<float>, extra_column string",
    )
    out = conform(df, "documents")
    assert "extra_column" not in out.columns


def test_column_mapping_rename(spark):
    df = spark.createDataFrame(
        [("1", [0.1])], schema="pk string, emb array<float>"
    )
    out = conform(df, "documents", {"pk": "id", "emb": "values"})
    assert out.collect()[0]["id"] == "1"


def test_cast_types(spark):
    # double arrays arriving from pandas get cast to float arrays
    df = spark.createDataFrame(
        [("1", [0.1, 0.2])], schema="id string, values array<double>"
    )
    out = conform(df, "documents")
    vtype = dict(zip(out.columns, [f.dataType for f in out.schema.fields]))
    assert vtype["values"] == T.ArrayType(T.FloatType())
