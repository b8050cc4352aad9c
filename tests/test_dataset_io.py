"""Dataset load / iterate / write round-trip (reference styles 3 & 5)."""

from __future__ import annotations

import json
import warnings

import pytest

from pinecone_datasets_spark import Dataset, DatasetMetadata, DenseModelMetadata
from pinecone_datasets_spark.reader import read_metadata

from conftest import make_vector_dataset


def test_from_path_missing_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        Dataset.from_path(spark, str(tmp_path / "nope"))


def test_load_and_count(spark, tmp_path):
    path = make_vector_dataset(tmp_path, spark)
    ds = Dataset.from_path(spark, path)
    assert len(ds) == 6
    assert ds["documents"].count() == 6
    assert ds["queries"].count() == 2
    with pytest.raises(KeyError):
        ds["nope"]
    assert ds.metadata.name == "unit-test-ds"
    assert ds.metadata.dense_model.dimension == 4


def test_head(spark, tmp_path):
    path = make_vector_dataset(tmp_path, spark)
    ds = Dataset.from_path(spark, path)
    assert len(ds.head(3).collect()) == 3


def test_missing_queries_dir_warns_empty(spark, tmp_path):
    path = make_vector_dataset(tmp_path, spark, with_queries=False)
    ds = Dataset.from_path(spark, path)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        q = ds.queries
        assert q.count() == 0
    assert any("No data found" in str(x.message) for x in w)
    assert q.columns == ["vector", "sparse_vector", "filter", "top_k", "blob"]


def test_empty_documents_dir_raises(spark, tmp_path):
    base = tmp_path / "emptyds"
    (base / "documents").mkdir(parents=True)
    ds = Dataset.from_path(spark, str(base))
    with pytest.raises(ValueError, match="No parquet files found"):
        ds.documents.count()


def test_iter_documents_batches(spark, tmp_path):
    path = make_vector_dataset(tmp_path, spark)
    ds = Dataset.from_path(spark, path)
    batches = list(ds.iter_documents(batch_size=4))
    assert [len(b) for b in batches] == [4, 2]
    first = batches[0][0]
    # metadata decoded to dict at the edge; blob (all-null) dropped (P6)
    assert isinstance(first["metadata"], dict)
    assert "blob" not in first
    with pytest.raises(ValueError):
        list(ds.iter_documents(batch_size=0))


def test_iter_documents_return_indexes(spark, tmp_path):
    """(start_offset, batch) tuples (reference dataset.py:22-29)."""
    path = make_vector_dataset(tmp_path, spark)
    ds = Dataset.from_path(spark, path)
    out = list(ds.iter_documents(batch_size=4, return_indexes=True))
    assert [(i, len(b)) for i, b in out] == [(0, 4), (4, 2)]


def test_iter_queries(spark, tmp_path):
    path = make_vector_dataset(tmp_path, spark)
    ds = Dataset.from_path(spark, path)
    rows = list(ds.iter_queries())
    assert len(rows) == 2
    assert rows[0]["top_k"] in (2, 3)
    filt = [r["filter"] for r in rows if r["filter"] is not None]
    assert filt and isinstance(filt[0], dict)


def test_golden_roundtrip(spark, tmp_path):
    """write → read → exact equality on sorted collect (reference
    tests/integration/test_io_local.py:54-79)."""
    src = make_vector_dataset(tmp_path, spark)
    ds = Dataset.from_path(spark, src)
    out = str(tmp_path / "rt")
    ds.to_path(out)
    ds2 = Dataset.from_path(spark, out)
    a = sorted(ds.documents.collect(), key=lambda r: r["id"])
    b = sorted(ds2.documents.collect(), key=lambda r: r["id"])
    assert a == b
    qa = sorted(ds.queries.collect(), key=lambda r: str(r))
    qb = sorted(ds2.queries.collect(), key=lambda r: str(r))
    assert qa == qb
    assert ds2.metadata.name == ds.metadata.name


def test_empty_queries_write_skipped(spark, tmp_path):
    src = make_vector_dataset(tmp_path, spark, with_queries=False)
    ds = Dataset.from_path(spark, src)
    out = str(tmp_path / "rt2")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        ds.to_path(out)
    assert any("empty" in str(x.message).lower() for x in w)
    import os

    assert not os.path.exists(os.path.join(out, "queries"))
    assert os.path.exists(os.path.join(out, "metadata.json"))


def test_from_dataframe_conforms(spark):
    import pandas as pd

    docs = pd.DataFrame(
        {"pk": ["a", "b"], "emb": [[0.1, 0.2], [0.3, 0.4]]}
    )
    meta = DatasetMetadata(
        name="mem-ds",
        documents=2,
        queries=0,
        dense_model=DenseModelMetadata(name="m", dimension=2),
    )
    ds = Dataset.from_dataframe(
        spark, docs, meta, documents_column_mapping={"pk": "id", "emb": "values"}
    )
    assert ds.documents.count() == 2
    assert ds.queries.count() == 0
    assert ds.documents.columns == [
        "id",
        "values",
        "sparse_values",
        "metadata",
        "blob",
    ]


def test_deprecated_stubs(spark, tmp_path):
    path = make_vector_dataset(tmp_path, spark)
    ds = Dataset.from_path(spark, path)
    with pytest.raises(DeprecationWarning):
        Dataset.from_catalog("x")
    with pytest.raises(DeprecationWarning):
        ds.to_catalog("x")
    with pytest.raises(DeprecationWarning):
        ds.to_pinecone_index("x")


def test_schema_drift_parts(spark, tmp_path):
    """part-1 has an extra column → loads, extra dropped (FIXTURES.md
    schema-drift)."""
    import pandas as pd

    base = tmp_path / "drift"
    ddir = base / "documents"
    ddir.mkdir(parents=True)
    pd.DataFrame(
        {"id": ["1"], "values": [[0.1, 0.2]]}
    ).to_parquet(ddir / "part-0.parquet", index=False)
    pd.DataFrame(
        {"id": ["2"], "values": [[0.3, 0.4]], "extra_field": ["x"]}
    ).to_parquet(ddir / "part-1.parquet", index=False)
    (base / "metadata.json").write_text(
        json.dumps(
            {
                "name": "drift",
                "documents": 2,
                "queries": 0,
                "dense_model": {"name": "m", "dimension": 2},
            }
        )
    )
    ds = Dataset.from_path(spark, str(base))
    assert ds.documents.count() == 2
    assert "extra_field" not in ds.documents.columns


def test_metadata_validation(spark, tmp_path):
    from pinecone_datasets_spark.metadata import MetadataValidationError

    base = tmp_path / "badmeta"
    (base / "documents").mkdir(parents=True)
    (base / "metadata.json").write_text(json.dumps({"documents": 1}))
    with pytest.raises(MetadataValidationError):
        read_metadata(spark, str(base))


def test_conform_struct_metadata_becomes_json(spark):
    """r11 review (confirmed): a struct-typed metadata column (common
    in externally-written parquet) cast to Spark's '{1, foo}' text, not
    JSON — iter_documents then silently yielded garbage strings."""
    import json as _json

    from pinecone_datasets_spark.conform import conform

    df = spark.createDataFrame(
        [("a", [0.1, 0.2], {"lang": "en", "score": 3})],
        "id string, values array<float>, "
        "metadata struct<lang: string, score: int>",
    )
    out = conform(df, "documents").collect()[0]
    assert _json.loads(out["metadata"]) == {"lang": "en", "score": 3}


def test_conform_incompatible_nullable_warns(spark):
    """Dropping an optional column's data must warn, not be silent."""
    import warnings as _warnings

    from pinecone_datasets_spark.conform import conform

    df = spark.createDataFrame(
        [("a", [0.1], 7)], "id string, values array<float>, blob int"
    )
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        conform(df, "documents")
    # blob int -> target type incompatible? if castable no warning is
    # fine; assert the mechanism by feeding a truly incompatible one
    df2 = spark.createDataFrame(
        [("a", [0.1], [[1]])],
        "id string, values array<float>, metadata array<array<int>>",
    )
    # array metadata -> string target takes the to_json branch (legal);
    # use sparse_values (struct target) with a scalar source instead
    df3 = spark.createDataFrame(
        [("a", [0.1], "notastruct")],
        "id string, values array<float>, sparse_values string",
    )
    with _warnings.catch_warnings(record=True) as caught3:
        _warnings.simplefilter("always")
        out = conform(df3, "documents").collect()[0]
    assert out["sparse_values"] is None
    assert any("not carried" in str(w.message) for w in caught3)


def test_write_dataset_overwrite_removes_stale_queries(spark, tmp_path):
    """r11 review: overwriting a dataset with a queries-less version
    left the OLD queries/ dir in place — read-back served v1 queries
    under v2 metadata."""
    import warnings as _warnings

    path = str(tmp_path / "ds")
    docs = spark.createDataFrame(
        [("a", [0.1, 0.2])], "id string, values array<float>"
    )
    queries = spark.createDataFrame(
        [([0.1, 0.2], 5)], "vector array<float>, top_k int"
    )
    from pinecone_datasets_spark.conform import (
        conform,
        conform_queries,
    )
    from pinecone_datasets_spark.metadata import (
        DatasetMetadata,
        DenseModelMetadata,
    )

    md = DatasetMetadata(
        name="v", documents=1, queries=1,
        dense_model=DenseModelMetadata(name="m", dimension=2),
    )
    ds1 = Dataset(
        spark, documents=conform(docs, "documents"),
        queries=conform_queries(queries), metadata=md,
    )
    ds1.to_path(path)
    assert Dataset.from_path(spark, path).queries.count() == 1

    ds2 = Dataset(
        spark, documents=conform(docs, "documents"),
        queries=conform_queries(
            spark.createDataFrame([], "vector array<float>, top_k int")
        ),
        metadata=md,
    )
    with _warnings.catch_warnings(record=True):
        _warnings.simplefilter("always")
        ds2.to_path(path)
    assert Dataset.from_path(spark, path).queries.count() == 0


def test_empty_queries_resave_renames_aside_not_delete(spark, tmp_path):
    """r11 ADVICE: an empty queries frame re-saved over a dataset that
    HAS queries must not destroy them — the stale dir is renamed to
    queries__stale (recoverable) and the reader serves no queries."""
    import os

    src = make_vector_dataset(tmp_path, spark, with_queries=True)
    ds = Dataset.from_path(spark, src)
    out = str(tmp_path / "rt_stale")
    ds.to_path(out)
    assert os.path.isdir(os.path.join(out, "queries"))

    # re-save FROM THE SOURCE dataset (writing a dataset onto the very
    # directory it lazily reads would race the overwrite) with an
    # accidentally-emptied queries frame
    ds2 = Dataset.from_path(spark, src)
    ds2._queries = ds.queries.limit(0)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        ds2.to_path(out)
    assert any("renaming" in str(x.message).lower() for x in w)
    assert not os.path.exists(os.path.join(out, "queries"))
    stale = os.path.join(out, "queries__stale")
    assert os.path.isdir(stale)
    # old bytes are recoverable from the stale dir
    recovered = spark.read.parquet(stale)
    assert recovered.count() == ds.queries.count()
    # and a fresh read serves an empty queries frame, not the old one
    ds3 = Dataset.from_path(spark, out)
    assert ds3.queries.count() == 0
