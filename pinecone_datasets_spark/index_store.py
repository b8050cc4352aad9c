"""Persisted indexes: laid-out Parquet tables plus a JSON sidecar.

IVF, IVF-PQ, LSH, MinHash and BM25 indexes each persist one or two
tables whose layout turns a query's literal filter into partition
pruning or row-group skipping, plus a small sidecar with what the
driver needs at query time. This module is the one place that knows
how they land on storage.

Commit rule (``writer.py``'s ``metadata.json`` rule): ``save`` deletes
every known sidecar first and writes the new one last, so a sidecar
exists only over a complete index and a rebuild that fails half-way
leaves nothing ``load`` accepts. The sidecar's file name is the kind
tag, so the JSON holds no kind field and no format version, and
sidecars written before this module existed load unchanged.
"""

from __future__ import annotations

import json
from functools import partial
from typing import Optional, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .fs import FS, join
from .parallel import concurrent_actions

SIDECARS = {
    "ivf": "_ivf_centroids.json",
    "ivfpq": "_ivfpq_meta.json",
    "lsh": "_lsh_meta.json",
    "minhash": "minhash_index.json",
    "bm25": "_bm25_stats.json",
}


def _write(frame: DataFrame, dest: str, layout: Optional[tuple]) -> None:
    how, *cols = layout or ("plain",)
    if how == "range":
        frame = frame.repartitionByRange(*cols).sortWithinPartitions(*cols)
    writer = frame.write.mode("overwrite")
    if how == "partition":
        writer = writer.partitionBy(*cols)
    writer.parquet(dest)


def save(path: str, kind: str, meta: dict, tables: Sequence[tuple]) -> None:
    """Persist an index of ``kind`` at ``path``.

    ``tables`` lists ``(subdir, frame, layout)``; subdir None is the
    index root. ``layout`` is None (plain), ``("partition", col)`` (one
    directory per value) or ``("range", *keys)`` (range-partitioned and
    sorted by the keys). Several tables read the same source but not
    each other, so they run as concurrent jobs: one's map-only copy
    back-fills the other's shuffle tail. ``meta`` becomes the sidecar.
    """
    spark = tables[0][1].sparkSession
    fs = FS(spark)
    for name in SIDECARS.values():
        fs.delete(join(path, name))
    writes = [
        partial(_write, frame, join(path, sub) if sub else path, layout)
        for sub, frame, layout in tables
    ]
    if len(writes) == 1:
        writes[0]()
    else:
        subdirs = " + ".join(sub for sub, _, _ in tables)
        concurrent_actions(spark, writes, f"{kind} index build: {subdirs}")
    fs.write_text(join(path, SIDECARS[kind]), json.dumps(meta))


def load(spark, path: str, kind: str) -> dict:
    """The sidecar of the ``kind`` index at ``path``. Raises
    ``ValueError`` naming the path when it is missing: never built, a
    build that did not finish, or an index of another kind."""
    fs = FS(spark)
    sidecar = join(path, SIDECARS[kind])
    if not fs.exists(sidecar):
        held = [k for k, n in SIDECARS.items() if fs.exists(join(path, n))]
        raise ValueError(
            f"no complete {kind!r} index at {path}: "
            + (f"it holds a {held[0]!r} index" if held else
               f"{SIDECARS[kind]} is missing (never built, or the last"
               " build failed)")
        )
    return json.loads(fs.read_text(sidecar))


def collect_queries(
    queries: DataFrame, query_id_col: str, query_vector_col: str
) -> tuple[list, np.ndarray]:
    """The driver collect of a query batch: its ``(id, vector)`` rows
    and their vectors stacked as a float64 matrix, one row per query."""
    rows = queries.select(query_id_col, query_vector_col).collect()
    mat = np.asarray(
        [np.asarray(r[query_vector_col], dtype=np.float64) for r in rows]
    )
    return rows, mat


def empty_topk(spark, queries, query_id_col, id_col, id_type) -> DataFrame:
    """The zero-row ``(query_id, id, score, rank)`` result of a query
    batch that matched nothing upstream."""
    schema = (
        T.StructType()
        .add(query_id_col, queries.schema[query_id_col].dataType)
        .add(id_col, id_type)
        .add("score", T.DoubleType())
        .add("rank", T.IntegerType())
    )
    return spark.createDataFrame([], schema)
