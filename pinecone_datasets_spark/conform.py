"""Schema conformance: the P1–P4 operators from SURVEY.md §2.2.

Parity target: reference ``dataset_fsreader.py:122-141`` (read path) and
``dataset.py:109-118`` (in-memory path): rename → required-column check →
back-fill optional columns with their declared default → ordered projection
(which also drops extra/unknown columns).

Spark-first: all four steps are pure logical-plan surgery (``select`` /
``withColumn(lit)``); the required-column check runs on the driver against
``df.schema`` *before* any job is launched, so a bad schema fails in
milliseconds regardless of data size, and Catalyst folds the whole
conformance into the parquet scan (column pruning + constant projection).
"""

from __future__ import annotations

from typing import Mapping, Optional

from pyspark.errors import AnalysisException
import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cfg import SCHEMAS_BY_KIND, ColumnSpec


def _default_column(spec: ColumnSpec) -> Column:
    if spec.default is None:
        return F.lit(None).cast(spec.dtype)
    return F.lit(spec.default).cast(spec.dtype)


def _can_cast(df: DataFrame, name: str, spec: ColumnSpec) -> bool:
    """Driver-only resolution probe — no job runs. An all-null optional
    column can arrive typed as int/null from pandas-written parquet; the
    reference tolerates it (NaN fill on concat), so cast-incompatible
    nullable columns fall back to their default instead of failing."""
    try:
        df.select(F.col(name).cast(spec.dtype))
        return True
    except AnalysisException:
        return False


def conform(
    df: DataFrame,
    kind: str,
    column_mapping: Optional[Mapping[str, str]] = None,
) -> DataFrame:
    """Conform ``df`` to the declared schema for ``kind``.

    ``kind`` is ``"documents"`` or ``"queries"``. ``column_mapping`` is the
    user-facing ``{source_name: target_name}`` rename applied first
    (reference ``dataset.py:109-110``). Raises ``ValueError`` with the
    reference's message shape when a required column is absent
    (``dataset_fsreader.py:129-131``).
    """
    if kind not in SCHEMAS_BY_KIND:
        raise ValueError(f"unknown table kind: {kind!r}")
    cols, _ = SCHEMAS_BY_KIND[kind]

    if column_mapping:
        df = df.withColumnsRenamed(dict(column_mapping))

    present = set(df.columns)
    projection: list[Column] = []
    for spec in cols:
        if spec.name in present:
            src_t = df.schema[spec.name].dataType
            if isinstance(
                src_t, (T.StructType, T.MapType, T.ArrayType)
            ) and isinstance(spec.dtype, T.StringType):
                # externally-written datasets commonly store metadata
                # as a Parquet STRUCT; a bare cast(struct->string) is
                # LEGAL but emits Spark's '{1, foo}' rendering, not
                # JSON — iter_documents' json.loads then failed
                # silently corpus-wide (r11 review, confirmed).
                # to_json preserves the reference's dict semantics.
                projection.append(
                    F.to_json(F.col(spec.name)).alias(spec.name)
                )
            elif _can_cast(df, spec.name, spec):
                projection.append(
                    F.col(spec.name).cast(spec.dtype).alias(spec.name)
                )
            elif spec.nullable:
                # tolerated (reference NaN-fill semantics) but no
                # longer SILENT: the column's data is being dropped
                warnings.warn(
                    f"conform({kind!r}): column {spec.name!r} has "
                    f"incompatible type {src_t.simpleString()}; "
                    f"replacing with its default (data not carried)"
                )
                projection.append(_default_column(spec).alias(spec.name))
            else:
                raise ValueError(
                    f"error, file is not matching Pinecone Datasets Schema: "
                    f"{spec.name} has incompatible type "
                    f"{df.schema[spec.name].dataType.simpleString()}"
                )
        elif not spec.nullable:
            # Message shape mirrors dataset_fsreader.py:129-131.
            raise ValueError(
                f"error, file is not matching Pinecone Datasets Schema: "
                f"{spec.name} not found"
            )
        else:
            projection.append(_default_column(spec).alias(spec.name))
    # Ordered select = P1 projection; silently drops extra columns
    # (reference tests/integration/test_error_scenarios.py:429-499).
    return df.select(*projection)


def conform_queries(
    df: DataFrame, column_mapping: Optional[Mapping[str, str]] = None
) -> DataFrame:
    return conform(df, "queries", column_mapping)
