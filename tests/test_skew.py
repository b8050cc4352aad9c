"""Salted skew join (operators/skew.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pinecone_datasets_spark.operators.skew import salted_join
from pinecone_datasets_spark.plans.explain import formatted_plan


@pytest.fixture(scope="module")
def skewed(spark):
    # 90% of probe rows share key 0 (the hot key); build has 5 keys.
    probe = spark.range(0, 1000).select(
        F.when(F.col("id") < 900, F.lit(0))
        .otherwise((F.col("id") % 4) + 1)
        .alias("k"),
        F.col("id").alias("row_id"),
    )
    build = spark.createDataFrame(
        [(i, f"dim_{i}") for i in range(5)], schema="k long, attr string"
    )
    return probe, build


def test_salted_inner_equals_plain_join(skewed):
    probe, build = skewed
    plain = probe.join(build, "k").select("k", "row_id", "attr")
    salted = salted_join(probe, build, on="k", salts=8).select(
        "k", "row_id", "attr"
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_salted_left_keeps_unmatched_probe_rows(spark):
    probe = spark.createDataFrame(
        [(1, "m"), (99, "u")], schema="k long, tag string"
    )
    build = spark.createDataFrame([(1, "d")], schema="k long, attr string")
    out = salted_join(probe, build, on="k", salts=4, how="left")
    got = {(r.k, r.tag): r.attr for r in out.collect()}
    assert got == {(1, "m"): "d", (99, "u"): None}


def test_salted_join_rejects_build_preserving(skewed):
    probe, build = skewed
    with pytest.raises(ValueError, match="probe side"):
        salted_join(probe, build, on="k", how="full")


def test_hot_key_spreads_over_salts(skewed):
    probe, _ = skewed
    salted = probe.withColumn(
        "s", F.pmod(F.xxhash64("k", "row_id"), F.lit(8))
    )
    n = salted.where("k = 0").select("s").distinct().count()
    assert n == 8  # the hot key occupies every salt bucket


def test_salted_plan_no_cartesian(skewed):
    probe, build = skewed
    plan = formatted_plan(salted_join(probe, build, on="k", salts=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_duplicate_probe_rows_preserved(spark):
    # two identical probe rows share a salt; both must survive the join
    probe = spark.createDataFrame(
        [(1, "x"), (1, "x")], schema="k long, tag string"
    )
    build = spark.createDataFrame([(1, "d")], schema="k long, attr string")
    out = salted_join(probe, build, on="k", salts=4)
    assert out.count() == 2

