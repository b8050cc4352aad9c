"""widen() behavior: no-op on wide inputs, repartition on narrow dense
inputs, and probe memoization (the probe itself forces physical
planning, so repeat calls on semantically-equal frames must not repeat
it)."""

from __future__ import annotations

import pinecone_datasets_spark.parallel as par
from pinecone_datasets_spark.parallel import widen


def test_widen_repartitions_narrow_frame(spark):
    df = spark.range(0, 1000, 1, 1)  # one partition, dense work upstream
    out = widen(df, "id")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert out.count() == 1000


def test_widen_noop_on_wide_frame(spark):
    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, 1, n * 2)
    out = widen(df)
    assert out is df


def _count_rdd_probes(df_cls):
    """Replace df_cls.rdd (a cached_property in classic pyspark 4) with a
    counting descriptor; returns (counter_list, restore_fn)."""
    real = df_cls.rdd.func if hasattr(df_cls.rdd, "func") else df_cls.rdd.fget
    probed = []

    class CountingRdd:
        def __get__(self, obj, objtype=None):
            if obj is None:
                return self
            probed.append(1)
            return real(obj)

    orig = df_cls.__dict__["rdd"]

    def restore():
        setattr(df_cls, "rdd", orig)

    setattr(df_cls, "rdd", CountingRdd())
    return probed, restore


def test_widen_memoizes_probe(spark):
    par._PROBE_MEMO.clear()
    df = spark.range(0, 100, 1, 2)
    probed, restore = _count_rdd_probes(type(df))
    try:
        widen(df)
        first = len(probed)
        assert first >= 1
        widen(spark.range(0, 100, 1, 2))  # semantically equal plan
        assert len(probed) == first  # memo hit: no second probe
    finally:
        restore()


def test_widen_scan_estimate_short_circuits(tmp_path, spark, monkeypatch):
    # A big-enough on-disk scan must be declared wide WITHOUT an rdd probe.
    p = str(tmp_path / "t.parquet")
    spark.range(0, 50_000).selectExpr("id", "repeat('x', 64) as pad").write.parquet(p)
    df = spark.read.parquet(p)
    # Shrink the split size so the byte estimate alone proves >= target.
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 * 1024))
    try:
        monkeypatch.setattr(par, "_PROBE_MEMO", {}, raising=True)
        calls, restore = _count_rdd_probes(type(df))
        try:
            out = widen(df)
            assert out is df
            assert not calls  # estimate path, no physical planning
        finally:
            restore()
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


def test_parse_bytes_suffixed_conf_values():
    """r11 review: widen() parsed spark.sql.files.maxPartitionBytes
    with a bare int(), crashing for the documented '128m'/'64MB'
    suffixed forms."""
    from pinecone_datasets_spark.parallel import _parse_bytes

    assert _parse_bytes("134217728") == 134217728
    assert _parse_bytes("128m") == 128 << 20
    assert _parse_bytes("64MB") == 64 << 20
    assert _parse_bytes(" 2g ") == 2 << 30
    assert _parse_bytes("1k") == 1024
    assert _parse_bytes("garbage") == 128 << 20  # Spark default


def test_widen_with_suffixed_max_partition_bytes(spark, tmp_path):
    from pinecone_datasets_spark.parallel import widen

    p = str(tmp_path / "t")
    spark.range(100).write.parquet(p)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "64m")
        df = widen(spark.read.parquet(p), "id")
        assert df.count() == 100  # no ValueError at plan build
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_ensure_shipped_publishes_atomically(spark, tmp_path, monkeypatch):
    """r12 review: the package zip must be built at a temp name and
    os.replace-published — a process killed mid-zip left a PARTIAL zip
    that a later exists() check would ship to every executor. After a
    fresh build: the zip exists, is a valid zip containing the package,
    and no .building-* temp remains."""
    import os
    import tempfile
    import zipfile

    import pinecone_datasets_spark.shipping as shipping

    pkg = "pinecone_datasets_spark"
    zip_path = os.path.join(
        tempfile.gettempdir(), f"{pkg}-{os.getpid()}.zip"
    )
    if os.path.exists(zip_path):
        os.unlink(zip_path)
    shipping._SHIPPED_SESSIONS.clear()
    shipping.ensure_shipped(spark)
    assert os.path.exists(zip_path)
    with zipfile.ZipFile(zip_path) as zf:
        assert zf.testzip() is None
        assert any(n.startswith(pkg + "/") for n in zf.namelist())
    leftovers = [
        n for n in os.listdir(tempfile.gettempdir())
        if n.startswith(f"{pkg}-") and ".building-" in n
    ]
    assert leftovers == []


def test_concurrent_actions_runs_all_and_inherits_group(spark):
    """r14: index builds submit their independent writes through
    concurrent_actions — every fn must run, worker threads must inherit
    the caller's job group (plain pool threads would not), and the
    calling thread's group must be restored afterwards: cleared when it
    had none, so later jobs aren't tagged with a finished build's group,
    and the caller's own group when it had one."""
    import threading

    from pinecone_datasets_spark.parallel import concurrent_actions

    seen = {}

    def probe_a():
        seen["a_group"] = spark.sparkContext.getLocalProperty(
            "spark.jobGroup.id"
        )
        seen["a_thread"] = threading.get_ident()
        spark.range(10).count()

    def probe_b():
        seen["b_group"] = spark.sparkContext.getLocalProperty(
            "spark.jobGroup.id"
        )
        spark.range(10).count()

    concurrent_actions(spark, [probe_a, probe_b], "test build")
    assert seen["a_group"] is not None
    assert seen["a_group"] == seen["b_group"]
    assert seen["a_group"].startswith("concurrent-actions-")
    assert seen["a_thread"] != threading.get_ident()
    # group cleared on the calling thread after the pool exits
    assert (
        spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    )
    # a caller's own group (a vbench span, a user's setJobGroup) is
    # restored, not stripped
    sc = spark.sparkContext
    sc.setJobGroup("caller-span", "caller work")
    try:
        concurrent_actions(spark, [probe_a, probe_b], "test build")
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-span"
        assert sc.getLocalProperty("spark.job.description") == "caller work"
    finally:
        for prop in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(prop, None)


def test_concurrent_actions_passes_caller_tags(spark):
    """Worker threads carry the caller's session tags, so
    ``spark.interruptTag`` reaches their jobs, and wrapping them raises
    no "Tags will not be inherited" warning.

    The tag goes on a child session: on Spark 4.1, ``addTag`` leaves the
    session's thread-UUID holder set, and a session in that state can no
    longer be serialized into MLlib closures (a fitted
    ``LogisticRegressionModel`` keeps it in its training summary), which
    would break later tests that share the fixture session."""
    import warnings

    from pinecone_datasets_spark.parallel import concurrent_actions

    session = spark.newSession()
    seen = []

    def probe():
        seen.append(set(session.getTags()))
        session.range(10).count()

    session.addTag("caller-tag")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            concurrent_actions(session, [probe, probe], "tagged build")
    finally:
        session.removeTag("caller-tag")
    assert len(seen) == 2
    assert all("caller-tag" in tags for tags in seen)
    assert not [
        w for w in caught if "Tags will not be inherited" in str(w.message)
    ]


def test_concurrent_actions_without_pinned_threads(spark, monkeypatch):
    """With PYSPARK_PIN_THREAD=false, ``inheritable_thread_target(spark)``
    returns the session itself (not a wrapper); every action must still
    run."""
    import pyspark

    from pinecone_datasets_spark.parallel import concurrent_actions

    monkeypatch.setattr(pyspark, "inheritable_thread_target", lambda f: f)
    ran = []
    concurrent_actions(
        spark, [lambda: ran.append("a"), lambda: ran.append("b")], "unpinned"
    )
    assert sorted(ran) == ["a", "b"]


def test_concurrent_actions_first_failure_propagates(spark):
    """The first worker failure is re-raised (not swallowed, not
    replaced by a sibling's cancellation error)."""
    import pytest

    from pinecone_datasets_spark.parallel import concurrent_actions

    def boom():
        raise RuntimeError("write failed")

    def ok():
        spark.range(5).count()

    with pytest.raises(RuntimeError, match="write failed"):
        concurrent_actions(spark, [boom, ok], "failing build")
    assert (
        spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    )
