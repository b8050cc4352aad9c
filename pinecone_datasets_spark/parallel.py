"""Adaptive parallelism for compute-heavy operators.

A parquet scan's task count is decided by *input bytes*
(``maxPartitionBytes`` / ``openCostInBytes``), and a single row group is
never split — so a small-but-dense input (one file, one row group) feeds
exactly one task no matter how many cores the cluster has. For scan-
proportional work that's correct; for operators that multiply work per
input byte (shingle explosion ×300, per-query vector scoring ×Q) it
strands every core but one.

``widen`` is the guard those operators apply before their hot stage:
if the input already has at least ``defaultParallelism`` partitions (any
real corpus — a 100 TB table scans as tens of thousands of splits), it
is a **no-op**; only when the input under-splits does it hash-repartition
up to core count. Hash (on the caller's key) rather than round-robin:
round-robin repartition inserts a per-partition sort to stay
deterministic under task retry; hash partitioning is retry-deterministic
for free. Every caller's output is an aggregation/rank over the widened
data, so results are partition-layout-independent either way.

Probing the partition count is itself not free: ``df.rdd`` forces a full
physical plan (and under AQE a separate one from the plan that will
actually execute). Two mitigations keep the probe off the hot path:

* **File-size estimate for pure scans.** When the frame maps to local
  parquet files (the common case for every operator entry here), the
  split count Spark will choose is ``ceil(total_bytes /
  maxPartitionBytes)``-ish; statting the files is driver-side metadata
  only. We only trust the estimate to prove the *no-op* direction
  (enough bytes => enough splits) — when it says "under-split" we still
  confirm with the real probe before paying a shuffle.
* **Semantic-plan memo.** ``df.semanticHash()`` needs only the analyzed
  plan; repeated ``widen`` calls over semantically-equal frames (every
  bench loop, every re-built entry) reuse the first probe's answer.
"""

from __future__ import annotations

import math
import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (session JVM id, semanticHash) -> measured partition count. Bounded in
# practice (one entry per distinct operator input per session); cleared
# implicitly when the session dies because the JVM id changes.
_PROBE_MEMO: dict[tuple[int, int], int] = {}
_MEMO_CAP = 512


def _local_path(uri: str) -> str | None:
    """Return a local filesystem path for file:/ or bare-path URIs."""
    parsed = urlparse(uri)
    if parsed.scheme in ("", "file"):
        return parsed.path or uri
    return None


_BYTE_SUFFIXES = {
    "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40, "tb": 1 << 40,
}


def _parse_bytes(v: str) -> int:
    """Spark byte-string conf values: '134217728', '128m', '64MB' —
    a bare int() crashed every widen()-using operator the moment a
    user set the documented suffixed form (r11 review)."""
    s = str(v).strip().lower()
    for suf in sorted(_BYTE_SUFFIXES, key=len, reverse=True):
        if s.endswith(suf) and s[: -len(suf)].strip().isdigit():
            return int(s[: -len(suf)].strip()) * _BYTE_SUFFIXES[suf]
    try:
        return int(s)
    except ValueError:
        return 128 * 1024 * 1024  # unparseable: Spark's default


def _scan_splits_at_least(df: DataFrame, target: int) -> bool:
    """Driver-metadata-only lower bound: True if the frame is a scan of
    local files whose byte size guarantees >= ``target`` input splits.
    False means "unknown or under target" — caller falls back to the
    real probe."""
    try:
        files = df.inputFiles()
    except Exception:
        return False
    if not files:
        return False
    total = 0
    for uri in files:
        p = _local_path(uri)
        if p is None:
            return False  # remote FS: don't stat over the network here
        try:
            total += os.path.getsize(p)
        except OSError:
            return False
    conf = df.sparkSession.conf
    max_split = _parse_bytes(
        conf.get("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    # Spark packs small files together (openCostInBytes padding) — the
    # byte-derived count is a lower bound on splits only when each file
    # alone exceeds the split size; the safe, simple bound is
    # ceil(total/max_split) <= actual splits, which holds because no
    # split exceeds max_split bytes.
    return math.ceil(total / max(1, max_split)) >= target


def widen(df: DataFrame, *key_cols: str, factor: int = 1) -> DataFrame:
    """Repartition ``df`` up to ``defaultParallelism * factor`` iff it
    currently has fewer partitions; identity otherwise."""
    spark = df.sparkSession
    sc = spark.sparkContext
    target = max(1, sc.defaultParallelism * factor)
    if target <= 1:
        return df
    if _scan_splits_at_least(df, target):
        return df
    memo_key = None
    try:
        memo_key = (id(sc._jsc), df.semanticHash())
    except Exception:
        pass
    if memo_key is not None and memo_key in _PROBE_MEMO:
        current = _PROBE_MEMO[memo_key]
    else:
        current = df.rdd.getNumPartitions()
        if memo_key is not None and len(_PROBE_MEMO) < _MEMO_CAP:
            _PROBE_MEMO[memo_key] = current
    if current >= target:
        return df
    if key_cols:
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df.repartition(target)


def concurrent_actions(spark, fns, description: str) -> None:
    """Run independent Spark actions from a small thread pool so the
    next job's tasks back-fill executors freed by the current job's
    straggler tail (guide §2.6) — with Spark-aware thread semantics:

    * each worker is wrapped in ``pyspark.inheritable_thread_target``,
      so it inherits the caller's job group/description (UI labels stay
      correct and a caller-initiated ``cancelJobGroup`` reaches these
      jobs — plain pool threads would NOT inherit the thread-local
      properties, r13 ADVICE);
    * the first failure cancels the sibling jobs via the shared group
      instead of letting them run to completion, then re-raises.
    """
    import uuid
    from concurrent.futures import (
        FIRST_EXCEPTION,
        ThreadPoolExecutor,
        wait,
    )

    from pyspark import inheritable_thread_target

    sc = spark.sparkContext
    props = (
        "spark.jobGroup.id",
        "spark.job.description",
        "spark.job.interruptOnCancel",
    )
    caller = {p: sc.getLocalProperty(p) for p in props}
    group = f"concurrent-actions-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, description, interruptOnCancel=True)
    try:
        with ThreadPoolExecutor(max_workers=max(2, len(fns))) as pool:
            futs = [
                pool.submit(inheritable_thread_target(fn)) for fn in fns
            ]
            done, not_done = wait(futs, return_when=FIRST_EXCEPTION)
            first_exc = next(
                (f.exception() for f in done if f.exception() is not None),
                None,
            )
            if first_exc is not None:
                try:
                    sc.cancelJobGroup(group)
                except Exception:  # noqa: BLE001 — best-effort cancel
                    pass
                for f in not_done:
                    try:
                        f.result()
                    except Exception:  # noqa: BLE001 — cancelled sibling
                        pass
                raise first_exc
            for f in futs:
                f.result()
    finally:
        # restore the caller's group (None when it had none) so later
        # jobs on this thread are neither tagged with nor cancellable via
        # a finished build's group, nor stripped of their own
        for prop, value in caller.items():
            sc.setLocalProperty(prop, value)
