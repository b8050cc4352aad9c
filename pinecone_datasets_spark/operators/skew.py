"""Salted equi-join for skewed keys.

A shuffled equi-join hashes both sides by the key: every row of a hot key
lands on ONE reducer, and at 100 TB a single power-law key (the bot user,
the empty-string document, the null-ish default id) turns a 1000-executor
join into a one-task straggler. AQE's skew-split handles the sort-merge
case by splitting oversized partitions, but it cannot split a single
*key* — all of a key's rows must still meet one task unless the other
side is replicated.

``salted_join`` does that replication explicitly:

- the **build** side (the smaller relation, too big to broadcast or it
  would have been) is replicated ``salts`` times, each copy tagged with a
  salt value — an ``explode`` of a literal array, map-side, no shuffle;
- the **probe** side gets a deterministic salt
  ``pmod(xxhash64(salt_src), salts)`` — also map-side;
- the join key becomes ``(key, salt)``, so a hot key's rows spread over
  ``salts`` reducers instead of one.

Cost model: the build side shuffles ``salts ×`` its size (the price of
skew immunity); the probe side shuffles once, same as the plain join.
Row-level semantics are IDENTICAL to the plain join for ``inner`` and
``left`` (probe-preserving) joins — each probe row meets exactly one
replica of every matching build row. Build-preserving joins (right/full)
would surface each unmatched build row once per replica and are rejected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALT = "__salt"


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    on: str | list[str],
    salts: int = 8,
    how: str = "inner",
    salt_src: list[str] | None = None,
    join_hint: str | None = "shuffle_hash",
) -> DataFrame:
    """Join ``probe`` (large, possibly skewed) with ``build`` (smaller)
    on equality of ``on``, spreading each key over ``salts`` reducers.

    ``salt_src``: probe columns hashed to pick the salt (defaults to all
    probe columns — deterministic, so the operator stays replayable).
    ``join_hint``: hint applied to the build side ("shuffle_hash" by
    default — a replicated build side is exactly the case where a
    sort-merge's sort is wasted; pass None to let Catalyst choose).
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_join preserves the probe side only; how={how!r} "
            "would duplicate unmatched build rows across replicas"
        )
    if salts < 1:
        raise ValueError(f"salts must be >= 1, got {salts}")
    keys = [on] if isinstance(on, str) else list(on)
    src = salt_src if salt_src is not None else list(probe.columns)

    p = probe.withColumn(
        _SALT, F.pmod(F.xxhash64(*[F.col(c) for c in src]), F.lit(salts))
    )
    b = build.withColumn(
        _SALT,
        F.explode(F.array(*[F.lit(i).cast("long") for i in range(salts)])),
    )
    if join_hint:
        b = b.hint(join_hint)
    out = p.join(b, on=[*keys, _SALT], how=how)
    return out.drop(_SALT)

