"""Deterministic sampling and dataset splitting.

Training-data pipelines need splits and samples that are (a) reproducible
across runs and engines, (b) stable under re-partitioning and data
re-ordering, and (c) cheap at corpus scale. ``df.sample()`` gives none of
these — it seeds per-partition, so adding one file reshuffles every
assignment. The standard fix is *hash bucketing*: assign each row a
bucket from a salted hash of its stable key and threshold on the bucket.

Scale shapes:

* ``hash_split`` / ``deterministic_sample``: pure map-side expressions
  (one md5 per row, no shuffle, no state). A 100 TB corpus splits in a
  single scan-and-write pass; assignments never change when the corpus
  is re-partitioned, appended to, or processed engine-by-engine, because
  the hash depends only on (seed, key).
* ``cap_per_group`` / ``stratified_sample_exact``: one shuffle on the
  group key feeding a rank window with a *literal* bound, so Spark plans
  a ``WindowGroupLimit`` — each map task pre-truncates its groups to k
  rows before the exchange and the shuffle carries at most k rows per
  (task, group), not the full corpus.

The bucket hash is the repo's portable-md5 idiom (first 8 hex chars →
int, cf. ``operators/dedup.py``), so any SQL engine reproduces the exact
assignment — the DuckDB oracles for q45-q47 do.
"""

from __future__ import annotations

from typing import Mapping, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ColumnOrName = Union[Column, str]

#: Number of hash buckets the unit interval is quantized into. 10_000
#: gives 0.01% split granularity while keeping boundary arithmetic exact
#: in integers (no float thresholds to disagree across engines).
SPLIT_BUCKETS = 10_000


def split_bucket(
    key: ColumnOrName, seed: int = 42, buckets: int = SPLIT_BUCKETS
) -> Column:
    """Deterministic bucket in ``[0, buckets)`` from a salted md5 of the
    key. Map-only; portable (DuckDB twin:
    ``('0x' || substr(md5(seed || '|' || key), 1, 8))::BIGINT % buckets``).
    """
    key_col = F.col(key) if isinstance(key, str) else key
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}|"), key_col.cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    # h is in [0, 2^32) — plain % stays non-negative.
    return (h % F.lit(buckets)).alias("bucket")


def hash_split(
    df: DataFrame,
    weights: Mapping[str, float],
    key_col: str = "doc_id",
    seed: int = 42,
    split_col: str = "split",
) -> DataFrame:
    """Add a ``split`` column assigning each row to one of the named
    splits with the given weights (e.g. ``{"train": .9, "val": .05,
    "test": .05}``), deterministically by ``md5(seed | key)``.

    Properties a training pipeline relies on:

    * **Stable**: a row's split depends only on (seed, key) — appending
      data, changing partitioning, or re-running never reassigns a row.
    * **Disjoint + exhaustive**: boundaries are cumulative integer bucket
      edges; every bucket maps to exactly one split.
    * **Map-only**: no shuffle, no sort — at 100 TB this fuses into
      whatever scan already runs.

    Weights must be positive and are normalized; boundaries are rounded
    to integer buckets, so weights finer than 1/SPLIT_BUCKETS collapse.
    """
    if not weights:
        raise ValueError("weights must name at least one split")
    if any(w <= 0 for w in weights.values()):
        raise ValueError(f"split weights must be positive: {dict(weights)}")
    total = float(sum(weights.values()))
    bucket = split_bucket(F.col(key_col), seed=seed)
    expr: Optional[Column] = None
    cum = 0.0
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name] / total
        edge = int(round(cum * SPLIT_BUCKETS))
        cond = bucket < F.lit(edge)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    out = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, out)


def deterministic_sample(
    df: DataFrame,
    fraction: float,
    key_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Keep ~``fraction`` of rows by hash threshold: a row survives iff
    ``bucket(seed, key) < fraction * SPLIT_BUCKETS``.

    Unlike ``df.sample``, the kept set is a function of (seed, key)
    only, so it is identical across runs, engines, and partitionings —
    and *nested*: the 1% sample is a subset of the 10% sample at the
    same seed, which is how pipelines build scaling-law ladders.
    Because the hash is uniform within any subpopulation, the sample is
    implicitly stratified in expectation over every attribute.
    Map-only, no shuffle.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1]: {fraction}")
    edge = int(round(fraction * SPLIT_BUCKETS))
    return df.where(split_bucket(F.col(key_col), seed=seed) < F.lit(edge))


def leakage_safe_split(
    df: DataFrame,
    weights: Mapping[str, float],
    key_col: str = "doc_id",
    dup_pairs: Optional[DataFrame] = None,
    group_col: Optional[str] = None,
    seed: int = 42,
    split_col: str = "split",
) -> DataFrame:
    """``hash_split`` with a leakage guard: rows known to be (near-)
    duplicates of each other always land in the SAME split, so the test
    set can never contain a paraphrase of a training row — the
    eval-integrity property a per-row split silently violates on any
    corpus with duplicates.

    Group sources, most to least general:

    * ``dup_pairs`` — an (id_a, id_b) near-dup pair frame from any of
      the pair miners (MinHash/LSH, semantic, edit-distance, Jaccard):
      groups are the connected components, split key = the component's
      min id.
    * ``group_col`` — a precomputed group label (e.g. the exact-dedup
      fingerprint): split key = the group's min id (one key-only
      groupBy + join; rows with a NULL label are their OWN group —
      collapsing them into one shared partition would route the entire
      unlabeled majority of a corpus into a single split).
    * neither — plain ``hash_split`` (no duplicate knowledge).

    The split hashes the group REPRESENTATIVE's id, not the row's, so
    membership inherits every ``hash_split`` property (stable,
    disjoint, nested across seeds) at group granularity. Scale: the
    pair path pays connected-components (rounds ~ component diameter,
    LSH cliques are shallow); the group path is one key-only aggregate.
    """
    from pyspark.sql import Window

    if dup_pairs is not None and group_col is not None:
        raise ValueError("pass dup_pairs or group_col, not both")
    if dup_pairs is not None:
        from .cluster import connected_components

        # algorithm="star": label propagation needs rounds = component
        # DIAMETER, so a near-dup chain longer than its default budget
        # silently left tail revisions with a different representative
        # — train/test leakage, the exact failure this function exists
        # to prevent (r11 review). Small-star/large-star converges in
        # O(log n) regardless of diameter.
        labels = connected_components(dup_pairs, algorithm="star")
        rep = labels.select(
            F.col("node").alias(key_col), F.col("cluster_id").alias("__rep")
        )
        # no forced broadcast: the label frame is O(duplicated docs)
        # — billions of rows on a high-dup web corpus; AQE broadcasts
        # when it really is small (r10 review)
        keyed = df.join(rep, key_col, "left").withColumn(
            "__rep", F.coalesce("__rep", F.col(key_col))
        )
    elif group_col is not None:
        # key-only groupBy + join (the shape the docstring promises) —
        # a min() over Window.partitionBy(group_col) shuffled the FULL
        # corpus and funneled any skewed group through one task; NULL
        # labels fall back to the row's own key instead of collapsing
        # into one giant pseudo-group (r10 review)
        reps = (
            df.where(F.col(group_col).isNotNull())
            .groupBy(group_col)
            .agg(F.min(key_col).alias("__rep"))
        )
        keyed = df.join(reps, group_col, "left").withColumn(
            "__rep", F.coalesce("__rep", F.col(key_col))
        )
    else:
        keyed = df.withColumn("__rep", F.col(key_col))
    out = hash_split(
        keyed, weights, key_col="__rep", seed=seed, split_col=split_col
    )
    return out.drop("__rep")


def hash_unit(key: ColumnOrName, seed: int = 42) -> Column:
    """Deterministic uniform in (0, 1) from the salted md5:
    ``(h + 0.5) / 2^32`` with h the first-8-hex-chars integer. The
    +0.5 keeps u strictly inside the interval (ln(u) stays finite) and
    the division by a power of two is exact in binary floating point,
    so every engine computes the identical double (DuckDB twin:
    ``(('0x' || substr(md5(seed || '|' || key), 1, 8))::BIGINT + 0.5)
    / 4294967296.0``)."""
    key_col = F.col(key) if isinstance(key, str) else key
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}|"), key_col.cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("double")
    return (h + F.lit(0.5)) / F.lit(4294967296.0)


def weighted_sample(
    df: DataFrame,
    n: int,
    weight_col: ColumnOrName,
    key_col: str = "doc_id",
    group_cols: Optional[Union[str, Sequence[str]]] = None,
    seed: int = 42,
    rank_col: Optional[str] = None,
) -> DataFrame:
    """``n`` rows without replacement with inclusion probability
    proportional to ``weight_col`` — Efraimidis & Spirakis (2006) A-ES:
    each row gets key ``ln(u) / w`` with a *deterministic* per-row
    uniform ``u = hash_unit(seed, key)``, and the n largest keys win.
    This is the one-pass, distributed form of weighted reservoir
    sampling: the key is map-side arithmetic, so the selection is a
    plain top-n.

    Rows with null, non-positive, or NaN weight are excluded (zero
    sampling mass; Spark treats NaN as greater than any number AND as
    the largest sort key, so an unfiltered NaN weight would both pass
    ``w > 0`` and deterministically crowd out every legitimate row). With ``group_cols``, n rows per group via the
    ``WindowGroupLimit`` shape (shuffle carries ≤ n rows per task-group);
    without, a global ``TakeOrderedAndProject`` top-n (each task ships
    only its local top n). Deterministic for fixed (seed, keys), stable
    under repartitioning, and engine-portable — the DuckDB oracle in
    ``__spark_entry__`` replays the exact selection.
    """
    if n <= 0:
        raise ValueError(f"n must be positive: {n}")
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    es = F.log(hash_unit(F.col(key_col), seed=seed)) / w
    weighted = df.where(
        w.isNotNull() & ~F.isnan(w) & (w > 0)
    ).withColumn("_es", es)
    if group_cols is not None:
        out = cap_per_group(
            weighted,
            group_cols,
            n,
            order_by=[F.desc("_es"), F.col(key_col)],
            rank_col=rank_col,
        )
        return out.drop("_es")
    ranked = weighted.orderBy(F.desc("_es"), F.col(key_col)).limit(int(n))
    if rank_col:
        from pyspark.sql import Window

        # n is small by contract (a driver-bounded sample); the global
        # rank window runs over ≤ n rows post-limit.
        ranked = ranked.withColumn(
            rank_col,
            F.row_number().over(
                Window.orderBy(F.desc("_es"), F.col(key_col))
            ),
        )
    return ranked.drop("_es")


def cap_per_group(
    df: DataFrame,
    group_cols: Union[str, Sequence[str]],
    n: int,
    order_by: Sequence[Column],
    rank_col: Optional[str] = None,
) -> DataFrame:
    """Keep at most ``n`` rows per group, best-first by ``order_by`` —
    the library's one per-group top-k cut: every per-query top-k
    operator (vector, keyword, fusion, rerank) and every per-group cap
    (domains, samplers) ends here.

    * The rank is ``row_number``, never ``rank``/``dense_rank``: a tie
      cannot push a group past ``n`` rows.
    * ``n`` is a literal, so Spark plans a ``WindowGroupLimit``: every
      map task truncates each group to n rows *before* the exchange and
      the shuffle moves at most n rows per (task, group).
    * ``order_by`` must be a total order — end it with a unique id — or
      the kept set and the ranks are nondeterministic.

    ``rank_col`` keeps the 1-based rank under that name; without it the
    rank is dropped. ``n <= 0`` raises ``ValueError``.
    """
    from pyspark.sql import Window

    if n <= 0:
        raise ValueError(f"n must be positive: {n}")
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    w = Window.partitionBy(*groups).orderBy(*order_by)
    rk = rank_col or "_rk"
    kept = df.withColumn(rk, F.row_number().over(w)).where(
        F.col(rk) <= F.lit(int(n))
    )
    return kept if rank_col else kept.drop(rk)


def stratified_sample_exact(
    df: DataFrame,
    strata_col: str,
    n_per_stratum: int,
    key_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Exactly ``min(n, |stratum|)`` rows per stratum, chosen by ranking
    on the salted key hash — a deterministic stand-in for 'uniformly at
    random without replacement'. Same WindowGroupLimit shape as
    ``cap_per_group`` (the hash order is computed map-side first)."""
    hashed = df.withColumn("_hb", split_bucket(F.col(key_col), seed=seed))
    out = cap_per_group(
        hashed,
        strata_col,
        n_per_stratum,
        order_by=[F.col("_hb"), F.col(key_col)],
    )
    return out.drop("_hb")
