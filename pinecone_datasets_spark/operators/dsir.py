"""DSIR-style data selection: importance resampling on hashed n-grams.

Selects raw-corpus documents that "look like" a target corpus (Xie et
al. 2023, *Data Selection for Language Models via Importance
Resampling*): fit two bag-of-hashed-n-gram unigram models — one on the
target corpus, one on the raw corpus — weight every raw document by the
log-likelihood ratio of its n-grams under the two models, then sample
the keep-set by Gumbel top-k (without-replacement sampling ∝ softmax of
the weights, as a single order-by).

Everything is deterministic and portable (md5 bucket hashing, the same
52-bit arithmetic as operators/sketch.py), so the whole pipeline —
weights AND the sampled keep-set — replays bit-for-bit in a DuckDB
oracle, modulo last-ulp float summation order (entries round).

Distributed shape (the 100 TB story):

1. tokenize + n-gram + bucket-hash are map-only projections;
2. the two LM fits are groupBys on the BUCKET key — key space is
   ``n_buckets`` (1e4-1e6) regardless of corpus size, so the shuffle
   after map-side partial aggregation is bounded by buckets × tasks;
3. the bucket→log-ratio table (≤ n_buckets rows) BROADCASTS back onto
   the raw corpus's per-doc bucket counts — the corpus never shuffles
   for the join;
4. per-doc weight is one groupBy(doc) over (doc, bucket, count) — rows
   bounded by distinct buckets per doc, not tokens;
5. Gumbel top-k is a global ORDER BY + literal LIMIT —
   TakeOrderedAndProject, a map-side partial top-k, never a full sort.

Reference scope note: the reference (pinecone-io/pinecone-datasets) has
no selection operators at all; this is Layer-B functionality a training
pipeline needs on top of the reference's data model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Tokens are ``words`` of the lowercased text in all three twins (batch,
# DuckDB replay, streaming dsir_score kernel).
from ..functions.text import words, words_sql
from ..parallel import widen

_TWO_52 = float(1 << 52)


def _check_n(n: int) -> None:
    if not 1 <= n <= 8:
        raise ValueError(f"n must be in [1, 8], got {n}")


def _ngrams(toks: "F.Column", n: int) -> "F.Column":
    """Adjacent word n-grams joined by a single space (n=1 → tokens)."""
    _check_n(n)
    if n == 1:
        return toks
    out = F.slice(toks, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0)))
    for i in range(1, n):
        nxt = F.slice(toks, i + 1, F.greatest(F.size(toks) - i, F.lit(0)))
        out = F.zip_with(out, nxt, lambda a, b: F.concat_ws(" ", a, b))
        # zip_with pads the longer side with nulls; the first slice is
        # the shortest, so re-truncate to its length
        out = F.slice(
            out, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0))
        )
    return out


def _bucket(gram: "F.Column", n_buckets: int) -> "F.Column":
    """Portable hash bucket: 52-bit md5 prefix mod n_buckets."""
    return (
        F.conv(F.substring(F.md5(gram), 1, 13), 16, 10)
        .cast("long")
        % F.lit(n_buckets)
    )


def doc_bucket_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    n_buckets: int = 10_000,
) -> DataFrame:
    """Per-document hashed-n-gram bucket counts ``(id, bucket, cnt)``.

    Map-only until the (id, bucket) partial aggregate; rows out are
    bounded by distinct buckets per document.
    """
    grams = df.select(
        F.col(id_col),
        F.explode(_ngrams(words(F.lower(F.col(text_col))), n)).alias("__g"),
    )
    return (
        grams.select(
            F.col(id_col), _bucket(F.col("__g"), n_buckets).alias("bucket")
        )
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _corpus_bucket_counts(
    df: DataFrame, text_col: str, n: int, n_buckets: int, out: str
) -> DataFrame:
    grams = df.select(
        F.explode(_ngrams(words(F.lower(F.col(text_col))), n)).alias("__g")
    )
    return (
        grams.select(_bucket(F.col("__g"), n_buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias(out))
    )


def _ratios_from_counts(
    tgt_c: DataFrame,
    raw_c: DataFrame,
    n_buckets: int,
    a: float,
    dense: bool = False,
) -> DataFrame:
    # full outer on the bounded bucket key; totals aggregate then
    # broadcast back (never a driver collect)
    joined = tgt_c.join(raw_c, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("c_t", F.lit(0)).alias("c_t"),
        F.coalesce("c_r", F.lit(0)).alias("c_r"),
    )
    if dense:
        # emit EVERY bucket 0..B-1: unseen buckets carry the smoothed
        # prior log((a/(n_t+aB)) / (a/(n_r+aB))) instead of being
        # absent — required when the model is applied to data beyond
        # its fit corpus (train-batch / apply-stream), where novel
        # buckets occur. B rows; still broadcastable.
        all_b = (
            tgt_c.sparkSession.range(n_buckets)
            .select(F.col("id").alias("bucket"))
        )
        joined = all_b.join(joined, "bucket", "left").select(
            "bucket",
            F.coalesce("c_t", F.lit(0)).alias("c_t"),
            F.coalesce("c_r", F.lit(0)).alias("c_r"),
        )
    totals = joined.agg(F.sum("c_t").alias("n_t"), F.sum("c_r").alias("n_r"))
    return joined.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log(
                (F.col("c_t") + F.lit(a))
                / (F.col("n_t") + F.lit(a * n_buckets))
            )
            - F.log(
                (F.col("c_r") + F.lit(a))
                / (F.col("n_r") + F.lit(a * n_buckets))
            )
        ).alias("log_ratio"),
    )


def dsir_log_ratios(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    text_col: str = "text",
    n: int = 2,
    n_buckets: int = 10_000,
    smoothing: float = 1.0,
    dense: bool = False,
) -> DataFrame:
    """Bucket→``log_ratio`` table (≤ ``n_buckets`` rows, broadcastable).

    ``log_ratio(b) = ln p_target(b) - ln p_raw(b)`` with Laplace
    smoothing ``(c + a) / (N + a·B)`` on both sides, so unseen buckets
    are defined and the ratio is bounded.

    ``dense=True`` materializes ALL ``n_buckets`` rows, filling buckets
    unseen by either corpus with the smoothed prior — pass this when
    the model will score data beyond its fit corpora (e.g. the
    streaming ``dsir_score``), where novel buckets appear.
    """
    if smoothing <= 0:
        raise ValueError(f"smoothing must be > 0, got {smoothing}")
    _check_n(n)
    tgt = _corpus_bucket_counts(target_docs, text_col, n, n_buckets, "c_t")
    raw = _corpus_bucket_counts(raw_docs, text_col, n, n_buckets, "c_r")
    return _ratios_from_counts(tgt, raw, n_buckets, float(smoothing), dense)


def dsir_weights(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    n_buckets: int = 10_000,
    smoothing: float = 1.0,
) -> DataFrame:
    """Per-raw-document importance log-weight ``(id, log_weight)``.

    ``log_weight = Σ_b cnt_b · log_ratio(b)`` over the document's
    hashed n-gram buckets; documents with no n-grams get weight 0.
    The raw corpus is tokenized ONCE — its LM counts fold up from the
    per-doc bucket counts instead of a second pass.
    """
    if smoothing <= 0:
        raise ValueError(f"smoothing must be > 0, got {smoothing}")
    # The tokenize/explode/partial-agg work all runs in the SCAN stage,
    # so its parallelism is capped by the input's split count — a
    # single-row-group parquet file serializes the whole pass (sf1
    # probe: 17 s on one task, core count irrelevant). widen() is a
    # no-op whenever the scan already splits enough (guide §2.5).
    raw_docs = widen(raw_docs)
    target_docs = widen(target_docs)
    per_doc = doc_bucket_counts(raw_docs, id_col, text_col, n, n_buckets)
    raw_c = per_doc.groupBy("bucket").agg(F.sum("cnt").alias("c_r"))
    tgt_c = _corpus_bucket_counts(target_docs, text_col, n, n_buckets, "c_t")
    ratios = _ratios_from_counts(tgt_c, raw_c, n_buckets, float(smoothing))
    scored = per_doc.join(F.broadcast(ratios), "bucket").groupBy(id_col).agg(
        F.sum(F.col("cnt") * F.col("log_ratio")).alias("log_weight")
    )
    # Docs with no n-grams carry weight 0. A left join from raw ids
    # would shuffle the whole corpus on id just for this backfill; a
    # second MAP-ONLY pass selecting the (rare) gram-less docs unions
    # in instead — no corpus shuffle anywhere in the weight plan.
    # coalesce: size() is NULL for NULL text, which must land in the
    # weight-0 branch too (the SQL twin's LEFT JOIN already does)
    grams = _ngrams(words(F.lower(F.col(text_col))), n)
    empty = raw_docs.where(F.coalesce(F.size(grams), F.lit(0)) == 0).select(
        F.col(id_col), F.lit(0.0).alias("log_weight")
    )
    return scored.select(id_col, "log_weight").unionByName(empty)


def gumbel_key(id_col: "F.Column", seed: int = 42) -> "F.Column":
    """Deterministic standard-Gumbel noise from a portable hash.

    ``u = md5_52(seed‖id) / 2^52`` shifted into (0,1); ``g = -ln(-ln u)``.
    """
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.lit(str(seed)), id_col.cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(_TWO_52)
    return -F.log(-F.log(u))


def dsir_resample(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    n_buckets: int = 10_000,
    smoothing: float = 1.0,
    temperature: float = 1.0,
    seed: int = 42,
) -> DataFrame:
    """Gumbel top-k importance resample of the raw corpus.

    Returns ``(id, log_weight, key)`` for the ``k`` kept documents —
    an exact without-replacement sample with P(doc) ∝
    ``exp(log_weight / temperature)`` (Gumbel-max). The plan is a
    literal-limit ORDER BY (TakeOrderedAndProject): each map task
    forwards at most k rows.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    w = dsir_weights(
        raw_docs, target_docs, id_col, text_col, n, n_buckets, smoothing
    )
    keyed = w.select(
        id_col,
        "log_weight",
        (
            F.col("log_weight") / F.lit(float(temperature))
            + gumbel_key(F.col(id_col), seed)
        ).alias("key"),
    )
    return keyed.orderBy(F.desc("key"), F.col(id_col)).limit(int(k))


# ---------------------------------------------------------------------------
# DuckDB oracle twin
# ---------------------------------------------------------------------------


def dsir_sql(
    raw_clause: str,
    target_clause: str,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    n_buckets: int = 10_000,
    smoothing: float = 1.0,
    temperature: float = 1.0,
    seed: int = 42,
) -> str:
    """DuckDB replay of ``dsir_resample`` (same hash, LM, Gumbel)."""
    _check_n(n)
    a = float(smoothing)
    if n == 1:
        gram_list = "toks"
    else:
        parts = " || ' ' || ".join(f"toks[i+{j}]" for j in range(n))
        gram_list = (
            f"list_transform(range(1, len(toks) - {n - 2}), i -> {parts})"
        )
    tok_expr = words_sql(f"lower({text_col})")
    bucket = (
        "CAST(concat('0x', substr(md5(g), 1, 13)) AS BIGINT) % "
        f"{n_buckets}"
    )
    u = (
        "(CAST(concat('0x', substr(md5("
        f"'{seed}' || '|' || CAST({id_col} AS VARCHAR)"
        f"), 1, 13)) AS BIGINT) + 0.5) / {_TWO_52!r}"
    )
    return f"""
WITH raw_toks AS (
  SELECT {id_col}, {tok_expr} AS toks FROM {raw_clause}
), tgt_toks AS (
  SELECT {tok_expr} AS toks FROM {target_clause}
), raw_grams AS (
  SELECT {id_col}, unnest({gram_list}) AS g FROM raw_toks
), tgt_grams AS (
  SELECT unnest({gram_list}) AS g FROM tgt_toks
), raw_b AS (
  SELECT {id_col}, {bucket} AS bucket, count(*) AS cnt
  FROM raw_grams GROUP BY 1, 2
), tgt_c AS (
  SELECT {bucket} AS bucket, count(*) AS c_t FROM tgt_grams GROUP BY 1
), raw_c AS (
  SELECT bucket, sum(cnt) AS c_r FROM raw_b GROUP BY 1
), buckets AS (
  SELECT COALESCE(tgt_c.bucket, raw_c.bucket) AS bucket,
         COALESCE(c_t, 0) AS c_t, COALESCE(c_r, 0) AS c_r
  FROM tgt_c FULL OUTER JOIN raw_c ON tgt_c.bucket = raw_c.bucket
), ratios AS (
  SELECT bucket,
         ln((c_t + {a!r}) / ((SELECT sum(c_t) FROM buckets) + {a * n_buckets!r}))
       - ln((c_r + {a!r}) / ((SELECT sum(c_r) FROM buckets) + {a * n_buckets!r}))
         AS log_ratio
  FROM buckets
), weights AS (
  SELECT r.{id_col},
         COALESCE(sum(b.cnt * ratios.log_ratio), 0.0) AS log_weight
  FROM (SELECT {id_col} FROM {raw_clause}) r
  LEFT JOIN raw_b b USING ({id_col})
  LEFT JOIN ratios USING (bucket)
  GROUP BY 1
)
SELECT {id_col}, log_weight,
       log_weight / {float(temperature)!r} + (-ln(-ln({u}))) AS key
FROM weights
ORDER BY key DESC, {id_col}
LIMIT {int(k)}
"""
