"""Streaming corpus curation: the batch gates, composed stream-legally.

An ingest stream can run every *map-only* curation signal unchanged
(word counts, quality score, repetition, entropy — all built-in column
expressions) and exact dedup as a stateful ``dropDuplicates``; what it
cannot do is re-fit corpus-level models per batch. The streaming answer
is train-batch / apply-stream: fit the DSIR log-ratio model (or quality
classifier) on a batch snapshot, then apply it to the stream as a
map-only scorer.

``dsir_gate`` implements the apply side without ANY stream-side join or
aggregation: the (≤ n_buckets)-row ratio table collapses to a NumPy
array in an Arrow-batched kernel's closure — the same shape a broadcast
join would ship, minus the join — so each document's weight is computed
within its own row. Stream-legal, checkpoint-free, and identical in
expectation to ``operators.dsir.dsir_weights`` (same md5 bucket hash;
float summation order differs per doc, so equality is to ~1e-9, not
bit-exact — the batch path remains the oracle-gated one).

``stream_curate`` chains the gates the batch ``curate_corpus_full``
applies, in the same order, restricted to the stream-legal subset:
length gate → quality gate → (optional) DSIR gate → exact dedup.
"""

from __future__ import annotations

import hashlib
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import quality_score, split_words, word_count
from ..operators.dsir import _check_n
from .dedup import stream_exact_dedup


def _ratio_array(ratios: DataFrame, n_buckets: int) -> np.ndarray:
    """Collect the bucket→log_ratio table into a dense array (bounded:
    ≤ n_buckets doubles — the same driver-bounded size every broadcast
    in this engine assumes).

    The smoothed DSIR model defines a NONZERO prior for buckets unseen
    by either fit corpus; a sparse ratio table cannot tell the scorer
    what it is, so novel-vocabulary stream docs would silently score 0
    per unseen gram. Require the dense table
    (``dsir_log_ratios(..., dense=True)``) instead of guessing.
    """
    rows = ratios.select("bucket", "log_ratio").collect()
    if len(rows) != n_buckets:
        raise ValueError(
            f"ratio table has {len(rows)} rows, expected {n_buckets} —"
            " fit it with dsir_log_ratios(..., dense=True) so unseen"
            " buckets carry the smoothed prior"
        )
    arr = np.zeros(n_buckets, dtype=np.float64)
    for row in rows:
        b = int(row["bucket"])
        if not 0 <= b < n_buckets:
            raise ValueError(
                f"ratio bucket {b} outside [0, {n_buckets}) — wrong"
                " n_buckets for this ratio table?"
            )
        arr[b] = float(row["log_ratio"])
    return arr


def dsir_score(
    docs: DataFrame,
    ratios: DataFrame,
    text_col: str = "text",
    n: int = 2,
    n_buckets: int = 10_000,
    out_col: str = "log_weight",
) -> DataFrame:
    """Score documents against a batch-fitted DSIR ratio model, map-only.

    Works on static AND streaming frames: the ratio table rides in the
    kernel closure, tokenization/hashing replicate the batch operator
    (md5 52-bit bucket; buckets summed in sorted order for per-doc
    determinism). Appends ``out_col`` (double).
    """
    _check_n(n)
    arr = _ratio_array(ratios, n_buckets)

    @F.pandas_udf("double")
    def _weight(texts: pd.Series) -> pd.Series:
        def one(t):
            if t is None:
                return 0.0
            toks = split_words(str(t).lower())
            if len(toks) < n:
                return 0.0
            counts: dict[int, int] = {}
            for i in range(len(toks) - n + 1):
                g = " ".join(toks[i : i + n])
                b = (
                    int(hashlib.md5(g.encode("utf-8")).hexdigest()[:13], 16)
                    % n_buckets
                )
                counts[b] = counts.get(b, 0) + 1
            return float(
                sum(c * arr[b] for b, c in sorted(counts.items()))
            )

        return texts.map(one)

    return docs.withColumn(out_col, _weight(F.col(text_col)))


def dsir_gate(
    docs: DataFrame,
    ratios: DataFrame,
    threshold: float,
    text_col: str = "text",
    n: int = 2,
    n_buckets: int = 10_000,
    keep_weight: bool = False,
) -> DataFrame:
    """Keep documents whose DSIR log-weight ≥ ``threshold``."""
    scored = dsir_score(docs, ratios, text_col, n, n_buckets)
    kept = scored.where(F.col("log_weight") >= F.lit(float(threshold)))
    return kept if keep_weight else kept.drop("log_weight")


def stream_curate(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 5,
    min_quality: float = 0.0,
    ratios: Optional[DataFrame] = None,
    dsir_threshold: float = 0.0,
    dsir_n: int = 2,
    dsir_n_buckets: int = 10_000,
    ts_col: Optional[str] = None,
    watermark: str = "1 hour",
    line_gates: Optional[dict] = None,
) -> DataFrame:
    """Stream-legal curation chain, batch-order:

    1. length gate (``word_count >= min_words`` — map-only);
    2. quality gate (``quality_score >= min_quality`` — map-only);
    3. optional line gates (FineWeb/Gopher structural thresholds —
       map-only array expressions, same keys as
       ``pipeline.curate_corpus_full``);
    4. optional DSIR gate against a batch-fitted ratio table
       (map-only Arrow kernel, see ``dsir_gate``);
    5. exact dedup (stateful ``dropDuplicates`` on the content
       fingerprint; watermark-bounded state when ``ts_col`` is given).

    Filters run BEFORE dedup so rejected docs never enter dedup state —
    at 100 TB/day ingest the state bound is the post-gate survivor
    fingerprint set, not the raw stream. With ``availableNow`` over a
    static directory the result equals applying the same batch gates
    then batch exact-dedup (first arrival wins within each fingerprint;
    test-pinned).
    """
    gated = docs.where(word_count(F.col(text_col)) >= F.lit(min_words))
    if min_quality > 0.0:
        gated = gated.where(
            quality_score(F.col(text_col)) >= F.lit(float(min_quality))
        )
    if line_gates:
        from ..functions.text import apply_line_gates

        gated = apply_line_gates(gated, line_gates, text_col=text_col)
    if ratios is not None:
        gated = dsir_gate(
            gated, ratios, dsir_threshold, text_col, dsir_n, dsir_n_buckets
        )
    return stream_exact_dedup(gated, text_col, ts_col, watermark)


def semantic_gate(
    docs: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.9,
    vector_col: str = "embedding",
    bench_vector_col: str | None = None,
    max_bench_rows: int = 100_000,
    keep_score: bool = False,
) -> DataFrame:
    """Stream-legal semantic decontamination (train-batch/apply-stream,
    same contract as ``dsir_gate``): the *batch* benchmark frame is
    collected once at plan-definition time into the kernel closure; the
    stream is then gated map-only — keep a row iff its max cosine
    against every benchmark vector is < ``threshold``. No stream-side
    join, no state; a refreshed benchmark means restarting the query
    with a new plan (the same restart a refit DSIR model needs).

    Without ``keep_score`` this IS ``operators.decontaminate.
    semantic_decontaminate`` (delegated — the batch operator's plan is
    exchange-free and therefore stream-legal as-is); ``keep_score``
    additionally retains a ``max_cos`` column, which the batch wrapper
    does not expose. Equals the batch operator under ``availableNow``
    (test-pinned).

    .. note:: ``max_bench_rows`` default tightened 1,000,000 → 100,000
       in r6 (plus a 512 MiB closure byte budget) — see
       ``operators.decontaminate.semantic_contamination`` for the
       migration note; pass the cap explicitly for larger eval sets."""
    from ..operators.decontaminate import (
        _bench_matrix,
        maxcos_udf,
        semantic_decontaminate,
    )

    if not keep_score:
        return semantic_decontaminate(
            docs,
            benchmark,
            threshold=threshold,
            vector_col=vector_col,
            bench_vector_col=bench_vector_col,
            max_bench_rows=max_bench_rows,
        )
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1]: {threshold}")
    q = _bench_matrix(
        benchmark, bench_vector_col or vector_col, max_bench_rows
    )
    kernel = maxcos_udf(q, threshold)
    scored = docs.withColumn("_s", kernel(F.col(vector_col)))
    kept = scored.where(F.col("_s.n_bench_ge") == 0)
    return kept.withColumn("max_cos", F.col("_s.max_cos")).drop("_s")


def stream_crawl_extract(
    spark,
    path: str,
    glob: str = "*.warc*",
    max_files_per_trigger: int = 16,
    url_dedup: bool = True,
    line_gates: Optional[dict] = None,
    ts_col: Optional[str] = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of the crawl pre-stages (the live-crawl front of
    the q33_q34 'crawl_funnel' composition): stream_warc → HTTP-status
    gate → html_to_text → stateful URL-key dedup → line gates, all
    stream-legal:

    1. WARC record stream (``sources.warc.stream_warc`` — bounded
       micro-batches, malformed regions dropped; the batch reader
       audits them);
    2. keep ``response`` records with HTTP status 200 (map-only
       envelope parse);
    3. extract visible text (``functions.html.html_to_text`` — chained
       codegen'd regexps, zero Python crossings);
    4. URL-key dedup as stateful ``dropDuplicates`` on
       ``md5(normalize_url(url))`` — FIRST ARRIVAL wins (the batch
       ``dedup_by_url`` keeps the lowest id; on an ordered replay the
       two agree — test-pinned). With ``ts_col`` (e.g. a parsed
       ``warc_date``) state is watermark-bounded via
       ``dropDuplicatesWithinWatermark``; rows with a NULL canonical
       key are kept unconditionally, matching the batch rule;
    5. optional FineWeb/Gopher line gates (shared
       ``functions.text.apply_line_gates``).

    What stays batch-only, by design: C4 sentence-span dedup needs
    GLOBAL span occurrence counts — a corpus-level aggregate no
    watermark bounds — so the streaming chain hands survivors to the
    batch ``remove_duplicated_sentence_spans`` at snapshot points.

    Output: ``(doc_uri, url, warc_date, text)`` rows ready for
    ``stream_curate``'s content gates.
    """
    from ..functions.html import html_to_text
    from ..functions.text import apply_line_gates
    from ..operators.domains import normalize_url
    from ..sources.warc import http_body, http_status, stream_warc

    recs = stream_warc(
        spark, path, glob=glob,
        max_files_per_trigger=max_files_per_trigger,
    )
    parsed = recs.where(F.col("warc_type") == "response").select(
        F.col("record_id").alias("doc_uri"),
        F.col("target_uri").alias("url"),
        F.col("warc_date"),
        http_status("content").alias("status"),
        http_body("content").alias("body"),
    )
    txt = (
        parsed.where(F.col("status") == 200)
        .withColumn("text", html_to_text(F.col("body")))
        .drop("status", "body")
    )
    if url_dedup:
        keyed = txt.withColumn(
            "_ukey", F.md5(normalize_url(F.col("url")))
        )
        with_key = keyed.where(F.col("_ukey").isNotNull())
        null_key = keyed.where(F.col("_ukey").isNull())
        if ts_col is not None:
            deduped = with_key.withWatermark(
                ts_col, watermark
            ).dropDuplicatesWithinWatermark(["_ukey"])
        else:
            deduped = with_key.dropDuplicates(["_ukey"])
        txt = deduped.unionByName(null_key).drop("_ukey")
    return apply_line_gates(txt, line_gates, text_col="text")
