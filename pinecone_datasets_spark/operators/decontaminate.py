"""Benchmark decontamination: flag corpus documents that share word
n-grams with an evaluation/benchmark set.

The standard pre-training hygiene pass (the reference corpus must not
contain the eval set): shingle both sides into word n-grams, intersect,
and score each document by how much of it overlaps the benchmark.

Scale shape — **zero corpus-scale shuffles**:

* The benchmark side is tiny next to the corpus (eval sets are 10^3-10^6
  n-grams). Its distinct n-gram set is **broadcast**; the corpus-side
  explode → probe is map-only.
* Only matching (doc, n-gram) rows — a sliver — enter the hit-count
  ``groupBy``; the aggregated hit counts are again small and broadcast
  back onto the per-doc stats, so the corpus itself never crosses an
  exchange.
* For very large benchmarks, ``join_on_hash=True`` broadcasts 64-bit
  ``xxhash64`` values instead of n-gram strings (~10× smaller; collision
  false-positive odds ~n²/2^64 — acceptable for a removal gate).

Normalization matches ``operators/terms.py`` (lowercase, trim, split on
whitespace runs, drop empty tokens) so the q48 DuckDB oracle reproduces
the n-grams exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import words
from ..functions.vector import unit_rows


def _ngrams_of(toks: Column, n: int) -> Column:
    """Distinct space-joined n-grams of an already-computed word array.
    Documents shorter than n words yield an empty array (Spark's
    ``sequence(1, 0)`` counts *down*, so the short side must be guarded
    explicitly — DuckDB's ``generate_series(1, 0)`` is empty).

    ``toks`` should be an *attribute column* in any corpus-scale plan:
    the lambda references it once per element, and Catalyst does not CSE
    into higher-order-function lambdas — an inlined split-words
    expression re-tokenizes the text per n-gram (O(tokens²) per doc,
    measured 22.8 s vs 2 s at sf0.1)."""
    if n < 1:
        raise ValueError(f"n must be >= 1: {n}")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(
            F.array().cast("array<string>")
        )
    )


def word_ngrams(text_col: str, n: int) -> Column:
    """Array of distinct word n-grams straight from a text column — for
    expression contexts and small inputs. Corpus-scale callers go
    through ``ngram_contamination``, which materializes the word array
    first (see ``_ngrams_of``)."""
    return _ngrams_of(words(F.lower(F.col(text_col))), n)


def _grams_table(
    df, text_col: str, n: int, *keep: str
):
    """(keep..., _grams) with the word array materialized as an
    attribute column between tokenization and gram-building."""
    tok_df = df.select(
        *keep, words(F.lower(F.col(text_col))).alias("_w")
    )
    return tok_df.select(
        *keep, _ngrams_of(F.col("_w"), n).alias("_grams")
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    join_on_hash: bool = False,
) -> DataFrame:
    """Per-document contamination stats against the benchmark:
    ``(id, n_doc_ngrams, n_hit_ngrams, contamination_rate)`` where
    ``contamination_rate = hits / doc ngrams`` (0 when the document has
    no n-grams). Both counts are over *distinct* n-grams per document.
    """
    from ..parallel import widen

    corpus = widen(corpus, id_col)
    grams = _grams_table(corpus, text_col, n, id_col)
    stats = grams.select(
        id_col, F.size("_grams").cast("long").alias("n_doc_ngrams")
    )
    # outer + null filter, NOT plain explode: InferFiltersFromGenerate
    # (skipped for outer generates) would push size(_grams)>0 below the
    # widen exchange with the whole n-gram expression inlined — the
    # entire gram build would run twice, single-task (measured 7.5 s vs
    # 1.8 s at sf0.1).
    exploded = grams.select(
        id_col, F.explode_outer("_grams").alias("_ngram")
    ).where(F.col("_ngram").isNotNull())
    bench_set = (
        _grams_table(benchmark, bench_text_col, n)
        .select(F.explode_outer("_grams").alias("_ngram"))
        .where(F.col("_ngram").isNotNull())
        .distinct()
    )
    if join_on_hash:
        exploded = exploded.select(
            id_col, F.xxhash64("_ngram").alias("_ngram")
        )
        bench_set = bench_set.select(F.xxhash64("_ngram").alias("_ngram"))
    hits = (
        exploded.join(F.broadcast(bench_set), "_ngram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit_ngrams"))
    )
    # no forced broadcast of hits: it is one row per CONTAMINATED doc,
    # unbounded by construction — with default n=3 a large fraction of
    # any web corpus matches common benchmark 3-grams, and a forced
    # broadcast would hit the 8 GB limit / OOM the driver at scale; AQE
    # broadcasts when it really is small (r11 review)
    out = stats.join(hits, id_col, "left").select(
        id_col,
        "n_doc_ngrams",
        F.coalesce("n_hit_ngrams", F.lit(0)).cast("long").alias(
            "n_hit_ngrams"
        ),
    )
    return out.withColumn(
        "contamination_rate",
        F.when(
            F.col("n_doc_ngrams") > 0,
            F.round(
                F.col("n_hit_ngrams") / F.col("n_doc_ngrams"), 6
            ),
        ).otherwise(F.lit(0.0)),
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    max_rate: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    join_on_hash: bool = False,
) -> DataFrame:
    """Corpus minus contaminated documents: keep a document iff its
    contamination_rate is <= ``max_rate`` (default 0 — any shared n-gram
    removes it). Anti-join on the small flagged-id set (broadcast)."""
    flagged = ngram_contamination(
        corpus,
        benchmark,
        n=n,
        text_col=text_col,
        id_col=id_col,
        bench_text_col=bench_text_col,
        join_on_hash=join_on_hash,
    ).where(F.col("contamination_rate") > max_rate)
    # flagged is unbounded for the same reason as hits above — let AQE
    # pick broadcast-anti when the flagged slice is genuinely small
    return corpus.join(flagged.select(id_col), id_col, "left_anti")


#: Byte budget for the collected benchmark matrix. The matrix lives in
#: the pandas_udf closure, so it is pickled to EVERY executor — a row
#: cap alone does not bound memory (100k rows x 1536 dims x 8 B is
#: already ~1.2 GB). rows x dim x 8 must also fit (ADVICE r5).
_MAX_BENCH_BYTES = 512 * 1024 * 1024


def _bench_matrix(
    benchmark: DataFrame,
    vector_col: str,
    max_bench_rows: int,
    max_bench_bytes: int = _MAX_BENCH_BYTES,
):
    """Collect the benchmark embeddings to one bounded ndarray. Eval
    sets are small BY DEFINITION (10^3-10^5 rows); anything larger is a
    caller bug, so over-size fails loudly instead of OOMing the driver
    (same policy as ivf.py's bounded training sample). Bounded on BOTH
    axes: row count AND float64 bytes (rows x dim x 8) — wide embedding
    columns blow the byte budget long before the row cap."""
    rows = (
        benchmark.select(vector_col)
        .where(F.col(vector_col).isNotNull())
        .limit(int(max_bench_rows) + 1)
        .collect()
    )
    if len(rows) > max_bench_rows:
        raise ValueError(
            f"semantic contamination: benchmark exceeds max_bench_rows="
            f"{max_bench_rows}; eval sets should be small — raise the "
            "cap explicitly if this is intentional"
        )
    if not rows:
        raise ValueError(
            "semantic contamination: benchmark has no non-null vectors"
        )
    est = len(rows) * len(rows[0][0]) * 8
    if est > max_bench_bytes:
        raise ValueError(
            f"semantic contamination: benchmark matrix would be ~{est} "
            f"bytes (rows x dim x 8) > max_bench_bytes={max_bench_bytes}"
            "; it is shipped in the UDF closure to every executor — "
            "shrink the eval set or raise the byte budget explicitly"
        )
    return np.asarray([r[0] for r in rows], dtype=np.float64)


def maxcos_udf(bench_matrix, threshold: float):
    """Arrow kernel: vector column -> ``struct<max_cos double,
    n_bench_ge long>`` against the (raw, unnormalized) benchmark matrix
    — one normalized float64 GEMM per batch, reduction in-kernel.
    Shared by the batch operators below (whose exchange-free plans are
    also stream-legal) and ``streaming/curate.py:semantic_gate``'s
    score-retaining variant."""
    q = np.asarray(bench_matrix, dtype=np.float64)
    qn = unit_rows(q)
    thr = float(threshold)

    dim = q.shape[1]

    @F.pandas_udf("struct<max_cos: double, n_bench_ge: long>")
    def kernel(vecs):  # type: ignore[no-untyped-def]
        n = len(vecs)
        if n == 0:
            return pd.DataFrame({"max_cos": [], "n_bench_ge": []})
        # NULL/empty vectors score 0 against everything (same contract
        # as lateinteraction's empty-token queries) instead of crashing
        # the batch on a ragged asarray.
        mats = []
        for v in vecs:
            if v is None or len(v) == 0:
                mats.append(None)
            elif len(v) != dim:
                # wrong width is a data bug, not an empty row — fail loud
                raise ValueError(
                    f"semantic contamination: corpus vector of dim "
                    f"{len(v)} vs benchmark dim {dim}"
                )
            else:
                mats.append(np.asarray(v, dtype=np.float64))
        keep = np.array([m is not None for m in mats])
        max_cos = np.zeros(n, dtype=np.float64)
        n_ge = np.zeros(n, dtype=np.int64)
        if keep.any():
            m = np.asarray([m for m in mats if m is not None])
            sims = unit_rows(m) @ qn.T  # (kept, B)
            max_cos[keep] = sims.max(axis=1)
            n_ge[keep] = (sims >= thr).sum(axis=1).astype("int64")
        return pd.DataFrame({"max_cos": max_cos, "n_bench_ge": n_ge})

    return kernel


def semantic_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    bench_vector_col: str | None = None,
    max_bench_rows: int = 100_000,
    keep_columns: bool = False,
) -> DataFrame:
    """Per-corpus-row contamination against a benchmark *embedding* set:
    ``(id, max_cos, n_bench_ge, is_contaminated)`` where ``max_cos`` is
    the max cosine against any benchmark vector and ``n_bench_ge``
    counts benchmark vectors at cosine >= ``threshold``.

    The embedding-space analogue of ``ngram_contamination`` — catches
    paraphrased/translated eval leakage that shares no exact n-gram
    (Yang et al. 2023, "Rethinking Benchmark and Contamination").

    Scale shape — **map-only, zero shuffles**: the benchmark matrix
    rides in the UDF closure (bounded by ``max_bench_rows``, fail-loud),
    each Arrow batch scores with ONE normalized GEMM against it, and the
    per-row reduction (max + count) happens inside the kernel, so only
    two scalars per corpus row leave Python. Cosine math is float64
    regardless of the stored vector width (cast both twins to double —
    float32 engine paths differ past ~7 significant digits).

    ``keep_columns=True`` switches the output to the DECONTAMINATED
    corpus (rows with ``n_bench_ge == 0``, original columns) — the
    filter rides the scoring pass, one scan, no join.

    .. note:: **Breaking default change (r6)** — ``max_bench_rows``
       tightened from 1,000,000 to 100,000 and a 512 MiB byte budget
       (rows × dim × 8) was added, here and in
       ``streaming.curate.semantic_gate``. Callers with 100k–1M-row
       benchmark sets that previously worked now raise ``ValueError``;
       pass ``max_bench_rows`` (and see ``_MAX_BENCH_BYTES``)
       explicitly if the larger closure is intentional.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1]: {threshold}")
    q = _bench_matrix(
        benchmark, bench_vector_col or vector_col, max_bench_rows
    )
    kernel = maxcos_udf(q, threshold)
    # no widen() here: Catalyst pushes this deterministic projection
    # BELOW a repartition, so widening cannot parallelize the kernel —
    # it would only add an exchange that shuffles the full scored
    # output for nothing (plan-verified; the scan's split count sets
    # kernel parallelism, which is the right answer at scale).
    scored = corpus.withColumn("_s", kernel(F.col(vector_col)))
    if keep_columns:
        return scored.where(F.col("_s.n_bench_ge") == 0).drop("_s")
    return scored.select(
        id_col,
        F.col("_s.max_cos").alias("max_cos"),
        F.col("_s.n_bench_ge").alias("n_bench_ge"),
        (F.col("_s.n_bench_ge") > 0).alias("is_contaminated"),
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    bench_vector_col: str | None = None,
    max_bench_rows: int = 100_000,
) -> DataFrame:
    """Corpus minus semantically contaminated rows: keep a row iff its
    max cosine against every benchmark vector is < ``threshold``.
    Same map-only shape as ``semantic_contamination`` — the filter
    applies in the scoring pass itself (one scan, no join) and the
    output keeps ``corpus``'s columns unchanged."""
    return semantic_contamination(
        corpus,
        benchmark,
        threshold=threshold,
        id_col=id_col,
        vector_col=vector_col,
        bench_vector_col=bench_vector_col,
        max_bench_rows=max_bench_rows,
        keep_columns=True,
    )
