"""Deduplication operators (Layer B, training-data pipeline ops).

Five families, each designed for the 100 TB shape:

* exact: fingerprint → hash-aggregate. One shuffle on a 128-bit key,
  map-side partial aggregation; no data movement beyond the key+id.
* MinHash + LSH banding: shingle → minhash signature → band buckets →
  bucket join. Candidates only — never the full pair matrix.
* SimHash: 64-bit near-dup fingerprint; Hamming-adjacent buckets.
* n-gram Jaccard: exact set overlap via an inverted shingle index
  (explode + self-join on shingle + count) — relational, no UDF.
* Embedding cosine near-dup: exact pair scoring over LSH candidates.

All hot paths are built-in expressions; the only configurable hash is
``xxhash64`` (fast, JVM) vs ``md5`` (portable: any SQL oracle reproduces
it bit-for-bit — used by the correctness gate).
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import index_store
from ..fs import join
from ..functions.text import doc_fingerprint, normalize_ws, words
from ..functions.vector import cosine_from_norms, l2_norm
from ..parallel import widen


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id representative of each normalized-content group.

    groupBy(fingerprint).min(id) + semi-join back: two narrow shuffles on
    (hash, id) pairs only; document payloads never shuffle.
    """
    fp = df.select(
        F.col(id_col), doc_fingerprint(F.col(text_col)).alias("_fp")
    )
    keep = fp.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return df.join(keep.select(id_col), on=id_col, how="left_semi")


def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Admit only the genuinely-new rows of an incoming batch: drop rows
    whose content fingerprint already exists in the corpus, and collapse
    in-batch duplicates to their lowest-id representative — the append
    step of a continuously-ingesting pipeline.

    Scale shape: the batch is small next to the corpus (that's what
    makes it a batch), so the corpus NEVER shuffles — it is scanned
    map-side against the **broadcast** batch fingerprint set (semi-join)
    to surface collisions, and only that ≤|batch| collision set comes
    back; the final anti-join against it is again a broadcast. The
    batch-vs-corpus direction of the joins is the whole design: an
    anti-join with the corpus on the build side would broadcast (or
    shuffle) 100 TB.
    """
    bfp = batch.withColumn("_fp", doc_fingerprint(F.col(text_col)))
    first_in_batch = bfp.withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy("_fp").orderBy(F.col(id_col))
        ),
    ).where(F.col("_rk") == 1)
    batch_fps = bfp.select("_fp").distinct()
    collisions = (
        corpus.select(doc_fingerprint(F.col(text_col)).alias("_fp"))
        .join(F.broadcast(batch_fps), "_fp", "left_semi")
        .distinct()
    )
    return (
        first_in_batch.join(F.broadcast(collisions), "_fp", "left_anti")
        .drop("_fp", "_rk")
    )


def exact_dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Duplicate groups: fingerprint, member count, representative id."""
    return (
        df.select(doc_fingerprint(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min(id_col).alias("representative"),
        )
        .where(F.col("n_members") > 1)
    )


# ---------------------------------------------------------------------------
# Shingling + MinHash
# ---------------------------------------------------------------------------


def normalized_text(text: Column) -> Column:
    """Dedup normalization: lowercase, collapse and strip whitespace."""
    return normalize_ws(F.lower(text))


def char_shingles(text: Column, k: int = 5) -> Column:
    """Distinct character k-shingles of the normalized text, as an array —
    pure built-ins (sequence + transform + substring), evaluated JVM-side.

    PERFORMANCE NOTE: pass an already-materialized *attribute* column
    (see ``_norm_shingled``) when the input needs normalization. An inline
    normalization expression ends up inside the transform lambda and is
    re-evaluated once per element — a ~500× regex blowup measured at sf0.1.
    """
    norm = normalized_text(text)
    n = F.length(norm)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.substring(norm, i, k))
    )


def _norm_shingled(
    df: DataFrame, text_col: str, id_col: str, k: int, distinct: bool = True
) -> DataFrame:
    """id → exploded shingles, normalization and char-split each computed
    once per row as attribute columns (each referenced twice downstream,
    so CollapseProject keeps both barriers).

    Shingles come from ``slice`` over the char array, not ``substring``
    over the string: substring(s, i, k) re-scans the string prefix per
    call (O(len²) per document); array slice is O(k) — measured 3x faster
    at sf0.1.

    ``distinct=False`` skips array_distinct — correct wherever the
    consumer is dedup-insensitive (MIN over a multiset equals MIN over
    its set), saving a hash-set pass per row."""
    norm = df.select(
        F.col(id_col), normalized_text(F.col(text_col)).alias("_norm")
    )
    chars = norm.select(
        F.col(id_col),
        F.split(F.col("_norm"), "").alias("_ch"),
        F.length(F.col("_norm")).alias("_n"),
    )
    idx = F.sequence(
        F.lit(1), F.greatest(F.col("_n") - F.lit(k - 1), F.lit(1))
    )
    sh = F.transform(
        idx, lambda i: F.array_join(F.slice(F.col("_ch"), i, k), "")
    )
    if distinct:
        sh = F.array_distinct(sh)
    # explode_OUTER + null filter, NOT plain explode: Catalyst's
    # InferFiltersFromGenerate (skipped for outer generates) would infer
    # size(<array>)>0 and push it below any exchange with the whole
    # shingle expression inlined — re-tokenizing every row a second time
    # in the narrow pre-shuffle stage. Row-set is identical: plain
    # explode drops empty/null arrays, outer emits one null we drop.
    return chars.select(
        F.col(id_col), F.explode_outer(sh).alias("shingle")
    ).where(F.col("shingle").isNotNull())


def _rolling_hashed(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """id → exploded NUMERIC k-gram hashes — the minhash fast path.

    Instead of materializing shingle *strings* (array_join over a char
    slice, one string alloc per window) and hashing them, each window folds
    a base-257 polynomial over the char codes read in place with
    ``get``: 5 array lookups + 4 multiply-adds per window, zero
    allocations, all inside whole-stage codegen. For codepoints < 257
    (normalized ASCII text) the polynomial is injective over the k-gram,
    so it is strictly better-distributed than a truncated string hash.
    Measured at sf0.1: explode 3.3s → 1.1s vs the string path.

    Windows are padded with 0 past the end (short docs hash their whole
    text); the final ``% _MERSENNE31`` keeps every downstream affine
    product below 2^62 (ANSI overflow bound).
    """
    B = 257
    norm = df.select(
        F.col(id_col), normalized_text(F.col(text_col)).alias("_norm")
    )
    codes = norm.select(
        F.col(id_col),
        F.transform(F.split(F.col("_norm"), ""), lambda c: F.ascii(c)).alias(
            "_c"
        ),
        F.length(F.col("_norm")).alias("_n"),
    )
    idx = F.sequence(
        F.lit(0), F.greatest(F.col("_n") - F.lit(k), F.lit(0))
    )

    def window_hash(i: Column) -> Column:
        # modulus applied PER STEP, not once at the end: the end-only
        # form overflows long under ANSI at k >= 8 (2^21-max code
        # points x 257^(k-1)) and killed the job; per-step reduction is
        # congruent mod p, so every k <= 7 value — and thus every
        # existing oracle hash — is unchanged, while any k is now safe
        # (h < 2^31 entering each step, h*257 + c < 2^40).
        h = F.coalesce(F.get(F.col("_c"), i), F.lit(0)).cast("long")
        for j in range(1, k):
            h = (
                h * F.lit(B)
                + F.coalesce(
                    F.get(F.col("_c"), i + F.lit(j)), F.lit(0)
                )
            ) % F.lit(_MERSENNE31)
        return h % F.lit(_MERSENNE31)

    # outer + null filter: see _norm_shingled on InferFiltersFromGenerate.
    return codes.select(
        F.col(id_col),
        F.explode_outer(F.transform(idx, window_hash)).alias("_h"),
    ).where(F.col("_h").isNotNull())


# Affine universal-hash family for the xxhash64 fast path: a 32-bit base
# hash permuted as (a*h + b) mod p per minhash slot. Keeps every product
# below 2^62 (ANSI mode rejects long overflow) while only hashing each
# shingle ONCE regardless of num_hashes — the textbook Carter-Wegman trick.
_MERSENNE31 = 2147483647  # 2^31 - 1

# Widest OPH signature the single-groupBy conditional-MIN form may use:
# its aggregate row has num_hashes buffers + the key, and rows wider
# than spark.sql.codegen.maxFields (default 100) drop whole-stage
# codegen for interpreted evaluation (r13 ADVICE). Above this the
# operator keeps the two-step (doc, bin) aggregation.
_OPH_WIDE_AGG_MAX_BINS = 96


def _affine_params(num_hashes: int, seed: int = 42):
    import numpy as np

    rng = np.random.default_rng(seed)
    a = [int(x) for x in rng.integers(1, 1 << 30, num_hashes)]
    b = [int(x) for x in rng.integers(0, _MERSENNE31, num_hashes)]
    return a, b


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_k: int = 5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """id → minhash signature (array of ``num_hashes`` minima).

    Shape: normalize (once per row) → explode shingles → hash-aggregate
    with ``num_hashes`` MIN buffers. The aggregation is map-side-partial,
    so the shuffle carries one signature row per document — at corpus
    scale this is bounded by doc count, not shingle count.

    ``hash_fn="rolling"``: numeric base-257 k-gram polynomial, no shingle
    string allocation at all (fastest full-permutation path; see
    ``_rolling_hashed``). ``hash_fn="xxhash64"``: one JVM string hash per
    shingle + affine permutations. ``hash_fn="md5"``: per-slot seeded
    md5-hex minima — slower, but bit-reproducible by any SQL engine (the
    oracle path). ``hash_fn="oph"``: one-permutation hashing — each
    shingle is hashed ONCE and binned by ``h % num_hashes``; per-bin
    minima form the signature, empty bins densified by rotation borrowing
    (Shrivastava & Li, ICML'14). ~``num_hashes``× less arithmetic per
    shingle than the permutation paths — the 100 TB minhash path; the
    documented trade is slightly higher signature variance on very short
    documents (where rotation fills many bins).
    """
    # Shingling multiplies work ~len(text)× per input byte: rebalance
    # under-split inputs across cores first (no-op on real corpora).
    df = widen(df, id_col)
    if hash_fn == "oph":
        hashed = _rolling_hashed(df, text_col, id_col, shingle_k)
        # ONE groupBy(id) with num_hashes conditional MIN buffers (bin
        # computed once per shingle row as an attribute): the same
        # per-bin minima as the former groupBy(id, bin) →
        # groupBy(id)+collect_list two-step, minus a whole aggregation
        # pass — map-side partials still collapse the shingle stream,
        # and the shuffle carries ONE row per document instead of
        # ≤ num_hashes (r13 §2.3/§2.4: fewer exchanges, fewer bytes;
        # measured 1.27 s → 0.49 s at sf0.1, signatures bit-identical).
        idxs = F.sequence(F.lit(0), F.lit(num_hashes - 1))
        if num_hashes <= _OPH_WIDE_AGG_MAX_BINS:
            binned = hashed.withColumn("_bin", F.col("_h") % num_hashes)
            aggs = [
                F.min(
                    F.when(F.col("_bin") == i, F.col("_h"))
                ).alias(f"_m{i}")
                for i in range(num_hashes)
            ]
            per_doc = binned.groupBy(id_col).agg(*aggs)
            raw = F.array(*[f"_m{i}" for i in range(num_hashes)])
        else:
            # Above the codegen-friendly width (spark.sql.codegen.
            # maxFields defaults to 100 — a wider aggregate row falls
            # back to interpreted evaluation, regressing the exact path
            # the wide form optimizes; r13 ADVICE): keep the former
            # two-step shape, whose shuffle carries ≤ num_hashes rows
            # per document. Bit-identical signatures either way.
            binned = hashed.groupBy(
                F.col(id_col), (F.col("_h") % num_hashes).alias("_bin")
            ).agg(F.min("_h").alias("_m"))
            per_doc = binned.groupBy(id_col).agg(
                F.map_from_entries(
                    F.collect_list(F.struct("_bin", "_m"))
                ).alias("_mm")
            )
            raw = F.transform(
                idxs, lambda i: F.element_at(F.col("_mm"), i)
            )
        # Rotation densification: an empty bin borrows the next non-empty
        # bin's minimum (cyclically). O(num_hashes²) per DOC — trivial
        # next to the per-shingle work it replaces.
        with_raw = per_doc.withColumn("_raw", raw).withColumn(
            "_dbl", F.concat(F.col("_raw"), F.col("_raw"))
        )
        dense = F.transform(
            idxs,
            lambda i: F.element_at(
                F.filter(
                    F.slice(F.col("_dbl"), i + F.lit(1), num_hashes),
                    lambda x: x.isNotNull(),
                ),
                1,
            ),
        )
        return with_raw.select(
            F.col(id_col), dense.alias("signature")
        )
    if hash_fn in ("rolling", "xxhash64"):
        if hash_fn == "rolling":
            hashed = _rolling_hashed(df, text_col, id_col, shingle_k)
        else:
            # distinct=False: minima are unaffected by duplicate shingles
            sh = _norm_shingled(
                df, text_col, id_col, shingle_k, distinct=False
            )
            h32 = F.xxhash64("shingle").bitwiseAND(F.lit(0xFFFFFFFF))
            hashed = sh.select(F.col(id_col), h32.alias("_h"))
        a, b = _affine_params(num_hashes)
        aggs = [
            F.min(
                (F.col("_h") * F.lit(a[i]) + F.lit(b[i])) % F.lit(_MERSENNE31)
            ).alias(f"_m{i}")
            for i in range(num_hashes)
        ]
        grouped = hashed.groupBy(id_col).agg(*aggs)
    elif hash_fn == "md5":
        # distinct=False: minima are unaffected by duplicate shingles
        sh = _norm_shingled(df, text_col, id_col, shingle_k, distinct=False)
        aggs = [
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(
                f"_m{i}"
            )
            for i in range(num_hashes)
        ]
        grouped = sh.groupBy(id_col).agg(*aggs)
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    return grouped.select(
        F.col(id_col),
        F.array(*[f"_m{i}" for i in range(num_hashes)]).alias("signature"),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing ≥1 LSH band.

    Banding: signature split into ``bands`` rows of ``num_hashes/bands``
    values, hashed to a bucket key; self-join per bucket. The only shuffle
    is on (band, bucket) — the classic MinHash-LSH plan at corpus scale.
    """
    if num_hashes % bands != 0:
        # Silently ignoring the trailing num_hashes % bands signature
        # slots would weaken recall without warning — make the contract
        # explicit instead.
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})"
        )
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_k, hash_fn
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                _band_bucket_md5(b, rows_per_band).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    # outer + null filter: see _norm_shingled on InferFiltersFromGenerate.
    buckets = sigs.select(
        F.col(id_col), F.explode_outer(band_structs).alias("bb")
    ).where(F.col("bb").isNotNull()).select(
        F.col(id_col),
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )
    # Force the sort-merge strategy for the bucket self-join: both sides
    # are the SAME corpus-derived subtree, so a static auto-broadcast
    # (a) risks broadcasting a corpus-scale frame at 100 TB (the r13
    # broadcast-audit rule) and (b) defeats ReuseExchange — the whole
    # signature pipeline executed TWICE, once for the broadcast build
    # and once for the probe. Under SMJ both sides share one shuffle
    # subtree and the signatures are computed exactly once (guide §2.4
    # "two operations keyed the same way share one exchange"; measured
    # 2.33 s → 1.66 s at sf0.1).
    a = buckets.alias("a").hint("merge")
    b = buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col(f"a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard via inverted index (relational, oracle-friendly)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    max_df: Optional[int] = None,
) -> DataFrame:
    """All pairs with exact shingle-set Jaccard ≥ threshold.

    Inverted index: explode shingles → self-join on shingle → count common
    → |A∪B| = |A|+|B|−common. The self-join shuffles on the shingle key,
    which is skew-prone: one stopword-ish shingle appearing in d documents
    contributes d² join rows on a single key. ``max_df`` is the standard
    cap — shingles whose document frequency exceeds it are dropped from
    the inverted index *before* the self-join (set sizes stay exact, so
    reported Jaccard becomes a conservative lower bound; results are
    EXACT whenever no qualifying pair relies on a dropped shingle, and in
    particular whenever no shingle exceeds the cap). At 100 TB this is
    the difference between a bounded shuffle and one hot reducer taking
    the whole corpus.
    """
    sh = _norm_shingled(widen(df, id_col), text_col, id_col, shingle_k)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    if max_df is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") <= max_df)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle", "left_semi")
    # merge hint: self-join of the same shingle subtree — SMJ shares one
    # exchange (shingling runs once, ReuseExchange) and never broadcasts
    # a corpus-derived frame (r13 audit; guide §2.4/§3.1).
    a = sh.alias("a").hint("merge")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a")
    )
    sb = sizes.select(
        F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b")
    )
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash (64-bit near-dup fingerprint)
# ---------------------------------------------------------------------------


def _simhash_md5_udf():
    """token-array → md5-based 64-bit SimHash, one Arrow batch per call.

    Bit semantics identical to the SQL formulation the DuckDB oracle
    runs: hi = first 8 hex chars of md5(token), lo = next 8; vote for
    bit i uses (lo, i) when i < 32 else (hi, i - 32); fingerprint bit set
    iff vote sum > 0, bit 63 contributing the two's-complement min."""
    import hashlib

    import numpy as np
    import pandas as pd

    def kernel(tok_arrays):
        out = np.empty(len(tok_arrays), dtype=np.int64)
        for row, toks in enumerate(tok_arrays):
            if toks is None or len(toks) == 0:
                out[row] = 0
                continue
            hexes = [hashlib.md5(t.encode("utf-8")).hexdigest() for t in toks]
            hi = np.array([int(h[:8], 16) for h in hexes], dtype=np.uint64)
            lo = np.array([int(h[8:16], 16) for h in hexes], dtype=np.uint64)
            # bits 0..31 from lo, 32..63 from hi
            full = (hi << np.uint64(32)) | lo
            bits = (
                full[:, None] >> np.arange(64, dtype=np.uint64)[None, :]
            ) & np.uint64(1)
            votes = 2 * bits.astype(np.int64).sum(axis=0) - len(toks)
            sign = votes > 0
            fp = np.uint64(0)
            for i in np.nonzero(sign)[0]:
                fp |= np.uint64(1) << np.uint64(i)
            out[row] = np.int64(fp.astype(np.int64))
        return pd.Series(out)

    from pyspark.sql.types import LongType

    return F.pandas_udf(kernel, LongType())


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash over whitespace tokens, entirely in built-ins:

    token → 64-bit hash → per-bit ±1 votes → element-wise sum across
    tokens (aggregate+zip_with) → sign bits reassembled into one bigint.
    Map-only; no shuffle.

    ``hash_fn="xxhash64"``: one JVM hash per token, votes accumulated
    in-row via aggregate+zip_with — map-only, no shuffle (fast path).
    ``hash_fn="md5"``: the 64 bits come from two 32-bit halves of the
    md5 hex digest — bit-reproducible by any SQL engine (the oracle
    path; DuckDB twin parses the same hex with ``CAST('0x...' AS
    BIGINT)``). This path runs as ONE Arrow-batched kernel (hashlib md5
    + NumPy bit-unpack per batch): still map-only/no-shuffle, and the
    plan is a single Python node. The equivalent built-in tree (64
    SUM(CASE) aggregates, or a 64-wide zip_with accumulator) spends ~10 s
    in analysis/codegen alone at ANY data size — per-query compile cost
    that dwarfs execution; measured warm execution of both shapes is
    ~0.1 s at sf0.01.
    """
    df = widen(df, id_col)
    toks = F.array_distinct(words(F.lower(F.col(text_col))))
    if hash_fn == "md5":
        return df.select(
            F.col(id_col), _simhash_md5_udf()(toks).alias("simhash")
        )
    if hash_fn != "xxhash64":
        raise ValueError(f"unknown hash_fn: {hash_fn}")

    tok_hashes = F.transform(toks, lambda t: F.xxhash64(t))

    def bit_vote(h: Column, i: int) -> Column:
        # Bit masks must be Python literals (shift amount can't be a
        # Column); bit 63 is the sign bit of the signed long.
        if i == 63:
            set_ = h < 0
        else:
            set_ = h.bitwiseAND(F.lit(1 << i)) != 0
        return F.when(set_, F.lit(1)).otherwise(F.lit(-1))

    # votes[i] = sum over tokens of (bit i set ? +1 : -1); one pass via
    # element-wise zip_with accumulation.
    zero = F.array_repeat(F.lit(0), 64)
    votes = F.aggregate(
        tok_hashes,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[bit_vote(h, i) for i in range(64)]),
            lambda a, v: a + v,
        ),
    )
    # Reassemble sign bits into one signed 64-bit fingerprint. Bit 63's
    # contribution is the long's min value (two's complement).
    contributions = [
        F.when(votes[i] > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0))
        for i in range(63)
    ] + [
        F.when(votes[63] > 0, F.lit(-(1 << 63)).cast("long")).otherwise(
            F.lit(0)
        )
    ]
    fingerprint = sum(contributions[1:], contributions[0])
    return df.select(F.col(id_col), fingerprint.cast("long").alias("simhash"))


# ---------------------------------------------------------------------------
# Embedding near-dup
# ---------------------------------------------------------------------------


def embedding_lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    bands: int = 16,
    bits: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Candidate (id_a < id_b) pairs sharing ≥1 random-hyperplane band —
    the self-join twin of ann_lsh_topk's doc/query bucketing. Feeds
    ``embedding_neardup_pairs(candidates=...)`` so the exact cosine pass
    touches candidates only instead of the O(N²) pair matrix.
    """
    import numpy as np

    from .search import _band_signature_udf

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((bands * bits, dim))
    sig_udf = _band_signature_udf(planes, bands, bits)
    # No widen(): signature is one matmul row per vector, not multiplied
    # work — the repartition shuffle never earns itself back (r2 bench).
    sigs = df.select(
        F.col(id_col), sig_udf(F.col(vector_col)).alias("_sigs")
    )
    # outer + null filter: a non-outer generate would let Catalyst infer
    # size(_sigs)>0 and re-evaluate the signature UDF a second time for
    # the filter (see _norm_shingled).
    buckets = sigs.select(
        F.col(id_col), F.posexplode_outer("_sigs").alias("band", "sig")
    ).where(F.col("sig").isNotNull())
    # merge hint: both sides re-derive the signature UDF — SMJ shares
    # one exchange so the matmul kernel runs once (r13 audit; §2.4).
    a, b = buckets.alias("a").hint("merge"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_srp_band_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    bands: int = 16,
    bits: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Candidate (id_a < id_b) pairs sharing ≥1 PORTABLE sign-random-
    projection band. Same banding shape as
    ``embedding_lsh_candidate_pairs`` but the hyperplanes are the repo's
    engine-portable ±1 md5-parity matrix (``rproject.sign_matrix``)
    instead of an opaque numpy Gaussian draw — so a SQL oracle can
    reconstruct the EXACT projections, signatures, and candidate set,
    and the whole banding pipeline (not just the rescored output) sits
    inside the hash gate. Added in r13 after the sf1 sweep caught the
    un-replayable variant's statistical recall miss (a fixture pair at
    cosine 0.9564 missed by all 16 bands — probability ~7e-5, but the
    'oracle equals exact brute force' premise cannot survive data with
    natural pairs between threshold and ~1.0; with the band structure
    REPLAYED in the oracle, the contract is exact at every SF).
    """
    from .rproject import project_vectors

    out_dim = bands * bits
    proj = project_vectors(
        df.select(id_col, vector_col),
        vector_col, dim, out_dim, seed, out_col="__p",
    )
    # pack each band's `bits` sign bits into one BIGINT signature,
    # JVM-side (one transform over the projected array; ties p == 0
    # count as bit set, matching srp_cells)
    sig = F.expr(
        f"transform(sequence(0, {bands - 1}), b ->"
        f" aggregate(sequence(0, {bits - 1}), CAST(0 AS BIGINT),"
        f" (acc, j) -> acc + IF(element_at(__p, b * {bits} + j + 1)"
        " >= CAST(0 AS DOUBLE),"
        " shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT))))"
    )
    sigs = proj.select(F.col(id_col), sig.alias("_sigs"))
    buckets = sigs.select(
        F.col(id_col), F.posexplode_outer("_sigs").alias("band", "sig")
    ).where(F.col("sig").isNotNull())
    # merge hint: same shared-exchange rationale as
    # embedding_lsh_candidate_pairs above (projection runs once).
    a, b = buckets.alias("a").hint("merge"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    candidates: Optional[DataFrame] = None,
) -> DataFrame:
    """Pairs of rows with cosine ≥ threshold.

    With ``candidates`` (e.g. from LSH banding) the scoring join touches
    candidate pairs only — the scale path. Without it, an O(N²/2) self
    crossJoin: correct at test scale, the oracle twin of the LSH path.

    Norms are computed once per ROW before the pair join (guide §2.3:
    per-pair work drops from three interpreted 64-element folds — dot
    + both norms — to one).
    """
    left = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vector_col).alias("_va"),
        l2_norm(vector_col).alias("_na"),
    )
    right = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vector_col).alias("_vb"),
        l2_norm(vector_col).alias("_nb"),
    )
    if candidates is not None:
        pairs = candidates.join(left, "id_a").join(right, "id_b")
    else:
        pairs = left.crossJoin(right).where(F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn(
            "cosine", cosine_from_norms("_va", "_vb", "_na", "_nb")
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# Persisted MinHash index: incremental NEAR-dup for streaming/batch ingest
# ---------------------------------------------------------------------------

def _band_bucket_md5(b: int, rows_per_band: int) -> Column:
    """md5 bucket of band ``b``'s signature slice — the ONE band-
    bucketing expression shared by the in-plan candidates
    (``minhash_lsh_candidates``) and the persisted index
    (``_band_keys``). A separator or cast tweak to one copy would
    silently desynchronize index probes from in-plan candidates; this
    helper is why there is only one copy (r10 review)."""
    return F.md5(
        F.concat_ws(
            ",",
            *[
                F.col("signature")[b * rows_per_band + r].cast("string")
                for r in range(rows_per_band)
            ],
        )
    )


def _band_keys(
    sigs: DataFrame, num_hashes: int, bands: int, id_col: str
) -> DataFrame:
    """Signatures → ``(id, bb)`` where ``bb = '<band>:<md5-of-slice>'``.

    One combined key column (instead of (band, bucket)) so a probe can
    push a single-column literal ``bb IN (...)`` into a bb-sorted
    parquet scan — the same row-group-skipping trick as the BM25
    term-sorted postings and the LSH band/sig layout.
    """
    rows_per_band = num_hashes // bands
    keys = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(b),
                _band_bucket_md5(b, rows_per_band),
            )
            for b in range(bands)
        ]
    )
    return (
        sigs.select(F.col(id_col), F.explode_outer(keys).alias("bb"))
        .where(F.col("bb").isNotNull())
    )


def build_minhash_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    hash_fn: str = "xxhash64",
) -> None:
    """Persist the corpus's MinHash state — the offline half of
    incremental NEAR-dup ingestion (the text-similarity analogue of
    ``incremental_dedup``'s exact-fingerprint store).

    Layout:

    * ``bands/`` — ``(bb, id)`` range-partitioned and sorted by ``bb``
      (band:bucket key): a probe batch's keys push as one literal IN
      filter and row-group min/max skipping serves them;
    * ``signatures/`` — ``(id, signature)``: candidate verification by
      signature-slot agreement needs NO access to the original text —
      the index is self-contained and ~num_hashes longs per doc;
    * sidecar JSON — the (num_hashes, bands, shingle_k, hash_fn,
      id_col) recipe, so probes sign batches identically.

    Build cost: one signature pass + a sorted rewrite of bands·N
    three-scalar rows. Appending a deduplicated batch = append its
    rows to both tables (parquet append, no rewrite).
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})"
        )
    sigs = minhash_signatures(
        docs, text_col, id_col, num_hashes, shingle_k, hash_fn
    )
    sigs.persist()
    try:
        # the two concurrent table writes share the persisted signature
        # frame: each partition is computed once (the second job's
        # tasks block on the block lock, then read)
        band_keys = _band_keys(sigs, num_hashes, bands, id_col)
        index_store.save(
            path,
            "minhash",
            {
                "num_hashes": num_hashes,
                "bands": bands,
                "shingle_k": shingle_k,
                "hash_fn": hash_fn,
                "id_col": id_col,
            },
            [
                ("bands", band_keys, ("range", "bb")),
                ("signatures", sigs, None),
            ],
        )
    finally:
        sigs.unpersist()


def minhash_index_neardup(
    spark,
    path: str,
    batch: DataFrame,
    threshold: float = 0.7,
    text_col: str = "text",
    batch_id_col: str = "batch_id",
    max_literal_keys: int = 1000,
    persist_batch: bool = True,
    _persisted: Optional[list] = None,
) -> DataFrame:
    """Near-dup check of an ingest batch against a persisted
    ``build_minhash_index`` — the corpus is never re-signed, re-scanned
    in full, or shuffled.

    Returns ``(batch_id, index_id, est_jaccard)`` for pairs sharing ≥ 1
    LSH band with ``est_jaccard`` (signature-slot agreement — the
    standard unbiased Jaccard estimate) ≥ ``threshold``.

    Plan: the batch signs itself distributed (it may be large); its
    distinct band keys either push into the bb-sorted band scan as one
    literal IN (small batches — row-group skipping) or broadcast-join
    it (large batches — the index still never shuffles). Candidate ids
    then broadcast into the signature table scan, and verification is a
    ``zip_with`` slot-agreement fold over candidate pairs only.
    """
    if not 0.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be in [0, 1]: {threshold}")
    meta = index_store.load(spark, path, "minhash")
    num_hashes, bands = int(meta["num_hashes"]), int(meta["bands"])
    id_col = meta["id_col"]

    bsigs = minhash_signatures(
        batch,
        text_col,
        batch_id_col,
        num_hashes,
        int(meta["shingle_k"]),
        meta["hash_fn"],
    )
    if persist_batch:
        # The signatures feed the key-collect probe AND the verify join;
        # persisting avoids re-shingling the batch. The returned frame
        # is lazy, so this function cannot unpersist itself — use
        # ``minhash_probe_session`` in per-micro-batch ingest loops (it
        # unpersists on exit), or pass persist_batch=False. ``_persisted``
        # is the session wrapper's hook to take ownership of the cache.
        bsigs.persist()
        if _persisted is not None:
            _persisted.append(bsigs)
    bkeys = _band_keys(bsigs, num_hashes, bands, batch_id_col)

    index_bands = spark.read.parquet(join(path, "bands"))
    distinct_keys = [r.bb for r in bkeys.select("bb").distinct().limit(
        max_literal_keys + 1
    ).collect()]
    if len(distinct_keys) <= max_literal_keys:
        # literal IN pushes into the bb-sorted scan (row-group skipping)
        index_hits = index_bands.where(F.col("bb").isin(distinct_keys))
    else:
        index_hits = index_bands.join(
            F.broadcast(bkeys.select("bb").distinct()), "bb", "left_semi"
        )
    pairs = (
        bkeys.join(
            index_hits.withColumnRenamed(id_col, "index_id"), "bb"
        )
        .select(batch_id_col, "index_id")
        .distinct()
    )
    if persist_batch:
        # `pairs` feeds THREE subtrees below (two broadcast semi-join
        # builds + the verify join) whose differing projections defeat
        # exchange reuse — without a persist the band scan (with its
        # pushed literal-IN) and the candidate join execute three times
        # per probe (r14, guide §5). Query-proportional by construction;
        # same cache-ownership contract as bsigs above.
        pairs.persist()
        if _persisted is not None:
            _persisted.append(pairs)

    # verification: slot agreement over candidate pairs only — BOTH
    # signature tables restricted by broadcast semi-joins on candidate
    # ids (candidates are query-proportional; the raw batch may not be)
    isigs = spark.read.parquet(join(path, "signatures")).select(
        F.col(id_col).alias("index_id"), F.col("signature").alias("_is")
    )
    isigs = isigs.join(
        F.broadcast(pairs.select("index_id").distinct()),
        "index_id",
        "left_semi",
    )
    bsigs_hit = bsigs.withColumnRenamed("signature", "_bs").join(
        F.broadcast(pairs.select(batch_id_col).distinct()),
        batch_id_col,
        "left_semi",
    )
    agree = (
        # no forced broadcast of bsigs_hit: it is bounded only by the
        # BATCH size (every batch row with >= 1 band collision survives
        # the semi-join — the common case for crawl re-ingestion), and
        # forcing it past autoBroadcastJoinThreshold onto the driver is
        # an OOM at exactly the batch sizes this path targets. Left to
        # AQE, which broadcasts when it really is small (r10 review).
        pairs.join(bsigs_hit, batch_id_col)
        .join(isigs, "index_id")
        .select(
            batch_id_col,
            "index_id",
            (
                F.aggregate(
                    F.zip_with(
                        "_bs", "_is",
                        lambda a, b: F.when(a == b, 1).otherwise(0),
                    ),
                    F.lit(0),
                    lambda acc, x: acc + x,
                ).cast("double")
                / F.lit(float(num_hashes))
            ).alias("est_jaccard"),
        )
    )
    out = agree.where(F.col("est_jaccard") >= F.lit(float(threshold))).select(
        batch_id_col, "index_id", F.round("est_jaccard", 6).alias("est_jaccard")
    )
    return out


@contextmanager
def minhash_probe_session(
    spark,
    path: str,
    batch: DataFrame,
    **kwargs,
):
    """Footgun-free ``minhash_index_neardup`` for micro-batch ingest
    loops (VERDICT r6 item 5): the probe's batch-signature cache is
    unpersisted when the block exits, so an N-batch loop holds at most
    ONE batch's signatures in storage memory instead of accumulating N
    caches until LRU eviction.

    ::

        for batch in micro_batches:
            with minhash_probe_session(spark, idx, batch) as dupes:
                admit(batch, dupes.collect())

    Consume the yielded frame INSIDE the block — after exit its cache is
    gone and any further action re-signs the batch (correct, just not
    cached). Accepts every ``minhash_index_neardup`` keyword."""
    holder: list = []
    out = minhash_index_neardup(
        spark, path, batch, _persisted=holder, **kwargs
    )
    try:
        yield out
    finally:
        for cached in holder:
            cached.unpersist()
