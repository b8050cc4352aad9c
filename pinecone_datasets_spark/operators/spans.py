"""Exact repeated-substring (span) deduplication.

The ExactSubstr treatment from "Deduplicating Training Data Makes
Language Models Better" (Lee et al., 2022): any token window of length
``window`` that occurs more than once in the corpus — across documents
OR within one — marks a repeated region, and maximal unions of
overlapping repeated windows become *spans* to strip from the training
text. Unlike document-level dedup (operators/dedup.py) this removes
boilerplate chunks embedded in otherwise-unique documents; unlike
``operators/boilerplate.py`` (document-frequency n-grams) it keys on
*exact global repetition*, so a 2-occurrence 300-token license block is
caught even though its DF is far below any boilerplate threshold.

Lee et al. build a corpus-wide suffix array — inherently sequential and
RAM-bound. The Spark-first equivalent keys fixed-length token windows by
hash, which finds every repeat of length >= ``window`` (a repeat of
length m >= window is a run of m - window + 1 repeated windows, merged
back into one span by the gaps-and-islands pass) and misses only
repeats shorter than ``window`` — exactly the tunable floor the paper
also applies (their threshold: 50 BPE tokens).

Relationship to ``operators/boilerplate.py``: ``duplicated_spans`` there
is the *profiling* variant — word-k-gram (k~3-5) positions duplicated
across >= 2 documents, reported as per-doc fractions/run lengths, with
within-doc self-repeats deliberately excluded and the repeated set
derived from a (doc, gram)-string distinct. This module is the
*removal* scale path: global occurrence counts (a license block pasted
twice into ONE file is still toxic repetition), the minimum repeat
length raised to ``window`` (so ordinary short collocations never
trigger removal), explicit span extents, and a hash-keyed count
aggregate whose shuffle carries (64/128-bit hash, partial count) pairs
— no gram strings, no corpus-scale distinct.

Reference scope note: the reference (pinecone-io/pinecone-datasets) is
an I/O library with no text operators; this module is part of the
Layer-B training-pipeline extension (SURVEY.md §2 "beyond the
reference").

Scale shapes (the parts that must survive 100 TB):

* One explode of per-position window hashes (the same O(tokens) row
  blow-up minhash already pays), then ONE hash aggregate with map-side
  partial counts — the shuffle carries (hash, partial_count) pairs, not
  text. Window *strings* never leave the map side: they are hashed in
  the same projection that builds them.
* The repeated-window set is usually a sliver (a window only qualifies
  by having a global twin) but it is CORPUS-DERIVED — a corpus that is
  mostly copies makes it corpus-scale — so the default is a plain
  semi-join and the runtime (AQE) promotes it to broadcast from the
  measured size when it genuinely fits (r13 broadcast audit; the same
  rule as every corpus-derived frame in this package).
  ``broadcast_hits=True`` force-broadcasts for callers who KNOW their
  repeated set is bounded.
* Span merging shuffles only the *flagged* (id, pos) rows, partitioned
  by document id — the classic gaps-and-islands window, O(1) state per
  row in WindowExec.
* ``strip_repeated_spans`` joins the per-doc span lists (tiny vs N)
  back to the corpus and rebuilds text with built-in higher-order
  functions (``filter`` with index + ``concat_ws``) — map-only, no
  Python crossing.

Tokenization matches ``operators/decontaminate.py`` / ``terms.py``
(lowercase, trim, split on whitespace runs, drop empties) so the DuckDB
oracle replays every window bit-for-bit via the md5 hash path;
``hash_fn="xxhash64"`` is the cheaper JVM-only production path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import words


def _position_window_hashes(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int,
    hash_fn: str,
) -> DataFrame:
    """(id, pos, _h): the hash of the ``window``-word slice starting at
    1-based word position ``pos``, one row per position. Documents
    shorter than ``window`` words yield no rows. The gram string exists
    only inside the projection that hashes it."""
    if window < 2:
        raise ValueError(f"window must be >= 2: {window}")
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    from ..parallel import widen

    # The per-position explode multiplies rows ~|tokens|-fold: an
    # under-split input (one small parquet file) would run it serially.
    df = widen(df, id_col)
    tok_df = df.select(
        F.col(id_col), words(F.lower(F.col(text_col))).alias("_w")
    )

    def whash(i: Column) -> Column:
        gram = F.concat_ws(" ", F.slice(F.col("_w"), i, window))
        if hash_fn == "md5":
            return F.md5(gram)
        return F.xxhash64(gram).cast("string")

    grams = tok_df.select(
        F.col(id_col),
        F.when(
            F.size("_w") >= window,
            F.transform(
                F.sequence(F.lit(1), F.size("_w") - (window - 1)), whash
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("_hs"),
    )
    # posexplode_outer + null filter, not plain posexplode: see
    # ngram_contamination on InferFiltersFromGenerate re-running the
    # whole gram build below the exchange.
    return grams.select(
        F.col(id_col), F.posexplode_outer("_hs").alias("_p0", "_h")
    ).where(F.col("_h").isNotNull()).select(
        F.col(id_col), (F.col("_p0") + 1).alias("pos"), "_h"
    )


def repeated_window_positions(
    df: DataFrame,
    window: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
    broadcast_hits: bool = False,
) -> DataFrame:
    """(id, pos) of every word position whose ``window``-word slice
    occurs more than once corpus-wide (self-repeats within one document
    count). The count aggregate sees only (hash, partial_count) pairs;
    the repeated-hash sliver semi-joins back onto the position frame —
    AQE broadcasts it when its measured size fits
    (``broadcast_hits=True`` force-broadcasts a known-bounded set)."""
    pos = _position_window_hashes(df, text_col, id_col, window, hash_fn)
    hits = (
        pos.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > 1)
        .select("_h")
    )
    if broadcast_hits:
        hits = F.broadcast(hits)
    return pos.join(hits, "_h", "left_semi").select(id_col, "pos")


def repeated_spans(
    df: DataFrame,
    window: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
    broadcast_hits: bool = False,
) -> DataFrame:
    """Maximal repeated spans per document:
    ``(id, span_start, span_end, span_tokens)`` in 1-based word
    positions, inclusive. Overlapping and exactly-adjacent repeated
    windows merge (positions p, q belong to one span when
    q <= p + window), so a repeat of any length >= ``window`` surfaces
    as ONE span covering it. Gaps-and-islands over the flagged sliver —
    the only doc-keyed shuffle in the pipeline."""
    flagged = repeated_window_positions(
        df, window, text_col, id_col, hash_fn, broadcast_hits
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(
        F.lag("pos").over(w).isNull()
        | (F.col("pos") > F.lag("pos").over(w) + window),
        F.lit(1),
    ).otherwise(F.lit(0))
    seg = flagged.select(
        id_col,
        "pos",
        F.sum(brk).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("_seg"),
    )
    return (
        seg.groupBy(id_col, "_seg")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (window - 1)).alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
        )
    )


def strip_repeated_spans(
    df: DataFrame,
    window: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
    broadcast_hits: bool = False,
    spans: DataFrame | None = None,
) -> DataFrame:
    """The corpus with every repeated span removed (ALL occurrences, as
    in Lee et al. — the repeated material itself is what's toxic to
    train on): ``(id, <original non-text cols...>, text, n_tokens_kept,
    n_tokens_removed)``. Documents with no repeated spans pass through
    with their ORIGINAL text untouched and ``n_tokens_removed = 0``;
    documents that lost a span get ``text`` rebuilt from the surviving
    word positions of the *normalized* token stream (the
    representation the span indices are defined on — casing/whitespace
    of stripped docs is normalized, untouched docs are verbatim). Pass a
    precomputed ``spans`` frame (``repeated_spans`` output, or any
    (id, span_start, span_end) table) to strip against it instead of
    re-deriving — the span-detect stage is the expensive one, and a
    caller reporting spans AND stripping should build them once."""
    if spans is None:
        spans = repeated_spans(
            df, window, text_col, id_col, hash_fn, broadcast_hits
        )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("_spans")
    )
    passthrough = [c for c in df.columns if c != text_col]
    tok_df = df.select(
        *passthrough,
        F.col(text_col).alias("_orig"),
        words(F.lower(F.col(text_col))).alias("_w"),
    )
    joined = tok_df.join(per_doc, id_col, "left")
    covered = lambda i: F.exists(  # noqa: E731 — 1-based position i
        F.col("_spans"), lambda sp: (sp["s"] <= i) & (i <= sp["e"])
    )
    kept = F.when(
        F.col("_spans").isNull(), F.col("_w")
    ).otherwise(
        F.filter(F.col("_w"), lambda wd, i: ~covered(i + F.lit(1)))
    )
    # span-free docs keep their ORIGINAL text verbatim — the rebuild
    # from normalized words destroyed casing/newlines corpus-wide for
    # the (vast) untouched majority (r11 review). Docs that DID lose a
    # span are rebuilt from the surviving normalized positions, which
    # is the representation the span indices are defined on
    # (documented asymmetry).
    out_text = F.when(
        F.col("_spans").isNull(), F.col("_orig")
    ).otherwise(F.concat_ws(" ", kept))
    return joined.select(
        *passthrough,
        out_text.alias(text_col),
        F.size(kept).cast("long").alias("n_tokens_kept"),
        (F.size("_w") - F.size(kept)).cast("long").alias(
            "n_tokens_removed"
        ),
    )
