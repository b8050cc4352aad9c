"""Corpus-frequent n-gram (boilerplate) detection.

Web-scale training corpora carry boilerplate — cookie banners, nav bars,
license footers — that repeats across thousands of pages. The standard
pipeline treatment (C4, RefinedWeb) is segment-level dedup: find segments
whose *document frequency* exceeds a threshold, then score each document
by how much of it is such repeated material. The fixture corpus has no
newlines, so the segment unit here is the word n-gram; the shape is
identical for lines/sentences (swap the tokenizer).

Reference scope note: the reference (pinecone-io/pinecone-datasets) is an
I/O library with no text operators — this module is part of the Layer-B
training-pipeline extension (SURVEY.md §2's "beyond the reference" set).

Scale shapes (the parts that must survive 100 TB):

* ``frequent_ngrams``: one explode of per-doc *distinct* grams + one
  hash-aggregate on the gram key (map-side partial counts). The DF
  threshold is applied as a relative fraction of the corpus computed
  in-plan (single-row count frame, broadcast by Catalyst) — no driver
  scalar, no second pass over the text.
* ``boilerplate_profile``: per-position grams join the frequent set.
  The frequent set is *bounded by construction*: at threshold
  ``min_df_frac``, at most ``total_gram_instances / (min_df_frac *
  n_docs)`` distinct grams can qualify, and real boilerplate thresholds
  (df >= 0.1% of docs) keep it MBs — it is broadcast, so the corpus side
  never shuffles its text. If a caller picks a tiny threshold that
  explodes the set, Spark's broadcast-size guard fails loudly rather
  than silently spilling.

Tokenization matches ``operators/decontaminate.py`` / ``terms.py``
(lowercase, trim, split on whitespace) so profiles compose across the
text operators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..parallel import widen
from ..functions.text import words
from .decontaminate import _ngrams_of


def _position_grams(toks: Column, n: int) -> Column:
    """Space-joined n-gram at every position (non-distinct): position i
    covers toks[i..i+n-1]. Short documents yield an empty array."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def frequent_ngrams(
    documents: DataFrame,
    n: int = 3,
    min_df_frac: float = 0.005,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Grams whose document frequency >= ceil(min_df_frac * n_docs).

    Returns ``(ngram, df)``. DF counts each document once (distinct
    grams per doc before the explode), so a gram spammed inside one page
    does not qualify — only cross-document repetition does.
    """
    if not 0 < min_df_frac <= 1:
        raise ValueError(f"min_df_frac must be in (0, 1]: {min_df_frac}")
    # No widen() here or in boilerplate_profile: measured A/B at sf0.1
    # (fresh-session bench methodology) shows the extra per-subtree
    # exchanges cost more than the parallelism buys for these light
    # gram counts — unlike the span operators below, whose per-byte
    # work (position windows, run chains) pays for the shuffle at
    # every scale. On low-split inputs these passes stay scan-bound.
    # materialize the word array BEFORE the n-gram lambda references it:
    # Catalyst does not CSE into higher-order-function lambdas, so an
    # inlined words() re-tokenizes the text per gram position —
    # O(tokens²) per doc (see decontaminate._ngrams_of, measured 22.8s
    # vs 2s at sf0.1)
    grams = documents.select(
        F.col(id_col), words(F.lower(F.col(text_col))).alias("__w")
    ).select(
        F.col(id_col),
        F.explode(_ngrams_of(F.col("__w"), n)).alias("ngram"),
    )
    counts = grams.groupBy("ngram").agg(
        F.count(F.col(id_col)).alias("df")
    )
    total = documents.select(
        F.count(F.lit(1)).alias("__n_docs")
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .where(
            F.col("df")
            >= F.ceil(F.lit(float(min_df_frac)) * F.col("__n_docs")).cast(
                "long"
            )
        )
        .select("ngram", "df")
    )


def _position_frame(documents, id_col, units: Column, k: int):
    """(id, pos, ngram) — one row per position-gram of the unit array
    (words or sentences). The shared first stage of duplicated_spans /
    remove_duplicated_spans / remove_duplicated_sentence_spans (r11
    review collapsed three verbatim copies: a fix here reaches all
    three)."""
    return (
        documents.select(F.col(id_col), units.alias("__u"))
        .select(
            F.col(id_col),
            F.posexplode_outer(
                _position_grams(F.col("__u"), k)
            ).alias("pos", "ngram"),
        )
        .where(F.col("ngram").isNotNull())
    )


def _strip_by_hits(
    documents,
    hit_arrays,
    id_col: str,
    units: Column,
    k: int,
    out_col: str,
    removed_col: str,
):
    """Rewrite scaffold shared by both strip operators: join the per-doc
    sorted hit-position arrays, drop every unit covered by a hit span
    of length ``k``, emit the joined text + removed count."""
    kept = F.expr(
        "filter(__ui, s -> NOT exists(__hits,"
        f" p -> p <= s.i AND s.i <= p + {int(k) - 1}))"
    )
    out = (
        documents.join(hit_arrays, id_col, "left")
        .withColumn(
            "__hits",
            F.coalesce(
                F.col("__hits"), F.expr("CAST(array() AS ARRAY<INT>)")
            ),
        )
        .withColumn("__u", units)
        .withColumn(
            "__ui",
            F.expr(
                "transform(__u, (u, i) -> named_struct('u', u, 'i', i))"
            ),
        )
        .withColumn("__kept", kept)
        .withColumn(
            out_col, F.concat_ws(" ", F.expr("transform(__kept, s -> s.u)"))
        )
        .withColumn(
            removed_col,
            (F.size("__u") - F.size("__kept")).cast("long"),
        )
    )
    return out.drop("__hits", "__u", "__ui", "__kept")


def duplicated_spans(
    documents: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-span profile — the word-k-gram
    approximation of exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a
    position is *duplicated* when its k-gram also occurs in some other
    document, and consecutive duplicated positions chain into spans.

    Returns one row per doc: ``n_positions``, ``n_dup_positions``,
    ``dup_frac`` (rounded to 6), and ``longest_dup_run`` — the longest
    chain of consecutive duplicated positions, i.e. a shared substring
    of ``longest_dup_run + k - 1`` words. Docs shorter than k words
    report zeros.

    Plan shape: one position explode (word array materialized first —
    see frequent_ngrams); the cross-doc-repeated gram set derives from a
    (doc, gram)-distinct aggregate and broadcasts (bounded like the
    frequent set: a gram needs ≥2 docs); runs use the gaps-and-islands
    identity (pos − rank over hit positions is constant within a run),
    so the only windows are per-document — bounded by doc length, never
    corpus-wide.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    from pyspark.sql import Window

    documents = widen(documents, id_col)  # see frequent_ngrams
    pos = _position_frame(
        documents, id_col, words(F.lower(F.col(text_col))), k
    )
    repeated = (
        pos.select(id_col, "ngram")
        .distinct()
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("__d"))
        .where(F.col("__d") >= 2)
        .select("ngram")
    )
    # `repeated` (n-grams with df >= 2) is corpus-derived — boilerplate-
    # heavy corpora make it vocabulary-scale, so no broadcast hint (r13
    # audit); AQE promotes from measured size when it genuinely fits.
    # Same rule at every repeated/freq join below.
    hits = pos.join(repeated, "ngram").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    runs = (
        hits.withColumn("__rn", F.row_number().over(w))
        .groupBy(id_col, (F.col("pos") - F.col("__rn")).alias("__isl"))
        .agg(F.count(F.lit(1)).alias("__run"))
        .groupBy(id_col)
        .agg(
            F.sum("__run").alias("n_dup_positions"),
            F.max("__run").alias("longest_dup_run"),
        )
    )
    base = documents.select(
        F.col(id_col),
        F.greatest(
            F.lit(0), F.size(words(F.lower(F.col(text_col)))) - (k - 1)
        ).cast("long").alias("n_positions"),
    )
    return base.join(runs, id_col, "left").select(
        F.col(id_col),
        "n_positions",
        F.coalesce("n_dup_positions", F.lit(0)).cast("long").alias(
            "n_dup_positions"
        ),
        F.coalesce("longest_dup_run", F.lit(0)).cast("long").alias(
            "longest_dup_run"
        ),
        F.when(
            F.col("n_positions") > 0,
            F.round(
                F.coalesce("n_dup_positions", F.lit(0))
                / F.col("n_positions"),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("dup_frac"),
    )


def remove_duplicated_spans(
    documents: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "clean_text",
) -> DataFrame:
    """Rewrite each document with its cross-document duplicated spans
    removed — the surgical counterpart to dropping whole near-dup docs
    (Lee et al. 2022 remove the repeated substring, keeping the unique
    remainder). A word is removed iff some duplicated k-gram position
    covers it.

    Symmetric semantics on purpose: the span disappears from EVERY
    document containing it (a pure per-doc function of the corpus — no
    order dependence, deterministic, engine-replayable). To keep one
    canonical copy instead, gate the removal on a doc-level keep rule
    (e.g. ``semantic_dedup``'s smaller-id survivors) before this pass.

    Returns the input plus ``out_col`` and ``n_removed_words``. Plan:
    the duplicated-position sets ride back per doc as a (bounded by doc
    length) sorted array; the rewrite is one in-plan filter over the
    word array — ``O(words × runs)`` per doc via an exists() probe over
    the run-start list.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    documents = widen(documents, id_col)  # see frequent_ngrams
    pos = _position_frame(
        documents, id_col, words(F.lower(F.col(text_col))), k
    )
    repeated = (
        pos.select(id_col, "ngram")
        .distinct()
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("__d"))
        .where(F.col("__d") >= 2)
        .select("ngram")
    )
    hit_arrays = (
        pos.join(repeated, "ngram")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("pos")).alias("__hits"))
    )
    return _strip_by_hits(
        documents, hit_arrays, id_col, words(F.lower(F.col(text_col))), k,
        out_col, "n_removed_words",
    )


def boilerplate_profile(
    documents: DataFrame,
    n: int = 3,
    min_df_frac: float = 0.005,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document boilerplate score against the corpus-frequent grams.

    One row per input document: ``n_positions`` (word n-gram positions),
    ``n_boiler`` (positions whose gram is corpus-frequent), and
    ``boilerplate_frac = round(n_boiler / n_positions, 6)`` (0.0 for
    docs shorter than n words). Position-level (non-distinct) counting:
    a doc that is 90% repeated footer scores 0.9 even if the footer is
    one distinct gram.
    """
    # Both branches (DF count + per-doc hit count) derive from one
    # (doc, gram, within-doc count) aggregate, so the frequent-set
    # branch shuffles per-doc-distinct rows instead of raw positions
    # and needs no separate distinct-gram array build. The decisive
    # cost fix, though, is materializing the word array as an attribute
    # column before the gram lambda references it (see frequent_ngrams
    # above): the previous inlined-words shape re-tokenized per
    # position — O(tokens²), the r4 suite's tallest pole at ~9s warm /
    # sf0.1; this shape runs 0.5s warm.
    per_doc = (
        documents.select(
            F.col(id_col), words(F.lower(F.col(text_col))).alias("__w")
        )
        .select(
            F.col(id_col),
            F.explode_outer(
                _position_grams(F.col("__w"), n)
            ).alias("ngram"),
        )
        .where(F.col("ngram").isNotNull())
        .groupBy(id_col, "ngram")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    total = documents.select(F.count(F.lit(1)).alias("__n_docs"))
    freq = (
        per_doc.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(total))
        .where(
            F.col("df")
            >= F.ceil(F.lit(float(min_df_frac)) * F.col("__n_docs")).cast(
                "long"
            )
        )
        .select("ngram")
    )
    hits = (
        per_doc.join(freq, "ngram")
        .groupBy(id_col)
        .agg(F.sum("__cnt").alias("n_boiler"))
    )
    base = documents.select(
        F.col(id_col),
        F.greatest(
            F.lit(0), F.size(words(F.lower(F.col(text_col)))) - (n - 1)
        ).cast("long").alias("n_positions"),
    )
    return (
        base.join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_positions"),
            F.coalesce(F.col("n_boiler"), F.lit(0)).cast("long").alias(
                "n_boiler"
            ),
            F.when(
                F.col("n_positions") > 0,
                F.round(
                    F.coalesce(F.col("n_boiler"), F.lit(0))
                    / F.col("n_positions"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("boilerplate_frac"),
        )
    )


def remove_duplicated_sentence_spans(
    documents: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "clean_text",
    min_count: int = 2,
) -> DataFrame:
    """C4's actual dedup rule (Raffel et al. 2020): remove any
    ``n``-sentence span occurring ``min_count`` or more times in the
    corpus — counting ALL occurrences, within-document repeats included
    (C4 counts occurrences, not documents; the word-k-gram ops above
    use document frequency). A sentence is removed iff some repeated
    span window covers it; the rewrite keeps surviving sentences in
    order, joined by one space.

    Same symmetric semantics as ``remove_duplicated_spans``: the span
    disappears from every occurrence — deterministic and
    engine-replayable (sentence segmentation is
    ``functions.text.split_sentences``, which has a DuckDB twin).

    Plan shape: one sentence-window explode; the repeated-span set
    derives from a count aggregate on the spans' md5 (16-byte shuffle
    keys, never sentence text) and broadcasts — bounded because a
    qualifying span needs ≥ min_count occurrences, so at most
    total_spans/min_count distinct values qualify, and real boilerplate
    thresholds keep it policy-sized. Hit positions ride back per doc as
    a doc-length-bounded sorted array; the rewrite is one in-plan
    filter. Returns the input plus ``out_col`` and
    ``n_removed_sentences``.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1: {n}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2: {min_count}")
    from ..functions.text import split_sentences

    documents = widen(documents, id_col)  # see frequent_ngrams
    sents = split_sentences(F.col(text_col))
    pos = _position_frame(documents, id_col, sents, n).select(
        F.col(id_col), "pos", F.md5("ngram").alias("__h")
    )
    repeated = (
        pos.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= int(min_count))
        .select("__h")
    )
    hit_arrays = (
        pos.join(repeated, "__h")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("pos")).alias("__hits"))
    )
    return _strip_by_hits(
        documents, hit_arrays, id_col, sents, n,
        out_col, "n_removed_sentences",
    )
