"""BM25 keyword search and reciprocal-rank-fusion hybrid retrieval.

The reference's data model ships documents alongside dense/sparse query
vectors; a complete retrieval engine also needs the lexical side: BM25
over an inverted index, and rank fusion to combine lexical and dense
results (the standard "hybrid search" most production retrieval stacks
run today).

Plan shape, sized for 100 TB:

1. ``explode(split(text))`` → term-frequency aggregate keyed
   ``(doc, term)`` — the only corpus-sized shuffle, and it is map-side
   partially aggregated so duplicate terms within a partition collapse
   before crossing the wire. Document length falls out of the same
   aggregate (``sum(tf) per doc``) — the corpus is tokenized ONCE.
2. The query side is tiny (Q queries × a few terms). Distinct query
   terms BROADCAST against the postings — the corpus-side inverted index
   is *filtered before any further shuffle*; only postings for queried
   terms move again.
3. Document frequency / IDF is computed over the filtered postings
   (cardinality = queried terms), then broadcast back.
4. Per-(query, doc) score sum shuffles only matched postings, keyed
   (query, doc).
5. Top-k per query: rank over a window with a LITERAL k bound, so
   Spark's WindowGroupLimit keeps partial top-k on the map side.

Scores are ranked on ``round(score, 6)`` with the doc id as tiebreak —
float-sum association order must not decide ranks across engines.

BM25 formula (Robertson/Sparck Jones, the Lucene variant):
``idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))``,
``score = Σ_t idf · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import index_store
from ..functions.text import words
from .sampling import cap_per_group


_MAX_ISIN_LITERALS = 1000


def _filtered_postings(postings, col, values, values_df):
    """``postings WHERE col IN values`` — literal ``isin`` (pushed into
    the parquet scan, row-group skipping on the term-sorted layout)
    while the list is small; broadcast LEFT SEMI join on ``values_df``
    once the list would bloat the Catalyst plan. (Lives here rather
    than prf.py since r11: bm25_index_topk shares it — its literal IN
    was previously unbounded, so a 10k-query batch produced tens of
    thousands of literals and blew up analysis/codegen time.)"""
    if len(values) <= _MAX_ISIN_LITERALS:
        return postings.where(F.col(col).isin(values))
    return postings.join(F.broadcast(values_df), col, "left_semi")


def _tf_frames(docs: DataFrame, id_col: str, text_col: str):
    """(tf, dl, stats): the per-(doc, term) counts, per-doc lengths and
    corpus scalars every BM25 variant scores from. Build these ONCE per
    plan and share across stages — identical subplans collapse to a
    ReusedExchange, so e.g. RM3's two retrieval passes pay one tokenize
    + aggregate, not two (operators/prf.py)."""
    from ..parallel import widen

    # The tokenize explode multiplies rows ~|tokens|-fold: an
    # under-split input (one small parquet file) would run it serially.
    docs = widen(docs, id_col)
    toks = docs.select(
        F.col(id_col),
        F.explode(words(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    return tf, dl, stats


def _bm25_scores(
    tf: DataFrame,
    dl: DataFrame,
    stats: DataFrame,
    qterms: DataFrame,
    k1: float,
    b: float,
    query_id_col: str,
    id_col: str,
    weighted: bool = False,
) -> DataFrame:
    """(query_id, doc_id, score) from prebuilt frames. ``qterms`` is
    (query_id, term) — or (query_id, term, weight) with
    ``weighted=True``, scoring ``Σ_t weight · bm25_t``. df/idf is
    computed over the queried terms only: postings filter by the
    broadcast term set FIRST, then the (small) survivor set aggregates."""
    terms_only = qterms.select("term").distinct()
    df_t = (
        tf.join(F.broadcast(terms_only), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    idf = df_t.crossJoin(F.broadcast(stats)).select(
        "term",
        F.log(
            1.0
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ).alias("idf"),
    )
    postings = tf.join(F.broadcast(qterms), "term")
    contrib = (
        F.col("idf")
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    if weighted:
        contrib = F.col("weight") * contrib
    return (
        postings.join(F.broadcast(idf), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .select(query_id_col, id_col, contrib.alias("contrib"))
        .groupBy(query_id_col, id_col)
        .agg(F.sum("contrib").alias("score"))
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """Top-k documents per query by BM25. Returns
    ``(query_id, doc_id, score, rank)``; score is the raw double (round
    at the edge if hashing), rank is deterministic via rounded-score +
    id tiebreak."""
    tf, dl, stats = _tf_frames(docs, id_col, text_col)
    qterms = (
        queries.select(
            F.col(query_id_col),
            F.explode(words(F.lower(F.col(query_text_col)))).alias("term"),
        )
        .distinct()
    )
    scored = _bm25_scores(
        tf, dl, stats, qterms, k1, b, query_id_col, id_col
    )
    return cap_per_group(
        scored,
        query_id_col,
        k,
        [F.round("score", 6).desc(), F.col(id_col)],
        rank_col="rank",
    ).select(query_id_col, id_col, "score", "rank")


# ---------------------------------------------------------------------------
# Persisted index: postings parquet + scalar-stats sidecar
# ---------------------------------------------------------------------------

def build_bm25_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Tokenize the corpus ONCE and persist the BM25 inverted index:
    parquet postings ``(term, doc_id, tf, dl, df)`` range-partitioned and
    sorted by term, plus a JSON sidecar with the corpus scalars
    (n_docs, avgdl).

    Query-time cost then scales with the *queried terms*, not the corpus:
    the term filter is a literal pushed into the parquet scan, and the
    term-sorted layout gives row-group min/max skipping — the reader
    touches only the byte ranges holding queried terms. This is the
    "build offline, search online" split every production lexical stack
    uses (r2 benched the tokenize-everything-per-query path at 8.95 s
    for 50 output rows)."""
    # reuse _tf_frames: same tokenize/tf/dl pipeline AND its widen()
    # guard — the corpus tokenize explode is the build's dominant cost
    # and an under-split input (one dense parquet file) would run it
    # serially without the pre-split (r11 review: this body was an
    # inline copy that omitted the guard)
    tf, dl, stats = _tf_frames(docs, id_col, text_col)
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    postings = tf.join(dl, id_col).join(df_t, "term").select(
        "term", id_col, "tf", "dl", "df"
    )
    row = stats.collect()[0]
    index_store.save(
        path,
        "bm25",
        {
            "n_docs": int(row["n_docs"]),
            "avgdl": float(row["avgdl"]),
            "id_col": id_col,
        },
        [(None, postings, ("range", "term"))],
    )


def merge_bm25_indexes(
    spark,
    paths: list[str],
    out_path: str,
    validate: bool = False,
) -> None:
    """Merge persisted BM25 indexes (``build_bm25_index`` layouts) into
    one, WITHOUT re-tokenizing any text — the segment-merge step of
    incremental ingest: tokenize only each new batch into its own delta
    index, then periodically fold deltas into the main index.

    Requires disjoint document-id sets across inputs (each doc indexed
    in exactly one segment — the invariant batch ingest maintains;
    ``validate=True`` enforces it with one count-distinct pass). Under
    it, per-doc stats (tf, dl) are already final and only the corpus
    scalars change: ``df(term)`` = posting rows per term across
    segments, ``n_docs`` = Σ, ``avgdl`` = doc-weighted mean. One
    union + one per-term aggregate + the same term-sorted write —
    the raw-text tokenize/explode (the dominant build cost) is never
    repaid. Search results over the merged index match a full rebuild
    over the union corpus (equivalence-tested; avgdl is recombined in
    float, so raw scores can differ in the last ulp — below the 6-dp
    rank rounding)."""
    if len(paths) < 2:
        raise ValueError(f"need >= 2 indexes to merge: {paths}")
    if out_path in paths:
        # fail BEFORE any I/O: the overwrite write would otherwise race
        # the lazy union still reading that input ("Cannot overwrite a
        # path that is also being read from") and could leave a
        # half-rewritten index dir
        raise ValueError(f"out_path is also an input: {out_path}")
    metas = [index_store.load(spark, p, "bm25") for p in paths]
    id_cols = {m["id_col"] for m in metas}
    if len(id_cols) != 1:
        raise ValueError(f"indexes disagree on id_col: {sorted(id_cols)}")
    id_col = id_cols.pop()

    posts = None
    for p in paths:
        part = spark.read.parquet(p).select("term", id_col, "tf", "dl")
        posts = part if posts is None else posts.unionByName(part)
    if validate:
        row = (
            posts.select(id_col)
            .agg(
                F.countDistinct(id_col).alias("d"),
            )
            .collect()[0]
        )
        expect = sum(int(m["n_docs"]) for m in metas)
        if int(row["d"]) != expect:
            raise ValueError(
                "document ids overlap across segments: "
                f"{row['d']} distinct vs {expect} indexed"
            )
    # one row per (term, doc) per segment + disjoint docs => df is a
    # plain per-term row count over the union
    df_t = posts.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    merged = posts.join(df_t, "term").select("term", id_col, "tf", "dl", "df")
    n_docs = sum(int(m["n_docs"]) for m in metas)
    avgdl = (
        sum(float(m["avgdl"]) * int(m["n_docs"]) for m in metas) / n_docs
    )
    index_store.save(
        out_path,
        "bm25",
        {"n_docs": n_docs, "avgdl": avgdl, "id_col": id_col},
        [(None, merged, ("range", "term"))],
    )


def bm25_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """Top-k per query against a persisted index from ``build_bm25_index``.

    The queried-term set is driver-visible (queries are small by
    construction), so it lands as a LITERAL ``term IN (...)`` predicate —
    visible in the scan's PushedFilters — before any join. Same result
    contract and tie-breaks as ``bm25_topk``."""
    meta = index_store.load(spark, path, "bm25")
    id_col = meta["id_col"]
    n_docs, avgdl = float(meta["n_docs"]), float(meta["avgdl"])

    qterms = (
        queries.select(
            F.col(query_id_col),
            F.explode(words(F.lower(F.col(query_text_col)))).alias("term"),
        )
        .distinct()
    )
    term_list = [r["term"] for r in qterms.select("term").distinct().collect()]
    postings = _filtered_postings(
        spark.read.parquet(path),
        "term",
        term_list,
        qterms.select("term").distinct(),
    )
    scored = (
        postings.join(F.broadcast(qterms), "term")
        .select(
            query_id_col,
            id_col,
            (
                F.log(
                    1.0 + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
                )
            ).alias("contrib"),
        )
        .groupBy(query_id_col, id_col)
        .agg(F.sum("contrib").alias("score"))
    )
    return cap_per_group(
        scored,
        query_id_col,
        k,
        [F.round("score", 6).desc(), F.col(id_col)],
        rank_col="rank",
    ).select(query_id_col, id_col, "score", "rank")


def rrf_fuse(
    rankings: list[DataFrame],
    topk: int = 10,
    rrf_k: int = 60,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion: ``score = Σ_lists 1/(rrf_k + rank)``; a
    document absent from a list contributes nothing. Each input needs
    (query_id, doc_id, rank). Returns (query_id, doc_id, rrf_score,
    rank) — the fusion is rank-only, so heterogeneous score scales
    (BM25 vs cosine) never need calibration."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = [
        r.select(
            query_id_col,
            id_col,
            (1.0 / (F.lit(rrf_k) + F.col(rank_col))).alias("part"),
        )
        for r in rankings
    ]
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    fused = unioned.groupBy(query_id_col, id_col).agg(
        F.sum("part").alias("rrf_score")
    )
    return cap_per_group(
        fused,
        query_id_col,
        topk,
        [F.round("rrf_score", 9).desc(), F.col(id_col)],
        rank_col="rank",
    ).select(query_id_col, id_col, "rrf_score", "rank")
