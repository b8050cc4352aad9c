"""Text-analysis scalar functions (Layer B, training-data pipeline ops).

All built-in column expressions — no Python UDFs in the hot path — so they
stay inside whole-stage codegen and are exactly reproducible by a SQL
oracle. Target table: ``documents(doc_id, text, lang, source, n_chars)``.

What a word is, and what whitespace is, is decided once, here:
``words``/``words_sql``/``split_words`` (Spark, DuckDB, Python) split on
``WHITESPACE_RUN_PATTERN`` and drop empty tokens, and
``normalize_ws``/``normalize_ws_sql`` collapse runs of that class to one
space and strip the edges by the same class. The class is ASCII on
purpose: NBSP (U+00A0) and the other Unicode spaces are content, not
whitespace, in all three engines. (Spark's ``trim`` strips only U+0020
and DuckDB's also strips NBSP, so neither engine's ``trim`` is used.)
"""

from __future__ import annotations

import re
from typing import Union

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Union[Column, str]


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


# explicit ASCII whitespace, NOT \s: Java's \s matches vertical tab
# (\x0B) while RE2's does not, so \s-based twins diverge whenever the
# control-strip stage is toggled off. (\v is also unusable: Java reads
# it as the vertical-whitespace CLASS, RE2 as the single char.)
WHITESPACE_RUN_PATTERN = r"[ \t\n\r\f\x0B]+"
_WHITESPACE_RUN_RE = re.compile(WHITESPACE_RUN_PATTERN)


def words(text: ColumnOrName) -> Column:
    """Whitespace tokens: split on ``WHITESPACE_RUN_PATTERN``, empty
    tokens dropped (edge whitespace and empty text yield none). NULL
    stays NULL. Callers lowercase first when they want to
    (``words(F.lower(c))``)."""
    return F.array_remove(F.split(_c(text), WHITESPACE_RUN_PATTERN), "")


def words_sql(text_expr: str) -> str:
    """DuckDB twin of ``words``."""
    return (
        f"list_filter(string_split_regex({text_expr},"
        f" '{WHITESPACE_RUN_PATTERN}'), w -> w <> '')"
    )


def split_words(s: str) -> list[str]:
    """Python twin of ``words`` for UDF kernels."""
    return [w for w in _WHITESPACE_RUN_RE.split(s) if w]


# \z, not $: Java's $ also matches before a final U+0085, U+2028 or
# U+2029 (its line terminators); RE2 and the Python twin do not
_EDGE_SPACE_PATTERN = r"^ | \z"


def normalize_ws(text: ColumnOrName) -> Column:
    """Collapse whitespace runs to one space, then strip the edges by
    the same class. A regex strip, not the engine's ``trim``: see the
    module docstring."""
    return F.regexp_replace(
        F.regexp_replace(_c(text), WHITESPACE_RUN_PATTERN, " "),
        _EDGE_SPACE_PATTERN,
        "",
    )


def normalize_ws_sql(text_expr: str) -> str:
    """DuckDB twin of ``normalize_ws``."""
    return (
        f"regexp_replace(regexp_replace({text_expr},"
        f" '{WHITESPACE_RUN_PATTERN}', ' ', 'g'), '{_EDGE_SPACE_PATTERN}',"
        " '', 'g')"
    )


def word_count(text: ColumnOrName) -> Column:
    """Whitespace-token count: the size of ``words`` (DuckDB twin:
    ``len(words_sql(...))``). The original spaces-only formula counted
    a 500-line newline-separated document as ONE word, silently failing
    the min_words curation gate, and counted 'a  b' as three (r11 review;
    the split-filter-size form measured ~15% cheaper than
    normalize-then-count-spaces)."""
    return F.size(words(text))


def token_count(text: ColumnOrName) -> Column:
    """BPE-ish token estimate: ceil(chars/4) bounded below by word count —
    a standard heuristic (≈4 chars/token for English-like text)."""
    return F.greatest(
        F.ceil(F.length(_c(text)) / F.lit(4.0)).cast("long"),
        word_count(text).cast("long"),
    )


def punct_ratio(text: ColumnOrName) -> Column:
    t = _c(text)
    stripped = F.regexp_replace(t, r"[.,;:!?'\"()\[\]{}-]", "")
    return (F.length(t) - F.length(stripped)) / F.greatest(
        F.length(t), F.lit(1)
    )


_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "was", "at", "by", "be",
)


def stopword_ratio(text: ColumnOrName) -> Column:
    """Fraction of whitespace tokens that are English stopwords.
    Built-ins only: split → filter → size."""
    toks = words(F.lower(_c(text)))
    stop = F.size(
        F.filter(toks, lambda w: w.isin(list(_STOPWORDS)))
    )
    return stop / F.greatest(F.size(toks), F.lit(1))


def quality_score(text: ColumnOrName) -> Column:
    """Composite [0,1] quality heuristic: length band + punctuation sanity
    + stopword presence. Mirrors common LLM-corpus quality filters
    (C4/Gopher-style rules) with engine-portable arithmetic."""
    t = _c(text)
    n = F.length(t)
    len_score = F.when(n < 20, n / F.lit(20.0)).otherwise(
        F.least(F.lit(1.0), F.lit(2000.0) / F.greatest(n, F.lit(1)))
    )
    p = punct_ratio(t)
    punct_score = F.when(p > 0.2, F.lit(0.0)).otherwise(1 - p * 5)
    stop_score = F.least(F.lit(1.0), stopword_ratio(t) * F.lit(4.0))
    return (len_score + punct_score + stop_score) / F.lit(3.0)


def detect_language(text: ColumnOrName) -> Column:
    """Heuristic n-gram/stopword language ID over {en, de, fr, es}.

    Scores each language by counting hits of its most frequent function
    words inside the text; ties break deterministically by language code.
    A real system would plug fastText here; the Spark plumbing (pure
    column expressions, no shuffle) is the deliverable.
    """
    toks = words(F.lower(_c(text)))
    markers = {
        "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
        "en": ("the", "and", "is", "of", "to", "in", "that", "it"),
        "es": ("el", "la", "los", "las", "es", "y", "que", "un"),
        "fr": ("le", "la", "les", "et", "est", "que", "une", "des"),
    }
    def _hits(vocab: tuple[str, ...]):
        # Single-arg lambda required: F.filter treats a second parameter
        # (even a defaulted one) as the element-index argument.
        wordlist = list(vocab)
        return lambda w: w.isin(wordlist)

    scores = [
        (lang, F.size(F.filter(toks, _hits(vocab))))
        for lang, vocab in sorted(markers.items())
    ]
    best = scores[0][1]
    for _, s in scores[1:]:
        best = F.greatest(best, s)
    result = F.lit("unknown")
    # Deterministic: first language (alphabetical) with the max score wins.
    for lang, s in reversed(scores):
        result = F.when(s == best, F.lit(lang)).otherwise(result)
    return F.when(best == 0, F.lit("unknown")).otherwise(result)


def doc_fingerprint(text: ColumnOrName) -> Column:
    """Content fingerprint: lowercase, collapse whitespace, md5.
    Identical in any SQL engine; used as the exact-dedup key."""
    return F.md5(normalize_ws(F.lower(_c(text))))


# Rolling-hash parameters: base ~2^20, Mersenne-31 modulus. Accumulator
# stays < 2^52 (P*B + 2^32), safe under ANSI overflow checking.
_RH_BASE = 1000003
_RH_MOD = 2147483647


def rolling_hash_fingerprint(text: ColumnOrName) -> Column:
    """Order-sensitive polynomial rolling hash over whitespace tokens:
    h = fold(tokens, h*B + hash32(token) mod P). Unlike the md5
    fingerprint this is incrementally updatable (append-only streams) and
    cross-engine reproducible: hash32 is the first 8 md5 hex digits, and
    any SQL engine can replay the fold (DuckDB: list_reduce).
    """
    toks = words(F.lower(_c(text)))
    tok_hash = lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast(  # noqa: E731
        "long"
    )
    return F.aggregate(
        F.transform(toks, tok_hash),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(_RH_BASE) + x) % F.lit(_RH_MOD),
    )


# ---------------------------------------------------------------------------
# Repetition signals (Gopher/MassiveText-style quality rules) — map-only,
# pure built-ins, no shuffle: the per-doc mode is a run-length maximum
# over the sorted bigram array, not an explode+groupBy.
# ---------------------------------------------------------------------------


def duplicate_word_fraction(text: ColumnOrName) -> Column:
    """Fraction of word occurrences that repeat an earlier word:
    1 - distinct_words / words. 0.0 for empty text."""
    toks = words(F.lower(_c(text)))
    n = F.size(toks)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        (n - F.size(F.array_distinct(toks))) / n.cast("double")
    )


def top_bigram_fraction(text: ColumnOrName) -> Column:
    """Fraction of all word-bigram occurrences taken by the most frequent
    bigram (the Gopher repetition gate; > ~0.18 flags boilerplate).

    Entirely built-in and map-only: bigrams → array_sort → single
    aggregate pass tracking the longest equal-run. The naive alternative
    (explode + groupBy + max) shuffles one row per bigram occurrence —
    at 100 TB that's the whole corpus through the wire for a per-row
    scalar. Guarded for n < 2 words (sequence() would run backwards).
    """
    toks = words(F.lower(_c(text)))
    n = F.size(toks)
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1)
        ),
    )
    longest_run = F.aggregate(
        F.array_sort(bigrams),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x == a["prev"], a["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.greatest(
                a["best"],
                F.when(x == a["prev"], a["run"] + 1).otherwise(
                    F.lit(1).cast("long")
                ),
            ).alias("best"),
        ),
        lambda a: a["best"],
    )
    return F.when(n < 2, F.lit(0.0)).otherwise(
        longest_run / (n - 1).cast("double")
    )


# ---------------------------------------------------------------------------
# PII redaction — regex patterns chosen to mean the same thing in Java
# regex (Spark) and RE2 (DuckDB) so an oracle can replay them.
# ---------------------------------------------------------------------------

_PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^ \t\n]+", "<URL>"),
    (r"[0-9]{6,}", "<NUM>"),
)


def redact_pii(text: ColumnOrName) -> Column:
    """Replace emails, URLs, and long digit runs with typed placeholders —
    the standard pre-training scrub pass. Order matters: emails first
    (their local parts contain digits), URLs before bare numbers."""
    t = _c(text)
    for pattern, repl in _PII_PATTERNS:
        t = F.regexp_replace(t, pattern, repl)
    return t


# ---------------------------------------------------------------------------
# Information-density signals: Shannon character entropy (pure built-ins,
# map-only) and zlib compression ratio (Arrow-batched pandas_udf — the
# one signal that genuinely needs a real compressor).
# ---------------------------------------------------------------------------


def char_entropy(text: ColumnOrName) -> Column:
    """Shannon entropy (nats) of the character distribution — low for
    repetitive/boilerplate text, ~4+ for natural prose, near ln(96) for
    random ASCII. 0.0 for empty text.

    Map-only built-ins, no shuffle. Formulation matters: higher-order-
    function lambdas are interpreted per element, so both the
    per-distinct-char ``filter`` count (O(|A|·len) lambda evals) and a
    run-length fold over sorted chars (O(len) struct allocs) measure
    6-25 s at sf0.1. Instead the alphabet comes from native collection
    ops and each symbol's count is ``len(s) - len(replace(s, c, ''))``
    — a native string scan — leaving only O(|A|) lambda evaluations
    per row (~0.3 s at sf0.1). The alphabet is SORTED so the float
    summation order — and the result to near-ulp — replays on any
    engine that sums per-char counts ordered by char.
    """
    s = _c(text)
    n = F.length(s).cast("double")
    # sorted distinct alphabet: collection ops, no per-char lambdas
    alphabet = F.array_sort(
        F.array_remove(F.array_distinct(F.split(s, "")), "")
    )
    # count(c) = len(s) - len(replace(s, c, '')): one NATIVE string scan
    # per alphabet symbol, so the only lambda evaluations are the ~|A|
    # alphabet entries, not the ~len(s) characters
    ent = -F.aggregate(
        F.transform(
            alphabet, lambda u: F.length(s) - F.length(F.replace(s, u))
        ),
        F.lit(0.0),
        lambda acc, c: acc
        + (c.cast("double") / n) * F.log(c.cast("double") / n),
    )
    return F.when(n > 0, ent).otherwise(F.lit(0.0))


def char_entropy_sql(text_expr: str) -> str:
    """DuckDB twin of ``char_entropy``: identical sorted alphabet,
    identical length-replace counts, identical summation order (parity
    to ~1e-12 — libm ``ln`` differs by 1 ulp; entries round below
    that)."""
    t = text_expr
    alphabet = (
        f"list_sort(list_filter(list_distinct(string_split({t}, '')),"
        " c -> c != ''))"
    )
    return f"""
CASE WHEN coalesce(length({t}), 0) > 0 THEN
  -list_sum(list_transform(
     list_transform({alphabet},
                    u -> length({t}) - length(replace({t}, u, ''))),
     c -> (CAST(c AS DOUBLE) / length({t}))
          * ln(CAST(c AS DOUBLE) / length({t}))))
ELSE 0.0 END"""


def compression_ratio(text: ColumnOrName, level: int = 6) -> Column:
    """``len(zlib(utf8)) / len(utf8)`` per document — the classic
    incompressibility quality signal (near 0 for repeated boilerplate,
    ~0.6-0.8 for prose, > 1 for tiny/random text). NULL text → NULL,
    empty text → ratio over the 8-byte zlib header (deterministic).

    Arrow-batched ``pandas_udf`` (zlib has no JVM expression); the
    column itself is map-only — no shuffle, no collect.
    """
    import pandas as pd  # noqa: F401 (signature typing)
    from pyspark.sql.pandas.functions import pandas_udf

    lvl = int(level)
    if not 0 <= lvl <= 9:
        raise ValueError(f"zlib level must be in [0, 9], got {level}")

    @pandas_udf("double")
    def _ratio(s):  # type: ignore[no-untyped-def]
        import zlib

        def one(t):
            if t is None:
                return None
            raw = t.encode("utf-8")
            return len(zlib.compress(raw, lvl)) / max(len(raw), 1)

        return s.map(one)

    return _ratio(_c(text))


# ---------------------------------------------------------------------------
# Unicode normalization / text cleaning — the first pass of every
# web-scrape pipeline. NFC needs a real Unicode library (Arrow-batched
# pandas_udf; Spark has no built-in normalizer); the control-strip and
# whitespace-collapse parts are pure regex built-ins, dialect-portable
# (Java regex and RE2 read the \x escapes identically), so a DuckDB
# twin replays them with nfc_normalize + the same patterns.
# ---------------------------------------------------------------------------

# C0 controls except \t \n \r, then DEL + C1 controls. Both engines'
# regex dialects accept this class verbatim.
CONTROL_CHAR_PATTERN = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]"


def unicode_normalize(text: ColumnOrName, form: str = "NFC") -> Column:
    """Unicode normalization, Arrow-batched ``unicodedata.normalize``;
    NULL stays NULL. Map-only — fuses into whatever scan already runs.

    ``form``: ``NFC`` (composed: e + U+0301 -> é; the ingest default)
    or ``NFKC`` (compatibility fold on top: fullwidth ＡＢＣ -> ABC,
    ligatures, superscripts — the right pass for CJK/web corpora, but
    NOT SQL-replayable: DuckDB has ``nfc_normalize`` only, so NFKC
    pipelines are pytest-verified, not oracle-gated). NFD/NFKD are
    accepted for completeness."""
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"form must be NFC/NFKC/NFD/NFKD, got {form!r}")

    @F.pandas_udf("string")
    def _norm(s):  # type: ignore[no-untyped-def]
        import unicodedata

        return s.map(
            lambda t: unicodedata.normalize(form, t)
            if t is not None
            else None
        )

    return _norm(_c(text))


def nfc_normalize(text: ColumnOrName) -> Column:
    """Unicode NFC normalization (composed forms: e + U+0301 -> é) —
    the oracle-replayable default; see ``unicode_normalize``."""
    return unicode_normalize(text, "NFC")


def clean_text(
    text: ColumnOrName,
    nfc: bool = True,
    strip_controls: bool = True,
    collapse_whitespace: bool = True,
    form: str = "NFC",
) -> Column:
    """The standard ingest scrub: NFC-compose, drop control characters
    (keeping tab/newline/CR, which the whitespace pass then folds), and
    collapse whitespace runs to single spaces + trim. Each stage is
    independently optional; with ``nfc=False`` the whole expression is
    built-in regex (whole-stage codegen, no Python crossing).
    ``form="NFKC"`` upgrades the normalize stage to the compatibility
    fold (fullwidth/ligatures; not SQL-replayable — see
    ``unicode_normalize``).

    DuckDB twin: ``nfc_normalize`` + ``regexp_replace(..., 'g')`` with
    the SAME patterns (see ``clean_text_sql``)."""
    t = _c(text)
    if nfc:
        t = unicode_normalize(t, form)
    if strip_controls:
        t = F.regexp_replace(t, CONTROL_CHAR_PATTERN, "")
    if collapse_whitespace:
        t = normalize_ws(t)
    return t


def clean_text_sql(
    text_expr: str,
    nfc: bool = True,
    strip_controls: bool = True,
    collapse_whitespace: bool = True,
) -> str:
    """DuckDB replay of ``clean_text`` (same stages, same patterns) —
    keeps the Spark path and the oracle literally in one place."""
    t = text_expr
    if nfc:
        t = f"nfc_normalize({t})"
    if strip_controls:
        t = f"regexp_replace({t}, '{CONTROL_CHAR_PATTERN}', '', 'g')"
    if collapse_whitespace:
        t = normalize_ws_sql(t)
    return t


# ---------------------------------------------------------------------------
# Line-level quality signals (Gopher / FineWeb gates)
# ---------------------------------------------------------------------------

#: Trim class for line edges — ASCII-explicit like WHITESPACE_RUN_PATTERN
#: (\n excluded: it is the line delimiter itself).
_LINE_TRIM_PATTERN = r"^[ \t\r\f\x0B]+|[ \t\r\f\x0B]+$"

#: A line that is a list bullet: -, *, •, or "1." / "1)" enumeration.
_BULLET_PATTERN = r"^([-*•]|[0-9]+[.)])"

#: A line ending in terminal punctuation (FineWeb keeps docs where most
#: lines end like prose, not nav fragments).
_END_PUNCT_PATTERN = "[.!?\"']$"


def _lines(text: ColumnOrName) -> Column:
    """Non-empty, edge-trimmed lines of a text column."""
    return F.filter(
        F.transform(
            F.split(_c(text), "\n"),
            lambda l: F.regexp_replace(l, _LINE_TRIM_PATTERN, ""),
        ),
        lambda l: l != "",
    )


def duplicate_line_fraction(text: ColumnOrName) -> Column:
    """Fraction of line occurrences that repeat an earlier line —
    the line-level Gopher repetition gate (nav bars, chat spam).
    0.0 for text with no lines."""
    lines = _lines(text)
    n = F.size(lines)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        (n - F.size(F.array_distinct(lines))) / n.cast("double")
    )


def duplicate_line_char_fraction(text: ColumnOrName) -> Column:
    """Fraction of line characters that are repetition: chars beyond
    each line value's first occurrence / total line chars (both after
    edge-trim). 0.0 when there are no line chars. The array-local
    formulation (total - distinct-value chars) keeps it map-only."""
    lines = _lines(text)
    tot = F.aggregate(
        lines,
        F.lit(0).cast("long"),
        lambda a, x: a + F.length(x),
    )
    uniq = F.aggregate(
        F.array_distinct(lines),
        F.lit(0).cast("long"),
        lambda a, x: a + F.length(x),
    )
    return F.when(tot <= 0, F.lit(0.0)).otherwise(
        (tot - uniq) / tot.cast("double")
    )


def bullet_line_fraction(text: ColumnOrName) -> Column:
    """Fraction of lines that are list bullets / enumerations (FineWeb
    drops docs that are mostly bullets). 0.0 for no lines."""
    lines = _lines(text)
    n = F.size(lines)
    hits = F.size(F.filter(lines, lambda l: l.rlike(_BULLET_PATTERN)))
    return F.when(n <= 0, F.lit(0.0)).otherwise(hits / n.cast("double"))


def end_punct_line_fraction(text: ColumnOrName) -> Column:
    """Fraction of lines ending in terminal punctuation — prose ends
    sentences, scraped nav fragments don't. 0.0 for no lines."""
    lines = _lines(text)
    n = F.size(lines)
    hits = F.size(F.filter(lines, lambda l: l.rlike(_END_PUNCT_PATTERN)))
    return F.when(n <= 0, F.lit(0.0)).otherwise(hits / n.cast("double"))


def mean_words_per_line(text: ColumnOrName) -> Column:
    """Mean whitespace-delimited words per non-empty line (FineWeb's
    short-line gate). 0.0 for no lines."""
    lines = _lines(text)
    n = F.size(lines)
    n_words = F.aggregate(
        lines, F.lit(0).cast("long"), lambda a, l: a + F.size(words(l))
    )
    return F.when(n <= 0, F.lit(0.0)).otherwise(n_words / n.cast("double"))


#: The line-gate keys ``apply_line_gates`` understands (FineWeb/Gopher
#: structural thresholds).
LINE_GATE_KEYS = frozenset(
    {
        "max_dup_line_frac",
        "max_bullet_line_frac",
        "min_end_punct_line_frac",
        "min_mean_words_per_line",
    }
)


def apply_line_gates(df, line_gates: dict, text_col: str = "text"):
    """Apply FineWeb/Gopher line-structure gates as map-only filters —
    the ONE implementation shared by the batch curation chain
    (``operators.pipeline.curate_corpus_full``), the streaming chain
    (``streaming.curate.stream_curate``), and the streaming crawl
    extractor. Unknown keys raise; an empty/None dict is a no-op.
    Stream-legal by construction (pure column expressions)."""
    if not line_gates:
        return df
    bad = set(line_gates) - LINE_GATE_KEYS
    if bad:
        raise ValueError(f"unknown line_gates: {sorted(bad)}")
    t = _c(text_col)
    if "max_dup_line_frac" in line_gates:
        df = df.where(
            duplicate_line_fraction(t)
            <= float(line_gates["max_dup_line_frac"])
        )
    if "max_bullet_line_frac" in line_gates:
        df = df.where(
            bullet_line_fraction(t)
            <= float(line_gates["max_bullet_line_frac"])
        )
    if "min_end_punct_line_frac" in line_gates:
        df = df.where(
            end_punct_line_fraction(t)
            >= float(line_gates["min_end_punct_line_frac"])
        )
    if "min_mean_words_per_line" in line_gates:
        df = df.where(
            mean_words_per_line(t)
            >= float(line_gates["min_mean_words_per_line"])
        )
    return df


def line_stats_sql(text_expr: str) -> dict:
    """DuckDB twins of the five line-level signals — same trim class,
    same patterns, same array-local formulations, for oracle replay."""
    trim = _LINE_TRIM_PATTERN.replace("'", "''")
    lines = (
        f"list_filter(list_transform(string_split({text_expr}, chr(10)),"
        f" l -> regexp_replace(l, '{trim}', '', 'g')), l -> l <> '')"
    )
    n = f"len({lines})"
    tot = f"coalesce(list_sum(list_transform({lines}, l -> length(l))), 0)"
    uniq = (
        f"coalesce(list_sum(list_transform(list_distinct({lines}),"
        f" l -> length(l))), 0)"
    )
    bullet_pat = _BULLET_PATTERN.replace("'", "''")
    endp_pat = _END_PUNCT_PATTERN.replace("'", "''")
    bullet = (
        f"len(list_filter({lines},"
        f" l -> regexp_matches(l, '{bullet_pat}')))"
    )
    endp = (
        f"len(list_filter({lines},"
        f" l -> regexp_matches(l, '{endp_pat}')))"
    )
    n_words = (
        f"coalesce(list_sum(list_transform({lines},"
        f" l -> len({words_sql('l')}))), 0)"
    )
    frac = "CASE WHEN {n} <= 0 THEN 0.0 ELSE {num} / CAST({n} AS DOUBLE) END"
    # the coalesce(…, 0) inside tot would turn NULL text into 0.0 here
    # while the Spark side null-propagates — guard explicitly
    char_frac = (
        f"CASE WHEN {text_expr} IS NULL THEN NULL ELSE "
        + frac.format(n=tot, num=f"({tot} - {uniq})")
        + " END"
    )
    return {
        "dup_line_frac": frac.format(
            n=n, num=f"({n} - len(list_distinct({lines})))"
        ),
        "dup_line_char_frac": char_frac,
        "bullet_line_frac": frac.format(n=n, num=bullet),
        "end_punct_line_frac": frac.format(n=n, num=endp),
        "mean_words_per_line": frac.format(n=n, num=n_words),
    }


# ---------------------------------------------------------------------------
# Sentence segmentation (the C4 dedup unit)
# ---------------------------------------------------------------------------

#: A sentence: a maximal run without terminal punctuation, plus any run
#: of terminal punctuation that ends it (a trailing fragment keeps its
#: words even without punctuation). Portable: no lookaround.
SENTENCE_PATTERN = r"[^.!?]+[.!?]*"
# a sentence's edge whitespace (\z, not $: see _EDGE_SPACE_PATTERN)
_SENTENCE_EDGE_PATTERN = rf"{WHITESPACE_RUN_PATTERN}\z|^{WHITESPACE_RUN_PATTERN}"


def split_sentences(text: ColumnOrName) -> Column:
    """Array of sentences (edge-trimmed, empties dropped) — the unit
    C4 hangs its three-sentence-span dedup on. Heuristic by design
    (abbreviation dots split; a real tokenizer is a model, not an
    expression) but identical cross-engine, so spans built on it
    replay exactly."""
    return F.filter(
        F.transform(
            F.regexp_extract_all(_c(text), F.lit(SENTENCE_PATTERN), 0),
            lambda s: F.regexp_replace(s, _SENTENCE_EDGE_PATTERN, ""),
        ),
        lambda s: s != "",
    )


def sentence_ngrams(text: ColumnOrName, n: int = 3) -> Column:
    """Array of n-sentence windows (sentences joined by a single
    space) — feed to ``boilerplate.frequent_ngrams``-style DF counting
    for C4's three-sentence-span dedup. Empty array when the text has
    fewer than n sentences."""
    sents = split_sentences(text)
    size = F.size(sents)
    return F.when(size < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), size - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(sents, i, n)),
        )
    )


def split_sentences_sql(text_expr: str) -> str:
    """DuckDB twin of ``split_sentences``."""
    pat = SENTENCE_PATTERN.replace("'", "''")
    return (
        f"list_filter(list_transform("
        f"regexp_extract_all({text_expr}, '{pat}'),"
        f" s -> regexp_replace(s, '{_SENTENCE_EDGE_PATTERN}', '', 'g')),"
        f" s -> s <> '')"
    )


def badword_fraction(
    text: ColumnOrName, blocklist: "list[str] | tuple[str, ...]"
) -> Column:
    """Fraction of whitespace tokens that hit a blocklist (the C4
    "bad words" gate — token-boundary matching, so 'class' never hits
    'ass'). The list is a policy artifact (hundreds to thousands of
    terms): it folds into the plan as a literal array, no join. 0.0
    for empty text; tokens are lowercased first, so supply a
    lowercase list."""
    if not blocklist:
        raise ValueError("blocklist must be non-empty")
    terms = [str(w).lower() for w in blocklist]
    toks = words(F.lower(_c(text)))
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda w: w.isin(terms)))
    return F.when(n <= 0, F.lit(0.0)).otherwise(hits / n.cast("double"))
