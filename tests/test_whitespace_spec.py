"""Static drift guard for the whitespace rule (no Spark session).

``functions/text.py`` decides what a word is and what whitespace is:
``WHITESPACE_RUN_PATTERN`` behind ``words``/``words_sql``/``split_words``
and ``normalize_ws``/``normalize_ws_sql``. Hand copies of that decision
used to drop empty tokens in different ways, or strip edges with an
engine ``trim`` that differs between Spark (U+0020 only) and DuckDB
(also NBSP). This test fails when a copy comes back.
"""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIB = "pinecone_datasets_spark"
TEXT = f"{LIB}/functions/text.py"
ENTRY = "__spark_entry__.py"

#: the class literal as it appears in source, with single or doubled
#: backslashes, or with the raw characters themselves
CLASS_LITERAL = re.compile(
    r"\[ (?:\\{1,2}t|\t)(?:\\{1,2}n|\n)(?:\\{1,2}r|\r)(?:\\{1,2}f|\f)"
)

#: modules that tokenize or normalize text and must not use engine trim
NO_TRIM = (
    TEXT,
    f"{LIB}/operators/dedup.py",
    f"{LIB}/operators/keyword.py",
    f"{LIB}/operators/terms.py",
    f"{LIB}/operators/packing.py",
    f"{LIB}/operators/dsir.py",
    f"{LIB}/operators/decontaminate.py",
)


def _source(rel: str) -> str:
    with open(os.path.join(REPO, rel)) as f:
        return f.read()


def _library_files() -> list[str]:
    out = []
    for root, _, files in os.walk(os.path.join(REPO, LIB)):
        for name in files:
            if name.endswith(".py"):
                rel = os.path.relpath(os.path.join(root, name), REPO)
                if rel != TEXT:
                    out.append(rel)
    return sorted(out)


def _hits(rel: str, pred) -> list[str]:
    return [
        f"{rel}:{n}: {line.strip()}"
        for n, line in enumerate(_source(rel).splitlines(), 1)
        if pred(line)
    ]


def test_pattern_constant_stays_in_text_module():
    hits = [
        h
        for rel in _library_files()
        for h in _hits(rel, lambda l: "WHITESPACE_RUN_PATTERN" in l)
    ]
    assert not hits, (
        "WHITESPACE_RUN_PATTERN used outside functions/text.py; call"
        " words/normalize_ws (or their _sql/Python twins):\n"
        + "\n".join(hits)
    )


def test_no_copied_class_literal():
    hits = [
        h
        for rel in [ENTRY, *_library_files()]
        for h in _hits(rel, lambda l: CLASS_LITERAL.search(l) is not None)
    ]
    assert not hits, (
        "hand-copied whitespace class; use functions/text.py"
        " words_sql/normalize_ws_sql/split_words:\n" + "\n".join(hits)
    )


def test_no_engine_trim_in_tokenizing_modules():
    hits = [h for rel in NO_TRIM for h in _hits(rel, lambda l: "F.trim(" in l)]
    assert not hits, (
        "engine trim strips a different class in Spark and DuckDB; use"
        " words/normalize_ws:\n" + "\n".join(hits)
    )
