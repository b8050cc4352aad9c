"""Property-based tests (hypothesis) for snapshot diff and domain
report invariants: generated corpus pairs, checked against a pure-
Python reference model on one shared Spark session."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pinecone_datasets_spark.operators.domains import domain_report
from pinecone_datasets_spark.operators.snapshot import (
    snapshot_diff,
    snapshot_summary,
)

texts = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Nd", "Zs")),
    min_size=0,
    max_size=30,
)
corpus = st.dictionaries(
    st.integers(0, 30), texts, min_size=0, max_size=20
)


def _norm(t: str) -> str:
    """Reference normalization: the library's ASCII whitespace class,
    spelled out here (not Python's Unicode ``\\s``/``strip()``, which
    would also fold NBSP and the other Zs spaces the library keeps as
    content)."""
    import re

    return re.sub(r"[ \t\n\r\f\x0b]+", " ", t.lower()).strip(" ")


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(old=corpus, new=corpus)
def test_snapshot_diff_matches_reference_model(spark, old, new):
    def df(d):
        return spark.createDataFrame(
            list(d.items()) or [(None, None)], "doc_id long, text string"
        ).where(F.col("doc_id").isNotNull())

    got = {
        r.doc_id: r.status
        for r in snapshot_diff(df(old), df(new),
                               include_unchanged=True).collect()
    }
    want = {}
    for i in set(old) | set(new):
        if i not in old:
            want[i] = "added"
        elif i not in new:
            want[i] = "removed"
        elif _norm(old[i]) != _norm(new[i]):
            want[i] = "changed"
        else:
            want[i] = "unchanged"
    assert got == want
    # summary counts fold exactly
    s = {
        r.status: r.n
        for r in snapshot_summary(
            snapshot_diff(df(old), df(new), include_unchanged=True)
        ).collect()
    }
    from collections import Counter

    assert s == dict(Counter(want.values()))
    # symmetry: swapping snapshots swaps added<->removed, keeps changed
    rev = {
        r.doc_id: r.status
        for r in snapshot_diff(df(new), df(old),
                               include_unchanged=True).collect()
    }
    flip = {"added": "removed", "removed": "added"}
    assert rev == {i: flip.get(s, s) for i, s in want.items()}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 50),
            texts,
            st.sampled_from(["en", "de", "fr"]),
            st.sampled_from(["a.com", "b.org", "c.net"]),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    )
)
def test_domain_report_invariants(spark, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    rep = domain_report(df).collect()
    n = len(rows)
    by_dom = {}
    for _, text, lang, dom in rows:
        by_dom.setdefault(dom, []).append((text, lang))
    assert {r.domain for r in rep} == set(by_dom)
    share_total = 0.0
    for r in rep:
        docs = by_dom[r.domain]
        assert r.n_docs == len(docs)
        assert r.total_chars == sum(len(t) for t, _ in docs)
        assert r.n_langs == len({l for _, l in docs})
        assert r.n_unique == len({_norm(t) for t, _ in docs})
        assert 0.0 <= r.dup_rate <= 1.0
        assert r.dup_rate == pytest.approx(
            1.0 - r.n_unique / r.n_docs, abs=1e-6
        )
        assert r.corpus_share == pytest.approx(r.n_docs / n, abs=1e-6)
        share_total += r.corpus_share
    assert share_total == pytest.approx(1.0, abs=1e-4)


def test_null_text_rows_classified_by_presence_not_fingerprint(spark):
    """r11 review: a present row with NULL text has a NULL fingerprint;
    deciding added/removed from fingerprint nullness reported a REMOVED
    null-text doc as 'added' (and a NULL->text transition as 'added'
    instead of 'changed') — in a takedown-audit surface."""
    from pinecone_datasets_spark.operators.snapshot import snapshot_diff

    old = spark.createDataFrame(
        [(1, None), (2, None), (3, "same"), (4, None)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(2, "now text"), (3, "same"), (4, None), (5, None)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["status"]
        for r in snapshot_diff(old, new, include_unchanged=True).collect()
    }
    assert out == {
        1: "removed",     # null-text doc really gone — NOT 'added'
        2: "changed",     # NULL -> text is a content change
        3: "unchanged",
        4: "unchanged",   # NULL -> NULL
        5: "added",
    }, out
