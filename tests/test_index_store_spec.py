"""Static drift guard for the persisted-index store (no Spark session).

``index_store`` is the one place that decides how an index lands on
storage: the table layouts, the sidecar file per kind, and the commit
order (old sidecar dropped first, new sidecar written last, so a
sidecar exists only over a complete index). The five index formats
used to hand-roll those steps, and two of them wrote in an order that
let a failed rebuild leave an old sidecar over new tables. This test
fails when a hand-rolled write, sidecar read or range layout comes back
into an index module, or a sidecar file name leaks out of the store.
"""

from __future__ import annotations

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIB = "pinecone_datasets_spark"

INDEX_MODULES = (
    "operators/ivf.py",
    "operators/pq.py",
    "operators/search.py",
    "operators/dedup.py",
    "operators/keyword.py",
    "operators/prf.py",
)
HAND_ROLLED = (".write", "write_text(", "read_text(", "repartitionByRange(")
#: sidecar file per index kind; the names are the on-disk format, so
#: indexes built earlier keep loading
SIDECARS = (
    "_ivf_centroids.json",
    "_ivfpq_meta.json",
    "_lsh_meta.json",
    "minhash_index.json",
    "_bm25_stats.json",
)


def _lines(rel: str):
    with open(os.path.join(REPO, LIB, rel), encoding="utf-8") as f:
        yield from enumerate(f.read().splitlines(), 1)


def test_index_modules_persist_only_through_the_store():
    copies = [
        f"{LIB}/{rel}:{n}: {line.strip()}"
        for rel in INDEX_MODULES
        for n, line in _lines(rel)
        if any(tok in line for tok in HAND_ROLLED)
    ]
    assert not copies, (
        "hand-rolled index persistence; use index_store.save/load"
        " instead:\n" + "\n".join(copies)
    )


def test_sidecar_names_live_only_in_the_store():
    store = "".join(line for _, line in _lines("index_store.py"))
    assert all(name in store for name in SIDECARS)
    lib = os.path.join(REPO, LIB)
    leaks = []
    for root, _, files in os.walk(lib):
        for name in files:
            rel = os.path.relpath(os.path.join(root, name), lib)
            if not name.endswith(".py") or rel == "index_store.py":
                continue
            leaks += [
                f"{LIB}/{rel}:{n}: {line.strip()}"
                for n, line in _lines(rel)
                if any(sidecar in line for sidecar in SIDECARS)
            ]
    assert not leaks, (
        "sidecar file name outside index_store.py:\n" + "\n".join(leaks)
    )
