"""Static drift guard for the per-query top-k cut (no Spark session).

``sampling.cap_per_group`` is the one place that ranks rows inside a
group and cuts them to a literal bound (``row_number``, so ties never
exceed n rows; a literal n, so Spark plans a ``WindowGroupLimit``). The
ranking operators below used to retype that window tail by hand — 26
copies whose tie rule and bound could drift apart one by one. This test
fails when a hand-rolled ``F.row_number()`` comes back into any of them.
"""

from __future__ import annotations

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OPS = "pinecone_datasets_spark/operators"

RANKING_MODULES = (
    "evaluate.py",
    "ivf.py",
    "keyword.py",
    "lateinteraction.py",
    "mining.py",
    "pq.py",
    "prf.py",
    "rerank.py",
    "rproject.py",
    "search.py",
    "terms.py",
)


def _source(name: str) -> str:
    with open(os.path.join(REPO, OPS, name)) as f:
        return f.read()


def test_ranking_modules_hold_no_hand_rolled_row_number():
    copies = []
    for name in RANKING_MODULES:
        for n, line in enumerate(_source(name).splitlines(), 1):
            if "F.row_number()" in line:
                copies.append(f"{OPS}/{name}:{n}: {line.strip()}")
    assert not copies, (
        "hand-rolled per-group top-k; use sampling.cap_per_group"
        " instead:\n" + "\n".join(copies)
    )


def test_ranking_modules_cut_through_cap_per_group():
    stale = [n for n in RANKING_MODULES if "cap_per_group(" not in _source(n)]
    assert not stale, f"listed modules no longer call cap_per_group: {stale}"
