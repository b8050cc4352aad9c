"""Static drift guard for the zero-vector norm floor (no Spark session).

``functions/vector.py`` is the only module that knows the floor: Column
code scores with ``cosine_from_norms`` and NumPy code normalizes with
``unit_rows``. A hand-copied guard elsewhere is how the copies drifted
apart before (one floored the product of the norms instead of each
norm), so this test fails on the next hand copy in the library or the
entry module. Tests and tools are not scanned: their NumPy oracles
compute expected values independently on purpose.
"""

from __future__ import annotations

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OWNER = "pinecone_datasets_spark/functions/vector.py"

# path -> stripped source lines allowed to hold a pattern, with the reason
ALLOWED = {
    "pinecone_datasets_spark/operators/ivf.py": {
        # ivf_topk.probes normalizes ONE 1-D query: numpy takes the dot
        # path there, not unit_rows' row reduction, and the last bit can
        # differ — swapping it in could reorder near-tie probes.
        "v = v / max(np.linalg.norm(v), NORM_FLOOR)",
    },
}

PATTERNS = ("F.lit(1e-30)", "F.lit(NORM_FLOOR)", "np.linalg.norm(")


def _program_files():
    yield "__spark_entry__.py"
    root = os.path.join(REPO, "pinecone_datasets_spark")
    for dirpath, _, files in os.walk(root):
        for name in sorted(files):
            if name.endswith(".py"):
                full = os.path.join(dirpath, name)
                yield os.path.relpath(full, REPO).replace(os.sep, "/")


def test_norm_floor_lives_only_in_functions_vector():
    copies = []
    for rel in _program_files():
        if rel == OWNER:
            continue
        allowed = ALLOWED.get(rel, set())
        with open(os.path.join(REPO, rel)) as f:
            for n, line in enumerate(f, 1):
                text = line.strip()
                if text in allowed:
                    continue
                if any(p in text for p in PATTERNS):
                    copies.append(f"{rel}:{n}: {text}")
    assert not copies, (
        "hand-copied norm floor; use functions.vector.cosine_from_norms"
        " / unit_rows instead:\n" + "\n".join(copies)
    )


def test_allow_listed_lines_still_exist():
    stale = []
    for rel, lines in ALLOWED.items():
        with open(os.path.join(REPO, rel)) as f:
            present = {line.strip() for line in f}
        stale += [f"{rel}: {t}" for t in sorted(lines - present)]
    assert not stale, f"allow-list entries no longer in source: {stale}"
