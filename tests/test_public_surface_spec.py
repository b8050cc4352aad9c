"""Static guard against library code that only tests reach (no Spark
session).

A public top-level def or class in ``pinecone_datasets_spark/`` must be
named somewhere a workload can reach it from: elsewhere in the library
(outside its own body and the package ``__init__`` files),
``__spark_entry__.py``, ``bench.py``, ``tools/`` or ``vbench/``. A name
that only tests use is either deleted with its tests or listed in
``ALLOWED`` with the reason it stays: parity with a pinecone-datasets
surface in SURVEY.md, a public export that README or COVERAGE documents,
or a reference implementation that tests compare against.
"""

from __future__ import annotations

import ast
import functools
import os
import re
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIB = "pinecone_datasets_spark"

#: test-only public names that stay, with the reason
ALLOWED = {
    "cache_info": "pinecone-datasets cache API parity (SURVEY S12);"
    " top-level export",
    "set_cache_dir": "pinecone-datasets top-level export; the reference"
    " import surface is pinned by test_reference_parity",
    "pushed_filters": "plans/ export; README documents plans/ as the"
    " pushdown/pruning introspection helpers",
    "scan_read_schema": "plans/ export; README documents plans/ as the"
    " pushdown/pruning introspection helpers",
    "stream_documents": "streaming/ export; COVERAGE file-stream ingest row",
    "stream_crawl_extract": "streaming/ export; COVERAGE streaming crawl"
    " pre-stages row",
    "stream_heavy_hitters": "streaming/ export; COVERAGE streaming heavy"
    " hitters row; README streaming/ line",
    "compact_parquet_dir": "README compact.py row (small-file compaction)",
    "pq_decode_udf": "reference: the reconstruction side of the ADC"
    " anchor test in test_pq",
    "pq_topk": "operators/ export; the ADC side of COVERAGE's IVF-PQ"
    " anchor test, over the LUT kernels IVF-PQ search shares",
    "batch_summary": "COVERAGE length-bucketed batch layout row",
    "chunk_summary": "COVERAGE sequence packing row",
    "audio_spectral_features": "COVERAGE spectral audio features row",
    "extract_container_audio": "README multimodal line; COVERAGE video"
    " frame sampling row",
    "macro_metrics": "operators/ export; COVERAGE IR evaluation row",
    "byte_bpe_decode": "operators/ export; reference inverse the BPE and"
    " shard round-trip tests compare against",
    "bm25_weighted_topk": "operators/ export; COVERAGE RM3 row",
    "bloom_sql": "reference: DuckDB twin of the Bloom filter (COVERAGE"
    " Bloom row)",
    "diff_datasets": "operators/ export; README snapshot line; COVERAGE"
    " snapshot diff row",
    "read_csv": "sources/ export; COVERAGE CSV corpus source row",
    "read_text_files": "sources/ export; COVERAGE raw text-file source row",
    "compression_ratio": "functions/ export; COVERAGE entropy + compression"
    " ratio row",
    "sentence_ngrams": "functions/ export; COVERAGE line-level quality"
    " gates row",
    "badword_fraction": "COVERAGE bad-words blocklist row",
}


def _py_files(rel_dir: str) -> list[str]:
    out = []
    for root, _, files in os.walk(os.path.join(REPO, rel_dir)):
        out += [
            os.path.relpath(os.path.join(root, f), REPO)
            for f in files
            if f.endswith(".py")
        ]
    return sorted(out)


def _source(rel: str) -> str:
    with open(os.path.join(REPO, rel)) as f:
        return f.read()


def _words(text: str) -> Counter:
    return Counter(re.findall(r"\w+", text))


@functools.cache
def _test_only_names() -> dict[str, str]:
    """{name: 'module:line'} for every public top-level def or class
    that no reaching file names."""
    lib = [f for f in _py_files(LIB) if not f.endswith("__init__.py")]
    reaching = [
        *lib,
        "__spark_entry__.py",
        "bench.py",
        *_py_files("tools"),
        *_py_files("vbench"),
    ]
    sources = {rel: _source(rel) for rel in reaching}
    named = _words("\n".join(sources.values()))
    out = {}
    for rel in lib:
        lines = sources[rel].splitlines()
        for node in ast.parse(sources[rel]).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or node.name.startswith("_"):
                continue
            start = min(
                [node.lineno, *(d.lineno for d in node.decorator_list)]
            )
            own = _words("\n".join(lines[start - 1 : node.end_lineno]))
            if named[node.name] == own[node.name]:
                out[node.name] = f"{rel}:{node.lineno}"
    return out


def test_no_unlisted_test_only_code():
    found = _test_only_names()
    unlisted = sorted(f"{where} {name}" for name, where in found.items()
                      if name not in ALLOWED)
    assert not unlisted, (
        "public library code that only tests name; delete it with its"
        " tests, or add it to ALLOWED with the reason it stays:\n"
        + "\n".join(unlisted)
    )


def test_allow_list_is_current():
    stale = sorted(set(ALLOWED) - set(_test_only_names()))
    assert not stale, (
        "ALLOWED names that are gone or now reached outside tests;"
        " drop them from the list: " + ", ".join(stale)
    )
