"""Seeded input generators and numpy ground truth for the benchmark.

Everything here is a pure function of the seed and the sizes in
``spec.json``: the library under test only ever sees the Parquet files
these tables are written to, never the seed.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENRES = ("news", "code", "legal", "forum", "wiki", "paper", "book", "chat")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _list_column(mat: np.ndarray, typ: pa.DataType) -> pa.Array:
    n, width = mat.shape
    offsets = pa.array(np.arange(0, (n + 1) * width, width, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(mat.reshape(-1), typ))


def write_parts(table: pa.Table, out_dir: str, files: int, row_group: int) -> int:
    """Split ``table`` over ``files`` Parquet files of ``row_group``-row
    groups (the multi-file, multi-row-group layout real datasets have).
    Returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    total = 0
    for i in range(files):
        path = os.path.join(out_dir, f"part-{i:04d}.parquet")
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            path,
            row_group_size=row_group,
        )
        total += os.path.getsize(path)
    return total


def row_digest(*parts: bytes) -> int:
    h = hashlib.blake2b(digest_size=8)
    for p in parts:
        h.update(len(p).to_bytes(4, "little"))
        h.update(p)
    return int.from_bytes(h.digest(), "little")


def canonical_json(text_or_obj) -> bytes:
    obj = json.loads(text_or_obj) if isinstance(text_or_obj, str) else text_or_obj
    return json.dumps(obj, sort_keys=True, separators=(",", ":")).encode()


# ---------------------------------------------------------------------------
# catalog_io: a Pinecone-format dataset
# ---------------------------------------------------------------------------


@dataclass
class CatalogInputs:
    documents: pa.Table
    queries: pa.Table
    user_bytes: int  # raw generated payload bytes, the bytes_per_user_byte base
    doc_digest: int  # order-independent hash of every document row
    query_digest: int  # order-independent hash of every query row


def doc_row_digest(id_, values, sp_idx, sp_val, metadata) -> int:
    return row_digest(
        id_.encode(),
        np.asarray(values, dtype=np.float32).tobytes(),
        np.asarray(sp_idx, dtype=np.int64).tobytes(),
        np.asarray(sp_val, dtype=np.float32).tobytes(),
        canonical_json(metadata),
    )


def query_row_digest(vector, filt, top_k) -> int:
    return row_digest(
        np.asarray(vector, dtype=np.float32).tobytes(),
        canonical_json(filt),
        int(top_k).to_bytes(4, "little"),
    )


def catalog_inputs(seed: int, n_docs: int, dim: int, nnz: int, n_queries: int) -> CatalogInputs:
    rng = _rng(seed, 1)
    values = rng.standard_normal((n_docs, dim), dtype=np.float32)
    sp_idx = np.cumsum(rng.integers(1, 400, (n_docs, nnz)), axis=1).astype(np.int64)
    sp_val = rng.random((n_docs, nnz), dtype=np.float32)
    genre = rng.integers(0, len(GENRES), n_docs)
    year = rng.integers(1990, 2025, n_docs)
    score = rng.integers(0, 1000, n_docs)
    ids = [f"doc-{i:08d}" for i in range(n_docs)]
    metadata = [
        json.dumps({"genre": GENRES[g], "year": int(y), "score": int(s) / 1000})
        for g, y, s in zip(genre, year, score)
    ]
    sparse = pa.StructArray.from_arrays(
        [_list_column(sp_idx, pa.int64()), _list_column(sp_val, pa.float32())],
        names=["indices", "values"],
    )
    documents = pa.table(
        {
            "id": pa.array(ids, pa.string()),
            "values": _list_column(values, pa.float32()),
            "sparse_values": sparse,
            "metadata": pa.array(metadata, pa.string()),
        }
    )
    qvec = rng.standard_normal((n_queries, dim), dtype=np.float32)
    qgenre = rng.integers(0, len(GENRES), n_queries)
    qyear = rng.integers(1990, 2025, n_queries)
    filters = [
        json.dumps({"genre": {"$eq": GENRES[g]}, "year": {"$gte": int(y)}})
        for g, y in zip(qgenre, qyear)
    ]
    top_k = rng.integers(1, 21, n_queries).astype(np.int32)
    queries = pa.table(
        {
            "vector": _list_column(qvec, pa.float32()),
            "filter": pa.array(filters, pa.string()),
            "top_k": pa.array(top_k, pa.int32()),
        }
    )
    doc_digest = sum(
        doc_row_digest(ids[i], values[i], sp_idx[i], sp_val[i], metadata[i]) for i in range(n_docs)
    )
    query_digest = sum(query_row_digest(qvec[i], filters[i], top_k[i]) for i in range(n_queries))
    user_bytes = (
        sum(len(s) for s in ids)
        + values.nbytes + sp_idx.nbytes + sp_val.nbytes
        + sum(len(m) for m in metadata)
        + qvec.nbytes + top_k.nbytes + sum(len(f) for f in filters)
    )
    return CatalogInputs(documents, queries, user_bytes, doc_digest % (1 << 64), query_digest % (1 << 64))


# ---------------------------------------------------------------------------
# vector_search: a clustered corpus with filtered replay queries
# ---------------------------------------------------------------------------


@dataclass
class SearchInputs:
    ids: list
    vectors: np.ndarray  # (n, dim) float32
    cat: np.ndarray  # metadata "cat" index per doc
    num: np.ndarray  # metadata "n" per doc
    qvectors: np.ndarray  # (q, dim) float32
    filters: list  # stored filter JSON per query
    masks: np.ndarray  # (q, n) bool: docs passing each query's filter
    top_k: int
    documents: pa.Table
    queries: pa.Table


def search_inputs(
    seed: int, n_docs: int, dim: int, clusters: int, n_queries: int, top_k: int
) -> SearchInputs:
    """A Gaussian mixture (so IVF cells are meaningful) and queries drawn
    near the same centers, each with a stored Pinecone filter."""
    rng = _rng(seed, 2)
    # centers 0.6 sigma apart against unit noise: clusters overlap enough
    # that an nprobe-limited IVF search misses some true neighbours
    centers = 0.6 * rng.standard_normal((clusters, dim))
    member = rng.integers(0, clusters, n_docs)
    vectors = (centers[member] + rng.standard_normal((n_docs, dim))).astype(np.float32)
    cat = rng.integers(0, 8, n_docs)
    num = rng.integers(0, 1000, n_docs)
    ids = [f"v{i:08d}" for i in range(n_docs)]
    metadata = [json.dumps({"cat": f"c{c}", "n": int(x)}) for c, x in zip(cat, num)]
    qmember = rng.integers(0, clusters, n_queries)
    qvectors = (centers[qmember] + rng.standard_normal((n_queries, dim))).astype(np.float32)
    filters, masks = [], np.zeros((n_queries, n_docs), dtype=bool)
    for i in range(n_queries):
        kind = i % 3
        c1, c2 = (int(x) for x in rng.choice(8, 2, replace=False))
        lim = int(rng.integers(200, 800))
        if kind == 0:
            f = {"cat": {"$eq": f"c{c1}"}}
            m = cat == c1
        elif kind == 1:
            f = {"n": {"$lt": lim}}
            m = num < lim
        else:
            f = {"$and": [{"cat": {"$in": [f"c{c1}", f"c{c2}"]}}, {"n": {"$gte": lim}}]}
            m = ((cat == c1) | (cat == c2)) & (num >= lim)
        filters.append(json.dumps(f))
        masks[i] = m
    documents = pa.table(
        {
            "id": pa.array(ids, pa.string()),
            "values": _list_column(vectors, pa.float32()),
            "metadata": pa.array(metadata, pa.string()),
        }
    )
    queries = pa.table(
        {
            "query_id": pa.array(np.arange(n_queries, dtype=np.int64)),
            "vector": _list_column(qvectors, pa.float32()),
            "filter": pa.array(filters, pa.string()),
            "top_k": pa.array(np.full(n_queries, top_k, dtype=np.int32)),
        }
    )
    return SearchInputs(ids, vectors, cat, num, qvectors, filters, masks, top_k, documents, queries)


def exact_topk(scores: np.ndarray, ids: list, k: int, masks=None) -> list:
    """Per query: the ids of the top ``k`` by (score desc, id asc) among
    the docs its mask admits."""
    order_ids = np.asarray(ids)
    out = []
    for i in range(scores.shape[0]):
        cand = np.arange(scores.shape[1]) if masks is None else np.flatnonzero(masks[i])
        s = scores[i, cand]
        # lexsort: last key is primary -> score desc, then id asc
        sel = cand[np.lexsort((order_ids[cand], -s))[:k]]
        out.append([str(x) for x in order_ids[sel]])
    return out


# ---------------------------------------------------------------------------
# corpus_curation: a text corpus with planted duplicates and contamination
# ---------------------------------------------------------------------------


@dataclass
class CorpusInputs:
    documents: pa.Table  # doc_id long, text string
    benchmark: pa.Table  # text string
    n_docs: int
    twins: list  # (id_a, id_b, char-5-gram jaccard)
    contaminated: list  # doc ids that embed a benchmark passage
    texts: dict = field(repr=False, default_factory=dict)


def _vocabulary(rng: np.random.Generator, size: int) -> list:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set = set()
    while len(words) < size:
        lens = rng.integers(3, 10, size)
        for n in lens:
            words.add("".join(rng.choice(letters, n)))
            if len(words) == size:
                break
    return sorted(words)


def _sentences(words: list) -> str:
    out, i = [], 0
    while i < len(words):
        out.append(" ".join(words[i : i + 12]) + ".")
        i += 12
    return " ".join(out)


def normalized(text: str) -> str:
    return " ".join(text.lower().split())


def char_shingles(text: str, k: int = 5) -> set:
    t = normalized(text)
    return {t[i : i + k] for i in range(max(len(t) - k + 1, 1))}


def jaccard(a: str, b: str) -> float:
    sa, sb = char_shingles(a), char_shingles(b)
    return len(sa & sb) / len(sa | sb)


def corpus_inputs(
    seed: int,
    n_docs: int,
    vocab: int,
    exact_frac: float,
    twin_frac: float,
    boiler_frac: float,
    contam_frac: float,
    twin_jaccard_min: float,
) -> CorpusInputs:
    rng = _rng(seed, 3)
    words = _vocabulary(rng, vocab)

    def draw(n: int) -> list:
        return [words[i] for i in rng.integers(0, len(words), n)]

    boiler_lines = [_sentences(draw(8)) for _ in range(8)]
    bench = [" ".join(draw(20)) for _ in range(40)]
    n_exact = int(n_docs * exact_frac)
    n_twin = int(n_docs * twin_frac)
    n_heavy = int(n_docs * boiler_frac)
    n_contam = int(n_docs * contam_frac)
    n_base = n_docs - n_exact - n_twin
    base = [draw(int(rng.integers(60, 121))) for _ in range(n_base)]
    texts = [_sentences(w) for w in base]
    # plant roles on disjoint base documents
    roles = rng.permutation(n_base)
    exact_src = roles[:n_exact]
    twin_src = roles[n_exact : n_exact + n_twin]
    heavy = roles[n_exact + n_twin : n_exact + n_twin + n_heavy]
    contam = roles[n_exact + n_twin + n_heavy : n_exact + n_twin + n_heavy + n_contam]
    light = roles[n_exact + n_twin + n_heavy + n_contam :][: n_heavy]
    for i in heavy:
        lines = [boiler_lines[j] for j in rng.permutation(len(boiler_lines))[:6]]
        texts[i] = "\n".join([_sentences(base[i][:30])] + lines)
    for i in light:
        texts[i] = texts[i] + "\n" + boiler_lines[int(rng.integers(0, len(boiler_lines)))]
    for i in contam:
        cut = int(rng.integers(10, 50))
        w = base[i]
        texts[i] = _sentences(w[:cut]) + " " + bench[int(rng.integers(0, len(bench)))] + " " + _sentences(w[cut:])
    extra = []
    for i in exact_src:
        t = texts[i]
        extra.append(("exact", int(i), t.upper().replace(" ", "  ", 3) + "  "))
    for i in twin_src:
        w = list(base[i])
        while True:
            cand = list(w)
            pos = rng.choice(len(cand), max(1, int(len(cand) * rng.uniform(0.02, 0.06))), replace=False)
            for p in pos:
                cand[p] = words[int(rng.integers(0, len(words)))]
            t = _sentences(cand)
            j = jaccard(texts[i], t)
            if j >= twin_jaccard_min:
                break
        extra.append(("twin", int(i), t))
    # shuffle final positions so plants are spread over files and ids
    all_texts = texts + [t for _, _, t in extra]
    perm = rng.permutation(len(all_texts))  # perm[pos] = source index
    id_of = np.empty(len(all_texts), dtype=np.int64)
    id_of[perm] = np.arange(len(all_texts))
    twins = []
    for n, (kind, src, t) in enumerate(extra):
        if kind == "twin":
            a, b = int(id_of[src]), int(id_of[n_base + n])
            twins.append((min(a, b), max(a, b), jaccard(texts[src], t)))
    doc_ids = np.arange(len(all_texts), dtype=np.int64)
    ordered = [all_texts[perm[i]] for i in range(len(all_texts))]
    documents = pa.table({"doc_id": pa.array(doc_ids), "text": pa.array(ordered, pa.string())})
    benchmark = pa.table({"text": pa.array(bench, pa.string())})
    return CorpusInputs(
        documents,
        benchmark,
        len(all_texts),
        twins,
        [int(id_of[i]) for i in contam],
        dict(zip(doc_ids.tolist(), ordered)),
    )
