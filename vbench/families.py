"""The three operation families. Each workload runs one of them; traced
runs also run the others once at toy size.

A family prepares its inputs once per set-up (``prepare``), may do
per-run work before its loop (``start``), and then runs one closed-loop
operation at a time (``op``). An operation calls the library's public
functions only, checks its own result and records its latency, the items
it completed and the time they took. Correctness failures raise
``CheckFailed``, which the runner counts as a failed operation.

Every family reports the same three end-to-end numbers (``e2e``): the
median operation latency, items completed per second and a result
quality ratio; ``detail`` adds the family's own named metrics.
"""

from __future__ import annotations

import os
import shutil
import statistics
import struct
import time

import numpy as np
from pyspark.sql import functions as F

from . import gen


class CheckFailed(Exception):
    """An operation ran but its output was wrong."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def disk_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def _row_hash(cols):
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))


class Family:
    """Sample bookkeeping shared by the families. ``samples[OP]`` holds
    operation latencies; ``items``/``busy`` the items completed and the
    time spent completing them."""

    name = ""
    SAMPLES: tuple = ()
    OP = "op"
    KEEP: tuple = ()  # once-per-run samples that survive the warm-up

    def __init__(self, cfg: dict, work: str):
        self.cfg = cfg
        self.work = work
        self.samples = {k: [] for k in self.SAMPLES}
        self.items = self.busy = 0.0

    def start(self, tracer) -> None:
        pass

    def finish(self) -> None:
        pass

    def discard_warmup(self) -> None:
        """Forget the timings of a warm-up operation (its results still
        count for correctness and quality)."""
        for k, v in self.samples.items():
            if k not in self.KEEP:
                v.clear()
        self.items = self.busy = 0.0

    def record(self, key: str, value: float, items: float = 0.0) -> None:
        """Append a sample; one with ``items`` is the time those items
        took and counts toward items per second."""
        self.samples[key].append(value)
        if items:
            self.items += items
            self.busy += value

    def latency_p50(self) -> float:
        return statistics.median(self.samples[self.OP])


# ---------------------------------------------------------------------------
# catalog: save -> list -> load -> conformed scan -> iter_documents drain
# ---------------------------------------------------------------------------


class CatalogFamily(Family):
    name = "catalog"
    SAMPLES = ("write", "scan", "iter", "op")
    DOC_COLS = ("id", "values", "sparse_values", "metadata")
    QUERY_COLS = ("vector", "filter", "top_k")

    def __init__(self, cfg: dict, work: str):
        super().__init__(cfg, work)
        self.disk_bytes = None

    def prepare(self, spark, seed: int) -> str:
        c = self.cfg
        self.inp = gen.catalog_inputs(seed, c["n_docs"], c["dim"], c["nnz"], c["n_queries"])
        self.in_docs = os.path.join(self.work, "in", "catalog", "documents")
        self.in_queries = os.path.join(self.work, "in", "catalog", "queries")
        for d in (self.in_docs, self.in_queries):
            shutil.rmtree(d, ignore_errors=True)
        gen.write_parts(self.inp.documents, self.in_docs, c["files"], c["row_group"])
        gen.write_parts(self.inp.queries, self.in_queries, 1, c["row_group"])
        self.base = os.path.join(self.work, "out", "catalog")
        self.n_ops = 0
        self.spark = spark
        return f"catalog:{self.inp.doc_digest:016x}:{self.inp.query_digest:016x}"

    def reference_hashes(self):
        """Spark-side hashes of the generated files, read with plain
        ``spark.read`` (not the library), for the scan check."""
        d = self.spark.read.parquet(self.in_docs)
        q = self.spark.read.parquet(self.in_queries)
        rd = d.agg(F.count(F.lit(1)), _row_hash(self.DOC_COLS)).first()
        rq = q.agg(F.count(F.lit(1)), _row_hash(self.QUERY_COLS)).first()
        return tuple(rd), tuple(rq)

    def start(self, tracer) -> None:
        self.ref = self.reference_hashes()

    def op(self, tracer) -> None:
        from pinecone_datasets_spark import Catalog, Dataset, DatasetMetadata, DenseModelMetadata

        spark, c = self.spark, self.cfg
        name = f"ds-{self.n_ops:04d}"
        self.n_ops += 1
        rows = c["n_docs"] + c["n_queries"]
        meta = DatasetMetadata(
            name=name, documents=c["n_docs"], queries=c["n_queries"],
            dense_model=DenseModelMetadata(name="bench-dense", dimension=c["dim"]),
        )
        ds = Dataset.from_dataframe(
            spark, spark.read.parquet(self.in_docs), meta,
            queries=spark.read.parquet(self.in_queries),
        )
        with tracer.span("writer", "save_dataset") as sp:
            Catalog(spark, base_path=self.base).save_dataset(ds)
        t_write = sp.end - sp.start
        files, size = disk_usage(os.path.join(self.base, name))
        sp.extra.update({"files": files, "bytes": size})
        with tracer.span("catalog", "list_datasets") as sp_l:
            names = Catalog(spark, base_path=self.base).list_datasets()
        with tracer.span("catalog", "load_dataset") as sp_ld:
            loaded = Catalog(spark, base_path=self.base).load_dataset(name)
        with tracer.span("reader", "scan") as sp_s:
            docs, queries = loaded.documents, loaded.queries
            sp_s.planned()
            got_d = tuple(docs.agg(F.count(F.lit(1)), _row_hash(self.DOC_COLS)).first())
            got_q = tuple(queries.agg(F.count(F.lit(1)), _row_hash(self.QUERY_COLS)).first())
        t_scan = (sp_l.end - sp_l.start) + (sp_ld.end - sp_ld.start) + (sp_s.end - sp_s.start)
        delivered = []
        wait = 0.0
        first = None
        with tracer.span("dataset", "iter_documents") as sp_i:
            it = loaded.iter_documents(batch_size=c["batch_size"])
            while True:
                t0 = time.time()
                batch = next(it, None)
                wait += time.time() - t0
                if batch is None:
                    break
                if first is None:
                    first = time.time() - sp_i.start
                delivered.append(batch)
            sp_i.extra.update({"first_batch_s": first, "wait_s": wait})
        t_iter = sp_i.end - sp_i.start
        shutil.rmtree(os.path.join(self.base, name), ignore_errors=True)
        if self.disk_bytes is None:
            self.disk_bytes = size
        self.record("write", rows / t_write)
        self.record("scan", rows / t_scan)
        self.record("iter", c["n_docs"] / t_iter)
        self.record("op", t_write + t_scan + t_iter, rows)
        check(names == [name], f"list_datasets returned {names}")
        check(got_d == self.ref[0], f"documents scan {got_d} != generated {self.ref[0]}")
        check(got_q == self.ref[1], f"queries scan {got_q} != generated {self.ref[1]}")
        n = sum(len(b) for b in delivered)
        check(n == c["n_docs"], f"iter_documents delivered {n} rows")
        digest = 0
        for b in delivered:
            for d in b:
                sv = d.get("sparse_values") or {}
                digest += gen.doc_row_digest(
                    d["id"], d["values"], sv.get("indices", []), sv.get("values", []), d["metadata"]
                )
        check(digest % (1 << 64) == self.inp.doc_digest, "iter_documents rows differ from the generated rows")

    def e2e(self) -> dict:
        return {
            "op_p50_s": self.latency_p50(),
            "items_per_s": self.items / self.busy,
            "quality": self.inp.user_bytes / self.disk_bytes,
        }

    def detail(self) -> list:
        med = statistics.median
        return [
            ("write_rows_per_s", med(self.samples["write"]), "rows/s"),
            ("scan_rows_per_s", med(self.samples["scan"]), "rows/s"),
            ("iter_rows_per_s", med(self.samples["iter"]), "rows/s"),
            ("bytes_per_user_byte", self.disk_bytes / self.inp.user_bytes, "ratio"),
        ]


# ---------------------------------------------------------------------------
# search: build_ivf_index, then ANN batches interleaved with exact batches
# ---------------------------------------------------------------------------


class SearchFamily(Family):
    name = "search"
    SAMPLES = ("build", "ann", "exact")
    OP = "ann"
    KEEP = ("build",)
    QUERY_SCHEMA = "query_id long, vector array<float>, filter string, top_k int"

    def __init__(self, cfg: dict, work: str):
        super().__init__(cfg, work)
        self.ann_results: dict = {}
        self.recall = None

    @property
    def n_batches(self) -> int:
        return self.cfg["n_queries"] // self.cfg["batch"]

    def prepare(self, spark, seed: int) -> str:
        c = self.cfg
        self.inp = gen.search_inputs(seed, c["n_docs"], c["dim"], c["clusters"], c["n_queries"], c["top_k"])
        self.in_docs = os.path.join(self.work, "in", "search", "documents")
        shutil.rmtree(self.in_docs, ignore_errors=True)
        gen.write_parts(self.inp.documents, self.in_docs, c["files"], c["row_group"])
        self.spark = spark
        self.n_ops = 0
        h = gen.row_digest(self.inp.vectors.tobytes(), self.inp.qvectors.tobytes(), "".join(self.inp.filters).encode())
        return f"search:{h:016x}"

    def start(self, tracer) -> None:
        """Build the IVF index the ANN batches search, once per run."""
        from pinecone_datasets_spark.operators.ivf import build_ivf_index

        self.index = os.path.join(self.work, "out", "ivf", "index")
        shutil.rmtree(self.index, ignore_errors=True)
        with tracer.span("ivf", "build_ivf_index") as sp:
            centroids = build_ivf_index(
                self.spark.read.parquet(self.in_docs), self.index,
                n_centroids=self.cfg["clusters"], seed=42, trainer="local",
            )
        check(centroids.shape == (self.cfg["clusters"], self.cfg["dim"]), "centroid matrix shape")
        self.record("build", sp.end - sp.start)

    def _batch(self, i: int):
        """The client's next query batch, handed over as in-memory rows."""
        b = self.cfg["batch"]
        lo = (i % self.n_batches) * b
        rows = [tuple(r.values()) for r in self.inp.queries.slice(lo, b).to_pylist()]
        return lo, self.spark.createDataFrame(rows, self.QUERY_SCHEMA)

    def op(self, tracer) -> None:
        """One ANN batch; every ``exact_every``-th operation is followed
        by an exact filtered batch over the same queries."""
        from pinecone_datasets_spark.operators import topk_search
        from pinecone_datasets_spark.operators.ivf import ivf_index_topk

        i = self.n_ops
        self.n_ops += 1
        lo, qb = self._batch(i)
        k = self.cfg["top_k"]
        with tracer.span("ivf", "ivf_index_topk") as sp:
            df = ivf_index_topk(self.spark, self.index, qb, k=k, nprobe=self.cfg["nprobe"])
            sp.planned()
            rows = df.select("query_id", "id", "rank").collect()
        got = _ranked(rows)
        sp.extra["results"] = len(rows)
        self.record("ann", sp.end - sp.start, len(got))
        check(set(got) == set(range(lo, lo + self.cfg["batch"])), "ANN batch lost queries")
        check(all(len(v) == k for v in got.values()), "ANN batch returned short lists")
        if i < self.n_batches:
            self.ann_results.update(got)
        if i % self.cfg["exact_every"]:
            return
        docs = self.spark.read.parquet(self.in_docs)
        with tracer.span("search", "topk_search") as sp:
            df = topk_search(docs, qb, metric="cosine", apply_stored_filters=True)
            sp.planned()
            rows = df.select("query_id", "id", "rank").collect()
        sp.extra["results"] = len(rows)
        got = _ranked(rows)
        self.record("exact", sp.end - sp.start, len(got))
        self._check_exact(lo, got)

    def _check_exact(self, lo: int, got: dict) -> None:
        inp, b = self.inp, self.cfg["batch"]
        qs = np.arange(lo, lo + b)
        scores = inp.qvectors[qs].astype(np.float64) @ inp.vectors.astype(np.float64).T
        scores /= np.linalg.norm(inp.vectors.astype(np.float64), axis=1)[None, :]
        scores /= np.linalg.norm(inp.qvectors[qs].astype(np.float64), axis=1)[:, None]
        want = gen.exact_topk(scores, inp.ids, inp.top_k, inp.masks[qs])
        pos = {d: j for j, d in enumerate(inp.ids)}
        for r, q in enumerate(qs):
            g, w = got.get(int(q), []), want[r]
            if g == w:
                continue
            # equal up to float rounding: a swap is allowed only between
            # scores that agree to 1e-9, the precision of this reference
            check(len(g) == len(w), f"query {q}: {len(g)} results, want {len(w)}")
            for a, e in zip(g, w):
                check(inp.masks[q, pos[a]], f"query {q}: {a} fails the stored filter")
                check(abs(scores[r, pos[a]] - scores[r, pos[e]]) < 1e-9, f"query {q}: got {g}, want {w}")

    def finish(self) -> None:
        """recall@k of the first full ANN pass over the replay set against
        exact numpy ground truth (unfiltered, ties broken by id)."""
        inp = self.inp
        qs = sorted(self.ann_results)
        check(len(qs) == inp.qvectors.shape[0], "ANN replay did not cover every query")
        x = inp.vectors.astype(np.float64)
        q = inp.qvectors.astype(np.float64)
        scores = (q @ x.T) / np.linalg.norm(x, axis=1)[None, :] / np.linalg.norm(q, axis=1)[:, None]
        truth = gen.exact_topk(scores, inp.ids, inp.top_k)
        hits = sum(len(set(self.ann_results[i]) & set(truth[i])) for i in qs)
        self.recall = hits / (len(qs) * inp.top_k)

    def e2e(self) -> dict:
        return {
            "op_p50_s": self.latency_p50(),
            "items_per_s": self.items / self.busy,
            "quality": self.recall,
        }

    def detail(self) -> list:
        med = statistics.median
        n = len(self.samples["ann"])
        return [
            ("index_build_s", med(self.samples["build"]), "s"),
            ("ann_batch_p50_s", med(self.samples["ann"]), "s"),
            # a tail needs ten samples beyond its percentile, so at least 20
            ("ann_batch_tail_s", "n/a", f"(a tail needs 20 batches; ran {n})"),
            ("exact_batch_p50_s", med(self.samples["exact"]), "s"),
            ("recall_at_10", self.recall, "ratio"),
        ]


def _ranked(rows) -> dict:
    out: dict = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(int(r["query_id"]), []).append(r["id"])
    return out


# ---------------------------------------------------------------------------
# curation: curate_corpus_full -> BPE token ids -> write_token_shards
# ---------------------------------------------------------------------------


def read_shard_ids(path: str) -> list:
    ids = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".idx"):
            continue
        with open(os.path.join(path, name), "rb") as fh:
            data = fh.read()
        (count,) = struct.unpack_from("<Q", data, 16)
        ids.extend(int(d) for d, _ in struct.iter_unpack("<qq", data[24 : 24 + 16 * count]))
    return ids


class CurationFamily(Family):
    name = "curation"
    SAMPLES = ("op",)

    def __init__(self, cfg: dict, work: str):
        super().__init__(cfg, work)
        self.neardup_recall = None

    def prepare(self, spark, seed: int) -> str:
        from pinecone_datasets_spark.operators.bpe import EOW, bpe_vocab, train_bpe, word_histogram

        c = self.cfg
        self.inp = gen.corpus_inputs(
            seed, c["n_docs"], c["vocab"], c["exact_frac"], c["twin_frac"],
            c["boiler_frac"], c["contam_frac"], c["twin_jaccard_min"],
        )
        self.in_docs = os.path.join(self.work, "in", "curation", "documents")
        self.in_bench = os.path.join(self.work, "in", "curation", "benchmark")
        for d in (self.in_docs, self.in_bench):
            shutil.rmtree(d, ignore_errors=True)
        gen.write_parts(self.inp.documents, self.in_docs, c["files"], c["row_group"])
        gen.write_parts(self.inp.benchmark, self.in_bench, 1, c["row_group"])
        self.spark = spark
        # BPE vocabulary: the library's trainer over the corpus histogram,
        # plus every single character so no token id is unknown (-1)
        hist = word_histogram(spark.read.parquet(self.in_docs))
        self.merges = train_bpe(hist, n_merges=c["bpe_merges"])
        vocab = bpe_vocab(self.merges)
        chars = sorted({ch for w, _ in hist for ch in w} | {EOW})
        self.vocab = vocab + [t for t in chars if t not in set(vocab)]
        self.n_ops = 0
        h = gen.row_digest("\x00".join(self.inp.texts[i] for i in sorted(self.inp.texts)).encode())
        return f"curation:{h:016x}"

    def _curate(self):
        from pinecone_datasets_spark.operators.pipeline import curate_corpus_full

        c = self.cfg
        return curate_corpus_full(
            self.spark.read.parquet(self.in_docs),
            text_col="text", id_col="doc_id",
            neardup_jaccard=c["neardup_jaccard"],
            max_boilerplate=c["max_boilerplate"],
            benchmark=self.spark.read.parquet(self.in_bench),
        )

    def op(self, tracer) -> None:
        from pyspark import StorageLevel

        from pinecone_datasets_spark.operators.bpe import bpe_tokenize_udf
        from pinecone_datasets_spark.operators.shards import write_token_shards

        out = os.path.join(self.work, "out", "shards", f"op-{self.n_ops}")
        self.n_ops += 1
        t0 = time.time()
        staged = []
        with tracer.span("pipeline", "curate_corpus_full") as sp:
            kept = self._curate()
            sp.planned()
            if tracer.enabled:
                # traced runs materialize each layer's output so its jobs
                # are attributed to it; untraced runs fuse all three
                kept = kept.persist(StorageLevel.MEMORY_AND_DISK)
                kept.count()
                staged.append(kept)
        with tracer.span("bpe", "tokenize") as sp:
            tok = kept.select("doc_id", bpe_tokenize_udf(self.merges, ids=True, vocab=self.vocab)(F.col("text")).alias("token_ids"))
            sp.planned()
            if tracer.enabled:
                tok = tok.persist(StorageLevel.MEMORY_AND_DISK)
                tok.count()
                staged.append(tok)
        with tracer.span("shards", "write_token_shards") as sp:
            manifest = write_token_shards(tok, out, num_shards=self.cfg["shards"])
        elapsed = time.time() - t0
        for df in staged:
            df.unpersist()
        files, size = disk_usage(out)
        sp.extra.update({"files": files, "bytes": size})
        kept_ids = read_shard_ids(out)
        shutil.rmtree(out, ignore_errors=True)
        self.record("op", elapsed, self.inp.n_docs)
        kept = set(kept_ids)
        if self.neardup_recall is None:
            self.neardup_recall = sum(b not in kept for _, b, _ in self.inp.twins) / len(self.inp.twins)
        self._check(manifest, kept_ids)

    def e2e(self) -> dict:
        return {
            "op_p50_s": self.latency_p50(),
            "items_per_s": self.items / self.busy,
            "quality": self.neardup_recall,
        }

    def detail(self) -> list:
        return [
            ("curate_docs_per_s", self.inp.n_docs / self.latency_p50(), "docs/s"),
            ("neardup_recall", self.neardup_recall, "ratio"),
        ]

    def _check(self, manifest: dict, kept_ids: list) -> None:
        inp = self.inp
        kept = set(kept_ids)
        check(len(kept) == len(kept_ids) == manifest["n_docs"], "shards hold duplicate or uncounted docs")
        check(kept <= set(inp.texts), "curation invented document ids")
        check(0 < len(kept) < inp.n_docs, f"curation kept {len(kept)} of {inp.n_docs} docs")
        seen: dict = {}
        for i in kept:
            key = gen.normalized(inp.texts[i])
            check(key not in seen, f"exact duplicates {seen.get(key)} and {i} both survived")
            seen[key] = i
        check(not kept & set(inp.contaminated), "a contaminated document survived")

    def probes(self, tracer) -> None:
        """Standalone calls of the curation sub-operators (traced runs
        only): reported on their own, not summed into the pipeline."""
        from pinecone_datasets_spark.operators.boilerplate import boilerplate_profile
        from pinecone_datasets_spark.operators.decontaminate import ngram_contamination
        from pinecone_datasets_spark.operators.dedup import ngram_jaccard_pairs

        docs = self.spark.read.parquet(self.in_docs)
        c = self.cfg
        with tracer.span("dedup", "ngram_jaccard_pairs") as sp:
            df = ngram_jaccard_pairs(docs, threshold=c["neardup_jaccard"], text_col="text", id_col="doc_id")
            sp.planned()
            verified = df.count()
        sp.extra["verified"] = verified
        # aggregate a computed column: a bare count() lets the optimizer
        # prune the per-document work these operators exist to do
        with tracer.span("boilerplate", "boilerplate_profile") as sp:
            df = boilerplate_profile(docs, n=2, text_col="text", id_col="doc_id")
            sp.planned()
            df.agg(F.sum("boilerplate_frac")).collect()
        with tracer.span("decontaminate", "ngram_contamination") as sp:
            df = ngram_contamination(docs, self.spark.read.parquet(self.in_bench), n=3, text_col="text", id_col="doc_id")
            sp.planned()
            df.agg(F.sum("contamination_rate")).collect()
