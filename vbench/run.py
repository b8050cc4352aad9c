"""Benchmark runner: one workload, one seed, one fresh process and session.

Run from the repository root:

    python3 vbench/run.py --workload vector_search --seed 1 --seconds 8 --trace 0

Each workload is one operation family (``families.py``) run as a closed
loop with one client: a few untimed warm-up operations, then at least
``--seconds`` and at least the family's ``min_ops`` measured operations.
``--trace 0`` measures with tracing off and reports the end-to-end
metrics. ``--trace 1`` alternates one untraced and one traced group of
operations, runs a warm-up and a traced group of each other family so
that every layer reports, and prints the per-layer split plus the tracing
overhead. Input sizes, seeds and the layer map are in ``spec.json``. The
last stdout line is the JSON result; everything the run writes lives
under ``.vbench_work/`` in the current directory and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
if os.path.dirname(HERE) not in sys.path:
    sys.path.insert(0, os.path.dirname(HERE))

from vbench import families  # noqa: E402
from vbench.trace import Tracer  # noqa: E402

FAMILIES = {
    "catalog": families.CatalogFamily,
    "search": families.SearchFamily,
    "curation": families.CurationFamily,
}

#: The counters each span reports: those its calls can make nonzero. A
#: span without a separate action reports no plan_s; only spans that run
#: Python workers report py_run_s and py_bytes.
BASE = ("wall_s", "exec_s", "driver_s", "tasks", "cpu_s", "shuffle_bytes")
PLANNED = BASE + ("plan_s",)
PYTHON = ("py_run_s", "py_bytes")
SPAN_COUNTERS = {
    "writer.save_dataset": ("wall_s", "exec_s", "driver_s", "tasks", "cpu_s"),
    "catalog.list_datasets": ("wall_s", "driver_s"),
    "catalog.load_dataset": ("wall_s", "driver_s"),
    "reader.scan": PLANNED,
    "dataset.iter_documents": BASE,
    "search.topk_search": PLANNED,
    "ivf.build_ivf_index": BASE + PYTHON,
    "ivf.ivf_index_topk": PLANNED,
    "pipeline.curate_corpus_full": PLANNED + ("gc_s",),
    "bpe.tokenize": PLANNED + PYTHON,
    "shards.write_token_shards": BASE + PYTHON,
    "dedup.ngram_jaccard_pairs": PLANNED,
    "boilerplate.boilerplate_profile": PLANNED,
    "decontaminate.ngram_contamination": PLANNED,
}


def load_json(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def driver_heap() -> str:
    """A quarter of physical memory, at most 4 GiB, leaving room for other
    processes on the machine."""
    with open("/proc/meminfo") as fh:
        kib = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, kib // (4 * 1024 * 1024)))}g"


def family_config(spec: dict, family: str, toy: bool) -> dict:
    """A family's inputs, optionally shrunk to the toy sizes."""
    return {**spec["families"][family], **(spec["toy"][family] if toy else {})}


class Run:
    def __init__(self, spec: dict, workload: str, seed: int, seconds: float, trace: bool, work: str, toy: bool = False):
        self.spec, self.seed, self.seconds, self.trace, self.work = spec, seed, seconds, trace, work
        self.cores = os.cpu_count() or 1
        self.spark = None
        self.attempted = self.failed = 0
        name = spec["workloads"][workload]["family"]
        self.main = FAMILIES[name](family_config(spec, name, toy), work)
        # traced runs also run the other families, at the main family's
        # sizes (full size, or toy size in the self-test)
        self.others = [
            FAMILIES[f](family_config(spec, f, toy), os.path.join(work, "others"))
            for f in FAMILIES if trace and f != name
        ]
        self.session = {"start_s": [], "ship_s": [], "warm_s": []}
        self.walls = {True: [], False: []}  # traced? -> operation wall times
        self.warm_walls = []

    # -- set-up ----------------------------------------------------------

    def start_session(self):
        from pinecone_datasets_spark import get_spark_session

        w = self.work
        return get_spark_session(
            app_name="vbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.driver.memory": driver_heap(),
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(w, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(w, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(w, 'tmp')}",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            },
        )

    def setup_once(self) -> tuple[float, list]:
        """Session start, package shipping, input generation (and the BPE
        vocabulary), then a warm-up read of every generated input."""
        from pinecone_datasets_spark.shipping import ensure_shipped

        t0 = time.time()
        if self.spark is not None:
            self.spark.stop()
        self.spark = self.start_session()
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.time()
        ensure_shipped(self.spark)
        t2 = time.time()
        fams = [self.main] + self.others
        digests = [f.prepare(self.spark, self.seed) for f in fams]
        t3 = time.time()
        for f in fams:
            got = self.spark.read.parquet(f.in_docs).count()
            families.check(got == f.cfg["n_docs"], f"{f.name} input has {got} rows")
        t4 = time.time()
        self.session["start_s"].append(t1 - t0)
        self.session["ship_s"].append(t2 - t1)
        self.session["warm_s"].append(t4 - t3)
        return t4 - t0, digests

    def calib(self) -> float:
        """A fixed pure-JVM job: host speed, for drift diagnosis only."""
        from pyspark.sql import functions as F

        t0 = time.time()
        self.spark.range(0, 20_000_000, 1, self.cores).select(F.sum(F.hash("id").cast("long"))).collect()
        return time.time() - t0

    # -- measurement -----------------------------------------------------

    def attempt(self, fn, *args) -> None:
        self.attempted += 1
        try:
            fn(*args)
        except Exception:  # a failed operation is counted; the loop goes on
            self.failed += 1
            traceback.print_exc(file=sys.stderr)

    def loop(self, tracer: Tracer) -> None:
        fam = self.main
        tracer.enabled = self.trace
        self.attempt(fam.start, tracer)
        # traced runs alternate untraced and traced groups of operations
        # (a search group spans one exact batch); the wall-time ratio
        # between the two is the tracing overhead. They need only one
        # group of each, which keeps them within the run time limit.
        group = fam.cfg.get("exact_every", 1)
        need = 2 * group if self.trace else fam.cfg["min_ops"]
        # the first `warmup` operations are checked, but their timings are
        # dropped: the JIT and the Python workers warm up over them
        warm = fam.cfg["warmup"]
        t0 = time.time()
        n = 0
        while n < warm + need or time.time() - t0 < self.seconds:
            traced = self.trace and n >= warm and ((n - warm) // group) % 2 == 1
            tracer.enabled = traced
            s = time.time()
            self.attempt(fam.op, tracer)
            if n < warm:
                self.warm_walls.append(time.time() - s)
                fam.discard_warmup()
                t0 = time.time()
            else:
                self.walls[traced].append(time.time() - s)
            n += 1
        tracer.enabled = False
        self.attempt(fam.finish)

    def run(self) -> dict:
        setups, digests = [], []
        # setup_s is the median of several set-ups; a traced run reports
        # only the first, so it sets up once
        for _ in range(1 if self.trace else self.spec["setup_reps"]):
            took, digests = self.setup_once()
            setups.append(took)
        print("inputs", self.seed, " ".join(digests))
        print("setup_s per rep (the first launches the JVM)", " ".join(f"{t:.2f}" for t in setups))
        # the start-of-run calibration job runs cold; traced runs only
        calib0 = self.calib() if self.trace else None
        tracer = Tracer(self.spark, False)
        self.loop(tracer)
        if self.trace:
            # each other family runs one untraced warm-up operation, then
            # one traced group of operations
            for fam in self.others:
                tracer.enabled = True
                self.attempt(fam.start, tracer)
                tracer.enabled = False
                self.attempt(fam.op, tracer)
                tracer.enabled = True
                for _ in range(fam.cfg.get("exact_every", 1)):
                    self.attempt(fam.op, tracer)
            tracer.enabled = True
            cur = next(f for f in [self.main] + self.others if f.name == "curation")
            self.attempt(cur.probes, tracer)
            tracer.enabled = False
        calib1 = self.calib()
        print(f"host.calib_s {calib1:.3f} at end of run")
        values = {
            "setup_s": statistics.median(setups),
            "ok_ratio": (self.attempted - self.failed) / self.attempted,
        }
        values.update(self.main.e2e())
        walls = self.walls[False] + self.walls[True]
        print(f"{self.main.name}: warm-up", " ".join(f"{w:.2f}" for w in self.warm_walls))
        print(f"{self.main.name}: {len(walls)} ops in {sum(walls):.1f} s:", " ".join(f"{w:.2f}" for w in walls))
        print(f"fail_ratio {self.failed / self.attempted} failed/attempted")
        for name, value, unit in self.main.detail():
            print(f"{name} {value} {unit}")
        if self.trace:
            values.update(self.layer_values(tracer, (calib0 + calib1) / 2))
        return values

    def layer_values(self, tracer: Tracer, calib: float) -> dict:
        per = tracer.per_call()
        out = {f"{key}.{c}": per[key][c] for key, counters in SPAN_COUNTERS.items() for c in counters}
        # the first set-up, the one that launches the JVM: what a run pays
        for k, v in self.session.items():
            out[f"session.{k}"] = v[0]
        out["writer.files"] = per["writer.save_dataset"]["files"]
        out["writer.bytes"] = per["writer.save_dataset"]["bytes"]
        out["dataset.first_batch_s"] = per["dataset.iter_documents"]["first_batch_s"]
        out["dataset.wait_s"] = per["dataset.iter_documents"]["wait_s"]
        for key in ("search.topk_search", "ivf.ivf_index_topk"):
            out[key.split(".")[0] + ".rows_scored_per_result"] = per[key]["join_rows"] / per[key]["results"]
        jp = per["dedup.ngram_jaccard_pairs"]
        out["dedup.candidates_per_verified_pair"] = jp["join_rows"] / max(jp["verified"], 1)
        out["shards.files"] = per["shards.write_token_shards"]["files"]
        out["shards.bytes"] = per["shards.write_token_shards"]["bytes"]
        out["host.calib_s"] = calib
        on, off = self.walls[True], self.walls[False]
        out["trace.overhead_ratio"] = statistics.median(on) / statistics.median(off) - 1.0
        return out

    def close(self) -> None:
        """Stop the session and the JVM it started, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def run_workload(spec: dict, workload: str, seed: int, seconds: float, trace: bool, root: str, toy: bool = False) -> dict:
    """Run one workload in a scratch directory under ``root`` and return
    the result object (``correct``, ``attempted``, ``failed``, ``metrics``)."""
    work = os.path.join(root, ".vbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # Python workers import the library from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    run = Run(spec, workload, seed, seconds, trace, work, toy)
    try:
        values = run.run()
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    bench = load_json(os.path.join(root, "BENCHMARK.json"))
    wanted = bench["per_layer"] if trace else bench["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    return {"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    try:
        import pinecone_datasets_spark
    except ImportError as e:
        print(f"vbench: cannot import the library from {root}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(pinecone_datasets_spark.__file__).startswith(root + os.sep):
        print("vbench: run from the repository root", file=sys.stderr)
        return 2
    spec = load_json(os.path.join(HERE, "spec.json"))
    if args.workload not in spec["workloads"]:
        print(f"vbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    result = run_workload(spec, args.workload, args.seed, args.seconds, bool(args.trace), root)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
