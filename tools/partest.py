#!/usr/bin/env python
"""Sharded parallel pytest runner — the pytest-xdist substitute for this
environment (xdist is not installed).

Splits ``tests/test_*.py`` across N worker processes (default 4), each
with its OWN Python process, JVM/SparkSession and tmp basedir, so
filesystem tests cannot collide. Every test file runs exactly once; the
exit code is nonzero iff any shard fails.

File→shard assignment is greedy longest-processing-time over per-file
costs LEARNED from the previous run: every shard runs with
``--durations=0`` and the parsed per-file totals are merged into
``tools/partest_durations.json`` at exit, so the balance tracks the
suite as tests are added (VERDICT r6 item 8 — the static table
silently unbalanced). Fallbacks, in order: the durations file, the
static table from the last hand-measured full run, file size.

Usage::

    python tools/partest.py            # 4 workers
    SPARK_GRAFT_TEST_WORKERS=6 python tools/partest.py
    python tools/partest.py tests/test_dsir.py tests/test_pq.py  # subset
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Seconds of suite time per file, measured on the grading host (r6 full
# run, --durations). Only files that materially shape the balance are
# listed; everything else defaults to its size in KiB (roughly 1 KiB ≈
# 0.7 s on this suite).
MEASURED_COST = {
    "test_spans_properties.py": 36,
    "test_entry_guard.py": 93,
    "test_snapshot_properties.py": 22,
    "test_dedup_text.py": 28,
    "test_prf.py": 20,
    "test_pq.py": 18,
    "test_asof_range.py": 15,
    "test_streaming.py": 14,
    "test_arrow_search.py": 14,
    "test_keyword.py": 12,
    "test_ivf.py": 12,
    "test_pipeline_full.py": 10,
    "test_streaming_anomaly.py": 10,
    "test_quality_model.py": 9,
    "test_public_api.py": 9,
}


DURATIONS_FILE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "partest_durations.json"
)


def _learned() -> dict[str, float]:
    try:
        import json

        with open(DURATIONS_FILE) as fh:
            d = json.load(fh)
        return {k: float(v) for k, v in d.items() if v > 0}
    except Exception:  # noqa: BLE001 — heuristic, never a failure
        return {}


def _cost(path: str, learned: dict[str, float]) -> float:
    base = os.path.basename(path)
    if base in learned:
        return learned[base]
    if base in MEASURED_COST:
        return float(MEASURED_COST[base])
    # resolve against the repo root: a subset run launched from
    # elsewhere crashed on the cwd-relative getsize even though the
    # pytest child (cwd=REPO) would find the file (r11 review)
    full = path if os.path.isabs(path) else os.path.join(REPO, path)
    try:
        return os.path.getsize(full) / 1024.0 * 0.7
    except OSError:
        return 30.0  # unknown file: mid-weight guess


def _parse_durations(log_path: str) -> dict[str, float]:
    """Sum pytest --durations=0 lines ('1.23s call tests/f.py::t') per
    file; session-fixture setup (Spark start) lands on the first test's
    setup line, which is real cost the balancer should see."""
    import re

    per_file: dict[str, float] = {}
    pat = re.compile(
        r"^\s*([0-9.]+)s\s+(?:call|setup|teardown)\s+"
        r".*?tests/(test_[A-Za-z0-9_]+\.py)::"
    )
    try:
        with open(log_path) as fh:
            for line in fh:
                m = pat.match(line)
                if m:
                    f = m.group(2)
                    per_file[f] = per_file.get(f, 0.0) + float(m.group(1))
    except OSError:
        pass
    return {k: round(v, 1) for k, v in per_file.items()}


def main() -> int:
    n = int(os.environ.get("SPARK_GRAFT_TEST_WORKERS", "4"))
    args = sys.argv[1:]
    files = args or sorted(glob.glob(os.path.join(REPO, "tests", "test_*.py")))
    if not files:
        print("partest: no test files found", file=sys.stderr)
        return 2

    learned = _learned()
    shards: list[list[str]] = [[] for _ in range(n)]
    loads = [0.0] * n
    for f in sorted(files, key=lambda p: _cost(p, learned), reverse=True):
        i = loads.index(min(loads))
        shards[i].append(f)
        loads[i] += _cost(f, learned)

    t0 = time.time()
    procs = []
    for i, shard in enumerate(shards):
        if not shard:
            continue
        log = f"/tmp/partest_shard_{i}.log"
        fh = open(log, "w")
        procs.append(
            (
                i,
                log,
                fh,
                subprocess.Popen(
                    [
                        sys.executable, "-m", "pytest", "-q",
                        "-p", "no:cacheprovider",
                        "--durations=0", "--durations-min=0.05",
                        f"--basetemp=/tmp/partest_tmp_{i}",
                        *shard,
                    ],
                    cwd=REPO,
                    stdout=fh,
                    stderr=subprocess.STDOUT,
                ),
            )
        )
        print(
            f"partest: shard {i}: {len(shard)} files"
            f" (~{loads[i]:.0f}s est) -> {log}",
            flush=True,
        )

    rc = 0
    measured: dict[str, float] = {}
    for i, log, fh, p in procs:
        p.wait()
        fh.close()
        with open(log) as lf:
            tail = lf.readlines()[-1].strip() if os.path.getsize(log) else ""
        status = "ok" if p.returncode == 0 else f"FAILED rc={p.returncode}"
        print(f"partest: shard {i} {status}: {tail}", flush=True)
        measured.update(_parse_durations(log))
        if p.returncode != 0:
            rc = 1
            with open(log) as lf:
                body = lf.read()
            # surface the failing tests without dumping whole logs
            for line in body.splitlines():
                if line.startswith("FAILED") or line.startswith("ERROR"):
                    print(f"  shard {i}: {line}", flush=True)
    if measured and rc == 0:
        # merge (subset runs only refresh the files they ran) so the
        # next invocation balances on real, current numbers
        try:
            import json

            merged = {**_learned(), **measured}
            with open(DURATIONS_FILE, "w") as fh:
                json.dump(dict(sorted(merged.items())), fh, indent=1)
                fh.write("\n")
        except OSError:
            pass
    print(f"partest: total wall {time.time() - t0:.0f}s", flush=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
