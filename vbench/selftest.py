"""Self-test of the benchmark at toy size.

Run from the repository root (about ten minutes on four cores):

    python3 vbench/selftest.py

For every workload, and for the dropped catalog_io workload whose family
traced runs still exercise, it runs the benchmark untraced and traced and
asserts that each metric named in BENCHMARK.json is emitted with its
unit and that a clean run passes every check. It then corrupts one
result the library returns and asserts that the failure shows in
``ok_ratio``.
"""

from __future__ import annotations

import math
import os
import sys
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from vbench import families  # noqa: E402
from vbench.run import load_json, run_workload  # noqa: E402


@contextmanager
def patched(obj, name: str, wrap):
    orig = getattr(obj, name)
    setattr(obj, name, wrap(orig))
    try:
        yield
    finally:
        setattr(obj, name, orig)


def drop_first_row(iter_documents):
    def wrapper(self, *args, **kwargs):
        for i, batch in enumerate(iter_documents(self, *args, **kwargs)):
            yield batch[1:] if i == 0 else batch
    return wrapper


def reverse_ranks(ranked):
    return lambda rows: {q: ids[::-1] for q, ids in ranked(rows).items()}


def duplicate_first_id(read_ids):
    return lambda path: (lambda ids: ids + ids[:1])(read_ids(path))


def corruption(family: str):
    """Corrupt what the library hands back to the benchmark."""
    if family == "catalog":
        from pinecone_datasets_spark.dataset import Dataset

        return patched(Dataset, "iter_documents", drop_first_row)
    if family == "search":
        return patched(families, "_ranked", reverse_ranks)
    return patched(families, "read_shard_ids", duplicate_first_id)


def check_metrics(result: dict, wanted: list, label: str) -> None:
    got = result["metrics"]
    names = [m["name"] for m in wanted]
    assert sorted(got) == sorted(names), f"{label}: metric names differ: {sorted(set(got) ^ set(names))}"
    for m in wanted:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], f"{label}: {m['name']} unit {v['unit']}"
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), f"{label}: {m['name']} = {v['value']}"


def main() -> int:
    root = os.getcwd()
    spec = load_json(os.path.join(HERE, "spec.json"))
    bench = load_json(os.path.join(root, "BENCHMARK.json"))
    seed = spec["seed"]
    spec["workloads"].update(spec["dropped_workloads"])
    for name, wl in spec["workloads"].items():
        for trace in (False, True):
            label = f"{name} trace={int(trace)}"
            res = run_workload(spec, name, seed, 1, trace, root, toy=True)
            check_metrics(res, bench["per_layer"] if trace else bench["end_to_end"], label)
            assert res["correct"] and res["failed"] == 0, f"{label}: {res['failed']} failed"
            if not trace:
                assert res["metrics"]["ok_ratio"]["value"] == 1.0
            print(f"ok   {label}: {len(res['metrics'])} metrics, {res['attempted']} operations", flush=True)
        with corruption(wl["family"]):
            res = run_workload(spec, name, seed, 1, False, root, toy=True)
        check_metrics(res, bench["end_to_end"], f"{name} corrupted")
        ok = res["metrics"]["ok_ratio"]["value"]
        assert not res["correct"] and res["failed"] > 0 and ok < 1.0, f"{name}: corruption not detected"
        print(f"ok   {name} corrupted: {res['failed']} of {res['attempted']} failed, ok_ratio {ok:.3f}", flush=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
