"""Per-layer tracing from outside the library.

A span wraps one call into a layer's public function. When tracing is on,
the span tags the Spark jobs it causes with its own ``setJobGroup`` and,
once the run is over, reads Spark's in-process status stores (the same
data the web UI shows, present with the UI disabled) to attribute tasks,
CPU, GC, shuffle bytes and Python-worker time to it. With tracing off a
span costs two clock reads and touches no Spark state.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: The ten counters every span reports, per call (the mean over calls).
COUNTERS = (
    "wall_s", "plan_s", "exec_s", "driver_s", "tasks",
    "cpu_s", "gc_s", "shuffle_bytes", "py_run_s", "py_bytes",
)

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}


def parse_sql_metric(text: str) -> float:
    """Value of one SQL metric as the status store formats it: either
    ``'8.6 s'`` / ``'1,024'`` or a ``'total (min, med, max ...)'`` header
    followed by ``'<total> (<min>, ...)'`` on the next line."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


@dataclass
class Span:
    key: str  # "<layer>.<name>"
    group: str
    start: float
    end: float = 0.0
    plan_end: float | None = None
    extra: dict = field(default_factory=dict)

    def planned(self) -> None:
        """Mark the end of plan building: the call has returned its
        DataFrame (eager driver collects included); the action follows."""
        self.plan_end = time.time()


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []

    @contextmanager
    def span(self, layer: str, name: str):
        sc = self.spark.sparkContext
        sp = Span(f"{layer}.{name}", f"vbench-{len(self.spans)}", time.time())
        if self.enabled:
            sc.setJobGroup(sp.group, sp.key, False)
        try:
            yield sp
        finally:
            sp.end = time.time()
            if self.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                self.spans.append(sp)

    # -- status-store readout --------------------------------------------

    def _stores(self):
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        return jsc.statusStore(), self.spark._jsparkSession.sharedState().statusStore(), conv

    def per_call(self) -> dict[str, dict[str, float]]:
        """{span key: {counter: mean per call}} over every recorded span."""
        if not self.spans:
            return {}
        app, sql, conv = self._stores()
        jobs_by_group: dict[str, list] = {}
        for j in conv.asJava(app.jobsList(None)):
            g = j.jobGroup()
            if not g.isDefined():
                continue
            sub, comp = j.submissionTime(), j.completionTime()
            jobs_by_group.setdefault(g.get(), []).append(
                (
                    int(j.jobId()),
                    sub.get().getTime() / 1e3 if sub.isDefined() else None,
                    comp.get().getTime() / 1e3 if comp.isDefined() else None,
                    [int(s) for s in conv.asJava(j.stageIds())],
                )
            )
        stages = {}
        empty = self.spark.sparkContext._gateway.new_array(
            self.spark.sparkContext._jvm.double, 0
        )
        for s in conv.asJava(app.stageList(None, False, False, empty, None)):
            stages.setdefault(int(s.stageId()), []).append(s)
        job_exec = {}
        for e in conv.asJava(sql.executionsList()):
            for jid in conv.asJava(e.jobs()).keySet():
                job_exec[int(jid)] = int(e.executionId())
        exec_metrics: dict[int, tuple[float, float, float]] = {}

        def sql_totals(eid: int) -> tuple[float, float, float]:
            if eid not in exec_metrics:
                vals = conv.asJava(sql.executionMetrics(eid))
                py_run = py_bytes = join_rows = 0.0
                for node in conv.asJava(sql.planGraph(eid).allNodes()):
                    for m in conv.asJava(node.metrics()):
                        v = vals.get(m.accumulatorId())
                        if v is None:
                            continue
                        name = m.name()
                        if name == "time to run Python workers":
                            py_run += parse_sql_metric(v)
                        elif name in ("data sent to Python workers", "data returned from Python workers"):
                            py_bytes += parse_sql_metric(v)
                        elif name == "number of output rows" and "Join" in node.name():
                            join_rows += parse_sql_metric(v)
                exec_metrics[eid] = (py_run, py_bytes, join_rows)
            return exec_metrics[eid]

        acc: dict[str, list[dict]] = {}
        for sp in self.spans:
            jobs = jobs_by_group.get(sp.group, [])
            c = dict.fromkeys(COUNTERS, 0.0)
            c["wall_s"] = sp.end - sp.start
            c["plan_s"] = (sp.plan_end - sp.start) if sp.plan_end else 0.0
            c["exec_s"] = c["wall_s"] - c["plan_s"]
            c["driver_s"] = c["wall_s"] - _covered(
                [(a, b) for _, a, b, _ in jobs if a is not None], sp.start, sp.end
            )
            execs = set()
            for jid, _, _, stage_ids in jobs:
                for sid in stage_ids:
                    for st in stages.pop(sid, []):
                        c["tasks"] += st.numCompleteTasks()
                        c["cpu_s"] += st.executorCpuTime() / 1e9
                        c["gc_s"] += st.jvmGcTime() / 1e3
                        c["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                if jid in job_exec:
                    execs.add(job_exec[jid])
            join_rows = 0.0
            for eid in execs:
                py_run, py_bytes, jr = sql_totals(eid)
                c["py_run_s"] += py_run
                c["py_bytes"] += py_bytes
                join_rows += jr
            c["join_rows"] = join_rows
            c.update(sp.extra)
            acc.setdefault(sp.key, []).append(c)
        return {
            key: {k: statistics.fmean(r[k] for r in rows) for k in rows[0]}
            for key, rows in acc.items()
        }


def _covered(intervals: list, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals`` (a job
    still running at readout counts as running until ``hi``)."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b if b is not None else hi, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
