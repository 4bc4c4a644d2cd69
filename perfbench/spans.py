"""Spans around the library's public calls, and the Spark status-store
counters folded into the engine layers those spans name.

A traced pass wraps each public call in a span. Each span sets a Spark
job group, so every job the call causes is attributed to it. Spans are
kept in memory; ``Tracer.dump`` writes them once, at exit. Counters come
from Spark's app status store (jobs, stages) and SQL status store (plan
node metrics); both are filled even with ``spark.ui.enabled=false``.

The untraced passes use ``NullTracer``: no job groups, no boundary
materialization, nothing read from the stores.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
import uuid
from collections import defaultdict

# per-layer metric -> unit, the order BENCHMARK.json lists them in
LAYER_UNITS = {
    "operators.asof.call_s": "s",
    "operators.asof.call_jobs": "count",
    "broadcast.bytes": "B",
    "operators.asof.exec_s": "s",
    "operators.temporal.exec_s": "s",
    "operators.feature_matrix.exec_s": "s",
    "exchange.records": "count",
    "exchange.bytes": "B",
    "exchange.fetch_wait_s": "s",
    "exchange.records_per_input_row": "ratio",
    "python.boot_s": "s",
    "python.init_s": "s",
    "python.run_s": "s",
    "python.bytes_sent": "B",
    "python.bytes_received": "B",
    "functions.text_descriptors.exec_s": "s",
    "functions.image_descriptors.exec_s": "s",
    "operators.dedup.call_s": "s",
    "operators.dedup.call_jobs": "count",
    "write.bytes": "B",
    "write.files": "count",
    "write.commit_s": "s",
    "scan.files": "count",
    "store.bytes_per_input_byte": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.gc_s": "s",
    "sort.spill_bytes": "B",
    "trace_overhead_s": "s",
}

# layer metrics read from the cold pass: worker start-up only happens there
COLD_ONLY = ("python.boot_s", "python.init_s")

# span self time: (metric, span, span of the input it consumes)
_EXEC_SELF = (
    ("operators.asof.exec_s", "operators.asof.exec", None),
    ("operators.temporal.exec_s", "operators.temporal.exec", "operators.asof.exec"),
    ("operators.feature_matrix.exec_s", "operators.feature_matrix.exec",
     "operators.temporal.exec"),
    ("functions.text_descriptors.exec_s", "functions.text_descriptors.exec", None),
    ("functions.image_descriptors.exec_s", "functions.image_descriptors.exec",
     "functions.text_descriptors.exec"),
)

# SQL plan metric name -> layer metric (summed over every node of a pass)
_SQL_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
    "written output": "write.bytes",
    "number of written files": "write.files",
    "task commit time": "write.commit_s",
    "job commit time": "write.commit_s",
    "number of files read": "scan.files",
}

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of one SQL metric as the status store formats it: either
    ``"539.0 B"`` or ``"total (min, med, max ...)\\n1.2 s (...)"``.
    Sizes come back in bytes, times in seconds, counts as numbers."""
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _NUM.match(line)
    if not m:
        raise ValueError(f"unparsable SQL metric value: {text!r}")
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    if unit:
        raise ValueError(f"unknown unit in SQL metric value: {text!r}")
    return num


class NullTracer:
    """The untraced pass: spans and boundaries cost nothing."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def boundary(self, name: str, df) -> None:
        pass


class Tracer:
    """Spans of traced passes plus the Spark counters attributed to them."""

    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.pass_id: int | None = None
        self._stack: list[int] = []
        self.broadcast_bytes: dict[int, int] = defaultdict(int)
        # job groups unique to this tracer: the status stores outlive it
        self._group_prefix = f"perfbench-{uuid.uuid4().hex[:12]}-"

    def _group(self, idx: int | None) -> None:
        sc = self.spark.sparkContext
        if idx is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"{self._group_prefix}{idx}", self.spans[idx]["name"])

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append({
            "name": name, "pass": self.pass_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        })
        self._stack.append(idx)
        self._group(idx)
        try:
            yield
        finally:
            self.spans[idx]["end"] = time.perf_counter()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)

    def boundary(self, name: str, df) -> None:
        """Materialize ``df`` (noop sink) under span ``name`` so the work
        of everything up to this boundary is timed at it."""
        with self.span(name):
            df.write.format("noop").mode("overwrite").save()

    def note_broadcast(self, nbytes: int) -> None:
        if self.pass_id is not None:
            self.broadcast_bytes[self.pass_id] += nbytes

    def dump(self, path: str) -> None:
        """Write the spans once, at the end of the run."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [{**s, "id": i, "start": s["start"] - t0, "end": s["end"] - t0}
                for i, s in enumerate(self.spans)]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)

    # ---------------------------------------------------------- counters

    def _status(self):
        """Jobs and stages of the app status store, and the SQL node
        metrics per execution, once the listener bus has drained."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = {}
        jl = store.jobsList(None)
        for i in range(jl.size()):
            j = jl.apply(i)
            grp = j.jobGroup()
            ids = j.stageIds()
            jobs[j.jobId()] = {
                "group": grp.get() if grp.isDefined() else None,
                "stages": [ids.apply(k) for k in range(ids.size())],
            }
        gw = sc._gateway
        stages = {}
        sl = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        for i in range(sl.size()):
            s = sl.apply(i)
            if s.status().toString() != "COMPLETE":
                continue
            stages[s.stageId()] = {
                "tasks": s.numTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "gc_s": s.jvmGcTime() / 1e3,
                "shuffle_records": s.shuffleWriteRecords(),
                "shuffle_bytes": s.shuffleWriteBytes(),
                "fetch_wait_s": s.shuffleFetchWaitTime() / 1e3,
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = []
        el = sql.executionsList()
        for i in range(el.size()):
            e = el.apply(i)
            eid = e.executionId()
            values = sql.executionMetrics(eid)
            nodes = sql.planGraph(eid).allNodes()
            metrics = []
            for n in range(nodes.size()):
                node = nodes.apply(n)
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics.append((node.name(), m.name(), v.get()))
            job_ids = e.jobs().keySet().toSeq()
            execs.append({
                "jobs": [job_ids.apply(k) for k in range(job_ids.size())],
                "metrics": metrics,
            })
        return jobs, stages, execs

    def layers(self, input_rows: int) -> dict[int, dict[str, float]]:
        """Per traced pass: every layer metric except the ones the run
        itself supplies (``trace_overhead_s``, the store ratio)."""
        jobs, stages, execs = self._status()
        span_of_group = {f"{self._group_prefix}{i}": i for i in range(len(self.spans))}
        # a stage runs in the first job that lists it; later jobs skip it
        stage_job: dict[int, int] = {}
        for jid in sorted(jobs):
            for sid in jobs[jid]["stages"]:
                stage_job.setdefault(sid, jid)

        def span_of_job(jid):
            idx = span_of_group.get(jobs.get(jid, {}).get("group"))
            return None if idx is None else self.spans[idx]

        passes = sorted({s["pass"] for s in self.spans if s["pass"] is not None})
        out = {p: defaultdict(float) for p in passes}
        for p in passes:
            out[p]["broadcast.bytes"] += self.broadcast_bytes.get(p, 0)
        for jid, job in jobs.items():
            sp = span_of_job(jid)
            if sp is None or sp["pass"] not in out:
                continue
            acc = out[sp["pass"]]
            acc["spark.jobs"] += 1
            if sp["name"] == "operators.asof.call":
                acc["operators.asof.call_jobs"] += 1
            if sp["name"] == "operators.dedup.call":
                acc["operators.dedup.call_jobs"] += 1
        for sid, st in stages.items():
            sp = span_of_job(stage_job.get(sid))
            if sp is None or sp["pass"] not in out:
                continue
            acc = out[sp["pass"]]
            acc["spark.stages"] += 1
            acc["spark.tasks"] += st["tasks"]
            acc["spark.task_run_s"] += st["run_s"]
            acc["spark.gc_s"] += st["gc_s"]
            acc["exchange.records"] += st["shuffle_records"]
            acc["exchange.bytes"] += st["shuffle_bytes"]
            acc["exchange.fetch_wait_s"] += st["fetch_wait_s"]
            acc["sort.spill_bytes"] += st["spill_bytes"]
        for ex in execs:
            owners = {span_of_job(j)["pass"] for j in ex["jobs"] if span_of_job(j)}
            owners &= set(out)
            if not owners:
                continue
            acc = out[min(owners)]
            for node, name, value in ex["metrics"]:
                if node == "BroadcastExchange" and name == "data size":
                    acc["broadcast.bytes"] += parse_metric(value)
                elif name in _SQL_METRICS:
                    acc[_SQL_METRICS[name]] += parse_metric(value)
        for p in passes:
            acc = out[p]
            dur = defaultdict(float)
            for s in self.spans:
                if s["pass"] == p:
                    dur[s["name"]] += s["end"] - s["start"]
            acc["operators.asof.call_s"] = dur["operators.asof.call"]
            acc["operators.dedup.call_s"] = dur["operators.dedup.call"]
            for metric, span, child in _EXEC_SELF:
                if span in dur:
                    acc[metric] = dur[span] - (dur[child] if child else 0.0)
            acc["exchange.records_per_input_row"] = acc["exchange.records"] / input_rows
        return {p: dict(v) for p, v in out.items()}
