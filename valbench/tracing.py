"""Traced mode: spans around the calls into each layer, Spark job groups that
label the jobs issued inside each span, and the reduction of Spark's own
event log into per-span numbers.

Spans are recorded from the benchmark's side only: public functions of the
program are replaced, in this process, by wrappers that open a span. Every
span sets its own job group, so each job in the event log belongs to the
innermost span that was open when it was submitted. Spans stay in memory and
are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import time
from collections import defaultdict

from harness import median

_NULL = contextlib.nullcontext()

# accumulator name of PythonSQLMetrics.pythonTotalTime (ArrowEvalPython); a
# timing metric, so its updates are milliseconds
_PY_TIME = "time to run Python workers"


class Tracer:
    """Records spans (name, start, end, parent, op) when enabled; a no-op
    otherwise, so untraced runs pay nothing but an attribute check."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.sc = None
        self.groups: dict = {}  # job group -> Spark totals, once reduced
        self.op: int | None = None  # id shared by the spans of one operation
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._originals: list[tuple] = []

    def span(self, name: str):
        return self._span(name) if self.enabled else _NULL

    @contextlib.contextmanager
    def _span(self, name: str):
        rec = {"id": next(self._ids), "name": name,
               "op": self.op,
               "parent": self._stack[-1]["id"] if self._stack else None}
        rec["group"] = f"valbench-{rec['id']}"
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(rec)

    def _set_group(self, rec) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["name"])

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace owner.attr (a module function or a class method) by a
        wrapper that runs it inside span `name`."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            with self._span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapped)
        self._originals.append((owner, attr, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._originals):
            setattr(owner, attr, orig)
        self._originals = []

    # -- reduction -----------------------------------------------------------

    def subtree_groups(self, span: dict) -> set[str]:
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            kids[s["parent"]].append(s)
        out, todo = set(), [span]
        while todo:
            s = todo.pop()
            out.add(s["group"])
            todo.extend(kids[s["id"]])
        return out

    def durations(self, name: str, ops) -> list[float]:
        """Per operation: summed wall seconds of spans called `name`."""
        per_op = defaultdict(float)
        for s in self.spans:
            if s["name"] == name and s["op"] in ops:
                per_op[s["op"]] += s["end"] - s["start"]
        return [per_op[o] for o in ops]

    def per_op_sum(self, name: str, ops, key: str) -> list[float]:
        """Per operation: Spark total `key` summed over the job groups of
        every span called `name` and their descendants."""
        per_op = defaultdict(float)
        for s in self.spans:
            if s["name"] == name and s["op"] in ops:
                per_op[s["op"]] += sum(self.groups.get(g, {}).get(key, 0.0)
                                       for g in self.subtree_groups(s))
        return [per_op[o] for o in ops]


def reduce_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """job group -> {jobs, stages, tasks, run_s, cpu_s, gc_s, shuffle_write_mb,
    shuffle_read_mb, spill_mb, python_s} from the event log(s) in log_dir.
    Jobs submitted outside any span fall under the group None."""
    groups: dict = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str | None] = {}
    # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    paths = sorted(glob.glob(f"{log_dir}/*/events_*"),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in paths:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    groups[g]["jobs"] += 1
                    for sid in e["Stage IDs"]:
                        stage_group.setdefault(sid, g)
                elif ev == "SparkListenerStageCompleted":
                    g = stage_group.get(e["Stage Info"]["Stage ID"])
                    groups[g]["stages"] += 1
                elif ev == "SparkListenerTaskEnd":
                    g = groups[stage_group.get(e["Stage ID"])]
                    m = e.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written",
                                                    0) / 2**20
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                             + sr.get("Local Bytes Read", 0)
                                             ) / 2**20
                    g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
                    for acc in (e.get("Task Info") or {}).get(
                            "Accumulables", []):
                        if acc.get("Name") == _PY_TIME:
                            g["python_s"] += int(acc.get("Update", 0)) / 1e3
    return groups


SPARK_KEYS = {"spark.executor_run_s": "run_s", "spark.executor_cpu_s": "cpu_s",
              "spark.jvm_gc_s": "gc_s",
              "spark.shuffle_write_mb": "shuffle_write_mb",
              "spark.shuffle_read_mb": "shuffle_read_mb",
              "spark.spill_mb": "spill_mb", "spark.stages": "stages",
              "spark.tasks": "tasks"}


def spark_per_op(tracer: Tracer, op_span: str, ops) -> dict:
    """Medians over operations of the Spark totals of each operation."""
    return {name: median(tracer.per_op_sum(op_span, ops, key))
            for name, key in SPARK_KEYS.items()}


def layer_table(tracer: Tracer) -> dict:
    """Per span name: calls, wall seconds and the Spark totals of the jobs
    labelled with that span's own group (self, not subtree)."""
    table: dict = defaultdict(lambda: defaultdict(float))
    for s in tracer.spans:
        row = table[s["name"]]
        row["calls"] += 1
        row["wall_s"] += s["end"] - s["start"]
        for k, v in tracer.groups.get(s["group"], {}).items():
            row[k] += v
    return {k: dict(v) for k, v in table.items()}


def write_trace(path: str, tracer: Tracer, extra: dict) -> None:
    t0 = min((s["start"] for s in tracer.spans), default=0.0)
    spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
             for s in sorted(tracer.spans, key=lambda s: s["start"])]
    doc = {**extra, "layers": layer_table(tracer),
           "job_groups": {str(k): dict(v) for k, v in tracer.groups.items()},
           "spans": spans}
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
