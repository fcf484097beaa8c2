"""Spans and layer counters for the traced run.

Spans are recorded from the benchmark's own files, around each call into
a layer's public function; micro-batch spans are derived from the
progress reports. They stay in memory and are written once, at the end.
Counters come only from Spark's status surfaces: streaming progress, the
status tracker under a job group, and the status stores.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import time
from datetime import datetime

# Order in which a micro-batch runs its progress phases.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets")


class Tracer:
    """In-memory spans: name, start, end (epoch s), parent span, trace id."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)

    def add(self, name: str, start: float, end: float, trace: str,
            parent: int | None = None) -> int | None:
        if not self.enabled:
            return None
        sid = next(self._ids)
        self.spans.append({"id": sid, "trace": trace, "name": name,
                           "parent": parent, "start": start, "end": end})
        return sid

    @contextlib.contextmanager
    def span(self, name: str, trace: str, parent: int | None = None):
        """Time the block; yields the span id children should name as parent."""
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        rec = {"id": sid, "trace": trace, "name": name, "parent": parent,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        try:
            yield sid
        finally:
            rec["end"] = time.time()

    def add_progress(self, progress: list[dict], trace: str, parent: int | None) -> None:
        """One child span per micro-batch, and one per progress phase in it."""
        for p in progress:
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            d = p["durationMs"]
            bid = self.add(f"batch.{p['batchId']}", start,
                           start + d.get("triggerExecution", 0) / 1000, trace, parent)
            t = start
            for phase in PHASES:
                if phase in d:
                    self.add(phase, t, t + d[phase] / 1000, trace, bid)
                    t += d[phase] / 1000

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name: duration minus what children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], reach), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s["name"]] = out.get(s["name"], 0.0) + 1000 * (s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_ms": self.self_ms()}, f)


def pass_plan(trace: bool, passes: int) -> list[bool]:
    """Which timed passes are traced. A traced run makes two of each kind
    in ABBA order (untraced, traced, traced, untraced), so that warm-up
    drift cancels out of the overhead."""
    return [False, True, True, False] if trace else [False] * passes


def overhead(pass_s: list[float], plan: list[bool]) -> float:
    """Median traced pass time over median untraced pass time, minus one."""
    traced = [s for s, t in zip(pass_s, plan) if t]
    plain = [s for s, t in zip(pass_s, plan) if not t]
    return statistics.median(traced) / statistics.median(plain) - 1


def job_counts(spark, group: str) -> dict[str, float]:
    """Jobs, stages and tasks of a job group, plus per-task work from the
    status store: shuffle bytes written, bytes spilled, and tasks that read
    no input or shuffle rows."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "empty_tasks": 0,
           "shuffle_write_bytes": 0, "spill_bytes": 0}
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is None:
            continue
        out["jobs"] += 1
        for stage in info.stageIds:
            out["stages"] += 1
            tasks = store.taskList(stage, 0, 100_000)
            for i in range(tasks.size()):
                m = tasks.apply(i).taskMetrics()
                out["tasks"] += 1
                if m.isEmpty():
                    continue
                m = m.get()
                read = m.inputMetrics().recordsRead() + m.shuffleReadMetrics().recordsRead()
                out["empty_tasks"] += read == 0
                out["shuffle_write_bytes"] += m.shuffleWriteMetrics().bytesWritten()
                out["spill_bytes"] += m.memoryBytesSpilled() + m.diskBytesSpilled()
    return out


def plan_phase_ms(df) -> dict[str, float]:
    """Catalyst phase times of ``df``'s own execution, forced to the
    physical plan (the write re-plans the same logical plan)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}


def _metric_number(text: str) -> float:
    """Parse a SQL metric string: a plain sum ('1,234') or the total line of
    a size or timing summary ('total (min, med, max ...)\n12.5 MiB (...)'),
    as bytes or milliseconds."""
    head = text.strip().splitlines()[-1].split("(")[0].split()
    return float(head[0].replace(",", "")) * (_UNITS[head[1]] if len(head) > 1 else 1)


def python_runner_metrics(spark, after: int, upto: int) -> dict[str, float]:
    """Sum the Python state runner's SQL metrics over the executions with
    ids in (after, upto]: rows and bytes it returned, and its time. (The
    runner of Spark 4.1 leaves "data sent to Python workers" unset.)"""
    store = spark._jsparkSession.sharedState().statusStore()
    wanted = {"number of output rows": "rows",
              "data returned from Python workers": "bytes_returned",
              "time to run Python workers": "ms"}
    out = dict.fromkeys(wanted.values(), 0.0)
    execs = store.executionsList()
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if not after < eid <= upto:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            if "PandasWithState" not in node.name():
                continue
            ms = node.metrics()
            for k in range(ms.size()):
                metric = ms.apply(k)
                key = wanted.get(metric.name())
                if key and values.contains(metric.accumulatorId()):
                    out[key] += _metric_number(values.apply(metric.accumulatorId()))
    return out


def last_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)
