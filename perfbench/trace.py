"""Spans and Spark status-store readers for the traced run.

Spans are recorded by the benchmark around each public call it makes,
never inside the package. With tracing off, ``Tracer.span`` hands back
one shared no-op context, so the untraced run pays nothing for it.

With tracing on, every span also becomes the Spark job group of the jobs
it starts (``<op id>/<span id>``). After each op, ``SparkProbe`` reads
what those jobs did from Spark's own stores: the job and stage lists of
``statusStore()`` and the SQL plan-node metrics of
``sharedState().statusStore()``. Both are populated with the UI off.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

class Span:
    __slots__ = ("id", "name", "layer", "start", "end", "parent", "op")

    def __init__(self, id, name, layer, start, parent, op):
        self.id, self.name, self.layer = id, name, layer
        self.start, self.end, self.parent, self.op = start, None, parent, op

    def as_dict(self) -> dict:
        return {
            "id": self.id, "name": self.name, "layer": self.layer,
            "start": self.start, "end": self.end, "parent": self.parent, "op": self.op,
        }


_NOOP = nullcontext()


class Tracer:
    """In-memory span recorder; a no-op unless ``enabled``."""

    def __init__(self, enabled: bool, spark_context=None):
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op_id: str | None = None

    def span(self, name: str, layer: str):
        if not self.enabled:
            return _NOOP
        return self._span(name, layer)

    @contextmanager
    def _span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, time.perf_counter(),
                 parent.id if parent else None, self.op_id)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._set_group(parent)

    def _set_group(self, s: Span) -> None:
        if self.sc is not None and s.op is not None:
            self.sc.setJobGroup(f"{s.op}/{s.id}", s.name, False)

    @contextmanager
    def op(self, op_id: str, kind: str):
        """Root span of one timed op; its job group tags every job."""
        self.op_id = op_id
        try:
            with self.span(f"op:{kind}", "bench"):
                yield
        finally:
            self.op_id = None
            if self.enabled and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self, op_ids: set) -> dict:
        """Per-layer self time (span minus the part its children cover)."""
        child_time: dict = defaultdict(float)
        for s in self.spans:
            if s.op in op_ids and s.parent is not None and s.end is not None:
                child_time[s.parent] += s.end - s.start
        out: dict = defaultdict(float)
        for s in self.spans:
            if s.op in op_ids and s.end is not None:
                out[s.layer] += (s.end - s.start) - child_time[s.id]
        return dict(out)

    def span_of_group(self, group: str | None) -> Span | None:
        """The span whose job group is ``group`` (None for other groups,
        such as a streaming query's)."""
        if not group or "/" not in group:
            return None
        try:
            return self.spans[int(group.rsplit("/", 1)[1])]
        except (ValueError, IndexError):
            return None

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict()) + "\n")


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM_UNIT = re.compile(r"^(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
_NODE = re.compile(r'^\s*\d+ \[id="node\d+" labelType="html" label="(.*?)" tooltip=', re.M)


def parse_metric(text: str) -> float | None:
    """Numeric value of a formatted SQL metric: a count, a size in bytes
    or a time in seconds. For multi-task metrics Spark prints
    ``total (min, med, max ...)\\n<total> (...)``; the total is used."""
    line = text.split("\n")[-1].strip() if "\n" in text else text.strip()
    if line.startswith("("):
        return None  # averages carry no total
    m = _NUM_UNIT.match(line)
    if not m:
        return None
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return num


def parse_dot(dot: str) -> list[tuple[str, dict]]:
    """(node name, {metric name: value}) for each node of a plan DOT."""
    out = []
    for m in _NODE.finditer(dot):
        label = m.group(1).replace("\\n", "\n").replace('\\"', '"')
        parts = re.split(r"<br>", label)
        name = re.sub(r"</?b>", "", parts[0]).strip()
        metrics = {}
        for p in parts[1:]:
            if ": " in p:
                k, v = p.split(": ", 1)
                val = parse_metric(v)
                if val is not None:
                    metrics[k.strip()] = val
        out.append((name, metrics))
    return out


class SparkProbe:
    """Reads Spark's status stores through the py4j gateway."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._jsc = jsc
        self.store = jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.last_job = self._max_job_id()
        self.last_exec = self._max_exec_id()

    def wait_listeners(self) -> None:
        """Block until every posted event reached the status stores."""
        self._jsc.listenerBus().waitUntilEmpty()

    def storage_bytes(self) -> float:
        ex = self.store.executorList(True)
        return float(sum(ex.apply(i).memoryUsed() for i in range(ex.size())))

    def jvm_pid(self) -> int:
        return int(self.sc._jvm.java.lang.ProcessHandle.current().pid())

    def _max_job_id(self) -> int:
        jobs = self.store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _max_exec_id(self) -> int:
        n = self.sql.executionsCount()
        if not n:
            return -1
        return self.sql.executionsList(int(n) - 1, 1).apply(0).executionId()

    def new_jobs(self) -> list[dict]:
        """Jobs submitted since the previous call (newest first in store)."""
        jobs = self.store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self.last_job:
                break
            group = j.jobGroup()
            sub, done = j.submissionTime(), j.completionTime()
            out.append({
                "id": jid,
                "group": group.get() if group.isDefined() else None,
                "stages": list(self._seq(j.stageIds())),
                "submit": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                "end": done.get().getTime() / 1e3 if done.isDefined() else None,
            })
        if out:
            self.last_job = out[0]["id"]
        return out

    def _seq(self, seq):
        return (seq.apply(i) for i in range(seq.size()))

    def skip(self) -> None:
        """Forget everything run so far."""
        self.last_job = self._max_job_id()
        self.last_exec = self._max_exec_id()

    def stage(self, stage_id: int) -> dict | None:
        try:
            s = self.store.lastStageAttempt(stage_id)
        except Exception:  # stage evicted from the store
            return None
        if s.status().toString() != "COMPLETE":
            return None
        return {
            "tasks": s.numTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "fetch_wait_s": s.shuffleFetchWaitTime() / 1e3,
            "shuffle_write_s": s.shuffleWriteTime() / 1e9,
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "input_bytes": s.inputBytes(),
            "input_rows": s.inputRecords(),
        }

    def new_plan_nodes(self) -> list[tuple[list, str, dict]]:
        """(job ids, node name, metrics) of every SQL execution since the
        previous call."""
        top = self._max_exec_id()
        out = []
        for eid in range(self.last_exec + 1, top + 1):
            opt = self.sql.execution(eid)
            if not opt.isDefined():
                continue
            jobs = [int(x) for x in re.findall(r"\d+", opt.get().jobs().keySet().toString())]
            dot = self.sql.planGraph(eid).makeDotFile(self.sql.executionMetrics(eid))
            for name, metrics in parse_dot(dot):
                out.append((jobs, name, metrics))
        self.last_exec = max(self.last_exec, top)
        return out
