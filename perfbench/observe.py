"""Measurement helpers: the /proc process-tree sampler, host diagnostics,
the span tracer and the Spark status-store reader."""

from __future__ import annotations

import functools
import json
import os
import re
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


class ProcTree:
    """CPU and peak RSS of this process and all of its descendants: the
    Spark driver JVM, the pyspark daemon and its Python workers.

    CPU is utime+stime plus the reaped children's cutime+cstime, so a
    worker that exited and was waited for still counts. Peak RSS is the
    sum of each process's VmHWM, taken at the last ``sample()`` that saw
    it alive."""

    def __init__(self, root_pid: int | None = None):
        self.root = root_pid or os.getpid()
        self.hwm_kb: dict[int, int] = {}

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            f = _stat_fields(int(entry))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(entry))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        ticks = 0
        for pid in self.pids():
            f = _stat_fields(pid)
            if f is not None:
                ticks += sum(int(x) for x in f[11:15])
        return ticks / _TICK

    def sample(self) -> None:
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            self.hwm_kb[pid] = int(line.split()[1])
                            break
            except OSError:
                continue

    def peak_rss_mb(self) -> float:
        return sum(self.hwm_kb.values()) / 1024.0


class HostLoad:
    """Steal share of all CPU time over an interval (from /proc/stat) and
    the 1-minute load average at its end: a contended run shows here."""

    def __init__(self):
        self.start = self._read()

    @staticmethod
    def _read() -> tuple[int, int]:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)

    def report(self) -> dict[str, float]:
        steal, total = self._read()
        dt = total - self.start[1]
        return {
            "host.steal_pct": 100.0 * (steal - self.start[0]) / dt if dt > 0 else 0.0,
            "host.load1": os.getloadavg()[0],
        }


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """Spans (name, start, end, parent) held in memory; ``dump`` writes
    them out. Times are wall-clock seconds, so spans logged by Python
    workers line up with the driver's. ``enabled`` off makes every wrapper
    a plain call, so one process can time traced and untraced passes."""

    def __init__(self):
        self.enabled = True
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        """Record a span timed elsewhere, e.g. in a Python worker."""
        self.spans.append({"id": len(self.spans), "name": name, "parent": parent,
                           "start": start, "end": end})

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a function that records a span."""
        inner = getattr(owner, attr)

        @functools.wraps(inner)
        def traced(*args, **kwargs):
            if not self.enabled:
                return inner(*args, **kwargs)
            with self.span(name):
                return inner(*args, **kwargs)

        setattr(owner, attr, traced)

    def total(self, name: str, since: int = 0) -> tuple[int, float]:
        """(count, summed seconds) of spans called ``name`` from index ``since``."""
        hits = [s for s in self.spans[since:] if s["name"] == name and s["end"] is not None]
        return len(hits), sum(s["end"] - s["start"] for s in hits)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

EXEC_KEYS = (
    "exec.jobs", "exec.stages", "exec.tasks", "exec.executor_run_s",
    "exec.executor_cpu_s", "exec.gc_s", "exec.scan_nodes", "exec.input_bytes",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.python_bytes_sent", "exec.python_bytes_recv",
)
_SIZE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
# MapInPandas, ArrowEvalPython, FlatMapGroupsInPandas, BatchEvalPython, ...
_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def _size_bytes(text: str) -> float:
    """Total of a formatted SQL size metric ('12.5 KiB', or a
    'total (min, med, max ...)' header line followed by the values)."""
    m = _SIZE.search(text.splitlines()[-1])
    return float(m.group(1)) * _UNIT[m.group(2)] if m else 0.0


class StatusReader:
    """Reads what Spark ran since the previous ``read()``: jobs, stages,
    tasks and executor time from the core status store, scan nodes and
    Python-boundary bytes from the SQL status store. Works with the UI
    off; waits for the listener bus so the last job is complete."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.core = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        self.jsc.listenerBus().waitUntilEmpty()
        self.job_mark = self._newest(self.core.jobsList(None), "jobId")
        self.stage_mark = self._newest(self._stages(), "stageId")
        self.exec_mark = self.sql.executionsCount()

    def _stages(self):
        return self.core.stageList(None, False, False, self._no_quantiles,
                                   self.sc._jvm.java.util.ArrayList())

    @staticmethod
    def _newest(seq, key: str) -> int:
        return getattr(seq.apply(0), key)() if seq.length() else -1

    def read(self) -> dict[str, float]:
        self.jsc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(EXEC_KEYS, 0.0)
        jobs = self.core.jobsList(None)  # newest first
        i = 0
        while i < jobs.length() and jobs.apply(i).jobId() > self.job_mark:
            i += 1
        out["exec.jobs"] = i
        self.job_mark = self._newest(jobs, "jobId")
        stages = self._stages()  # newest first
        i = 0
        while i < stages.length():
            s = stages.apply(i)
            if s.stageId() <= self.stage_mark:
                break
            i += 1
            if s.status().toString() == "SKIPPED":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += s.numCompleteTasks()
            out["exec.executor_run_s"] += s.executorRunTime() / 1e3
            out["exec.executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["exec.gc_s"] += s.jvmGcTime() / 1e3
            out["exec.input_bytes"] += s.inputBytes()
            out["exec.shuffle_read_bytes"] += s.shuffleReadBytes()
            out["exec.shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["exec.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        self.stage_mark = self._newest(stages, "stageId")
        count = self.sql.executionsCount()
        execs = self.sql.executionsList(self.exec_mark, count - self.exec_mark)
        for k in range(execs.length()):
            eid = execs.apply(k).executionId()
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for n in range(nodes.length()):
                node = nodes.apply(n)
                name = node.name()
                if name.startswith("Scan "):
                    out["exec.scan_nodes"] += 1
                if not _PYTHON_NODE.search(name):
                    continue
                metrics = node.metrics()
                for m in range(metrics.length()):
                    metric = metrics.apply(m)
                    key = {_PY_SENT: "exec.python_bytes_sent",
                           _PY_RECV: "exec.python_bytes_recv"}.get(metric.name())
                    if key is None:
                        continue
                    value = values.get(metric.accumulatorId())
                    if value.isDefined():
                        out[key] += _size_bytes(value.get())
        self.exec_mark = count
        return out
