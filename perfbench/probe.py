"""Measurement instruments read from outside the engine.

- ``/proc`` counters: CPU seconds (utime+stime) and high-water RSS of the
  Python driver and the JVM, and time since this process started.
- ``SparkCounters``: per-action stage totals from the driver's
  AppStatusStore (works with ``spark.ui.enabled=false``).
- ``Plan``: node counts and exact SQL-metric values read from a frame's
  executed (AQE final) physical plan.
- ``Tracer``: in-memory spans (name, start, end, parent, operation id)
  with self-time accounting, written out when the run ends.
- ``tail_percentile``: the latency-tail rule.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    # The command name may contain spaces; fields resume after its ')'.
    return raw[raw.rindex(")") + 2 :].split()


def cpu_seconds(pid: int) -> float:
    """utime + stime of ``pid`` (all its threads). Guest-visible CPU only:
    time the hypervisor steals is not in it."""
    f = _stat_fields(pid)
    return (int(f[11]) + int(f[12])) / _CLK_TCK


def hwm_mb(pid: int) -> float:
    """High-water resident set (``VmHWM``) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def process_elapsed_s() -> float:
    """Seconds since this process was started by the kernel, so interpreter
    start-up and imports are included."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(_stat_fields(os.getpid())[19]) / _CLK_TCK


def cpu_ticks() -> list[int]:
    """Host-wide CPU time counters from ``/proc/stat`` (user, nice,
    system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of host CPU time the hypervisor stole between two readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


class ProcStats:
    """CPU and peak memory of the Python driver plus the JVM."""

    def __init__(self, jvm_pid: int):
        self.pids = (os.getpid(), jvm_pid)

    def cpu(self) -> float:
        return sum(cpu_seconds(p) for p in self.pids)

    def peak_rss_mb(self) -> float:
        return sum(hwm_mb(p) for p in self.pids)


STAGE_FIELDS = {
    "executor_run_s": lambda s: s.executorRunTime() / 1e3,
    "executor_cpu_s": lambda s: s.executorCpuTime() / 1e9,
    "gc_s": lambda s: s.jvmGcTime() / 1e3,
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "shuffle_records": lambda s: s.shuffleWriteRecords(),
    "spill_disk_bytes": lambda s: s.diskBytesSpilled(),
    "spill_memory_bytes": lambda s: s.memoryBytesSpilled(),
}


class SparkCounters:
    """Jobs, stages, tasks and stage metrics of the actions run between
    ``mark()`` and ``since(mark)``, read from the AppStatusStore. The store
    lists jobs and stages newest first, so only new entries are touched."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm, self._gw = sc._jvm, sc._gateway
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()

    def _stages(self):
        jvm = self._jvm
        return self._store.stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            self._gw.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )

    def _settle(self) -> None:
        # Stage metrics reach the store through the asynchronous listener
        # bus; drain it so the action just finished is complete.
        self._sc.listenerBus().waitUntilEmpty(30_000)

    def mark(self) -> tuple[int, int]:
        self._settle()
        jobs, stages = self._store.jobsList(None), self._stages()
        last_job = jobs.apply(0).jobId() if jobs.size() else -1
        last_stage = stages.apply(0).stageId() if stages.size() else -1
        return last_job, last_stage

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        self._settle()
        out = dict.fromkeys(["jobs", "stages", "tasks", *STAGE_FIELDS], 0)
        jobs = self._store.jobsList(None)
        i = 0
        while i < jobs.size() and jobs.apply(i).jobId() > mark[0]:
            out["jobs"] += 1
            i += 1
        stages = self._stages()
        i = 0
        while i < stages.size():
            s = stages.apply(i)
            i += 1
            if s.stageId() <= mark[1]:
                break
            if s.status().toString() != "COMPLETE":
                continue  # skipped (reused) stages did no work
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            for k, f in STAGE_FIELDS.items():
                out[k] += f(s)
        return out


class Plan:
    """Nodes of a frame's executed physical plan, AQE stages unwrapped.
    Read after the frame's own action so the plan is AQE's final one and
    its SQL metrics hold their values."""

    def __init__(self, df):
        jvm = df.sparkSession.sparkContext._jvm
        self.nodes = []  # breadth-first from the root
        queue, seen = [df._jdf.queryExecution().executedPlan()], set()
        while queue:
            p = queue.pop(0)
            h = jvm.System.identityHashCode(p)
            if h in seen:
                continue
            seen.add(h)
            cls = p.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                queue.append(p.executedPlan())
            elif cls.endswith("QueryStageExec"):
                queue.append(p.plan())
            elif cls == "ReusedExchangeExec":
                queue.append(p.child())
            else:
                self.nodes.append(p)
                ch = p.children()
                queue.extend(ch.apply(i) for i in range(ch.size()))

    def count(self, node_name: str) -> int:
        return sum(1 for p in self.nodes if p.nodeName() == node_name)

    @staticmethod
    def metric(node, key: str) -> int:
        m = node.metrics()
        return int(m.apply(key).value()) if m.contains(key) else 0

    def scan_bytes(self) -> int:
        """Sum of the FileScan 'size of files read' metric."""
        return sum(
            self.metric(p, "filesSize")
            for p in self.nodes
            if p.nodeName().startswith("Scan ")
        )

    def joins(self) -> list:
        return [p for p in self.nodes if p.nodeName().endswith("Join")]


def noop_sink(df):
    """Run ``df`` on the executors and drop its rows (a noop sink that
    keeps its query execution readable). A fresh projection gets a fresh
    query execution, so nothing executed earlier is reused. Returns the
    executed frame for ``Plan``."""
    fresh = df.select("*")
    fresh._jdf.queryExecution().toRdd().count()
    return fresh


class Tracer:
    """Spans kept in memory; ``dump`` writes them as JSON lines."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: int):
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        """Duration minus the part covered by its child spans (children
        run sequentially, so they do not overlap)."""
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return self.duration(rec) - sum(self.duration(k) for k in kids)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def tail_percentile(samples: list[float], beyond: int = 10):
    """Highest percentile with at least ``beyond`` samples above it, as
    ``(value, percentile, n)``; ``None`` when n ≤ ``beyond``. With samples
    sorted ascending, index i has n-1-i samples above it, so the highest
    qualifying index is n-1-beyond and its percentile is (i+1)/n."""
    n = len(samples)
    if n <= beyond:
        return None
    i = n - 1 - beyond
    return sorted(samples)[i], 100.0 * (i + 1) / n, n
