"""Measurement from outside the engine: spans, Spark's status store, memory.

Nothing here changes engine behaviour. Spans are recorded around calls into
public engine functions; job attribution uses Spark job groups set from the
benchmark; stage metrics are read from Spark's own ``AppStatusStore``, which
is populated even with the UI disabled.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def hd_quantile(values, q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile: a Beta-weighted mean of
    all order statistics. A query mix's latencies cluster by query, and a
    plain sample quantile jumps between clusters as ranks shift; this
    estimate moves smoothly."""
    import numpy as np

    x = np.sort(np.asarray(list(values), dtype=float))
    n = len(x)
    if n == 0:
        return 0.0
    a, b = q * (n + 1), (1.0 - q) * (n + 1)
    t = np.linspace(0.0, 1.0, 20_001)
    log_pdf = (
        (a - 1) * np.log(np.clip(t, 1e-300, None))
        + (b - 1) * np.log(np.clip(1.0 - t, 1e-300, None))
    )
    pdf = np.exp(log_pdf - log_pdf.max())
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2.0)])
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, t, cdf)
    return float(np.dot(np.diff(edges), x))


def tail(values) -> float:
    """The highest percentile with at least ten samples beyond it, never
    below the median (so with twenty samples or fewer, the median)."""
    values = list(values)
    return hd_quantile(values, max(0.5, 1.0 - 10.0 / max(1, len(values))))


class Tracer:
    """In-memory spans: (id, name, parent, start, end), written at exit.
    Disabled tracers record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def _child_time(self) -> dict[int, float]:
        """Per span id: the summed duration of its direct children."""
        out: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] = out.get(s["parent"], 0.0) + (s["end"] - s["start"])
        return out

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        kids = self._child_time()
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - kids.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def coverage(self, parent_name: str) -> float:
        """Lowest share, over spans named ``parent_name``, of the span's wall
        time covered by its direct children."""
        kids = self._child_time()
        shares = [
            kids.get(s["id"], 0.0) / (s["end"] - s["start"])
            for s in self.spans
            if s["name"] == parent_name and s["end"] > s["start"]
        ]
        return min(shares) if shares else 0.0

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times(), **extra}, fh)


class SparkStatus:
    """Job and stage metrics from Spark's status store, attributed by job
    group. ``group(label)`` tags every job submitted inside it."""

    _STAGE_FIELDS = (
        "stageId", "status", "numTasks", "executorRunTime", "executorCpuTime",
        "jvmGcTime", "inputBytes", "shuffleReadBytes", "shuffleWriteBytes",
        "memoryBytesSpilled", "diskBytesSpilled", "peakExecutionMemory",
    )

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = spark._jvm
        core = self.sc._jsc.sc()
        self._store = core.statusStore()
        self._bus = core.listenerBus()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._stack: list[str] = []

    @contextmanager
    def group(self, label: str):
        self._stack.append(label)
        self.sc.setJobGroup(label, label)
        try:
            yield
        finally:
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1], self._stack[-1])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def snapshot(self) -> tuple[list[dict], dict[int, dict]]:
        """(jobs, stages by id) currently retained by the status store, after
        the listener bus has delivered every event posted so far."""
        self._bus.waitUntilEmpty()
        jobs = json.loads(self._json.writeValueAsString(self._store.jobsList(None)))
        raw = json.loads(self._json.writeValueAsString(
            self._store.stageList(None, False, False, self._no_quantiles, None)
        ))
        stages = {}
        for s in raw:
            if s.get("status") == "COMPLETE":
                stages[s["stageId"]] = {k: s.get(k, 0) for k in self._STAGE_FIELDS}
        return jobs, stages

    @staticmethod
    def by_group(jobs, stages, prefix: str) -> dict:
        """Totals over jobs whose group starts with ``prefix``."""
        picked = [j for j in jobs if (j.get("jobGroup") or "").startswith(prefix)]
        ids = {sid for j in picked for sid in j.get("stageIds", ()) if sid in stages}
        sel = [stages[i] for i in ids]
        mb = 1024.0 * 1024.0
        scans = [s for s in sel if s["inputBytes"] > 0]
        return {
            "jobs": len(picked),
            "tasks": sum(s["numTasks"] for s in sel),
            "exec_cpu_s": sum(s["executorCpuTime"] for s in sel) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in sel) / 1e3,
            "peak_exec_mem_mb": max((s["peakExecutionMemory"] for s in sel), default=0) / mb,
            "shuffle_mb": sum(s["shuffleWriteBytes"] for s in sel) / mb,
            "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in sel) / mb,
            "scan_mb": sum(s["inputBytes"] for s in scans) / mb,
            "scan_task_s": sum(s["executorRunTime"] for s in scans) / 1e3,
            "scan_shuffle_mb": sum(s["shuffleWriteBytes"] for s in scans) / mb,
        }


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by process ``root`` (this one by default) and
    every process below it: with Spark in local mode that is the Python
    driver, the JVM that runs the driver and every executor thread, and the
    executors' Python workers. Reaped children count through their parent's
    ``cutime``/``cstime``. Unlike wall time, it does not grow while the
    processes wait for a processor that other programs on the box hold."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while the table was read
            continue
        pid = int(name)
        kids.setdefault(int(fields[1]), []).append(pid)
        # utime, stime, cutime, cstime (stat fields 14-17)
        ticks[pid] = sum(int(f) for f in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total * _TICK_S


class SpeedProbe:
    """How fast the host runs this process now, sampled at the settle points
    between timed operations: the thread CPU seconds of a fixed pure-Python kernel (dict
    updates; no JIT, so every run executes the same instructions), run with
    the calling thread pinned to each of the process's cpus in turn.

    On a shared host the CPU seconds a fixed piece of work costs change with
    what the neighbours run: the same query mix cost 0.56 CPU s per query in
    one half hour and 1.1-1.2 in the next on the same idle machine, and at
    one instant the kernel took 2.8 ms on two cpus and 5.2 ms on the other
    two. ``normalize`` rescales CPU seconds to a host on which the kernel
    takes ``REFERENCE_S``, using the run's mean kernel time."""

    REFERENCE_S = 0.003

    def __init__(self) -> None:
        self.cpus = sorted(os.sched_getaffinity(0))
        self.samples: list[float] = []

    @staticmethod
    def _kernel(n: int = 20_000) -> int:
        d: dict[int, int] = {}
        for i in range(n):
            k = i * 2654435761 % 4099
            d[k] = d.get(k, 0) + 1
        return len(d)

    def sample_for(self, seconds: float) -> None:
        """Time the kernel on each cpu in turn until ``seconds`` have
        passed."""
        mask = os.sched_getaffinity(0)
        end = time.perf_counter() + seconds
        try:
            while time.perf_counter() < end:
                for cpu in self.cpus:
                    os.sched_setaffinity(0, {cpu})
                    t0 = time.thread_time()
                    self._kernel()
                    self.samples.append(time.thread_time() - t0)
        finally:
            os.sched_setaffinity(0, mask)

    def probe_s(self) -> float:
        """The mean kernel time over the run: CPU time is work ÷ speed, so
        the mean of the kernel's times is what scales an operation's."""
        return sum(self.samples) / len(self.samples)

    def normalize(self, cpu_s: float) -> float:
        return cpu_s * self.REFERENCE_S / self.probe_s()


class Aside:
    """Wall and CPU seconds of the benchmark's own work inside a phase (input
    generation, the DuckDB oracle), so they can be taken out of its figures.
    ``with aside(): ...`` adds one stretch."""

    def __init__(self) -> None:
        self.s = 0.0
        self.cpu_s = 0.0

    @contextmanager
    def __call__(self):
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            yield
        finally:
            self.s += time.perf_counter() - t0
            self.cpu_s += tree_cpu_s() - c0


def box_state() -> dict:
    """Load and free memory at start, so a run on a busy box says so."""
    mem = None
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                mem = round(int(line.split()[1]) / 1048576, 2)
    return {"loadavg": list(os.getloadavg()), "mem_available_gb": mem}


def per_op_spark(ops: list[dict]) -> dict[str, float]:
    """``spark.*`` per-layer metrics from per-operation status-store totals:
    means per operation, and the largest stage peak memory seen."""
    n = max(1, len(ops))
    return {
        "spark.jobs": sum(o["jobs"] for o in ops) / n,
        "spark.tasks": sum(o["tasks"] for o in ops) / n,
        "spark.exec_cpu_s": sum(o["exec_cpu_s"] for o in ops) / n,
        "spark.gc_s": sum(o["gc_s"] for o in ops) / n,
        "spark.peak_exec_mem_mb": max((o["peak_exec_mem_mb"] for o in ops), default=0.0),
    }
