"""Benchmark entry point.

    python3 perfbench/run.py --workload poll_cycles --seed 1 --seconds 6 --trace 0

Runs one workload in one process on ``local[<cpus>]`` with a single
closed-loop client, and prints, as the last line of standard output, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones, whose times are CPU seconds
rescaled to a reference host speed (``measure.SpeedProbe``); with
``--trace 1`` they are the per-layer ones, spans are written to
``.perfbench_work/trace-*.json`` and the end-to-end figures of the traced run
go there too. The line before it
carries the run's environment (cpus, pinned settings, load and free memory at
start, sample counts, any correctness problems).

Everything the run writes stays under ``.perfbench_work/`` in the directory
it is started from.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("poll_cycles", "relational_mix")
CLEANER_WAIT_S = 0.5

sys.path[:0] = [HERE, ROOT]
from mixes import RELATIONAL  # noqa: E402
from polls import STAGES, STORE_METHODS  # noqa: E402

PER_LAYER = (
    ["session.start_s", "sources.load_s", "sources.pages",
     "pipeline.idle_poll_s", "pipeline.ingest_records_per_s"]
    + [name for s in STAGES for name in (f"pipeline.{s}_s", f"pipeline.{s}.jobs")]
    + [f"state.{m}_s" for m in STORE_METHODS.values()]
    + ["state.bytes_written_per_poll", "state.write_amp", "state.files",
       "state.versions_per_poll", "state.bytes_per_record",
       "sinks.groups_attempted", "sinks.groups_ok", "sinks.useful_ratio", "sinks.backlog",
       "tables.load_s", "tables.scan_mb", "tables.scan_task_s",
       "tables.repartition_shuffle_mb"]
    + [f"q.{q}.{k}" for q in RELATIONAL for k in ("s", "jobs", "shuffle_mb", "spill_mb")]
    + ["spark.jobs", "spark.tasks", "spark.exec_cpu_s", "spark.gc_s",
       "spark.peak_exec_mem_mb", "trace.coverage", "trace.spans", "ops.samples"]
    + ["wall.setup_s", "wall.op_p50_s", "wall.op_tail_s", "wall.cycle_s",
       "cpu.setup_s", "cpu.op_p50_s", "speed.probe_ms"]
)
END_TO_END = {
    "setup_s": "s",
    "peak_heap_mb": "MiB",
    "ok_rate": "ratio",
    "op_cpu_p50_s": "s",
    "op_cpu_tail_s": "s",
    "cycle_cpu_s": "s",
}


def unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith(("ratio", "coverage", "write_amp")):
        return "ratio"
    if name.endswith(("bytes_per_record", "bytes_written_per_poll")):
        return "B"
    return "count"


class Context:
    """What a workload needs: the session, the seed and run length, the
    work directory, and the tracing hooks (inert when tracing is off)."""

    def __init__(self, args, spark, work) -> None:
        from measure import SparkStatus, SpeedProbe, Tracer

        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.root = ROOT
        self.work = work
        self.tracer = Tracer(bool(args.trace))
        self.status = SparkStatus(spark) if args.trace else None
        self.load_s = 0.0
        self.held_mb: list[float] = []
        self.speed = SpeedProbe()

    def settle(self) -> None:
        """Record the driver heap the program still holds, between cycles
        and outside every timed operation. Python's collector runs first, so
        JVM objects that only dead py4j proxies kept alive are freed; then
        two full collections of the driver heap, with a pause between them
        in which Spark's ContextCleaner drops the blocks, broadcasts and
        shuffles of datasets the first one found unreachable. The pause is
        spent sampling the host's speed."""
        jvm = self.spark._jvm
        gc.collect()
        jvm.java.lang.System.gc()
        self.speed.sample_for(CLEANER_WAIT_S)
        jvm.java.lang.System.gc()
        used = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
        self.held_mb.append(used.getUsed() / 1048576.0)

    def group(self, label: str):
        return self.status.group(label) if self.status else nullcontext()

    def spark_metrics(self, total: str, parts: list[str]) -> dict:
        """Status-store totals for the job-group prefix ``total`` and for each
        of ``parts``, from one read of the store."""
        jobs, stages = self.status.snapshot()
        return {p: self.status.by_group(jobs, stages, p) for p in (total, *parts)}

    def wrap_tables_load(self) -> None:
        """Span every ``tables.load`` call and total its time."""
        from ideafast_etl_spark import tables

        orig = tables.load

        def load(*a, **kw):
            t0 = time.perf_counter()
            with self.tracer.span("tables.load"):
                out = orig(*a, **kw)
            self.load_s += time.perf_counter() - t0
            return out

        tables.load = load


def pin_environment(work: str) -> dict:
    """Settings every run shares, pinned before Spark starts."""
    cpus = len(os.sched_getaffinity(0))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "TMPDIR": tmp,
    }
    os.environ.update(pinned)
    # executors' Python workers unpickle the benchmark's uploader by module
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (HERE, ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    return pinned


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(os.getcwd(), ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    pinned = pin_environment(work)
    from measure import box_state, hd_quantile, median, tail

    box = box_state()
    try:
        from ideafast_etl_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: the engine is not importable here: {e}", file=sys.stderr)
        return 2

    t0 = time.perf_counter()
    spark = get_spark(
        f"perfbench-{args.workload}",
        extra_conf={
            # a fixed-size heap, so G1's choices of when to grow it do not
            # vary the timings from run to run
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={pinned['TMPDIR']} "
                f"-Xms{pinned['SPARK_GRAFT_DRIVER_MEM']}"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    try:
        ctx = Context(args, spark, work)
        if ctx.tracer.enabled:
            ctx.wrap_tables_load()
        import mixes
        import polls

        res = (polls if args.workload == "poll_cycles" else mixes).run(ctx)
    finally:
        spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    ops, ops_cpu = res["ops"], res["ops_cpu"]
    attempted, failed = res["attempted"], res["failed"]
    setup_wall_s = session_s + res["setup_s"]
    norm = ctx.speed.normalize
    e2e = {
        "setup_s": norm(res["setup_cpu_s"]),
        "peak_heap_mb": max(ctx.held_mb),
        "ok_rate": 1.0 - failed / attempted,
        "op_cpu_p50_s": norm(hd_quantile(ops_cpu, 0.5)),
        "op_cpu_tail_s": norm(tail(ops_cpu)),
        "cycle_cpu_s": norm(median(res["cycles_cpu"])),
    }
    # the same figures in wall seconds and unscaled CPU seconds, per-layer
    raw = {
        "wall.setup_s": setup_wall_s,
        "wall.op_p50_s": hd_quantile(ops, 0.5),
        "wall.op_tail_s": tail(ops),
        "wall.cycle_s": median(res["cycles"]),
        "cpu.setup_s": res["setup_cpu_s"],
        "cpu.op_p50_s": hd_quantile(ops_cpu, 0.5),
        "speed.probe_ms": ctx.speed.probe_s() * 1e3,
    }
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": int(pinned["SPARK_GRAFT_CPUS"]),
        "pinned": pinned,
        "start": box,
        "session_start_s": session_s,
        "samples": {"ops": len(ops), "cycles": len(res["cycles"])},
        "raw": raw,
        "op_cpu_s": ops_cpu,
        "cycle_cpu_s": res["cycles_cpu"],
        "held_mb": ctx.held_mb,
        "probe_s": ctx.speed.samples,
        "problems": res["problems"],
    }
    if args.trace:
        layer = {name: 0.0 for name in PER_LAYER}
        layer.update(res["layer"])
        layer.update(raw)
        layer["session.start_s"] = session_s
        layer["trace.spans"] = len(ctx.tracer.spans)
        layer["trace.coverage"] = ctx.tracer.coverage(
            "poll" if args.workload == "poll_cycles" else "pass"
        )
        layer["ops.samples"] = len(ops)
        metrics = {k: {"value": float(layer[k]), "unit": unit(k)} for k in PER_LAYER}
        path = os.path.join(work, f"trace-{args.workload}-{args.seed}.json")
        ctx.tracer.write(path, {"info": info, "end_to_end": e2e})
        info["trace_file"] = path
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps(info))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
