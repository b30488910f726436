"""``poll_cycles``: repeated ``DreemPipeline`` polls over a preloaded history.

Setup builds the history with the pipeline's own shaping and grouping
functions and writes it through ``StateStore.init``; then one busy poll runs
untimed. A fixed number of idle and busy pairs is timed, set by the run's
seconds; the driver heap held is read at the start and after each poll
(``Context.settle``), outside the timed polls.
After the last poll the store is checked against the plain-Python model of
the generated feed (``inputs.FeedPlan.expected``).
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import time

import inputs
from inputs import DEVICE_TYPE, FeedPlan
from measure import median, per_op_spark, tree_cpu_s

# per attempt, independent across attempts: the share of groups the engine's
# stub_uploader fails (ids whose sha256 ends in "f", 1 in 16), drawn afresh
# for every attempt instead of failing the same groups forever
UPLOAD_FAIL_RATE = 1 / 16
# untimed polls after the preload: one busy poll. The first busy polls of a
# session cost 1.2-1.4x the CPU of later ones while the JVM compiles; a fixed
# count of timed polls makes them the same polls on every host.
WARMUP_POLLS = 1
# wall seconds an idle and a busy poll and their settle points take together
# on a quiet 4-core machine; a run times ``--seconds`` / this many pairs,
# whatever the host's speed, so a busy host takes longer over the same polls
NOMINAL_PAIR_S = 5.5

STAGES = (
    "ingest", "resolve_serial", "resolve_device", "resolve_patient",
    "group", "upload", "maintain",
)
STORE_METHODS = {
    "append_new": "append_new",
    "merge_non_overwrite": "merge",
    "mark_uploaded": "mark_uploaded",
    "compact": "compact",
}


class TransientUploader:
    """Upload stand-in that fails each attempt with probability
    ``fail_rate``, decided by hashing (seed, poll, group) so a group that
    failed is retried on a later poll with a fresh draw. Every attempt is
    logged, from the executor, so the check knows which groups were accepted.
    Set ``poll`` before each ``upload()``: the instance is pickled into the
    upload stage when the stage is planned."""

    def __init__(self, seed: int, fail_rate: float, log_dir: str) -> None:
        self.seed = seed
        self.fail_rate = fail_rate
        self.log_dir = log_dir
        self.poll = -1

    def __call__(self, dmp_id: str, payload) -> bool:
        digest = hashlib.sha256(f"{self.seed}:{self.poll}:{dmp_id}".encode()).digest()
        ok = int.from_bytes(digest[:8], "big") / 2.0**64 >= self.fail_rate
        with open(os.path.join(self.log_dir, f"attempts-{os.getpid()}.log"), "a") as fh:
            fh.write(f"{self.poll}\t{dmp_id}\t{int(ok)}\n")
        return ok

    def attempts(self) -> list[tuple[int, str, bool]]:
        out = []
        for path in glob.glob(os.path.join(self.log_dir, "attempts-*.log")):
            with open(path) as fh:
                for line in fh:
                    poll, dmp_id, ok = line.rstrip("\n").split("\t")
                    out.append((int(poll), dmp_id, ok == "1"))
        return out


def check_state(
    rows: list[dict], expected: dict[str, dict], accepted: set[str], preloaded: set[str]
) -> list[str]:
    """Problems found comparing the store's rows with the model; empty when
    the store is right. ``rows`` carry hash, the resolved fields, dmp_id and
    is_uploaded; ``accepted`` are the groups the uploader accepted and
    ``preloaded`` the groups the history held as uploaded already. A group
    must be flagged uploaded exactly when it is in one of the two."""
    problems = []
    if len(rows) != len(expected):
        problems.append(f"row count {len(rows)} != model {len(expected)}")
    seen: set[str] = set()
    groups: dict[str, set] = {}
    for r in rows:
        h = r["hash"]
        if h in seen:
            problems.append(f"duplicate hash {h[:12]}")
        seen.add(h)
        want = expected.get(h)
        if want is None:
            problems.append(f"unexpected hash {h[:12]}")
            continue
        for col, val in want.items():
            if r[col] != val:
                problems.append(f"{h[:12]} {col}={r[col]!r}, model {val!r}")
        if r["dmp_id"] is not None:
            groups.setdefault(r["dmp_id"], set()).add(bool(r["is_uploaded"]))
    problems += [f"group {g} mixes is_uploaded" for g, f in groups.items() if len(f) > 1]
    problems += [
        f"uploaded group {g} not flagged"
        for g in accepted | preloaded
        if groups.get(g) != {True}
    ]
    problems += [
        f"group {g} flagged but never accepted"
        for g, f in groups.items()
        if True in f and g not in accepted and g not in preloaded
    ]
    return problems[:20]


class PollWorkload:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.plan = FeedPlan(ctx.seed)
        self.schema = api_schema()
        self.versions = 0
        self.state_s: dict[str, float] = {}

    # -- setup ------------------------------------------------------------------

    def _history(self):
        """The history as the pipeline would have written it before poll 0:
        vendor rows shaped by ``shape_api_rows``/``init_lifecycle``, lookups
        filled from the dimensions known then, groups keyed by
        ``assign_group_id``, and every grouped record already uploaded."""
        import pandas as pd
        from pyspark.sql import functions as F

        from ideafast_etl_spark.operators.grouping import assign_group_id
        from ideafast_etl_spark.operators.projections import init_lifecycle, shape_api_rows

        spark, plan = self.spark, self.plan
        raw = pd.DataFrame(plan.history)
        resolved = plan.expected(raw["id"], -1)
        self.preloaded = {v["dmp_id"] for v in resolved.values() if v["dmp_id"]}
        raw["hash"] = [inputs.record_hash(r) for r in raw["id"]]
        for col in ("device_serial", "device_id", "patient_id"):
            raw[col] = [resolved[h][col] for h in raw["hash"]]
        rows = spark.createDataFrame(raw).select(
            "*", F.struct("start_time", "stop_time").alias("report")
        )
        lookups = rows.select("hash", "device_serial", "device_id", "patient_id")
        shaped = init_lifecycle(shape_api_rows(rows, DEVICE_TYPE))
        grouped = assign_group_id(
            shaped.drop("device_serial", "device_id", "patient_id").join(lookups, "hash"),
            cut_off="12:00:00", ts_col="start",
        )
        dmp = F.when(F.col("patient_id").isNotNull(), F.col("dmp_id"))
        return grouped.withColumn("dmp_id", dmp).withColumn(
            "is_uploaded", dmp.isNotNull()
        ).select(*shaped.columns)

    def _dims(self, poll: int):
        spark, plan = self.spark, self.plan
        return (
            spark.createDataFrame(plan.uid_map(poll), "dreem_uid string, device_serial string"),
            spark.createDataFrame(plan.serial_map(poll), "device_serial string, device_id string"),
            spark.createDataFrame(
                plan.assignment_rows(poll),
                "device_id string, patient_id string, start_wear timestamp, end_wear timestamp",
            ),
        )

    def setup(self) -> None:
        from ideafast_etl_spark.pipeline import DreemPipeline
        from ideafast_etl_spark.state import StateStore

        ctx = self.ctx
        run_dir = os.path.join(ctx.work, f"poll-{ctx.seed}-{os.getpid()}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(os.path.join(run_dir, "uploads"))
        self.run_dir = run_dir
        with ctx.tracer.span("setup.preload"):
            self.store = StateStore(self.spark, os.path.join(run_dir, "state"))
            self.store.init(self._history())
        self.uploader = TransientUploader(
            ctx.seed, UPLOAD_FAIL_RATE, os.path.join(run_dir, "uploads")
        )
        self.pipe = DreemPipeline(self.spark, self.store, uploader=self.uploader)
        if ctx.tracer.enabled:
            self._wrap_store()
        with ctx.tracer.span("setup.warmup"):
            for i in range(WARMUP_POLLS):
                self.poll(i)

    def _wrap_store(self) -> None:
        """Span every state transition on the pipeline's store instance and
        count the versions it commits."""
        store, tracer = self.store, self.ctx.tracer
        for method, label in STORE_METHODS.items():
            orig = getattr(store, method)

            def wrapped(*a, _orig=orig, _label=label, **kw):
                before = store.current_version()
                t0 = time.perf_counter()
                with tracer.span(f"state.{_label}"):
                    out = _orig(*a, **kw)
                self.state_s[_label] = self.state_s.get(_label, 0.0) + (
                    time.perf_counter() - t0
                )
                self.versions += store.current_version() != before
                return out

            setattr(store, method, wrapped)

    # -- one poll -----------------------------------------------------------------

    def poll(self, i: int) -> dict:
        from ideafast_etl_spark.sources.rest import PaginatedRestSource

        ctx, pipe = self.ctx, self.pipe
        tracer, group = ctx.tracer, ctx.group
        out: dict = {"poll": i, "busy": FeedPlan.is_busy(i), "stage_s": {}}
        pages = []
        self.state_s, self.versions = {}, 0
        c0, t0 = tree_cpu_s(), time.perf_counter()
        with tracer.span("poll", poll=i):
            with tracer.span("sources.load"), group(f"p{i}/sources"):
                fetch = self.plan.pages(i)
                source = PaginatedRestSource(
                    lambda c: (pages.append(c), fetch(c))[1], self.schema
                )
                feed = source.load(self.spark)
                uid, ser, asg = self._dims(i)
            self.uploader.poll = i
            calls = {
                "ingest": lambda: pipe.ingest(feed),
                "resolve_serial": lambda: pipe.resolve_serial(uid),
                "resolve_device": lambda: pipe.resolve_device_id(ser),
                "resolve_patient": lambda: pipe.resolve_patient(asg),
                "group": pipe.group_records,
                "upload": pipe.upload,
                "maintain": pipe.maintain,
            }
            out["stage_s"]["sources"] = time.perf_counter() - t0
            for stage in STAGES:
                ts = time.perf_counter()
                with tracer.span(f"pipeline.{stage}"), group(f"p{i}/{stage}"):
                    out[stage] = calls[stage]()
                out["stage_s"][stage] = time.perf_counter() - ts
        out["s"] = time.perf_counter() - t0
        out["cpu_s"] = tree_cpu_s() - c0
        out["pages"] = len(pages)
        out["state_s"], out["versions"] = self.state_s, self.versions
        return out

    # -- measurement ----------------------------------------------------------------

    def measure(self, seconds: float) -> dict:
        ctx = self.ctx
        polls = []
        written = []
        errors = []
        ctx.settle()
        pairs = max(1, round(seconds / NOMINAL_PAIR_S))
        j = WARMUP_POLLS  # odd: idle, busy, idle, ..., ending on a busy poll
        while j < WARMUP_POLLS + 2 * pairs:
            files = self._inodes() if ctx.tracer.enabled else None
            try:
                polls.append(self.poll(j))
            except Exception as e:  # a failed poll is counted; the store is then suspect
                errors.append(f"poll {j}: {type(e).__name__}: {e}"[:300])
                j += 1
                break
            if files is not None:
                written.append(self._bytes_written(files))
                polls[-1]["spark"] = ctx.spark_metrics(
                    f"p{j}/", [f"p{j}/{s}" for s in STAGES]
                )
            ctx.settle()
            j += 1
        self.last_poll = j - 1
        return self._report(polls, written, errors)

    def _inodes(self) -> dict[int, int]:
        out = {}
        for root, _dirs, files in os.walk(self.store.path):
            for fn in files:
                st = os.stat(os.path.join(root, fn))
                out[st.st_ino] = st.st_size
        return out

    def _bytes_written(self, before: dict[int, int]) -> int:
        return sum(sz for ino, sz in self._inodes().items() if ino not in before)

    def _snapshot_bytes(self) -> int:
        root = os.path.join(self.store.path, f"v_{self.store.current_version()}")
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(root)
            for f in fs
            if not f.startswith(("_", "."))
        )

    def _report(self, polls: list[dict], written: list[int], errors: list[str]) -> dict:
        from pyspark.sql import functions as F

        busy = [p for p in polls if p["busy"]]
        idle = [p for p in polls if not p["busy"]]
        state = self.store.read().select(
            "hash", "device_serial", "device_id", "patient_id", "dmp_id",
            F.coalesce(F.col("is_uploaded"), F.lit(False)).alias("is_uploaded"),
        ).toPandas()
        rows = state.astype(object).where(state.notna(), None).to_dict("records")
        attempts = self.uploader.attempts()
        accepted = {g for _p, g, ok in attempts if ok}
        expected = self.plan.expected(self.plan.delivered_refs(self.last_poll), self.last_poll)
        problems = errors + check_state(rows, expected, accepted, self.preloaded)
        pending = {r["dmp_id"] for r in rows if r["dmp_id"] and not r["is_uploaded"]}
        new_records = sum(p["ingest"] for p in busy)
        busy_s = sum(p["s"] for p in busy)
        per_record = self._snapshot_bytes() / max(1, len(rows))
        attempted = [sum(p["upload"]) for p in polls]
        ok = [p["upload"][0] for p in polls]
        layer = {
            "pipeline.idle_poll_s": median(p["s"] for p in idle),
            "pipeline.ingest_records_per_s": new_records / busy_s if busy_s else 0.0,
            "sources.pages": median(p["pages"] for p in busy),
            "state.bytes_per_record": per_record,
            "state.files": sum(self.store.file_counts().values()),
            "sinks.groups_attempted": sum(attempted) / len(polls),
            "sinks.groups_ok": sum(ok) / len(polls),
            "sinks.useful_ratio": sum(ok) / max(1, sum(attempted)),
            "sinks.backlog": len(pending),
        }
        layer["sources.load_s"] = median(p["stage_s"]["sources"] for p in busy)
        for stage in STAGES:
            layer[f"pipeline.{stage}_s"] = median(p["stage_s"][stage] for p in busy)
        if written:
            layer["state.bytes_written_per_poll"] = sum(written) / len(written)
            layer["state.write_amp"] = sum(written) / max(1.0, new_records * per_record)
            layer["state.versions_per_poll"] = sum(p["versions"] for p in polls) / len(polls)
            for label in STORE_METHODS.values():
                layer[f"state.{label}_s"] = median(
                    p["state_s"].get(label, 0.0) for p in busy
                )
            for stage in STAGES:
                layer[f"pipeline.{stage}.jobs"] = median(
                    p["spark"][f"p{p['poll']}/{stage}"]["jobs"] for p in busy
                )
            layer.update(per_op_spark([p["spark"][f"p{p['poll']}/"] for p in polls]))
        return {
            "ops": [p["s"] for p in busy],
            "cycles": [median(p["s"] for p in busy) + median(p["s"] for p in idle)],
            "ops_cpu": [p["cpu_s"] for p in busy],
            "cycles_cpu": [
                median(p["cpu_s"] for p in busy) + median(p["cpu_s"] for p in idle)
            ],
            "attempted": len(polls) + len(errors) + 1,
            "failed": len(errors) + int(len(problems) > len(errors)),
            "problems": problems,
            "layer": layer,
        }

    def close(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)


def api_schema():
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    return StructType([
        StructField("id", StringType()),
        StructField("device", StringType()),
        StructField("report", StructType([
            StructField("start_time", LongType()),
            StructField("stop_time", LongType()),
        ])),
        StructField("data_url", StringType()),
    ])


def run(ctx) -> dict:
    work = PollWorkload(ctx)
    t0 = time.perf_counter()
    try:
        work.setup()
        setup_s, setup_cpu_s = time.perf_counter() - t0, tree_cpu_s()
        out = work.measure(ctx.seconds)
    finally:
        work.close()
    out["setup_s"], out["setup_cpu_s"] = setup_s, setup_cpu_s
    return out
