"""Streaming-ingest pipeline run: drain files via checkpointed streaming,
then resolve/group/upload over the refreshed state."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ideafast_etl_spark.pipeline import DreemPipeline, PipelineConfig
from ideafast_etl_spark.sources.rest import PaginatedRestSource, mock_dreem_api
from ideafast_etl_spark.state import StateStore

API_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("device", StringType()),
        StructField(
            "report",
            StructType(
                [
                    StructField("start_time", LongType()),
                    StructField("stop_time", LongType()),
                ]
            ),
        ),
        StructField("data_url", StringType()),
    ]
)


def test_streaming_pipeline_run_and_incremental_redrain(spark, tmp_path):
    uid_map = spark.createDataFrame(
        [(f"uid-{i}", f"SER-{i:03d}") for i in range(7)], ["dreem_uid", "device_serial"]
    )
    serial_map = spark.createDataFrame(
        [(f"SER-{i:03d}", f"NR{i}-DEVICE") for i in range(7)],
        ["device_serial", "device_id"],
    )
    assignments = spark.createDataFrame(
        [(f"NR{i}-DEVICE", f"P{i}-PATIENT", datetime(2021, 12, 1), None) for i in range(7)],
        "device_id string, patient_id string, start_wear timestamp, end_wear timestamp",
    )
    feed = tmp_path / "feed"
    api = PaginatedRestSource(mock_dreem_api(25), API_SCHEMA).load(spark)
    api.coalesce(1).write.parquet(str(feed / "b1"))

    store = StateStore(spark, str(tmp_path / "state"))
    pipe = DreemPipeline(spark, store)
    report = pipe.run_from_stream(
        str(feed) + "/*/", API_SCHEMA, uid_map, serial_map, assignments,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert report["ingested"] == 25
    assert report["serials"] == 25
    assert store.read().filter(F.col("dmp_id").isNotNull()).count() == 25

    # second drain: a new file with overlap → only the delta ingests
    api2 = PaginatedRestSource(mock_dreem_api(35), API_SCHEMA).load(spark)
    api2.coalesce(1).write.parquet(str(feed / "b2"))
    report2 = pipe.run_from_stream(
        str(feed) + "/*/", API_SCHEMA, uid_map, serial_map, assignments,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert report2["ingested"] == 10
    assert store.read().count() == 35


def test_full_dag_streaming_upload_restart_resume(spark, tmp_path):
    """VERDICT r1 #6: kill between a group's upload and its flag → the
    restart re-uploads that group (at-least-once) and flags it; once flagged
    it is NEVER uploaded again on later restarts."""
    import pathlib

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    uid_map = spark.createDataFrame(
        [(f"uid-{i}", f"SER-{i:03d}") for i in range(7)], ["dreem_uid", "device_serial"]
    )
    serial_map = spark.createDataFrame(
        [(f"SER-{i:03d}", f"NR{i}-DEVICE") for i in range(7)],
        ["device_serial", "device_id"],
    )
    assignments = spark.createDataFrame(
        [(f"NR{i}-DEVICE", f"P{i}-PATIENT", datetime(2021, 12, 1), None) for i in range(7)],
        "device_id string, patient_id string, start_wear timestamp, end_wear timestamp",
    )
    feed = tmp_path / "feed"
    api = PaginatedRestSource(mock_dreem_api(12), API_SCHEMA).load(spark)
    api.coalesce(1).write.parquet(str(feed / "b1"))

    calls_dir = tmp_path / "calls"
    calls_dir.mkdir()
    cd = str(calls_dir)

    def recording_uploader(dmp_id, payload) -> bool:
        with open(pathlib.Path(cd, dmp_id), "a") as f:
            f.write("call\n")
        return True

    store = StateStore(spark, str(tmp_path / "state"))
    pipe = DreemPipeline(spark, store, uploader=recording_uploader)

    # run 1: crash between upload and flag (mark_uploaded dies)
    real_mark = store.mark_uploaded

    def dying_mark(*a, **kw):
        raise RuntimeError("simulated crash between upload and flag")

    store.mark_uploaded = dying_mark
    with pytest.raises((StreamingQueryException, RuntimeError)):
        pipe.run_stream_full_dag(
            str(feed) + "/*/", API_SCHEMA, uid_map, serial_map, assignments,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
    store.mark_uploaded = real_mark

    calls_after_crash = {p.name: len(p.read_text().splitlines())
                         for p in calls_dir.iterdir()}
    assert calls_after_crash and all(n == 1 for n in calls_after_crash.values())
    # nothing flagged: the crash hit before the flag write
    assert store.read().filter(F.col("is_uploaded")).count() == 0

    # run 2 (restart): failed batch replays — ingest is a no-op (anti-join),
    # the unflagged groups re-upload (at-least-once), flags commit
    reports = pipe.run_stream_full_dag(
        str(feed) + "/*/", API_SCHEMA, uid_map, serial_map, assignments,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert sum(r["ingested"] for r in reports) == 0
    calls_after_retry = {p.name: len(p.read_text().splitlines())
                         for p in calls_dir.iterdir()}
    assert all(n == 2 for n in calls_after_retry.values())
    pending = store.read().filter(F.col("dmp_id").isNotNull() & ~F.col("is_uploaded"))
    assert pending.count() == 0

    # run 3 (another restart, quiet feed): flagged groups never re-upload
    pipe.run_stream_full_dag(
        str(feed) + "/*/", API_SCHEMA, uid_map, serial_map, assignments,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    calls_final = {p.name: len(p.read_text().splitlines())
                   for p in calls_dir.iterdir()}
    assert calls_final == calls_after_retry


@pytest.mark.parametrize("entry", ["run_from_stream", "run_stream_full_dag"])
def test_streaming_polls_keep_state_file_count_bounded(spark, tmp_path, entry):
    """Both streaming entry points end each poll in the run-end compaction
    guard: every poll's append adds part-files, and with
    ``compact_after_files=2`` the partition is folded back to one file
    instead of growing by a file per poll."""
    uid_map = spark.createDataFrame(
        [(f"uid-{i}", f"SER-{i:03d}") for i in range(7)], ["dreem_uid", "device_serial"]
    )
    serial_map = spark.createDataFrame(
        [(f"SER-{i:03d}", f"NR{i}-DEVICE") for i in range(7)],
        ["device_serial", "device_id"],
    )
    assignments = spark.createDataFrame(
        [(f"NR{i}-DEVICE", f"P{i}-PATIENT", datetime(2021, 12, 1), None) for i in range(7)],
        "device_id string, patient_id string, start_wear timestamp, end_wear timestamp",
    )
    feed = tmp_path / "feed"
    store = StateStore(spark, str(tmp_path / "state"))
    pipe = DreemPipeline(spark, store, PipelineConfig(compact_after_files=2))
    counts = []
    for poll, n in enumerate((8, 16, 24)):
        api = PaginatedRestSource(mock_dreem_api(n), API_SCHEMA).load(spark)
        api.coalesce(1).write.parquet(str(feed / f"b{poll}"))
        getattr(pipe, entry)(
            str(feed) + "/*/", API_SCHEMA, uid_map, serial_map, assignments,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        counts.append(store.file_counts()["device_type=DRM"])
    assert store.read().count() == 24
    assert counts == [1, 1, 1]
