"""State-store hardening: multi-column match counting, Delta-style
duplicate-source guard, cross-partition insert guard, crash-safe staging,
compaction threshold consistency, numeric CDC retention compare, and the
change log surviving a crash after an append's commit."""

import os

import pytest
from pyspark.sql import functions as F

from ideafast_etl_spark.state import StateStore


class Crash(RuntimeError):
    pass


def _crash_at_commit(store, after_put=False):
    """The next write dies at its commit point: before the manifest PUT,
    or (``after_put``) right after it, before the CDC finalize."""
    put = store._commit_manifest

    def commit(version):
        if after_put:
            put(version)
        raise Crash()

    store._commit_manifest = commit


def _hashes(df):
    return sorted(r["hash"] for r in df.collect())


def _df(spark, keys):
    return spark.createDataFrame(
        [(k, "DRM", None) for k in keys],
        "hash string, device_type string, col_a string",
    )


def _store(spark, path, rows=None, schema=None):
    store = StateStore(spark, str(path))
    rows = rows or [
        ("h1", "DRM", None, None),
        ("h2", "DRM", "set-2", None),
        ("h3", "BTF", None, None),
    ]
    schema = schema or (
        "hash string, device_type string, col_a string, col_b string"
    )
    store.init(spark.createDataFrame(rows, schema))
    return store


def test_merge_non_overwrite_counts_match_when_first_set_col_null(spark, tmp_path):
    """A matched row whose FIRST update column is NULL but whose second
    carries a fill must count as matched — and the fill must persist
    (mirrors the reference's multi-field $set, hooks/db.py:88-125)."""
    store = _store(spark, tmp_path / "s")
    v0 = store.current_version()
    upd = spark.createDataFrame(
        [("h1", None, "filled-b")], "hash string, col_a string, col_b string"
    )
    n = store.merge_non_overwrite(upd, ("col_a", "col_b"))
    assert n == 1  # key matched, even though col_a's update value is NULL
    assert store.current_version() != v0  # commit was NOT discarded
    got = {r["hash"]: (r["col_a"], r["col_b"]) for r in store.read().collect()}
    assert got["h1"] == (None, "filled-b")
    assert got["h2"] == ("set-2", None)


def test_merge_duplicate_source_keys_raise_and_state_unchanged(spark, tmp_path):
    """Delta MERGE errors when multiple source rows match one target row;
    the snapshot store must fail the same way instead of fanning the join
    out into duplicated state rows."""
    store = _store(spark, tmp_path / "s")
    v0 = store.current_version()
    dup_src = spark.createDataFrame(
        [("h1", "DRM", "x", None), ("h1", "DRM", "y", None)],
        "hash string, device_type string, col_a string, col_b string",
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        store.merge(
            dup_src,
            when_matched_set={"col_a": "src.col_a"},
            insert_when_not_matched=True,
        )
    assert store.current_version() == v0  # nothing published
    assert store.read().count() == 3
    # no orphan snapshot or staging dir left behind
    leftovers = [
        d
        for d in os.listdir(store.path)
        if d.startswith("v_") and d != f"v_{v0}"
    ]
    assert leftovers == []


def test_update_only_merge_duplicate_source_keys_absent_from_target_raise(
    spark, tmp_path
):
    """Round-5 ADVICE fix: in an update-only merge (no insert clause) a
    duplicate source key that matches NO target row used to vanish inside
    the left_outer join before the duplicate observe — the documented
    ValueError contract silently passed. The join is full_outer with the
    observe ahead of the keep-filter now, so the guard fires."""
    store = _store(spark, tmp_path / "s")
    v0 = store.current_version()
    dup_src = spark.createDataFrame(
        [("h9", "DRM", "x", None), ("h9", "DRM", "y", None)],  # h9 ∉ target
        "hash string, device_type string, col_a string, col_b string",
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        store.merge(
            dup_src,
            when_matched_set={"col_a": "src.col_a"},
            insert_when_not_matched=False,
        )
    assert store.current_version() == v0
    assert store.read().count() == 3


def test_update_only_merge_ignores_unique_unmatched_source_keys(spark, tmp_path):
    """The full_outer rewrite must not change update-only semantics: a
    UNIQUE source key absent from the target is ignored (no insert, no
    error), matched keys still update."""
    store = _store(spark, tmp_path / "s")
    src = spark.createDataFrame(
        [("h1", "DRM", "new-a", None), ("h9", "DRM", "zz", None)],
        "hash string, device_type string, col_a string, col_b string",
    )
    res = store.merge(
        src,
        when_matched_set={"col_a": "src.col_a"},
        insert_when_not_matched=False,
    )
    assert res == {"updated": 1, "inserted": 0}
    got = {r["hash"]: r["col_a"] for r in store.read().collect()}
    assert got["h1"] == "new-a"
    assert "h9" not in got  # not inserted


def test_merge_selective_insert_does_not_duplicate_cross_partition_key(
    spark, tmp_path
):
    """With partition_value + insert: a source key living in ANOTHER
    partition must not be re-inserted as a cross-partition duplicate."""
    store = _store(spark, tmp_path / "s")
    src = spark.createDataFrame(
        # h3 lives in BTF; h9 is genuinely new
        [("h3", "DRM", "a3", None), ("h9", "DRM", "a9", None)],
        "hash string, device_type string, col_a string, col_b string",
    )
    res = store.merge(
        src,
        when_matched_set={"col_a": "src.col_a"},
        insert_when_not_matched=True,
        partition_value="DRM",
    )
    assert res["inserted"] == 1  # only h9
    state = store.read()
    per_key = (
        state.groupBy("hash").count().filter(F.col("count") > 1).count()
    )
    assert per_key == 0  # no key lives in two partitions
    h3 = state.filter(F.col("hash") == "h3").collect()
    assert len(h3) == 1 and h3[0]["device_type"] == "BTF"
    assert h3[0]["col_a"] is None  # out of selective scope: not updated either
    assert state.filter(F.col("hash") == "h9").count() == 1


def test_crash_between_write_and_commit_leaves_history_intact(spark, tmp_path):
    """A staged-but-uncommitted snapshot (crash simulation) must not appear
    in versions(), must not break time travel, and must be cleaned up by
    the next successful commit's GC."""
    store = StateStore(spark, str(tmp_path / "s"), keep_versions=3)
    store.append_new(
        spark.createDataFrame(
            [("a", "DRM")], "hash string, device_type string"
        )
    )
    v0 = store.current_version()
    versions_before = store.versions()

    # crash: snapshot files written, manifest never PUT
    _crash_at_commit(store)
    with pytest.raises(Crash):
        store.append_new(
            spark.createDataFrame(
                [("zzz", "DRM")], "hash string, device_type string"
            )
        )
    del store._commit_manifest
    (out,) = [
        os.path.join(store.path, d)
        for d in os.listdir(store.path)
        if d.startswith("v_") and d[2:] not in versions_before
    ]

    assert store.versions() == versions_before  # orphan invisible
    assert store.current_version() == v0
    assert {r["hash"] for r in store.read().collect()} == {"a"}  # no "zzz"
    assert {r["hash"] for r in store.read(version=v0).collect()} == {"a"}

    # next successful commit GCs the orphan staging dir
    store.append_new(
        spark.createDataFrame(
            [("b", "DRM")], "hash string, device_type string"
        )
    )
    assert not os.path.isdir(out)
    assert {r["hash"] for r in store.read().collect()} == {"a", "b"}
    # time travel to the pre-crash version still works
    assert {r["hash"] for r in store.read(version=v0).collect()} == {"a"}


@pytest.mark.parametrize("selective", [True, False])
def test_compact_threshold_consistent_at_exact_min_files(
    spark, tmp_path, selective
):
    """A partition holding EXACTLY min_files files compacts in both the
    selective and the all-partitions path (>= in both branches)."""
    store = StateStore(spark, str(tmp_path / f"s_{selective}"))
    store.init(
        spark.createDataFrame(
            [("x0", "DRM")], "hash string, device_type string"
        )
    )
    store.append_new(
        spark.createDataFrame(
            [("x1", "DRM")], "hash string, device_type string"
        )
    )
    n_files = store.file_counts()["device_type=DRM"]
    assert n_files >= 2
    if selective:
        assert store.compact(partition_value="DRM", min_files=n_files) == 1
    else:
        assert store.compact(min_files=n_files) == 1
    assert store.file_counts()["device_type=DRM"] == 1
    assert {r["hash"] for r in store.read().collect()} == {"x0", "x1"}


def test_truncate_cdc_compares_versions_numerically(spark, tmp_path):
    """A short numeric before_version ("999") must remove nothing: every
    commit version (time_ns, 19 digits) is numerically larger, while a
    string compare would call "1755..." < "999" and wipe the log."""
    store = StateStore(spark, str(tmp_path / "s"))
    store.append_new(
        spark.createDataFrame(
            [("a", "DRM")], "hash string, device_type string"
        )
    )
    store.append_new(
        spark.createDataFrame(
            [("b", "DRM")], "hash string, device_type string"
        )
    )
    n_commits = len(os.listdir(store.cdc_path()))
    assert n_commits == 2
    assert store.truncate_cdc(before_version="999") == 0
    assert len(os.listdir(store.cdc_path())) == n_commits
    # and the real retention path still works numerically
    assert store.truncate_cdc(before_version=str(10**20)) == n_commits


@pytest.mark.parametrize("op", ["merge", "compact"])
def test_write_after_committed_append_crash_publishes_its_change_once(
    spark, tmp_path, op
):
    """An append that crashed between its manifest PUT and the CDC
    finalize is committed; whichever write comes next must publish its
    staged change entry (recover runs first on every write), not commit a
    newer version and leave the entry to be dropped as uncommitted."""
    store = StateStore(spark, str(tmp_path / "s"))
    store.append_new(_df(spark, ["a", "b"]))
    _crash_at_commit(store, after_put=True)
    with pytest.raises(Crash):
        store.append_new(_df(spark, ["c"]))
    del store._commit_manifest
    if op == "merge":
        src = _df(spark, ["a"]).withColumn("col_a", F.lit("x"))
        assert store.merge(src, when_matched_set={"col_a": "src.col_a"}) == {
            "updated": 1,
            "inserted": 0,
        }
    else:
        assert store.compact(min_files=1) == 1
    assert store.recover()["cdc_dropped"] == 0
    assert _hashes(store.read()) == ["a", "b", "c"]
    assert _hashes(spark.read.parquet(store.cdc_path())) == ["a", "b", "c"]


def test_bootstrap_append_crash_after_commit_keeps_batch_in_change_log(
    spark, tmp_path
):
    """The first append of an empty store stages its change entry before
    the commit like every other append: a crash right after the manifest
    PUT leaves the batch committed AND on its way to the change log."""
    store = StateStore(spark, str(tmp_path / "s"))
    _crash_at_commit(store, after_put=True)
    with pytest.raises(Crash):
        store.append_new(_df(spark, ["a", "b"]))
    reopened = StateStore(spark, store.path)
    assert reopened.append_new(_df(spark, ["c"])) == 1
    assert _hashes(reopened.read()) == ["a", "b", "c"]
    assert _hashes(spark.read.parquet(reopened.cdc_path())) == ["a", "b", "c"]
