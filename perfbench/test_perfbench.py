"""Tests of the benchmark's own machinery (no Spark session needed).

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
from measure import hd_quantile, tail, tree_cpu_s  # noqa: E402
from polls import check_state  # noqa: E402


def _plan(seed):
    return inputs.FeedPlan(seed, new_per_poll=15, history_records=300)


def _snapshot(plan):
    return (
        plan.history,
        [plan.feed(p) for p in range(6)],
        [plan.uid_map(p) for p in range(6)],
        plan.assignments(5),
    )


def test_same_seed_same_feed_and_other_seed_differs():
    assert _snapshot(_plan(7)) == _snapshot(_plan(7))
    assert _snapshot(_plan(7)) != _snapshot(_plan(8))


def test_same_seed_same_tables_and_other_seed_differs():
    a, b, c = (inputs.make_tables(s, 0.001) for s in (3, 3, 4))
    assert a.keys() == b.keys() == c.keys()
    assert all(a[t].equals(b[t]) for t in a)
    assert not all(a[t].equals(c[t]) for t in a)


def test_tables_are_single_row_group(tmp_path):
    import pyarrow.parquet as pq

    inputs.write_tables(str(tmp_path), 3, 0.001)
    for name in ("lineitem", "orders", "events"):
        assert pq.ParquetFile(tmp_path / f"{name}.parquet").metadata.num_row_groups == 1


def test_cached_build_requires_marker(tmp_path):
    calls = []

    def build(path):
        calls.append(path)
        open(os.path.join(path, "data"), "w").close()

    first = inputs.cached_build(str(tmp_path), "k", build)
    inputs.cached_build(str(tmp_path), "k", build)
    assert len(calls) == 1
    os.unlink(os.path.join(first, "_COMPLETE"))  # as if the build was killed
    inputs.cached_build(str(tmp_path), "k", build)
    assert len(calls) == 2


def test_every_poll_lists_all_seen_records_and_busy_polls_add_new_ones():
    plan = _plan(5)
    seen = {r["id"] for r in plan.history}
    for poll in range(6):
        ids = {r["id"] for r in plan.feed(poll)}
        assert ids >= seen
        assert len(ids - seen) == (plan.new_per_poll if plan.is_busy(poll) else 0)
        seen |= ids


def test_feed_pages_follow_the_cursor_through_every_record():
    plan = _plan(5)
    fetch, cursor, got = plan.pages(2), None, []
    while True:
        rows, cursor = fetch(cursor)
        assert len(rows) <= inputs.PAGE_SIZE
        got += [r["id"] for r in rows]
        if cursor is None:
            break
    assert got == [r["id"] for r in plan.feed(2)]


def _model_rows(plan, last_poll):
    """The store as a correct pipeline leaves it: every row at its model
    value, and every group flagged uploaded."""
    expected = plan.expected(plan.delivered_refs(last_poll), last_poll)
    rows = [
        {"hash": h, **v, "is_uploaded": v["dmp_id"] is not None}
        for h, v in expected.items()
    ]
    history = plan.expected([r["id"] for r in plan.history], -1)
    preloaded = {v["dmp_id"] for v in history.values() if v["dmp_id"]}
    accepted = {r["dmp_id"] for r in rows if r["dmp_id"]} - preloaded
    return rows, expected, accepted, preloaded


def test_model_covers_every_kind_of_record():
    plan = _plan(9)
    rows, _e, accepted, preloaded = _model_rows(plan, 5)
    assert accepted and preloaded
    assert any(r["device_serial"] is None for r in rows)  # unknown uid
    assert any(r["device_id"] and r["patient_id"] is None for r in rows)  # before study
    assert any(r["dmp_id"] for r in rows)
    late = [r for r in rows if r["device_id"] and r["device_id"].startswith("NRL")]
    assert late and all(r["device_id"] != "NRL0004-DEVICE" for r in late)  # not yet mapped


def test_model_check_accepts_the_model_state():
    rows, expected, accepted, preloaded = _model_rows(_plan(9), 5)
    assert check_state(rows, expected, accepted, preloaded) == []


@pytest.mark.parametrize("corruption", [
    "drop_row", "duplicate_row", "wrong_patient", "lost_dmp_id", "mixed_group", "unflagged",
    "flagged_unaccepted",
])
def test_model_check_rejects_a_corrupted_state(corruption):
    rows, expected, accepted, preloaded = _model_rows(_plan(9), 5)
    grouped = [r for r in rows if r["dmp_id"]]
    victim = grouped[0]
    if corruption == "flagged_unaccepted":
        # a pending group flagged although the uploader never accepted it
        victim = next(r for r in grouped if r["dmp_id"] in accepted)
        accepted.discard(victim["dmp_id"])
    if corruption == "drop_row":
        rows.remove(victim)
    elif corruption == "duplicate_row":
        rows.append(dict(victim))
    elif corruption == "wrong_patient":
        victim["patient_id"] = "P999A-PATIENT"
    elif corruption == "lost_dmp_id":
        victim["dmp_id"] = None
    elif corruption == "mixed_group":
        mates = [r for r in grouped if r["dmp_id"] == victim["dmp_id"]]
        if len(mates) < 2:
            mates.append(dict(victim, hash="f" * 64))
            rows.append(mates[-1])
        mates[0]["is_uploaded"] = False
    elif corruption == "unflagged":
        for r in grouped:
            if r["dmp_id"] == victim["dmp_id"]:
                r["is_uploaded"] = False
    assert check_state(rows, expected, accepted, preloaded)


def _canon():
    from mixes import _check_oracle_module

    return _check_oracle_module(os.path.dirname(HERE)).canon


def test_oracle_compare_accepts_equal_results_in_any_order():
    from mixes import compare

    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    assert compare(a, a.iloc[::-1][["v", "k"]].reset_index(drop=True), _canon()) is None


@pytest.mark.parametrize("perturb", ["value", "row", "column"])
def test_oracle_compare_rejects_a_perturbed_result(perturb):
    from mixes import compare

    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    b = a.copy()
    if perturb == "value":
        b.loc[1, "v"] = 1.5000001
    elif perturb == "row":
        b = b.iloc[:2]
    else:
        b = b.rename(columns={"v": "w"})
    assert compare(b, a, _canon()) is not None


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    few = [1.0] * 5 + [9.0]
    assert tail(few) == hd_quantile(few, 0.5)  # too few samples: the median
    assert 1.0 < hd_quantile(few, 0.5) < 2.0
    values = [float(i) for i in range(1, 101)]
    assert 90.0 <= tail(values) <= 91.0  # p90: samples 91..100 lie beyond it



def test_tree_cpu_counts_a_running_child_process():
    import subprocess
    import time

    burn = (
        "import sys, time\n"
        "t = time.process_time()\n"
        "while time.process_time() - t < 0.5: pass\n"
        "print(flush=True)\n"
        "sys.stdin.read()\n"
    )
    before = tree_cpu_s()
    child = subprocess.Popen(
        [sys.executable, "-c", burn], stdin=subprocess.PIPE, stdout=subprocess.PIPE
    )
    try:
        child.stdout.readline()  # the child has burnt its CPU and is still alive
        time.sleep(0.05)
        assert tree_cpu_s() - before >= 0.45
    finally:
        child.stdin.close()
        child.wait()
