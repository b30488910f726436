"""Seeded benchmark inputs.

Two families, both a pure function of ``--seed``:

* ``write_tables`` — the TPC-H-style star schema plus ``events``, in the
  layout of the engine's test tables (one parquet file per table, one row
  group per file), so ``tables.load`` sees what it sees in production tests.
* ``FeedPlan`` — the Dreem vendor feed for ``poll_cycles``: a state history,
  per-poll feed pages (the full listing of every record delivered so far,
  plus new, late and unresolvable records on busy polls) and the lookup
  dimensions as known at each poll. It also carries the plain-Python model of what the
  pipeline must have written.

Anything generated once and reused across runs lives under a directory keyed
on seed + ``GEN_VERSION`` + a fingerprint of this file, and counts as present
only once its ``_COMPLETE`` marker exists.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

GEN_VERSION = 2
DEVICE_TYPE = "DRM"
CUT_OFF_HOURS = 12  # PipelineConfig.cut_off_time "12:00:00"


def fingerprint() -> str:
    with open(__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


def cached_build(root: str, key: str, build) -> str:
    """Directory ``root/key`` built by ``build(path)``; reused only when its
    completion marker exists (a killed build is rebuilt from scratch)."""
    path = os.path.join(root, key)
    marker = os.path.join(path, "_COMPLETE")
    if os.path.exists(marker):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    build(path)
    with open(marker, "w") as fh:
        fh.write(key + "\n")
    return path


# -- relational tables ---------------------------------------------------------

def make_tables(seed: int, sf: float) -> dict:
    """The star-schema engine tables and ``events`` at scale factor ``sf`` as
    pyarrow tables, with the column types and value ranges of the engine's
    test fixtures."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng([seed, GEN_VERSION])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, n_days, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n).astype("timedelta64[D]")

    def names(prefix, n):
        return [f"{prefix}#{i:09d}" for i in range(n)]

    i32, i64 = pa.int32(), pa.int64()
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
    }
    adj = ["small", "red", "blue", "hot", "cold", "new", "old", "large"]
    noun = ["ring", "widget", "bolt", "gear", "anvil", "plate", "rod", "gizmo"]
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": days("1995-01-01", 2405, n_ord),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    lines = rng.integers(1, 8, n_ord)
    n_line = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.arange(n_line) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    perm = rng.permutation(n_line)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey[perm], i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(lnum[perm], i32),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": money(900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": days("1995-01-02", 2499, n_line),
    })
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    import pyarrow.parquet as pq

    for name, table in make_tables(seed, sf).items():
        # one row group per file, like the engine's fixtures
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )


# -- the Dreem feed -----------------------------------------------------------
#
# Where each figure comes from (perfbench/README.md, "Poll traffic"):
#   NEW_PER_POLL      the reference's ingest cap, op_kwargs={"limit": 15}
#                     (dags/dreem.py:257; SURVEY.md section 6)
#   HISTORY_PER_NEW   history rows per new record in the 240k-row-history,
#                     400-record-poll probe (ISSUE: 240,000 / 400 = 600)
#   PAGE_SIZE         the reference's list_size=30 (drm.py:20)
#   N_DEVICES, NO_URL_EVERY
#                     the engine's own feed stand-in, sources.rest.mock_dreem_api
#                     (7 devices, every 5th record without a data_url)
# Every poll lists the whole account: the reference GETs all recording
# metadata each run and finds new data by a hash anti-join against state
# (SURVEY.md S1, J1). The remaining constants are assumptions, chosen so that
# every busy poll exercises each resolution path at least once.

EPOCH0 = datetime(2022, 1, 1, tzinfo=timezone.utc)
NEW_PER_POLL = 15
HISTORY_PER_NEW = 600
PAGE_SIZE = 30
N_DEVICES = 7  # uid -> serial -> device -> patients all known
NO_URL_EVERY = 5
N_UNKNOWN = 1  # assumption: a uid never mapped
LATE_PER_POLL = 1  # assumption: records of a device enrolled at this poll
LATE_LAG = 2  # assumption: polls until a late device's uid mapping is published
STUDY_START_DAY = 10  # assumption: assignments begin here; earlier days never resolve
HISTORY_DAYS = 120  # assumption: the history spans days 0..119


def _epoch(day: int, second: int) -> int:
    return int((EPOCH0 + timedelta(days=day, seconds=second)).timestamp())


def _day(epoch_s: int) -> datetime:
    d = datetime.fromtimestamp(epoch_s, timezone.utc)
    return d.replace(hour=0, minute=0, second=0, microsecond=0)


def record_hash(ref: str) -> str:
    return hashlib.sha256((DEVICE_TYPE + ref).encode()).hexdigest()


@dataclass
class FeedPlan:
    """The poll workload's inputs. Every poll serves every record delivered
    so far; busy polls (even index) add ``new_per_poll`` records on a fresh
    day, idle polls (odd index) add none.

    Each busy poll also enrols one new device whose records arrive at once
    but whose uid mapping is published ``LATE_LAG`` polls later, so every
    busy poll resolves the late records of the one before it. Records of
    ``N_UNKNOWN`` uids, and records from before the study start, never
    resolve and are retried by every poll."""

    seed: int
    new_per_poll: int = NEW_PER_POLL
    history_records: int = NEW_PER_POLL * HISTORY_PER_NEW
    rows_by_ref: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        rng = random.Random(f"feed:{self.seed}:{GEN_VERSION}")
        self.uids = [f"uid-{k:03d}" for k in range(N_DEVICES + N_UNKNOWN)]
        self.switch_day = {
            k: STUDY_START_DAY + rng.randrange(20, 200) for k in range(N_DEVICES)
        }
        self.history = [
            self._record(rng, f"h{n:07d}", rng.randrange(HISTORY_DAYS), self.uids)
            for n in range(self.history_records)
        ]

    def _record(self, rng: random.Random, ref_suffix: str, day: int, uids) -> dict:
        start = _epoch(day, 12 * 3600 + rng.randrange(8 * 3600))
        row = {
            "id": f"ref-{self.seed}-{ref_suffix}",
            "device": rng.choice(uids),
            "start_time": start,
            "stop_time": start + 600 + rng.randrange(3 * 3600),
            "data_url": None if rng.randrange(NO_URL_EVERY) == 0
            else f"https://vendor.invalid/{ref_suffix}",
        }
        self.rows_by_ref[row["id"]] = row
        return row

    # -- per-poll inputs -------------------------------------------------------

    @staticmethod
    def is_busy(poll: int) -> bool:
        return poll % 2 == 0

    def feed(self, poll: int) -> list[dict]:
        """The rows the vendor API lists at ``poll``: every record delivered
        so far plus, on a busy poll, its new ones, in a seeded order.
        Deterministic in (seed, poll) regardless of which polls ran before."""
        rows = self.history + self.new_records(poll)
        random.Random(f"poll:{self.seed}:{poll}:{GEN_VERSION}").shuffle(rows)
        return rows

    def _new_rows(self, poll: int) -> list[dict]:
        rng = random.Random(f"new:{self.seed}:{poll}:{GEN_VERSION}")
        day = HISTORY_DAYS + 1 + poll
        return [
            self._record(
                rng, f"p{poll:04d}-{n:05d}", day,
                [f"uid-L{poll:04d}"] if n < LATE_PER_POLL else self.uids,
            )
            for n in range(self.new_per_poll)
        ]

    def new_records(self, upto_poll: int) -> list[dict]:
        """Every new record delivered by polls ``0..upto_poll``."""
        out: list[dict] = []
        for p in range(0, upto_poll + 1, 2):
            out += self._new_rows(p)
        return out

    def delivered_refs(self, last_poll: int) -> list[str]:
        return [r["id"] for r in self.history + self.new_records(last_poll)]

    def pages(self, poll: int):
        """An injected ``PaginatedRestSource`` fetcher over this poll's feed,
        in the vendor's ``(results, next-cursor)`` envelope."""
        rows = [
            {
                "id": r["id"],
                "device": r["device"],
                "report": {"start_time": r["start_time"], "stop_time": r["stop_time"]},
                "data_url": r["data_url"],
            }
            for r in self.feed(poll)
        ]
        size = PAGE_SIZE

        def fetch(cursor):
            start = int(cursor) if cursor else 0
            stop = min(start + size, len(rows))
            return rows[start:stop], (str(stop) if stop < len(rows) else None)

        return fetch

    def _devices(self, poll: int) -> list[tuple[str, str, str, int]]:
        """(uid, serial, device_id, switch_day) of every device enrolled by
        ``poll``; late devices keep one patient for the whole study."""
        out = [
            (f"uid-{k:03d}", f"SER-{k:03d}", f"NR{k:03d}-DEVICE", self.switch_day[k])
            for k in range(N_DEVICES)
        ]
        out += [
            (f"uid-L{p:04d}", f"SER-L{p:04d}", f"NRL{p:04d}-DEVICE", None)
            for p in range(0, poll + 1, 2)
        ]
        return out

    def uid_map(self, poll: int) -> list[tuple[str, str]]:
        return [
            (u, s) for u, s, _d, _w in self._devices(poll)
            if not u.startswith("uid-L") or int(u[5:]) + LATE_LAG <= poll
        ]

    def serial_map(self, poll: int) -> list[tuple[str, str]]:
        return [(s, d) for _u, s, d, _w in self._devices(poll)]

    def assignments(self, poll: int) -> list[tuple[str, str, int, int]]:
        """(device_id, patient_id, first wear day, last wear day)."""
        out = []
        end = STUDY_START_DAY + 3650
        for _u, _s, dev, switch in self._devices(poll):
            pid = dev[2:-7]
            if switch is None:
                out.append((dev, f"P{pid}A-PATIENT", STUDY_START_DAY, end))
            else:
                out.append((dev, f"P{pid}A-PATIENT", STUDY_START_DAY, switch))
                out.append((dev, f"P{pid}B-PATIENT", switch + 1, end))
        return out

    def assignment_rows(self, poll: int) -> list[tuple]:
        """``assignments`` as (device_id, patient_id, start_wear, end_wear)
        timestamps inside the first and last wear days."""
        return [
            (d, p, EPOCH0 + timedelta(days=s, hours=9), EPOCH0 + timedelta(days=e, hours=18))
            for d, p, s, e in self.assignments(poll)
        ]

    # -- the model --------------------------------------------------------------

    def expected(self, refs, last_poll: int) -> dict[str, dict]:
        """What the pipeline must hold for each delivered ``ref`` after
        polls up to ``last_poll``, keyed by record hash. Lookups resolve
        under the dimensions known at the last poll (they only ever grow, and
        every poll retries unresolved rows); the patient is the first
        assignment, by (start_wear, patient_id), whose wear days contain the
        record's start and end days; the group key is
        ``DEVICE-PATIENT-yyyymmdd-yyyymmdd`` of the 12:00 cut-off day."""
        uid_map = dict(self.uid_map(last_poll))
        dev_map = dict(self.serial_map(last_poll))
        by_device: dict[str, list] = {}
        for dev, pat, s, e in sorted(self.assignments(last_poll), key=lambda a: (a[2], a[1])):
            by_device.setdefault(dev, []).append(
                (pat, EPOCH0 + timedelta(days=s), EPOCH0 + timedelta(days=e))
            )
        out = {}
        for ref in refs:
            r = self.rows_by_ref[ref]
            serial = uid_map.get(r["device"])
            device = dev_map.get(serial) if serial else None
            patient = None
            d0, d1 = _day(r["start_time"]), _day(r["stop_time"])
            for pat, lo, hi in by_device.get(device, ()):
                if lo <= d0 <= hi and lo <= d1 <= hi:
                    patient = pat
                    break
            dmp_id = None
            if patient:
                b0 = _day(r["start_time"] - CUT_OFF_HOURS * 3600)
                dmp_id = "-".join([
                    device.replace("-", ""), patient.replace("-", ""),
                    b0.strftime("%Y%m%d"), (b0 + timedelta(days=1)).strftime("%Y%m%d"),
                ])
            out[record_hash(ref)] = {
                "device_serial": serial,
                "device_id": device,
                "patient_id": patient,
                "dmp_id": dmp_id,
            }
        return out
