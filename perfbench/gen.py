"""Seeded input generators, written with numpy and pyarrow only.

Nothing here touches Spark: the generator is not part of the system
under test. Every function is a pure function of its seed and sizes, so
the same ``--seed`` always hands the engine the same bytes.

* ``CdcStream``: the ``cdc_trickle`` change log. A preload of distinct
  keys, then fixed-size change files with Zipf-skewed keys, an
  insert/update/delete mix, rows that fail each of the reference's
  three validation predicates, and out-of-order / tied
  ``last_updated_at`` values (ties broken by ``seq``).
* ``salary_drop``: Project-1 salary events over Zipf-skewed departments.

``query_mix`` generates nothing: it reads the fixed sf0.01 oracle
tables in ``perfbench/data/sf0.01``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1, 12, 0, 0)
_EPOCH_US = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
_CITIES = np.array(
    ["San Francisco", "Boston", "Chicago", "Seattle", "Austin", "Denver",
     "New York", "Portland", "Atlanta", "Miami"]
)
_FIRST = np.array(["Alice", "Emma", "Liam", "Noah", "Olivia", "Ava", "Mia", "Leo"])
_LAST = np.array(["Johnson", "Wood", "Smith", "Brown", "Lee", "Garcia", "Kim"])

#: pyarrow twin of ``schemas.EMP_CDC_SCHEMA`` (column order matters:
#: the stream reads with the declared Spark schema).
CDC_ARROW_SCHEMA = pa.schema(
    [
        ("emp_id", pa.int64()),
        ("first_name", pa.string()),
        ("last_name", pa.string()),
        ("dob", pa.date32()),
        ("city", pa.string()),
        ("salary", pa.int32()),
        ("action", pa.string()),
        ("last_updated_at", pa.timestamp("us", tz="UTC")),
        ("seq", pa.int64()),
    ]
)

#: pyarrow twin of ``schemas.EMPLOYEE_SALARIES_SCHEMA``.
SALARY_ARROW_SCHEMA = pa.schema(
    [
        ("department", pa.string()),
        ("department_division", pa.string()),
        ("position_title", pa.string()),
        ("hire_date", pa.date32()),
        ("salary", pa.decimal128(12, 2)),
    ]
)


def zipf_ranks(rng: np.random.Generator, n_items: int, size: int, s: float) -> np.ndarray:
    """``size`` draws of 0-based ranks from a Zipf(s) law truncated to
    ``n_items`` (inverse-CDF sampling, so the domain is exact)."""
    w = 1.0 / np.arange(1, n_items + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(size)), n_items - 1)


def sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def atomic_write(table: pa.Table, path: str) -> None:
    """Write ``table`` so a directory lister sees the whole file or none
    of it: Spark's file source skips dot-files, then the rename is
    atomic."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, path)


# ---------------------------------------------------------------------------
# cdc_trickle
# ---------------------------------------------------------------------------


class CdcStream:
    """The change log of one ``cdc_trickle`` run.

    Rows are plain column dicts (numpy arrays); ``table(rows)`` turns
    them into the parquet the engine reads, and ``perfbench.model``
    replays the same rows in plain Python.
    """

    #: share of change events per action (the rest are updates)
    P_INSERT, P_DELETE = 0.15, 0.10
    #: share of change events failing validation, split evenly over the
    #: three predicates (salary <= 100, dob year <= 2007, emp_id < 0)
    P_INVALID = 0.06
    #: share of events whose timestamp runs backwards, and share tied
    #: with the previous event's timestamp
    P_LATE, P_TIE = 0.10, 0.05

    def __init__(self, seed: int, n_keys: int, file_events: int, zipf_s: float = 1.1):
        self.rng = np.random.default_rng([seed, 1])
        self.n_keys = n_keys
        self.file_events = file_events
        self.zipf_s = zipf_s
        # the hot keys are scattered over the key space, not 1, 2, 3...
        self.key_of_rank = self.rng.permutation(n_keys).astype(np.int64) + 1
        self.next_key = n_keys + 1
        self.next_seq = 1
        self.next_ms = 0

    def _images(self, keys: np.ndarray) -> dict:
        n = len(keys)
        r = self.rng
        dob = (
            np.datetime64("2008-01-01")
            + r.integers(0, 12 * 365, n).astype("timedelta64[D]")
        )
        return {
            "emp_id": keys.astype(np.int64),
            "first_name": _FIRST[r.integers(0, len(_FIRST), n)],
            "last_name": _LAST[r.integers(0, len(_LAST), n)],
            "dob": dob,
            "city": _CITIES[r.integers(0, len(_CITIES), n)],
            "salary": r.integers(30_000, 200_000, n).astype(np.int32),
        }

    def _stamp(self, rows: dict, action: np.ndarray, jitter: bool) -> dict:
        n = len(action)
        ms = self.next_ms + np.arange(n, dtype=np.int64) * 2
        if jitter:
            late = self.rng.random(n) < self.P_LATE
            ms[late] -= self.rng.integers(1, 5_000, int(late.sum()))
            tie = self.rng.random(n) < self.P_TIE
            tie[0] = False
            ms[tie] = ms[np.flatnonzero(tie) - 1]
        self.next_ms += 2 * n
        rows["action"] = action
        rows["ts_us"] = _EPOCH_US + ms * 1000
        rows["seq"] = np.arange(self.next_seq, self.next_seq + n, dtype=np.int64)
        self.next_seq += n
        return rows

    def preload(self) -> dict:
        """One insert per key 1..n_keys, all valid, in key order."""
        keys = np.arange(1, self.n_keys + 1, dtype=np.int64)
        rows = self._images(keys)
        return self._stamp(rows, np.full(self.n_keys, "insert"), jitter=False)

    def next_file(self) -> dict:
        """One change file of ``file_events`` events."""
        n, r = self.file_events, self.rng
        keys = self.key_of_rank[zipf_ranks(r, self.n_keys, n, self.zipf_s)]
        u = r.random(n)
        action = np.where(u < self.P_INSERT, "insert",
                          np.where(u < self.P_INSERT + self.P_DELETE, "delete", "update"))
        fresh = action == "insert"
        keys[fresh] = np.arange(self.next_key, self.next_key + int(fresh.sum()))
        self.next_key += int(fresh.sum())
        rows = self._images(keys)
        bad = np.flatnonzero(r.random(n) < self.P_INVALID)
        kind = r.integers(0, 3, len(bad))
        rows["salary"][bad[kind == 0]] = r.integers(1, 101, int((kind == 0).sum()))
        rows["dob"][bad[kind == 1]] = np.datetime64("1990-06-15")
        rows["emp_id"][bad[kind == 2]] = -rows["emp_id"][bad[kind == 2]]
        return self._stamp(rows, action, jitter=True)

    @staticmethod
    def table(rows: dict) -> pa.Table:
        return pa.table(
            [
                pa.array(rows["emp_id"], pa.int64()),
                pa.array(rows["first_name"], pa.string()),
                pa.array(rows["last_name"], pa.string()),
                pa.array(rows["dob"].astype("datetime64[D]"), pa.date32()),
                pa.array(rows["city"], pa.string()),
                pa.array(rows["salary"], pa.int32()),
                pa.array(rows["action"], pa.string()),
                pa.array(rows["ts_us"], pa.timestamp("us", tz="UTC")),
                pa.array(rows["seq"], pa.int64()),
            ],
            schema=CDC_ARROW_SCHEMA,
        )


# ---------------------------------------------------------------------------
# salary_totals
# ---------------------------------------------------------------------------


def salary_drop(seed: int, drop: int, n_rows: int, n_depts: int, zipf_s: float = 1.0) -> dict:
    """One drop of Project-1 salary events. ``salary_cents`` carries the
    exact decimal(12,2) value the parquet holds."""
    r = np.random.default_rng([seed, 2, drop])
    dept = zipf_ranks(r, n_depts, n_rows, zipf_s)
    return {
        "department": np.char.add("D", np.char.zfill(dept.astype(str), 4)),
        "department_division": np.char.add("DIV-", (dept % 7).astype(str)),
        "position_title": np.array(["Analyst", "Engineer", "Manager", "Clerk"])[
            r.integers(0, 4, n_rows)
        ],
        "hire_date": np.datetime64("2005-01-01")
        + r.integers(0, 18 * 365, n_rows).astype("timedelta64[D]"),
        "salary_cents": r.integers(2_000_000, 25_000_000, n_rows, dtype=np.int64),
    }


def salary_table(rows: dict) -> pa.Table:
    cents = rows["salary_cents"]
    text = np.char.add(
        np.char.add((cents // 100).astype(str), "."),
        np.char.zfill((cents % 100).astype(str), 2),
    )
    return pa.table(
        [
            pa.array(rows["department"], pa.string()),
            pa.array(rows["department_division"], pa.string()),
            pa.array(rows["position_title"], pa.string()),
            pa.array(rows["hire_date"].astype("datetime64[D]"), pa.date32()),
            pa.array(text, pa.string()).cast(pa.decimal128(12, 2)),
        ],
        schema=SALARY_ARROW_SCHEMA,
    )
