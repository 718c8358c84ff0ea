"""Plain-Python reference models the benchmark checks the engine against.

Each model replays the generator's rows with the reference semantics
(SURVEY §2; ``airflow_dags/project2_dag.py`` and ``consumer.py`` of the
reference) and nothing from Spark or the engine:

* validation (consumer.py:47-48): a row is invalid when its dob year is
  at most 2007, its salary at most 100, or its emp_id negative;
  invalid rows go to the DLQ and never reach the replica;
* last-writer-wins per key on (last_updated_at, seq); a delete removes
  the key, an insert or update installs the row image;
* running totals (pdf p.4-6): per department, the sum of floor(salary).
"""

from __future__ import annotations

import numpy as np


def invalid_mask(rows: dict) -> np.ndarray:
    year = rows["dob"].astype("datetime64[Y]").astype(np.int64) + 1970
    return (year <= 2007) | (rows["salary"] <= 100) | (rows["emp_id"] < 0)


class ReplicaModel:
    """Replica and DLQ after any prefix of change files."""

    def __init__(self) -> None:
        # key -> (ts_us, seq, is_delete, row tuple)
        self.latest: dict[int, tuple[int, int, bool, tuple]] = {}
        self.live = 0
        self.dlq_seqs: list[int] = []

    def apply(self, rows: dict) -> None:
        bad = invalid_mask(rows)
        self.dlq_seqs.extend(int(s) for s in rows["seq"][bad])
        keep = np.flatnonzero(~bad)
        cols = [rows[c][keep] for c in
                ("emp_id", "first_name", "last_name", "dob", "city", "salary", "action")]
        ts, seq = rows["ts_us"][keep], rows["seq"][keep]
        for i in range(len(keep)):
            key = int(cols[0][i])
            order = (int(ts[i]), int(seq[i]))
            old = self.latest.get(key)
            if old is not None and old[:2] >= order:
                continue
            is_delete = str(cols[6][i]).lower() == "delete"
            image = (key, str(cols[1][i]), str(cols[2][i]), str(cols[3][i]),
                     str(cols[4][i]), int(cols[5][i]), str(cols[6][i]).lower(),
                     order[0], order[1])
            self.live += (0 if is_delete else 1) - (0 if old is None or old[2] else 1)
            self.latest[key] = (order[0], order[1], is_delete, image)

    def replica(self) -> set[tuple]:
        """Rows as (emp_id, first, last, dob iso, city, salary, action,
        ts_us, seq)."""
        return {v[3] for v in self.latest.values() if not v[2]}


def golden_expectation(events: list[tuple]) -> tuple[list[tuple], list[int]]:
    """Replica rows (emp_id, first_name, salary) and sorted DLQ keys the
    reference DAG's check expects for an ``emp_cdc``-shaped event list
    (FIXTURES.md §5)."""
    rows = {
        "emp_id": np.array([e[0] for e in events], dtype=np.int64),
        "first_name": np.array([e[1] for e in events]),
        "last_name": np.array([e[2] for e in events]),
        "dob": np.array([e[3] for e in events], dtype="datetime64[D]"),
        "city": np.array([e[4] for e in events]),
        "salary": np.array([e[5] for e in events], dtype=np.int64),
        "action": np.array([e[6] for e in events]),
        "ts_us": np.array(
            [np.datetime64(e[7], "us").astype(np.int64) for e in events], dtype=np.int64
        ),
        "seq": np.array([e[8] for e in events], dtype=np.int64),
    }
    m = ReplicaModel()
    m.apply(rows)
    replica = sorted((r[0], r[1], r[5]) for r in m.replica())
    seq_to_key = dict(zip(rows["seq"].tolist(), rows["emp_id"].tolist()))
    return replica, sorted(seq_to_key[s] for s in m.dlq_seqs)


def salary_totals(drops: list[dict]) -> dict[str, int]:
    """department -> sum of floor(salary) over every drop."""
    out: dict[str, int] = {}
    for d in drops:
        floors = d["salary_cents"] // 100
        depts, inv = np.unique(d["department"], return_inverse=True)
        sums = np.zeros(len(depts), dtype=np.int64)
        np.add.at(sums, inv, floors)
        for k, v in zip(depts.tolist(), sums.tolist()):
            out[k] = out.get(k, 0) + int(v)
    return out
