"""The benchmark's own tests: generators, reference models, collectors.

No Spark session is started; run with

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import collect, gen, model  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _cdc_files(seed: int, n: int = 3) -> list[pa.Table]:
    s = gen.CdcStream(seed, n_keys=2_000, file_events=500)
    return [gen.CdcStream.table(s.preload())] + [
        gen.CdcStream.table(s.next_file()) for _ in range(n)
    ]


def test_generators_are_deterministic_per_seed():
    a, b, c = _cdc_files(7), _cdc_files(7), _cdc_files(8)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not all(x.equals(y) for x, y in zip(a[1:], c[1:]))
    d1 = gen.salary_table(gen.salary_drop(7, 1, 1_000, 50))
    assert d1.equals(gen.salary_table(gen.salary_drop(7, 1, 1_000, 50)))
    assert not d1.equals(gen.salary_table(gen.salary_drop(7, 2, 1_000, 50)))


def test_cdc_stream_covers_the_properties_the_workload_claims():
    s = gen.CdcStream(3, n_keys=10_000, file_events=2_000)
    s.preload()
    f = s.next_file()
    assert set(f["action"]) == {"insert", "update", "delete"}
    bad = model.invalid_mask(f)
    year = f["dob"].astype("datetime64[Y]").astype(int) + 1970
    assert (bad & (f["salary"] <= 100)).any()
    assert (bad & (year <= 2007) & (f["salary"] > 100)).any()
    assert (bad & (f["emp_id"] < 0)).any()
    ts = f["ts_us"]
    assert (np.diff(ts) < 0).any(), "no out-of-order timestamps"
    assert (np.diff(ts) == 0).any(), "no timestamp ties"
    assert (np.diff(f["seq"]) == 1).all()
    # Zipf: the hottest key takes a visible share of the updates
    _, counts = np.unique(f["emp_id"][f["action"] == "update"], return_counts=True)
    assert counts.max() >= 20


def test_reference_model_reproduces_the_golden_answer():
    from cdc_kafka_project_spark.streaming.full_pipeline import golden_workload

    replica, dlq_keys = model.golden_expectation(golden_workload())
    assert replica == [(2, "Emma", 72000)]
    assert dlq_keys == [-100, 3, 4]


def test_replica_model_last_writer_wins_with_seq_tiebreak():
    rows = {
        "emp_id": np.array([1, 1, 1, 2, 2]),
        "first_name": np.array(["a", "b", "c", "x", "y"]),
        "last_name": np.array(["l"] * 5),
        "dob": np.array(["2010-01-01"] * 5, dtype="datetime64[D]"),
        "city": np.array(["c"] * 5),
        "salary": np.array([500] * 5),
        "action": np.array(["insert", "update", "update", "insert", "delete"]),
        # key 1: the third event is late, the second ties the first and wins on seq
        "ts_us": np.array([10, 10, 5, 20, 30]),
        "seq": np.array([1, 2, 3, 4, 5]),
    }
    m = model.ReplicaModel()
    m.apply(rows)
    assert {r[1] for r in m.replica()} == {"b"}
    assert m.live == 1 and m.dlq_seqs == []


def test_salary_model_floors_each_row():
    drop = {"department": np.array(["A", "A", "B"]),
            "salary_cents": np.array([10_099, 20_001, 5_050])}
    assert model.salary_totals([drop, drop]) == {"A": 2 * (100 + 200), "B": 2 * 50}


def test_event_log_parser_on_a_captured_log():
    jobs = collect.parse_event_log(os.path.join(DATA, "eventlog"))
    assert [j.job_id for j in jobs] == [0, 1, 2, 17, 18]
    assert collect.jobs_in_group(jobs, "q") == 2
    # streaming jobs carry the stream's runId as their job group
    assert collect.jobs_in_group(jobs, "5719470f-dfff-4a9f-a628-0a5bb475401f") == 2
    j0 = jobs[0]
    assert j0.task_run_s == 2.979 and abs(j0.task_cpu_s - 0.966139462) < 1e-9
    assert j0.gc_s == 0.044 and abs((j0.end - j0.submit) - 3.682) < 1e-6
    lo, hi = jobs[0].submit, jobs[-1].end
    rec = collect.layer_record(jobs, lo, hi)
    assert rec["jobs"] == 5
    busy = sum(j.end - j.submit for j in jobs)  # the captured jobs do not overlap
    assert abs(rec["driver_only_s"] - ((hi - lo) - busy)) < 1e-6
    assert abs(rec["task_noncpu_s"] - sum(j.task_run_s - j.task_cpu_s for j in jobs)) < 1e-6


def test_busy_seconds_merges_overlapping_jobs():
    J = collect.Job
    jobs = [J(0, None, 1.0, 3.0), J(1, None, 2.0, 4.0), J(2, None, 6.0, 7.0)]
    assert collect.busy_seconds(jobs, 0.0, 10.0) == 4.0
    assert collect.busy_seconds(jobs, 2.5, 6.5) == 2.0


def test_listener_collector_on_captured_progress():
    c = collect.StreamCollector()
    with open(os.path.join(DATA, "progress.json")) as f:
        events = json.load(f)
    for e in events:
        if "started" in e:
            c.on_started(e["run"], e["ts"])
        elif "progress" in e:
            c.on_progress(e["progress"])
    assert not c.drain(timeout=0.05)  # terminations not delivered yet
    for e in events:
        if "terminated" in e:
            c.on_terminated(e["run"])
    assert c.drain(timeout=1.0)
    t0 = collect.iso_ms("2026-10-17T04:26:19.000Z")
    runs = c.runs(t0, t0 + 60)
    assert len(runs) == 2  # producer then consumer of one golden call
    consumer = [b for b in c.batches(t0, t0 + 60) if b["runId"] == runs[1]]
    assert collect.input_rows(consumer) == 14  # 7 events read twice
    assert collect.phase_ms(consumer, "triggerExecution") == 2257
    assert c.batches(t0 + 60, t0 + 120) == []
    assert collect.state_figures(consumer)["state.rows_total"] == 0.0
    stateful = {"stateOperators": [
        {"numRowsTotal": 5, "memoryUsedBytes": 100, "commitTimeMs": 7, "numShufflePartitions": 4},
        {"numRowsTotal": 1, "memoryUsedBytes": 10, "commitTimeMs": 1, "numShufflePartitions": 4},
    ]}
    assert collect.state_figures([stateful]) == {
        "state.rows_total": 6.0, "state.memory_bytes": 110.0,
        "state.commit_ms": 8.0, "state.partitions": 8.0}


def test_tail_needs_ten_samples_beyond_it():
    assert collect.tail(list(range(1, 101))) == (90.0, 90.0, 100)
    assert collect.tail(list(range(1, 7))) == (6.0, 100.0, 6)
    assert collect.tail(list(range(1, 20))) == (19.0, 100.0, 19)
    assert collect.tail(list(range(1, 41))) == (30.0, 75.0, 40)


def test_benchmark_json_lists_what_the_benchmark_prints():
    from perfbench import run
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert [m["name"] for m in bench["per_layer"]] == run.per_layer_names()
    assert all(m["unit"] == run.layer_unit(m["name"]) for m in bench["per_layer"])
    assert list(collect.layer_record([], 0.0, 1.0)) == list(run.TRACE_NAMES)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_mix_tables_are_the_fixed_oracle_tables():
    import pyarrow.parquet as pq

    from perfbench.workloads import MIX_DATA, mix_manifest

    files = mix_manifest()
    assert sorted(files) == sorted(f for f in os.listdir(MIX_DATA) if f.endswith(".parquet"))
    assert all(gen.sha256(os.path.join(MIX_DATA, f)) == d for f, d in files.items())
    # TESTDATA.md: sf0.01 has ~60,000 lineitem rows
    assert pq.read_metadata(os.path.join(MIX_DATA, "lineitem.parquet")).num_rows == 60_000


def test_tracing_base_matches_source_and_skips_others(tmp_path):
    from perfbench import run

    def rec(name, **kw):
        r = {"schema": run.SCHEMA, "run": name, "workload": "w", "seconds": 8.0,
             "source": "A", "trace": False, "correct": True}
        return {**r, **kw}

    recs = [rec("a1"), rec("b1", source="B"), rec("old"), rec("t1", trace=True),
            rec("bad", correct=False), rec("nosrc", source=None), rec("a2")]
    with open(tmp_path / "records.jsonl", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in recs)
    assert [r["run"] for r in run.untraced_base(str(tmp_path), "w", 8.0, "A", n=2)] == [
        "old", "a2"]
    assert run.untraced_base(str(tmp_path), "w", 8.0, "C") == []
    assert len(run.source_digest()) == 64
