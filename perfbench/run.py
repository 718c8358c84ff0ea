"""Outside-in benchmark of the CDC engine.

    python3 perfbench/run.py --workload {cdc_trickle,salary_totals,query_mix}
        --seed N --seconds S --trace {0,1}

Run from the repository root. Each run starts a fresh Spark session
through the engine's ``get_spark`` in its own work directory under
``.bench_work/`` (index, shuffle, checkpoint and temp dirs included), so
nothing is cached across runs; the directory is deleted at the end.

Output: one ``record`` line (``"schema": SCHEMA``) with every figure the
run produced, then, as the last line, a summary: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``).
Records are also appended to ``.bench_out/records.jsonl``; traced runs
write their spans to ``.bench_out/spans-<run>.json``.
Each record carries ``source``, a digest of the engine's and the
benchmark's source files. A traced run records ``tracing_overhead``,
(traced - untraced) / untraced, against the latest untraced records
there with the same workload, run length and ``source``; the overhead
is null when there are none.

Exit codes: 0 with a result; 1 when set-up or the harness failed; 2 when
the engine package is not next to this directory; 143 on SIGTERM.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCHEMA = "perfbench/1"
ENGINE = "cdc_kafka_project_spark"

E2E_UNITS = {
    "setup_s": "s",
    "visible_latency_p50_s": "s",
    "rows_per_s": "1/s",
    "cpu_ms_per_krow": "ms",
}
#: event-log figures of the timed region (traced runs only)
TRACE_NAMES = ("jobs", "driver_only_s", "task_cpu_s", "task_noncpu_s", "gc_s",
               "shuffle_bytes", "spill_bytes")
#: end-to-end metrics whose (traced - untraced) / untraced is recorded
#: as ``tracing_overhead`` in a traced run's record
OVERHEAD_OF = ("cpu_ms_per_krow", "visible_latency_p50_s")


def driver_memory() -> str:
    """4 GiB, or half the host's RAM when that is smaller: the engine's
    own default (16g) exceeds small hosts."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{min(4096, total_kb // 2048)}m"


def isolate(work: str, trace: bool) -> dict[str, str]:
    """Environment for one run: every directory the engine, Spark, the
    JVM and Python workers write to lies inside ``work``."""
    dirs = {k: os.path.join(work, k) for k in ("index", "local", "tmp", "eventlog", "data")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": driver_memory(),
        "SPARK_GRAFT_INDEX_DIR": dirs["index"],
        "SPARK_GRAFT_LOCAL_DIR": dirs["local"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        # PerfDisableSharedMem: no hsperfdata file in the system /tmp
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": f"-Djava.io.tmpdir={dirs['tmp']} -XX:+PerfDisableSharedMem",
        "SPARK_LAUNCHER_OPTS": "-XX:+PerfDisableSharedMem",
        "TMPDIR": dirs["tmp"],
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    submit = ["--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if trace:
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{dirs['eventlog']}",
                   "--conf", "spark.eventLog.compress=false"]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    os.environ.update(env)
    return {**env, **{f"dir.{k}": v for k, v in dirs.items()}}


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_engine(spark) -> None:
    """Stop the session, then the JVM, then wait for every process this
    run started (the JVM and its Python workers) to end. The workers
    are listed first: once the JVM is gone they are no longer this
    process's descendants."""
    from pyspark import SparkContext

    from perfbench.collect import descendants

    started = set(descendants(os.getpid()))
    gw = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

        def left() -> list[int]:
            return [p for p in started | set(descendants(os.getpid())) if _alive(p)]

        deadline = time.time() + 30
        while left() and time.time() < deadline:
            time.sleep(0.1)
        for pid in left():
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        while left() and time.time() < deadline + 10:
            time.sleep(0.1)


def kill_engine() -> None:
    """SIGKILL every process this run started and wait for each to end."""
    from perfbench.collect import descendants

    pids = descendants(os.getpid())
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    for pid in pids:  # reap the JVM; the workers are not our children
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass
    deadline = time.time() + 10
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.05)


def source_digest() -> str:
    """SHA-256 over the engine package's and the benchmark's source
    files. The benchmark may run in a checkout that is not a git
    repository, so the code is identified by its content."""
    h = hashlib.sha256()
    for top in (ENGINE, os.path.basename(HERE)):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for name in sorted(f for f in files if f.endswith(".py")):
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read() + b"\0")
    return h.hexdigest()


def untraced_base(out_dir: str, workload: str, seconds: float, source: str,
                  n: int = 10) -> list[dict]:
    """The latest ``n`` correct untraced records of this workload, run
    length and source digest: the base that tracing overhead is
    measured against."""
    try:
        with open(os.path.join(out_dir, "records.jsonl")) as f:
            recs = [json.loads(x) for x in f if x.strip()]
    except OSError:
        return []
    recs = [r for r in recs if r.get("schema") == SCHEMA and r["workload"] == workload
            and r["seconds"] == seconds and r.get("source") == source
            and not r["trace"] and r["correct"]]
    return recs[-n:]


def attach_batches(spans, streams) -> None:
    """Listener micro-batches become children of the innermost span
    whose interval holds their trigger start."""
    from perfbench.collect import iso_ms

    for b in list(streams.progress):
        t = iso_ms(b["timestamp"])
        holders = [i for i, s in enumerate(spans.items) if s.start <= t < s.end]
        parent = max(holders, key=lambda i: spans.items[i].start) if holders else None
        dur = b.get("durationMs", {}).get("triggerExecution", 0) / 1000.0
        spans.add("stream.batch", t, t + dur, parent, runId=b["runId"],
                  batchId=b["batchId"], numInputRows=b.get("numInputRows", 0),
                  durationMs=b.get("durationMs", {}))


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run prints, in a fixed order."""
    from perfbench.workloads import LAYER_NAMES, MIX_QUERIES

    return (["visible_latency_tail_s"] + list(LAYER_NAMES) + list(TRACE_NAMES)
            + [f"query.{n}.jobs" for n in MIX_QUERIES])


def run(workload: str, seed: int, seconds: float, trace: bool) -> int:
    from perfbench import collect
    from perfbench.workloads import LAYER_NAMES, MIX_QUERIES, WORKLOADS, Env

    t_start = time.time()
    source = source_digest()
    run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}-{int(time.time())}"
    work = os.path.join(ROOT, ".bench_work", run_id)
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    settings = isolate(work, trace)

    def on_sigterm(*_) -> None:
        # no graceful stop: unwinding through a py4j call cut short
        # can leave spark.stop() waiting on the JVM for good
        kill_engine()
        shutil.rmtree(work, ignore_errors=True)
        os._exit(143)

    signal.signal(signal.SIGTERM, on_sigterm)
    setup_fn, body_fn, check_fn = WORKLOADS[workload]

    procs = collect.EngineProcs()
    spans = collect.Spans()
    streams = collect.StreamCollector()
    spark = None
    try:
        with spans.span("workload", name=workload, seed=seed, trace=trace):
            with spans.span("setup"):
                t_setup = time.time()
                from cdc_kafka_project_spark.session import get_spark

                with spans.span("session.start"):
                    spark = get_spark(f"perfbench-{workload}")
                    spark.sparkContext.setLogLevel("ERROR")
                session_s = time.time() - t_setup
                spark.streams.addListener(streams.listener())
                env = Env(spark, os.path.join(work, "data"), seed, seconds, trace,
                          spans, streams)
                st = setup_fn(env)
                setup_s = time.time() - t_setup
            with spans.span("run") as timed:
                cpu0, steal0 = procs.cpu_s(), collect.host_steal_s()
                res = body_fn(env, st)
                cpu1, steal1 = procs.cpu_s(), collect.host_steal_s()
            peak_jvm, peak_workers = procs.peak_rss_mb()
            with spans.span("check"):
                res.checks["listener_drained"] = streams.drain()
                check_fn(env, st, res)
        stop_engine(spark)
        spark = None
        jobs = collect.parse_event_log(settings["dir.eventlog"]) if trace else []
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            # a JVM may be up with no session yet (stopped during start-up)
            pyspark = sys.modules.get("pyspark")
            if spark is not None or (pyspark and pyspark.SparkContext._gateway is not None):
                stop_engine(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    tail_v, tail_pct, n = collect.tail(res.latencies)
    e2e = {
        "setup_s": setup_s,
        "visible_latency_p50_s": collect.median(res.latencies),
        "rows_per_s": res.rows / res.busy_s if res.busy_s else 0.0,
        # per unit of work, not per window: a closed loop that runs
        # faster fits more work into the same seconds
        "cpu_ms_per_krow": (cpu1 - cpu0) * 1e6 / max(1, res.rows),
    }
    # not gated: with the 4-6 ops a run holds, the tail is their maximum,
    # and one burst of host steal moves it past any bound a gate may use
    layer = {"visible_latency_tail_s": tail_v}
    layer.update({k: 0.0 for k in LAYER_NAMES})
    layer.update(res.layer)
    layer["session.start_s"] = session_s
    layer["peak_rss_mb"], layer["worker_peak_rss_mb"] = peak_jvm, peak_workers
    layer["cpu_s"] = cpu1 - cpu0
    if trace:
        layer.update(collect.layer_record(jobs, timed.start, timed.end))
        passes = max(1, res.extra.get("passes", 1))
        for name in MIX_QUERIES:
            layer[f"query.{name}.jobs"] = collect.jobs_in_group(jobs, f"q:{name}") / passes
        base = untraced_base(out_dir, workload, seconds, source)
        overhead = {}
        for m in OVERHEAD_OF:
            b = collect.median(r["metrics"][m] for r in base)
            # None, not 0: no base is not the same as no overhead
            overhead[m] = (e2e[m] - b) / b if base and b else None
        if not base:
            print("perfbench: no untraced record of this source, workload and run "
                  "length in .bench_out/; tracing overhead not measured", file=sys.stderr)
        attach_batches(spans, streams)
    correct = all(res.checks.values()) and res.failed == 0
    record = {
        "schema": SCHEMA,
        "run": run_id,
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "source": source,
        "trace": trace,
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "error_rate": res.failed / max(1, res.attempted),
        "metrics": e2e,
        "units": E2E_UNITS,
        "visible_latency_tail_pct": tail_pct,
        "visible_latency_samples": n,
        "layers": layer,
        "workload_metrics": res.extra,
        "checks": res.checks,
        "wall_s": time.time() - t_start,
        # host CPU stolen during the timed region, as a share of its
        # wall x CPUs: wall-clock metrics of a run with a high share
        # measured the neighbours as much as the engine
        "steal_share": (steal1 - steal0) / ((timed.end - timed.start) * os.cpu_count()),
        "settings": {k: v for k, v in settings.items()
                     if k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
    }
    if trace:
        record["tracing_overhead"] = overhead
        record["tracing_base"] = [r["run"] for r in base]
        with open(os.path.join(out_dir, f"spans-{run_id}.json"), "w") as f:
            json.dump(spans.to_json(), f)
    with open(os.path.join(out_dir, "records.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"record": record}))
    if trace:
        metrics = {k: {"value": layer[k], "unit": layer_unit(k)} for k in per_layer_names()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("per_event"):
        return "ratio"
    for suffix, unit in (("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"),
                         ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("cdc_trickle", "salary_totals", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: the engine package {ENGINE}/ is not in {ROOT}", file=sys.stderr)
        sys.exit(2)
    sys.exit(run(a.workload, a.seed, a.seconds, bool(a.trace)))
