"""The engine's benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload warehouse_sql --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The run

1. sizes the session to the machine (cores from the CPU affinity mask, heap
   from MemTotal) and records both;
2. counts every oracle-bearing op's rows with DuckDB on the engine's
   scale-factor-0.1 fixture, committed under ``perfbench/fixture/sf0.1``;
3. starts ``worker.py``, which sets up a session, runs a cold pass over the
   workload's ops and then warm passes in the same session until
   ``--seconds`` are used (always at least one);
   ``--seed`` permutes the op order of every pass;
4. checks every op execution's row count (against DuckDB where the op has
   an oracle, else against the op's own cold count) and prints the result.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs with spans,
per-op counters and Spark's event log on, and prints the per-layer metrics.
``--record PATH`` also writes the full run record (per-op timings, spans,
event-log fold) as JSON.  Everything but the result line goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import probes  # noqa: E402
import workloads  # noqa: E402

PACKAGE = "dataengineer_scripts_spark"
#: The engine's scale-factor-0.1 fixture (TESTDATA.md), read in place.
SF_DIR = os.path.join(HERE, "fixture", "sf0.1")
#: A run must end well inside this many seconds.
RUN_BUDGET_S = 150.0


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def machine_size() -> dict:
    """Cores from the affinity mask; a heap of an eighth of MemTotal, which
    leaves the rest for the Python workers, the page cache and the driver."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_gb = probes.parse_status_kb(fh.read(), "MemTotal") / 1024 / 1024
    return {"cpus": cpus, "mem_total_gb": round(total_gb, 1),
            "driver_mem": f"{max(1, round(total_gb / 8))}g"}


def oracle_counts(sf_dir: str, ops: list[str]) -> dict[str, int]:
    """DuckDB ``count(*)`` of each oracle-bearing op's oracle SQL."""
    import duckdb
    from dataengineer_scripts_spark import registry
    from dataengineer_scripts_spark.tables import TABLE_NAMES

    defs = registry.definitions()
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{name}.parquet')")
    return {
        op: con.execute(f"SELECT count(*) FROM ({defs[op].oracle})").fetchone()[0]
        for op in ops if defs[op].oracle
    }


def spark_conf(run_dir: str, trace: bool) -> str:
    """A SPARK_CONF_DIR that keeps the JVM's temporary files and the
    warehouse inside the run directory (``SPARK_LOCAL_DIRS`` holds the
    shuffle files) and, when tracing, turns on an uncompressed event log."""
    conf_dir = os.path.join(run_dir, "conf")
    os.makedirs(conf_dir)
    lines = [
        f"spark.driver.defaultJavaOptions -Djava.io.tmpdir={run_dir}/tmp",
        f"spark.sql.warehouse.dir {run_dir}/warehouse",
    ]
    if trace:
        os.makedirs(os.path.join(run_dir, "events"))
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{run_dir}/events",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return conf_dir


def become_subreaper() -> None:
    """Adopt orphaned descendants (PR_SET_CHILD_SUBREAPER), so that when a
    worker exits, its JVM and Python workers can still be waited for."""
    import ctypes

    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(36, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def reap_all(timeout: float) -> None:
    """Wait until every descendant has ended; kill what outlives ``timeout``."""
    end = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > end:
            for p in probes.descendants(probes.process_table(), os.getpid()):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def start_worker(args, run_dir: str, env: dict, deadline: float) -> dict:
    out = os.path.join(run_dir, "record.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--sf-dir", SF_DIR, "--out", out, "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--spawned-at", repr(time.monotonic())]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        code = None
    reap_all(timeout=15.0)
    if code != 0 or not os.path.exists(out):
        raise RuntimeError(f"worker ended with {code}")
    with open(out) as fh:
        return json.load(fh)


def check(passes: list[dict], expected: dict[str, int]) -> list[dict]:
    """Mark each op execution ok or failed.  Oracle-bearing ops must match
    DuckDB's count; rows-only ops must repeat their cold-pass count."""
    cold = {r["op"]: r.get("rows") for r in passes[0]["ops"]}
    for p in passes:
        for r in p["ops"]:
            want = expected.get(r["op"], cold[r["op"]])
            if "error" not in r and r["rows"] != want:
                r["error"] = f"row count {r['rows']} != expected {want}"
    return [r for p in passes for r in p["ops"]]


def latency(rec: dict) -> dict:
    """Op latency over one cycle: the cold pass and the first warm pass
    (later warm passes, when the run has time for them, only add samples
    to ``warm_wall_s``).

    The cycle mixes a cold cluster and a warm cluster of latencies, and its
    median falls in the thin gap between them, so it moves by a fifth from
    run to run.  The geometric mean weighs every op alike and moves far
    less, so it is the end-to-end figure.  The median, p90 and the highest
    percentile that keeps ten samples beyond it (``tail_q``) are logged and
    recorded."""
    lat = [r["latency_s"] for p in rec["passes"][:2] for r in p["ops"]]
    q = probes.tail_percentile(len(lat))
    return {"n": len(lat), "geomean_s": probes.geomean(lat),
            "p50_s": probes.percentile(lat, 50), "p90_s": probes.percentile(lat, 90),
            "tail_q": q, "tail_s": probes.percentile(lat, q) if q else None}


def end_to_end(rec: dict) -> dict:
    cold, warm = rec["passes"][0], rec["passes"][1:]

    def cpu(p):
        return p["driver_cpu_s"] + p["jvm_cpu_s"] + p["pyworker_cpu_s"]

    return {
        "setup_s": (rec["setup_s"], "s"),
        "cold_wall_s": (cold["wall_s"], "s"),
        "warm_wall_s": (statistics.median(p["wall_s"] for p in warm), "s"),
        "op_geomean_s": (rec["latency"]["geomean_s"], "s"),
        "cpu_s": (cpu(cold) + statistics.median(cpu(p) for p in warm), "s"),
        "peak_rss_mb": (rec["jvm_peak_rss_mb"] + rec["driver_peak_rss_mb"], "MiB"),
    }


def per_layer(rec: dict, fold: dict) -> dict:
    """Layer totals over one cycle: the cold pass and the first warm pass."""
    cycle = rec["passes"][:2]
    ops = [r for p in cycle for r in p["ops"]]
    groups = {f"{p['label']}:{r['op']}" for p in cycle for r in p["ops"]}

    def tot(key):
        return sum(r.get(key, 0) for r in ops)

    def ev(key):
        return sum(v[key] for g, v in fold.items() if g in groups)

    def disk_writes(writers: bool) -> int:
        """Storage writes of the JVM and its workers during the ops that
        are (or are not) sinks, less each op's shuffle files and the event
        log's own growth."""
        net = 0
        for p in cycle:
            for r in p["ops"]:
                if (r["op"] in workloads.WRITERS) == writers:
                    shuffle = fold.get(f"{p['label']}:{r['op']}", {}).get("shuffle_write_bytes", 0)
                    net += r.get("write_bytes", 0) - r.get("eventlog_bytes", 0) - shuffle
        return max(0, net)

    return {
        "session.get_spark_s": (rec["get_spark_s"], "s"),
        "session.warmup_s": (rec["warmup_s"], "s"),
        "operators.build_s": (tot("build_s"), "s"),
        "operators.build_jobs": (tot("build_jobs"), "count"),
        "operators.build_py_cpu_s": (tot("build_py_cpu_s"), "s"),
        "jvm.plan_s": (tot("plan_s"), "s"),
        "jvm.exec_s": (tot("exec_s"), "s"),
        "jvm.jobs": (tot("jobs"), "count"),
        "jvm.stages": (tot("stages"), "count"),
        "jvm.tasks": (tot("tasks"), "count"),
        "jvm.failed_tasks": (tot("failed_tasks"), "count"),
        "jvm.cpu_s": (tot("jvm_cpu_s"), "s"),
        "jvm.gc_s": (tot("gc_s"), "s"),
        "jvm.peak_rss_mb": (rec["jvm_peak_rss_mb"], "MiB"),
        "jvm.shuffle_write_bytes": (ev("shuffle_write_bytes"), "bytes"),
        "jvm.shuffle_read_bytes": (ev("shuffle_read_bytes"), "bytes"),
        "jvm.spill_bytes": (ev("spill_bytes"), "bytes"),
        "jvm.executor_cpu_s": (ev("executor_cpu_s"), "s"),
        "pyworker.cpu_s": (tot("pyworker_cpu_s"), "s"),
        "session_cache.builds": (tot("session_cache_builds"), "count"),
        "session_cache.hits": (tot("session_cache_hits"), "count"),
        "tables.loads": (tot("tables_builds"), "count"),
        "tables.hits": (tot("tables_hits"), "count"),
        "sinks.write_bytes": (disk_writes(True), "bytes"),
        # Everything else the JVM wrote to disk: checkpoints and spills.
        "jvm.disk_write_bytes": (disk_writes(False), "bytes"),
    }


def fold_events(events_dir: str) -> dict:
    fold: dict = {}
    for name in os.listdir(events_dir):
        with open(os.path.join(events_dir, name)) as fh:
            for g, v in probes.fold_event_log(fh).items():
                acc = fold.setdefault(g, dict.fromkeys(probes.FOLD_KEYS, 0))
                for k in probes.FOLD_KEYS:
                    acc[k] += v[k]
    return fold


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="also write the full run record here")
    args = ap.parse_args()
    started = time.monotonic()
    deadline = started + RUN_BUDGET_S
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"no {PACKAGE} package beside {HERE}; run from a checkout")
        return 2
    sys.path.insert(0, ROOT)
    become_subreaper()

    size = machine_size()
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    try:
        t0 = time.monotonic()
        ops = workloads.WORKLOADS[args.workload]["ops"]
        expected = oracle_counts(SF_DIR, ops)
        log(f"{len(expected)} oracle counts in {time.monotonic() - t0:.1f}s; "
            f"{size['cpus']} cores, heap {size['driver_mem']}")
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(size["cpus"]),
            SPARK_GRAFT_DRIVER_MEM=size["driver_mem"],
            PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
            TMPDIR=os.path.join(run_dir, "tmp"),
            SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
            SPARK_CONF_DIR=spark_conf(run_dir, bool(args.trace)),
            PYSPARK_PYTHON=os.environ.get("PYSPARK_PYTHON", sys.executable),
        )
        rec = start_worker(args, run_dir, env, deadline)
        rec["latency"] = lat = latency(rec)
        execs = check(rec["passes"], expected)
        failed = [r for r in execs if "error" in r]
        for r in failed:
            log(f"FAILED {r['op']}: {r['error']}")
        if args.trace:
            fold = fold_events(os.path.join(run_dir, "events"))
            metrics = per_layer(rec, fold)
        else:
            fold = None
            metrics = end_to_end(rec)
        log(f"{len(execs)} op executions in {len(rec['passes'])} passes, "
            f"{len(failed)} failed; error_rate {len(failed) / len(execs):.4f}; "
            f"peak RSS of the JVM {rec['jvm_peak_rss_mb']:.0f} MiB, "
            f"of the driver {rec['driver_peak_rss_mb']:.0f} MiB")
        log(f"op latency over {lat['n']} executions: geomean {lat['geomean_s']:.3f}s, "
            f"p50 {lat['p50_s']:.3f}s, p90 {lat['p90_s']:.3f}s; highest percentile "
            f"with ten samples beyond it: p{lat['tail_q']}")
        if args.record:
            with open(args.record, "w") as fh:
                json.dump({"args": vars(args), "machine": size, "expected": expected,
                           "run": rec, "event_fold": fold,
                           "metrics": metrics}, fh, indent=1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": not failed,
        "attempted": len(execs),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
