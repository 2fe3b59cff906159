"""One benchmark session, run as a child process of ``run.py``.

Builds the engine's session, warms it, then drives the workload's ops in a
closed loop: a cold pass, then warm passes in the same session until the
run's time is used.  Writes everything it measured to ``--out`` as JSON;
``run.py`` checks the row counts and turns the record into metrics.

Timings are taken around calls into the package's public surface only:
``session.get_spark``, the ``registry.queries()`` callables and the
returned frame's plan and count.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import probes  # noqa: E402
import workloads  # noqa: E402


class Tracer:
    """Spans for ``--trace 1``: name, start, end and the enclosing span's id.
    A no-op otherwise."""

    def __init__(self, on: bool):
        self.on = on
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.t0 = time.monotonic()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self.stack[-1] if self.stack else None,
               "name": name, **attrs}
        self.spans.append(rec)
        self.stack.append(sid)
        rec["start_s"] = time.monotonic() - self.t0
        try:
            yield
        finally:
            rec["end_s"] = time.monotonic() - self.t0
            self.stack.pop()


class MemoCounter:
    """Counts builds and hits of a memoizing function by watching the size
    of the memo dict it fills: a call that grows it built, one that does
    not was served from it."""

    def __init__(self, module, fn_name: str, memo_name: str):
        self.builds = self.hits = 0
        memo = getattr(module, memo_name)
        inner = getattr(module, fn_name)

        def counted(*args, **kwargs):
            before = len(memo)
            out = inner(*args, **kwargs)
            if len(memo) > before:
                self.builds += 1
            else:
                self.hits += 1
            return out

        setattr(module, fn_name, counted)

    def snapshot(self) -> tuple[int, int]:
        return self.builds, self.hits


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def gc_seconds(spark) -> float:
    """Cumulative collection time of the JVM's garbage-collector MXBeans.
    (The JVM's process CPU comes from ``/proc``: py4j cannot call the
    JDK-internal OperatingSystemMXBean implementation.)"""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3


def warm_up(spark, sf_dir: str) -> None:
    """The warm-up bench.py does, its three parts run side by side: the
    JVM and a parquet footer, one Arrow Python worker, and the REST stub
    with its Python data source."""
    from concurrent.futures import ThreadPoolExecutor

    from dataengineer_scripts_spark.operators.etl import _server
    from dataengineer_scripts_spark.sources.rest import login, rest_read

    def rest() -> None:
        api = _server(spark, sf_dir)
        rest_read(spark, api.base_url, login(api.base_url), limit=1).count()

    with ThreadPoolExecutor(3) as pool:
        for f in [
            pool.submit(lambda: spark.read.parquet(f"{sf_dir}/region.parquet").count()),
            pool.submit(lambda: spark.createDataFrame([(1,)], "a int")
                        .mapInPandas(lambda it: it, "a int").count()),
            pool.submit(rest),
        ]:
            f.result()


def event_log_bytes(spark) -> int:
    """Bytes written so far to the event log, so that its own writes can
    be told apart from the sinks'."""
    d = spark.conf.get("spark.eventLog.dir").removeprefix("file://")
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))


def job_stats(sc, group: str) -> dict[str, int]:
    """Jobs, executed stages and tasks of ``group`` from the status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            s = st.getStageInfo(sid)
            if s and s.numCompletedTasks:
                stages += 1
                tasks += s.numCompletedTasks
                failed += s.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


def run_op(spark, fn, name: str, sf_dir: str, group: str, tr: Tracer,
           memos: dict | None) -> dict:
    """Build and count one op; with tracing, split plan from execution and
    take counters at each boundary."""
    sc = spark.sparkContext
    rec: dict = {"op": name}
    pid = jvm_pid(spark)
    sc.setJobGroup(group, name)
    if tr.on:
        before = dict(probes.jvm_tree(pid, io=True), gc_s=gc_seconds(spark),
                      eventlog_bytes=event_log_bytes(spark),
                      **{k: c.snapshot() for k, c in memos.items()})
        py0 = probes.self_cpu()
    t0 = time.monotonic()
    try:
        with tr.span("operators.build"):
            df = fn(spark, sf_dir)
        rec["build_s"] = time.monotonic() - t0
        if tr.on:
            rec["build_py_cpu_s"] = probes.self_cpu() - py0
            rec["build_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
            agg = df.groupBy().count()
            t1 = time.monotonic()
            with tr.span("jvm.plan"):
                agg._jdf.queryExecution().executedPlan()
            t2 = time.monotonic()
            with tr.span("jvm.exec"):
                rec["rows"] = agg.collect()[0][0]
            rec["plan_s"], rec["exec_s"] = t2 - t1, time.monotonic() - t2
        else:
            rec["rows"] = df.count()
    except Exception as ex:  # noqa: BLE001 - one failing op must not end the run
        rec["error"] = f"{type(ex).__name__}: {str(ex)[:400]}"
    rec["latency_s"] = time.monotonic() - t0
    if tr.on:
        after = dict(probes.jvm_tree(pid, io=True), gc_s=gc_seconds(spark),
                     eventlog_bytes=event_log_bytes(spark))
        for k in after:
            rec[k] = after[k] - before[k]
        rec.update(job_stats(sc, group))
        for k, c in memos.items():
            (b0, h0), (b1, h1) = before[k], c.snapshot()
            rec[f"{k}_builds"], rec[f"{k}_hits"] = b1 - b0, h1 - h0
    sc.setJobGroup("", "")
    return rec


def pass_counters(spark) -> dict[str, float]:
    return {"t": time.monotonic(), "driver_cpu_s": probes.self_cpu(),
            **probes.jvm_tree(jvm_pid(spark))}


def run_pass(spark, qs, ops, label, sf_dir, tr, memos) -> dict:
    c0 = pass_counters(spark)
    records = []
    with tr.span(f"pass.{label}"):
        for name in ops:
            group = f"{label}:{name}"
            with tr.span("op", op=name, group=group):
                records.append(run_op(spark, qs[name], name, sf_dir, group, tr, memos))
    c1 = pass_counters(spark)
    return {"label": label, "wall_s": c1["t"] - c0["t"], "ops": records,
            **{k: c1[k] - c0[k] for k in c0 if k != "t"}}


def main() -> None:
    ap = argparse.ArgumentParser(description="one session; started by run.py")
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    args = ap.parse_args()
    tr = Tracer(bool(args.trace))
    record: dict = {}

    memos = None
    if tr.on:
        from dataengineer_scripts_spark import session_cache, tables

        memos = {
            "session_cache": MemoCounter(session_cache, "session_shared", "_SESSION_FRAMES"),
            "tables": MemoCounter(tables, "table", "_TABLE_MEMO"),
        }
    from dataengineer_scripts_spark import registry, session

    with tr.span("session.get_spark"):
        t0 = time.monotonic()
        spark = session.get_spark("perfbench")
        qs = registry.queries()
        t1 = time.monotonic()
    with tr.span("session.warmup"):
        warm_up(spark, args.sf_dir)
    ready = time.monotonic()
    record.update(setup_s=ready - args.spawned_at, get_spark_s=t1 - t0,
                  warmup_s=ready - t1, jvm_pid=jvm_pid(spark))

    ops = list(workloads.WORKLOADS[args.workload]["ops"])
    passes = []
    with contextlib.redirect_stdout(sys.stderr):
        rng = random.Random(args.seed)
        rng.shuffle(ops)
        passes.append(run_pass(spark, qs, ops, "cold", args.sf_dir, tr, memos))
        # Start another warm pass only while it should end within --seconds.
        while True:
            rng.shuffle(ops)
            passes.append(run_pass(spark, qs, ops, f"warm{len(passes)}",
                                   args.sf_dir, tr, memos))
            if time.monotonic() - ready + passes[-1]["wall_s"] > args.seconds:
                break
    record["passes"] = passes
    record["jvm_peak_rss_mb"] = probes.peak_rss_mb(record["jvm_pid"])
    record["driver_peak_rss_mb"] = probes.peak_rss_mb(os.getpid())
    if tr.on:
        record["spans"] = tr.spans
    spark.stop()
    with open(args.out, "w") as fh:
        json.dump(record, fh)


if __name__ == "__main__":
    main()
