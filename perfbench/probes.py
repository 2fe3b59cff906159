"""Pure helpers of the benchmark: percentiles, ``/proc`` parsing and the
Spark event-log fold.  Nothing here imports pyspark, so the unit tests in
``perfbench/tests`` run without a JVM.
"""

from __future__ import annotations

import json
import math
import os
from collections.abc import Iterable

#: Percentiles considered for a latency tail, lowest first.
PERCENTILE_LADDER = (50.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values: Iterable[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile: the smallest sample with at least
    ``q`` percent of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[_rank(q, len(xs)) - 1]


def geomean(values: Iterable[float]) -> float:
    """Geometric mean of positive samples."""
    xs = list(values)
    if not xs:
        raise ValueError("geometric mean of no samples")
    return math.exp(math.fsum(math.log(x) for x in xs) / len(xs))


def _rank(q: float, n: int) -> int:
    """1-based nearest rank of the ``q``-th percentile of ``n`` samples
    (rounded so that 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(q * n / 100.0, 9)))


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest percentile of ``PERCENTILE_LADDER`` that leaves at least
    ``min_beyond`` of ``n`` samples strictly above its rank, or None when
    even the median does not."""
    best = None
    for q in PERCENTILE_LADDER:
        if n - _rank(q, n) >= min_beyond:
            best = q
    return best


# -- /proc ---------------------------------------------------------------

CLK_TCK = os.sysconf("SC_CLK_TCK")


def parse_stat(text: str) -> dict:
    """Fields of ``/proc/<pid>/stat`` the benchmark uses.

    ``cpu_ticks`` is the process's own user+system time; ``child_ticks`` is
    the time of children it has already reaped (the kernel folds those into
    the parent, so a tree sum stays complete when short-lived workers
    exit)."""
    # comm sits in parentheses and may itself contain spaces or ')'.
    head, _, rest = text.rpartition(")")
    fields = rest.split()
    # fields[0] is field 3 (state) of proc(5).
    return {
        "pid": int(head.split("(", 1)[0]),
        "comm": head.split("(", 1)[1],
        "ppid": int(fields[1]),
        "cpu_ticks": int(fields[11]) + int(fields[12]),
        "child_ticks": int(fields[13]) + int(fields[14]),
    }


def parse_io(text: str) -> dict[str, int]:
    """``/proc/<pid>/io`` as a dict of byte counters."""
    out = {}
    for line in text.splitlines():
        key, _, val = line.partition(":")
        if val.strip().isdigit():
            out[key.strip()] = int(val)
    return out


def parse_status_kb(text: str, key: str) -> int:
    """A ``kB`` field (``VmHWM``, ``VmRSS``) of ``/proc/<pid>/status``."""
    for line in text.splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1])
    return 0


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:  # the process ended between listing and reading
        return None


def process_table() -> dict[int, dict]:
    """``parse_stat`` of every live process, keyed by pid."""
    table = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            text = _read(f"/proc/{name}/stat")
            if text:
                table[int(name)] = parse_stat(text)
    return table


def descendants(table: dict[int, dict], root: int) -> list[int]:
    """Pids below ``root`` in ``table`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for pid, st in table.items():
        children.setdefault(st["ppid"], []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(st: dict, with_children: bool = False) -> float:
    ticks = st["cpu_ticks"] + (st["child_ticks"] if with_children else 0)
    return ticks / CLK_TCK


def jvm_tree(jvm_pid: int, io: bool = False) -> dict[str, float]:
    """Counters of the JVM and every process it started, from one
    snapshot of ``/proc``.

    ``pyworker_cpu_s`` covers the pyspark daemon and its workers and the
    Python data-source planners, alive or already reaped.  With ``io``,
    ``write_bytes`` sums the storage writes of the JVM and its live
    descendants: sink files, but also Spark's shuffle and spill files."""
    table = process_table()
    jvm = table.get(jvm_pid)
    if jvm is None:
        return {"jvm_cpu_s": 0.0, "pyworker_cpu_s": 0.0, "write_bytes": 0}
    tree = descendants(table, jvm_pid)
    out = {
        "jvm_cpu_s": cpu_seconds(jvm),
        "pyworker_cpu_s": jvm["child_ticks"] / CLK_TCK
        + sum(cpu_seconds(table[p], with_children=True) for p in tree),
    }
    if io:
        out["write_bytes"] = sum(
            parse_io(text).get("write_bytes", 0)
            for text in map(_read, [f"/proc/{p}/io" for p in [jvm_pid, *tree]])
            if text
        )
    return out


def self_cpu() -> float:
    return cpu_seconds(parse_stat(_read("/proc/self/stat")))


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid``, in MiB."""
    return parse_status_kb(_read(f"/proc/{pid}/status") or "", "VmHWM") / 1024.0


# -- Spark event log -----------------------------------------------------

FOLD_KEYS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
    "executor_cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes",
)


def fold_event_log(lines: Iterable[str]) -> dict[str, dict[str, float]]:
    """Fold an uncompressed Spark event log per job group.

    A stage belongs to the group of the first job that lists it; a task
    belongs to its stage's group.  Jobs without a group land under "".
    Stage counts are of stages that ran at least one task, so a stage a
    later job skipped (its shuffle output was reused) is not counted
    twice."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    ran: set[tuple[str, int]] = set()

    def bucket(group: str) -> dict[str, float]:
        return out.setdefault(group, dict.fromkeys(FOLD_KEYS, 0))

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            bucket(group)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"), "")
            b = bucket(group)
            b["tasks"] += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if reason != "Success" or (ev.get("Task Info") or {}).get("Failed"):
                b["failed_tasks"] += 1
            ran.add((group, ev.get("Stage ID")))
            m = ev.get("Task Metrics") or {}
            b["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            b["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            rd = m.get("Shuffle Read Metrics") or {}
            b["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            wr = m.get("Shuffle Write Metrics") or {}
            b["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
    for group, _ in ran:
        bucket(group)["stages"] += 1
    return out
