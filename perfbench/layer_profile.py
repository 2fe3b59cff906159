"""Write the committed per-layer profile of each workload.

    python3 perfbench/layer_profile.py

For each workload it runs ``run.py`` three times untraced and three times
traced, alternating, all with seed 1 and the run length ``run_seconds`` of
``BENCHMARK.json``, and writes ``perfbench/profiles/<workload>.json`` with

- the end-to-end metrics of the first untraced run,
- the per-layer metrics of the first traced run,
- the tracing overhead: the median traced minus the median untraced
  ``cold_wall_s`` (one pair is not enough on a noisy host),
- self time per span name (a span's time minus its children's),
- per-op layer figures for the cold pass and the first warm pass.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_ROOT = os.path.join(ROOT, ".perfbench_run")
SEED = 1
PAIRS = 3
sys.path.insert(0, HERE)

import workloads  # noqa: E402

OP_KEYS = (
    "latency_s", "build_s", "build_jobs", "build_py_cpu_s", "plan_s", "exec_s",
    "jobs", "stages", "tasks", "failed_tasks", "jvm_cpu_s", "gc_s",
    "pyworker_cpu_s", "write_bytes", "eventlog_bytes", "session_cache_builds",
    "session_cache_hits", "tables_builds", "tables_hits", "rows",
)
#: Per-op figures only the event log has.
EVENT_KEYS = ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "executor_cpu_s")


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    os.makedirs(RUN_ROOT, exist_ok=True)
    with tempfile.NamedTemporaryFile(suffix=".json", dir=RUN_ROOT) as tmp:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
             "--record", tmp.name],
            check=True, stdout=subprocess.DEVNULL,
        )
        with open(tmp.name) as fh:
            return json.load(fh)


def self_times(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Total and self seconds per span name."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end_s"] - s["start_s"]
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        d = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        dur = s["end_s"] - s["start_s"]
        d["count"] += 1
        d["total_s"] = round(d["total_s"] + dur, 4)
        d["self_s"] = round(d["self_s"] + dur - child[s["id"]], 4)
    return out


def per_op(rec: dict) -> dict[str, dict]:
    passes = rec["run"]["passes"][:2]
    fold = rec["event_fold"] or {}
    ops: dict[str, dict] = {}
    for p, phase in zip(passes, ("cold", "warm")):
        for r in p["ops"]:
            row = {k: round(r[k], 4) for k in OP_KEYS if k in r}
            row.update({k: round(v, 4) for k, v in
                        fold.get(f"{p['label']}:{r['op']}", {}).items() if k in EVENT_KEYS})
            if "error" in r:
                row["error"] = r["error"]
            ops.setdefault(r["op"], {})[phase] = row
    return dict(sorted(ops.items()))


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    os.makedirs(os.path.join(HERE, "profiles"), exist_ok=True)
    for wl in sorted(workloads.WORKLOADS):
        runs: dict[int, list[dict]] = {0: [], 1: []}
        for i in range(PAIRS):
            for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
                runs[trace].append(run(wl, SEED, seconds, trace))
        plain, traced = runs[0][0], runs[1][0]
        colds = {t: [r["run"]["passes"][0]["wall_s"] for r in runs[t]] for t in runs}
        cold0, cold1 = statistics.median(colds[0]), statistics.median(colds[1])
        profile = {
            "workload": wl, "seed": SEED, "seconds": seconds,
            "machine": plain["machine"],
            "end_to_end": {k: round(v[0], 4) for k, v in plain["metrics"].items()},
            "per_layer": {k: round(v[0], 4) for k, v in traced["metrics"].items()},
            "tracing_overhead": {
                "pairs": PAIRS,
                "cold_wall_s_untraced": [round(x, 4) for x in colds[0]],
                "cold_wall_s_traced": [round(x, 4) for x in colds[1]],
                "overhead_s": round(cold1 - cold0, 4),
                "overhead_share": round((cold1 - cold0) / cold0, 4),
            },
            "span_self_time": self_times(traced["run"]["spans"]),
            "ops": per_op(traced),
        }
        path = os.path.join(HERE, "profiles", f"{wl}.json")
        with open(path, "w") as fh:
            json.dump(profile, fh, indent=1)
            fh.write("\n")
        print(f"{wl}: {path}", file=sys.stderr)


if __name__ == "__main__":
    main()
