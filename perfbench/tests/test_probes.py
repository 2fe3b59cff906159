"""Unit tests of the benchmark's pure helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import probes  # noqa: E402


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert probes.percentile(xs, 50) == 50
    assert probes.percentile(xs, 90) == 90
    assert probes.percentile(reversed(xs), 99) == 99
    assert probes.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        probes.percentile([], 50)


def test_geomean():
    assert probes.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert probes.geomean([0.5] * 7) == pytest.approx(0.5)
    with pytest.raises(ValueError):
        probes.geomean([])


@pytest.mark.parametrize("n, want", [
    (19, None), (20, 50.0), (99, 50.0), (100, 90.0), (199, 90.0),
    (200, 95.0), (999, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert probes.tail_percentile(n) == want
    if want is not None:
        rank = probes.percentile(range(n), want)
        assert n - 1 - rank >= 10


STAT = ("4242 (java (x) y) S 4200 4242 4200 0 -1 4194560 100 0 0 0 "
        "250 50 30 20 20 0 60 0 123 456789 1000")


def test_parse_stat_handles_parentheses_in_comm():
    st = probes.parse_stat(STAT)
    assert st["pid"] == 4242
    assert st["comm"] == "java (x) y"
    assert st["ppid"] == 4200
    assert st["cpu_ticks"] == 300
    assert st["child_ticks"] == 50
    assert probes.cpu_seconds(st, with_children=True) == 350 / probes.CLK_TCK


def test_parse_io_and_status():
    io = probes.parse_io(
        "rchar: 10\nwchar: 20\nsyscr: 1\nsyscw: 2\nread_bytes: 4096\n"
        "write_bytes: 8192\ncancelled_write_bytes: 0\n"
    )
    assert io["write_bytes"] == 8192 and io["rchar"] == 10
    status = "Name:\tjava\nVmPeak:\t 900 kB\nVmHWM:\t  2048 kB\nVmRSS:\t 1024 kB\n"
    assert probes.parse_status_kb(status, "VmHWM") == 2048
    assert probes.parse_status_kb(status, "VmSwap") == 0


def test_descendants_walks_the_tree():
    table = {1: {"ppid": 0}, 10: {"ppid": 1}, 11: {"ppid": 10},
             12: {"ppid": 11}, 20: {"ppid": 1}, 30: {"ppid": 99}}
    assert sorted(probes.descendants(table, 10)) == [11, 12]
    assert sorted(probes.descendants(table, 1)) == [10, 11, 12, 20]


def test_live_process_counters():
    assert probes.self_cpu() > 0
    assert probes.peak_rss_mb(os.getpid()) > 1
    tree = probes.jvm_tree(os.getpid(), io=True)
    assert tree["jvm_cpu_s"] > 0
    assert tree["pyworker_cpu_s"] >= 0 and tree["write_bytes"] >= 0
    assert probes.jvm_tree(-1) == {"jvm_cpu_s": 0.0, "pyworker_cpu_s": 0.0, "write_bytes": 0}


def _task(stage, run_ms, cpu_ns, gc_ms, rd, wr, spill=0, reason="Success"):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task End Reason": {"Reason": reason}, "Task Info": {"Failed": reason != "Success"},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms, "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": rd},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": wr},
        },
    }


def _job(job, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages,
            "Properties": props}


def test_fold_event_log_per_job_group():
    events = [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
        _job(0, [0, 1], "cold:q1"),
        _task(0, 100, 80_000_000, 5, rd=0, wr=1000),
        _task(0, 120, 90_000_000, 0, rd=0, wr=1500),
        _task(1, 50, 40_000_000, 0, rd=2500, wr=0, spill=64),
        # A second job of q1 reuses stage 1's shuffle: stage 0 is skipped.
        _job(1, [0, 2], "cold:q1"),
        _task(2, 10, 5_000_000, 0, rd=0, wr=0, reason="ExceptionFailure"),
        _task(2, 10, 5_000_000, 0, rd=0, wr=0),
        _job(2, [3], "warm1:q1"),
        _task(3, 30, 20_000_000, 1, rd=0, wr=0),
        _job(3, [4]),
        _task(4, 1, 1_000_000, 0, rd=0, wr=0),
    ]
    fold = probes.fold_event_log(json.dumps(e) + "\n" for e in events)
    q1 = fold["cold:q1"]
    assert q1["jobs"] == 2
    assert q1["stages"] == 3
    assert q1["tasks"] == 5
    assert q1["failed_tasks"] == 1
    assert q1["executor_run_s"] == pytest.approx(0.29)
    assert q1["executor_cpu_s"] == pytest.approx(0.22)
    assert q1["gc_s"] == pytest.approx(0.005)
    assert q1["shuffle_write_bytes"] == 2500
    assert q1["shuffle_read_bytes"] == 2500
    assert q1["spill_bytes"] == 64
    assert fold["warm1:q1"]["tasks"] == 1 and fold["warm1:q1"]["stages"] == 1
    assert fold[""]["jobs"] == 1 and fold[""]["tasks"] == 1


def test_sink_writes_count_only_the_writer_ops():
    import run

    def op(name, written, eventlog):
        return {"op": name, "write_bytes": written, "eventlog_bytes": eventlog}

    rec = {
        "get_spark_s": 1.0, "warmup_s": 1.0, "jvm_peak_rss_mb": 1.0,
        "passes": [
            {"label": "cold", "ops": [op("snk_json_records", 500, 100),
                                      op("x_llm_dedup_minhash", 9000, 100)]},
            {"label": "warm1", "ops": [op("snk_json_records", 400, 100),
                                       op("x_llm_dedup_minhash", 8000, 100)]},
            # Only the cold pass and the first warm pass are counted.
            {"label": "warm2", "ops": [op("snk_json_records", 10**6, 0)]},
        ],
    }
    fold = {g: dict.fromkeys(probes.FOLD_KEYS, 0) for g in
            ("cold:x_llm_dedup_minhash", "warm1:x_llm_dedup_minhash")}
    fold["cold:x_llm_dedup_minhash"]["shuffle_write_bytes"] = 4000
    fold["warm1:x_llm_dedup_minhash"]["shuffle_write_bytes"] = 3000
    layers = run.per_layer(rec, fold)
    assert layers["sinks.write_bytes"] == (700, "bytes")
    assert layers["jvm.disk_write_bytes"] == (9800, "bytes")
    assert layers["jvm.shuffle_write_bytes"] == (7000, "bytes")
