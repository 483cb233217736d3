"""Tests of the benchmark's measurement helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""
import json
import os
import sys
from decimal import Decimal

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datagen  # noqa: E402
import measure  # noqa: E402

# ---- percentile rule ------------------------------------------------------


def test_percentile_is_nearest_rank():
    vals = list(range(1, 101))
    assert measure.percentile(vals, 50) == 50
    assert measure.percentile(vals, 90) == 90
    assert measure.percentile([7.0], 90) == 7.0


def test_supported_percentile_needs_ten_samples_beyond():
    # 100 samples: exactly 10 lie above p90 → supported
    assert measure.supported_percentile(list(range(100)), 90) == 89
    # 99 samples: only 9 above p90 → refused
    with pytest.raises(ValueError, match="9 beyond"):
        measure.supported_percentile(list(range(99)), 90)
    # ties at the percentile do not count as beyond it
    with pytest.raises(ValueError):
        measure.supported_percentile([1.0] * 95 + [2.0] * 5, 90)


def test_geomean():
    assert measure.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)


# ---- due → commit matching --------------------------------------------------


def test_file_latencies_match_due_to_batch_commit():
    due = {"a": 10.0, "b": 10.5, "c": 11.0, "d": 12.0}
    file_batch = {"a": 0, "b": 0, "c": 1, "d": 2}
    commits = {0: 11.0, 1: 11.25}  # batch 2 never committed
    lat = measure.file_latencies_ms(due, file_batch, commits)
    assert lat == pytest.approx({"a": 1000.0, "b": 500.0, "c": 250.0})
    assert "d" not in lat  # counted as failed by the caller


def test_read_file_source_log_folds_compact_and_delta_files(tmp_path):
    def write(name, entries):
        lines = ["v1"] + [json.dumps({"path": f"file:///w/{p}", "batchId": b}) for p, b in entries]
        (tmp_path / name).write_text("\n".join(lines) + "\n")

    write("9.compact", [("f0.parquet", 0), ("f1.parquet", 3), ("f2.parquet", 9)])
    write("10", [("f3.parquet", 10), ("f4.parquet", 10)])
    (tmp_path / ".10.crc").write_text("x")
    assert measure.read_file_source_log(str(tmp_path)) == {
        "f0.parquet": 0, "f1.parquet": 3, "f2.parquet": 9, "f3.parquet": 10, "f4.parquet": 10,
    }


# ---- event log aggregation ----------------------------------------------------


def _task_end(stage, run_ms, cpu_ns, sw_bytes=0, py_ms=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": [
            {"Name": "time to run Python workers", "Update": str(py_ms)},
            {"Name": "number of output rows", "Update": "5"},
        ]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 1,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw_bytes},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
            "Disk Bytes Spilled": 0,
        },
    }


def test_event_log_stage_aggregation_by_job_group():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage Infos": [{"Stage ID": 0}, {"Stage ID": 1}], "Properties": {"spark.jobGroup.id": "q.a"}},
        _task_end(0, 100, 50_000_000, sw_bytes=2**20, py_ms=30),
        _task_end(0, 100, 50_000_000, sw_bytes=2**20),
        _task_end(1, 300, 200_000_000, py_ms=12),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500,
         "Stage Infos": [{"Stage ID": 2}], "Properties": {"spark.jobGroup.id": "q.a"}},
        _task_end(2, 10, 1_000_000),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2500},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 3000,
         "Stage Infos": [{"Stage ID": 3}], "Properties": {"spark.jobGroup.id": "q.b"}},
        _task_end(3, 999, 999_000_000),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 4000},
    ]
    log = measure.parse_event_log(json.dumps(e) for e in events)
    a = log.group_totals("q.a")
    assert a["jobs"] == 2 and a["tasks"] == 4
    assert a["run_s"] == pytest.approx(0.51)
    assert a["cpu_s"] == pytest.approx(0.301)
    assert a["shuffle_write_mb"] == pytest.approx(2.0)
    assert a["py_run_ms"] == pytest.approx(42)
    # overlapping jobs [1.0, 2.0] ∪ [1.5, 2.5] cover 1.5 s
    assert a["job_union_s"] == pytest.approx(1.5)
    assert log.group_totals("q.b")["cpu_s"] == pytest.approx(0.999)
    assert log.group_totals("missing")["jobs"] == 0


# ---- correctness hashing ----------------------------------------------------


def test_rows_digest_ignores_row_and_column_order():
    a = measure.rows_digest(["x", "y"], [(1, "a"), (2, "b"), (2, "b")])
    b = measure.rows_digest(["y", "x"], [("b", 2), ("a", 1), ("b", 2)])
    assert a == b and a[0] == 3


def test_rows_digest_counts_duplicates_and_values():
    base = measure.rows_digest(["x"], [(1,), (2,)])
    assert measure.rows_digest(["x"], [(1,), (2,), (2,)]) != base
    assert measure.rows_digest(["x"], [(1,), (3,)]) != base


def test_rows_digest_is_dialect_neutral_for_numbers():
    # Spark double vs DuckDB DECIMAL / integer-valued double vs bigint
    assert measure.rows_digest(["v"], [(100.0,), (0.1234564,)]) == measure.rows_digest(
        ["v"], [(Decimal("100.00"),), (Decimal("0.1234564"),)]
    )
    assert measure.rows_digest(["v"], [(3,)]) == measure.rows_digest(["v"], [(3.0,)])
    assert measure.rows_digest(["v"], [([1.0, 2.5],)]) == measure.rows_digest(["v"], [([1, 2.5],)])


# ---- generator --------------------------------------------------------------


def test_cut_points_cover_rows_without_empty_files():
    rng = np.random.default_rng(3)
    b = datagen.cut_points(rng, 1000, 40)
    assert b[0] == 0 and b[-1] == 1000 and len(b) == 41
    assert all(hi > lo for lo, hi in zip(b, b[1:]))


def test_transcript_files_are_seeded(tmp_path):
    def gen(seed, d):
        paths, nulls = datagen.write_transcript_files(
            str(tmp_path / d), np.random.default_rng(seed), 0, 5000, 10, 50, 0.01
        )
        return [os.path.basename(p) for p in paths], nulls

    assert gen(1, "a") == gen(1, "b")
    assert gen(1, "a") != gen(2, "c")


def test_tree_cpu_s_counts_children():
    import subprocess
    import time

    before = measure.tree_cpu_s(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\ntime.sleep(5)"])
    try:
        deadline = time.time() + 10
        while measure.tree_cpu_s(os.getpid()) - before < 0.25 and time.time() < deadline:
            time.sleep(0.1)
        assert measure.tree_cpu_s(os.getpid()) - before >= 0.25
    finally:
        child.kill()
        child.wait()
