"""Tests of the benchmark itself.

    python -m pytest perfbench -q

The smoke tests start Spark four times on tiny inputs (a few minutes on a
4-core host); run them with no other Spark driver alive.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import probe  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def test_same_seed_same_inputs_other_seed_other_inputs():
    b1, b2, b3 = (inputs.corpus_vectors(s, 50) for s in (7, 7, 8))
    assert np.array_equal(b1, b2) and not np.array_equal(b1, b3)
    q1, q2, q3 = (inputs.query_vectors(s, b1, 20) for s in (7, 7, 8))
    assert np.array_equal(q1, q2) and not np.array_equal(q1, q3)
    d1, d2, d3 = (inputs.documents(s, 200) for s in (7, 7, 8))
    assert d1.equals(d2) and not d1.equals(d3)
    assert np.allclose(np.linalg.norm(b1, axis=1), 1.0, atol=1e-6)
    assert d1["text"].str.endswith(" dup").any()


def test_span_union_merges_overlaps():
    assert probe.span_union_ms([]) == 0.0
    assert probe.span_union_ms([(0, 10), (5, 20), (30, 40)]) == 30.0
    assert probe.span_union_ms([(30, 40), (0, 10), (2, 3)]) == 20.0


def test_fold_event_log_groups_tasks_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 100,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "op0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 7, "Executor CPU Time": 3_000_000,
            "JVM GC Time": 1, "Memory Bytes Spilled": 5,
            "Disk Bytes Spilled": 6,
            "Shuffle Read Metrics": {"Remote Bytes Read": 2,
                                     "Local Bytes Read": 3},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
            "Input Metrics": {"Records Read": 40}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 150},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 160,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 170},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    got = probe.fold_event_log(str(tmp_path))
    op = got["op0"]
    assert (op["jobs"], op["stages"], op["tasks"]) == (1, 1, 1)
    assert (op["executor_run_ms"], op["executor_cpu_ms"], op["gc_ms"]) == (7, 3.0, 1)
    assert (op["shuffle_read_bytes"], op["shuffle_write_bytes"]) == (5, 11)
    assert (op["spill_bytes"], op["input_records"]) == (11, 40)
    assert op["spans"] == [(100, 150)]
    assert got[None]["tasks"] == 1 and got[None]["spans"] == [(160, 170)]


def _run(workload: str, trace: int, seed: int = 3) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    report = {}
    for line in lines[:-1]:
        m = re.match(r"(\S+)\s+(\S+)\s+(\S+)\s+n=(\d+)$", line)
        if m:
            report[m[1]] = (float(m[2]), m[3], int(m[4]))
    return json.loads(lines[-1]), report


@pytest.fixture(scope="module")
def serve_runs():
    return _run("serve", 0), _run("serve", 1)


def _check_names(result: dict, specs: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert list(result["metrics"]) == [m["name"] for m in specs]
    for m in specs:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]


def test_serve_smoke_names_every_metric_and_answers_correctly(serve_runs):
    (plain, report), (traced, traced_report) = serve_runs
    _check_names(plain, SPEC["end_to_end"])
    _check_names(traced, SPEC["per_layer"])
    assert report["error_rate"][0] == 0.0
    for name in ("query_p50_ms", "query_p90_ms", "query_qps", "recall_at_10",
                 "cpu_ms_per_op", "peak_rss_mb", "setup_s"):
        assert report[name][2] >= 1, name
    assert all(v > 0 for v in (m["value"] for m in plain["metrics"].values()))


def test_same_seed_gives_same_recall(serve_runs):
    (_, report), (_, traced_report) = serve_runs
    assert report["recall_at_10"][0] == traced_report["recall_at_10"][0]


def test_curate_smoke_matches_oracle():
    plain, report = _run("curate", 0)
    _check_names(plain, SPEC["end_to_end"])
    assert report["error_rate"][0] == 0.0
    assert plain["metrics"]["answer_recall"]["value"] == 1.0
    traced, _ = _run("curate", 1)
    _check_names(traced, SPEC["per_layer"])
    assert traced["metrics"]["queries.ngram_jaccard_pairs.p50_ms"]["value"] > 0
