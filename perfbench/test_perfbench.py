"""Tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
import time
import zlib
from pathlib import Path

import pyarrow as pa
import pytest

import gate
import inputs
import run
import tracing

NAME = re.compile(r"[A-Za-z0-9_.-]+")
BENCH = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())


# -- event log ---------------------------------------------------------------


def _task_end(stage, launch, finish, run_ms, gc_ms=0, shuffle=0, out_rows=0, py=None):
    accs = [
        {"ID": i, "Name": name, "Update": str(v), "Value": str(v)}
        for i, (name, v) in enumerate((py or {}).items())
    ]
    accs.append({"ID": 99, "Name": "internal.metrics.executorRunTime", "Update": run_ms})
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task End Reason": {"Reason": "Success"},
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Accumulables": accs},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Output Metrics": {"Bytes Written": 0, "Records Written": out_rows},
        },
    }


def _stage(stage, span):
    return {
        "Event": "SparkListenerStageSubmitted",
        "Stage Info": {"Stage ID": stage, "Stage Attempt ID": 0},
        "Properties": {tracing.SPAN_PROPERTY: span} if span else {},
    }


PY = {
    "data sent to Python workers": 2_000_000,
    "data returned from Python workers": 1_000_000,
    "time to start Python workers": 300,
    "time to initialize Python workers": 200,
    "time to run Python workers": 900,
}


def _write_log(tmp_path, events):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / ".events_1_local-1.crc").write_text("junk")
    half = len(events) // 2
    # rolling files are read in index order, not name order
    (d / "events_10_local-1").write_text("\n".join(json.dumps(e) for e in events[half:]))
    (d / "events_2_local-1").write_text("\n".join(json.dumps(e) for e in events[:half]))
    return str(tmp_path)


def test_event_log_parser_sums_python_and_task_metrics(tmp_path):
    events = [
        _stage(0, "5"),
        _task_end(0, 1000, 2000, 900, gc_ms=10, py=PY),
        _task_end(0, 1000, 4000, 2800, gc_ms=30, py=PY),
        _task_end(0, 1000, 3000, 1900, py=PY),
        _stage(1, "6"),
        _task_end(1, 5000, 5500, 400, shuffle=3_000_000, out_rows=7),
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Stage Attempt ID": 0,
         "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Info": {"Launch Time": 0, "Finish Time": 1, "Accumulables": []}},
    ]
    tasks = tracing.task_records(tracing.read_event_log(_write_log(tmp_path, events)))
    assert len(tasks) == 4  # the failed task is dropped
    assert [t["span"] for t in tasks] == ["5", "5", "5", "6"]
    s = tracing.stage_summary(tasks)
    assert s["extract.tasks"] == 3
    assert s["extract.py_sent_mb"] == pytest.approx(6.0)
    assert s["extract.py_returned_mb"] == pytest.approx(3.0)
    assert s["extract.py_boot_s"] == pytest.approx(0.9)
    assert s["extract.py_init_s"] == pytest.approx(0.6)
    assert s["extract.py_run_s"] == pytest.approx(2.7)
    assert s["extract.executor_run_s"] == pytest.approx(5.6)
    assert s["extract.gc_s"] == pytest.approx(0.04)
    assert s["extract.task_p50_s"] == pytest.approx(2.0)
    assert s["extract.task_max_s"] == pytest.approx(3.0)
    assert s["extract.task_max_over_mean"] == pytest.approx(1.5)
    assert s["extract.shuffle_write_mb"] == pytest.approx(3.0)
    assert sum(t["output_records"] for t in tasks if t["span"] == "6") == 7


# -- spans -------------------------------------------------------------------


def _sp(i, parent, start, end):
    return {"id": i, "name": f"s{i}", "parent": parent, "run_id": "r", "start": start, "end": end}


def test_covered_merges_overlaps_and_clips():
    assert tracing.covered([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert tracing.covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert tracing.covered([], 0, 10) == 0


def test_self_time_is_span_minus_child_coverage():
    spans = [
        _sp(0, None, 0.0, 10.0),
        _sp(1, 0, 1.0, 4.0),
        _sp(2, 0, 3.0, 6.0),  # overlaps sibling 1: covered once
        _sp(3, 1, 1.5, 2.0),  # grandchild: counts against 1 only
        _sp(4, None, 11.0, 12.0),
    ]
    out = {s["id"]: s for s in tracing.with_self_times(spans)}
    assert out[0]["dur"] == 10.0 and out[0]["self"] == pytest.approx(5.0)
    assert out[1]["self"] == pytest.approx(2.5)
    assert out[2]["self"] == pytest.approx(3.0)
    assert out[3]["self"] == pytest.approx(0.5)
    assert out[4]["self"] == pytest.approx(1.0)


def test_tracer_nests_parents_and_tags_jobs(tmp_path):
    tags = []
    t = tracing.Tracer("w-1", on_enter=tags.append)
    with t.span("outer") as o:
        with t.span("inner"):
            pass
    with t.span("next"):
        pass
    assert [s["parent"] for s in t.spans] == [None, o["id"], None]
    assert tags == ["0", "1", "0", None, "2", None]
    assert t.subtree_ids(0) == {0, 1}
    t.dump(str(tmp_path / "spans.json"))
    dumped = json.loads((tmp_path / "spans.json").read_text())
    assert {s["run_id"] for s in dumped} == {"w-1"}
    assert all(s["self"] <= s["dur"] for s in dumped)


# -- metric names ------------------------------------------------------------


def test_metric_names_are_valid_and_match_benchmark_json():
    e2e = [m["name"] for m in BENCH["end_to_end"]]
    layer = [m["name"] for m in BENCH["per_layer"]]
    for name in e2e + layer + [w["name"] for w in BENCH["workloads"]]:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    assert len(set(e2e + layer)) == len(e2e + layer)
    assert e2e == list(run.END_TO_END)
    assert layer == list(run.PER_LAYER)
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)[:2]


# -- correctness gate --------------------------------------------------------


def _expected(texts):
    return pa.table({
        "url": [f"u{i}" for i in range(len(texts))],
        "format": ["html"] * len(texts),
        "text_expected": texts,
        "n_blocks": [1] * len(texts),
        "checksum": [zlib.crc32(t) for t in texts],
    })


def _got(exp, texts=None):
    texts = texts or exp["text_expected"].to_pylist()
    return pa.table({
        "url": exp["url"],
        "format": exp["format"],
        "text_out": texts,
        "checksum": [zlib.crc32(t) for t in exp["text_expected"].to_pylist()],
    })


def test_gate_flags_a_single_corrupted_text_out_row():
    exp = _expected([b"alpha", b"beta", b"gamma"])
    assert gate.check_extracted(_got(exp), exp)["failed"] == 0
    bad = gate.check_extracted(_got(exp, [b"alpha", b"bet\xff", b"gamma"]), exp)
    assert (bad["attempted"], bad["failed"]) == (3, 1)
    assert "u1" in bad["reasons"][0]


def test_gate_flags_missing_and_duplicate_rows():
    exp = _expected([b"a", b"b"])
    got = _got(exp).take([0, 0])
    res = gate.check_extracted(got, exp)
    assert res["failed"] == 2  # u0 duplicated, u1 missing


def test_commit_gate_fails_every_delta_doc_on_a_commit_mismatch():
    exp = _expected([b"a", b"b"])
    lineage = [sum(zlib.crc32(t) for t in (b"a", b"b")) % 2**32]
    ok = gate.check_commit({"n_docs": 2}, _got(exp), lineage, 12, 10, exp)
    assert ok["failed"] == 0
    wrong_count = gate.check_commit({"n_docs": 2}, _got(exp), lineage, 11, 10, exp)
    assert wrong_count["failed"] == 2
    wrong_sum = gate.check_commit({"n_docs": 2}, _got(exp), [lineage[0] + 1], 12, 10, exp)
    assert wrong_sum["failed"] == 2


# -- inputs ------------------------------------------------------------------


@pytest.mark.parametrize("n", [1, 105, 2000, 2401])
def test_quotas_sum_to_n_and_track_the_generator_mix(n):
    q = inputs.quotas(n)
    assert sum(q.values()) == n
    assert all(abs(q[k] - n * p) < 1 for k, p in inputs.STRATA.items())


# -- process clean-up --------------------------------------------------------
# Each check runs in its own interpreter: _reap_children waits for, and may
# kill, every child of the process that calls it.


def _in_child(code: str) -> None:
    here = Path(__file__).resolve().parent
    subprocess.run([sys.executable, "-c", "import run\n" + code], cwd=here, check=True, timeout=60)


def test_reap_children_waits_for_orphaned_grandchildren():
    _in_child(
        "import subprocess\n"
        "run._become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 0.3 &'], check=True)  # orphans the sleep\n"
        "assert run._children()\n"
        "run._reap_children(grace=10)\n"
        "assert run._children() == []\n"
    )


def test_reap_children_kills_what_outlives_the_grace_period():
    t0 = time.monotonic()
    _in_child(
        "import subprocess\n"
        "subprocess.Popen(['sleep', '30'])\n"
        "run._reap_children(grace=0.2)\n"
        "assert run._children() == []\n"
    )
    assert time.monotonic() - t0 < 20
