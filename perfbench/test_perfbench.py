"""Tests of the benchmark itself (not collected by the package's tests/).

    python3 -m pytest perfbench/test_perfbench.py -q

The tiny-size runs start Spark and take about a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import tracing as tr  # noqa: E402
import worker  # noqa: E402

FIXTURE = os.path.join(HERE, "testdata")


def span(sid, start, end, parent=None):
    return tr.Span(id=sid, name=sid, start=start, end=end, parent=parent, run_id="r")


def test_self_time_subtracts_the_union_of_children():
    spans = [
        span("root", 0.0, 10.0),
        span("a", 1.0, 3.0, "root"),
        span("b", 2.0, 5.0, "root"),  # overlaps a: counted once
        span("c", 7.0, 8.0, "root"),
        span("a1", 1.5, 2.0, "a"),
    ]
    st = tr.self_times(spans)
    assert st["root"] == pytest.approx(10.0 - (4.0 + 1.0))
    assert st["a"] == pytest.approx(1.5)
    assert st["a1"] == pytest.approx(0.5)
    assert st["c"] == pytest.approx(1.0)


def test_self_time_clips_children_to_the_parent():
    spans = [span("p", 0.0, 4.0), span("k", 3.0, 6.0, "p")]
    assert tr.self_times(spans)["p"] == pytest.approx(3.0)


def test_tracer_nests_spans_and_calls_the_job_group_hooks():
    calls = []
    t = tr.Tracer(run_id="x", on_enter=lambda i, n: calls.append(("in", n)),
                  on_exit=lambda i, n: calls.append(("out", n)))
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert calls == [("in", "outer"), ("in", "inner"), ("out", "outer"), ("out", None)]


def load_fixture():
    with open(os.path.join(FIXTURE, "spans.json"), encoding="utf-8") as f:
        spans = [tr.Span(**s) for s in json.load(f)]
    return spans, tr.read_event_log(os.path.join(FIXTURE, "events.jsonl"))


def test_event_log_reader_attributes_jobs_by_group_then_by_time():
    spans, events = load_fixture()
    ids = {s.name: s.id for s in spans}
    c = tr.attribute(events, spans)
    # "grouped" ran two jobs under its own job group (the second reuses the
    # first's shuffle stage, which is skipped and not counted again)
    assert c[ids["grouped"]]["jobs"] == 2
    assert c[ids["grouped"]]["stages"] == 2
    assert c[ids["grouped"]]["shuffle_bytes"] > 0
    assert c[ids["grouped"]]["scan_records"] == 0  # spark.range is no file scan
    # "threaded" read parquet from a thread without the group: its three
    # jobs are attributed by submission time
    assert c[ids["threaded"]]["jobs"] == 3
    assert c[ids["threaded"]]["scan_records"] == 1000
    # the write before the first span belongs to no span
    assert c[ids["root"]]["jobs"] == 0

    # executor time is the sum over the span's stages, as in the log
    want = 0.0
    job_group, stage_job = {}, {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            job_group[e["Job ID"]] = e["Properties"].get("spark.jobGroup.id")
            for st in e["Stage IDs"]:
                stage_job.setdefault(st, e["Job ID"])
        if e["Event"] == "SparkListenerStageCompleted":
            if job_group[stage_job[e["Stage Info"]["Stage ID"]]] == ids["grouped"]:
                acc = {a["Name"]: a["Value"] for a in e["Stage Info"]["Accumulables"]}
                want += float(acc["internal.metrics.executorRunTime"])
    assert c[ids["grouped"]]["exec_ms"] == want

    total = tr.rollup(spans, c)[ids["root"]]
    assert total["jobs"] == 5


def test_compressed_event_log_is_refused(tmp_path):
    p = tmp_path / "app.zstd"
    p.write_bytes(b"\x28\xb5\x2f\xfd")
    with pytest.raises(ValueError, match="compress"):
        tr.read_event_log(str(p))


def test_stale_input_is_regenerated_and_a_hit_replays(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    calls = []

    def make(table):
        calls.append(table)
        if table is not None:
            os.makedirs(table)
            pq.write_table(pa.table({"x": list(range(5))}), os.path.join(table, "p.parquet"))

    d = str(tmp_path / "in")
    table = worker.ensure_input(d, 5, make)
    assert calls == [table] and worker.is_cached(d, 5)
    worker.ensure_input(d, 5, make)  # a hit runs the generator without a table
    assert calls[-1] is None
    with open(os.path.join(table, "p.parquet"), "r+b") as f:  # stale copy
        f.seek(8)
        f.write(b"\xff")
    assert not worker.is_cached(d, 5)
    worker.ensure_input(d, 5, make)
    assert calls[-1] == table and worker.is_cached(d, 5)
    assert not worker.is_cached(d, 6)  # wrong row count


def test_benchmark_json_lists_the_metrics_run_py_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.end_to_end_units()
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    assert len(bench["per_layer"]) <= 128
    assert [w["name"] for w in bench["workloads"]] == ["batch_cold", "media_dedup"]


def test_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_cold", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


@pytest.mark.parametrize("workload", ["batch_cold", "media_dedup"])
def test_tiny_run(workload):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", "0", "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(run.end_to_end_units())
    assert all(m["value"] > 0 for m in result["metrics"].values())
