"""Self-tests for the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing  # noqa: E402

EVENT_LOG = os.path.join(HERE, "testdata", "eventlog.jsonl")


def span(id_, name, tag, start, end, parent=None, py4j=0):
    return {"id": id_, "name": name, "tag": tag, "trace": "round1",
            "parent": parent, "start": start, "end": end, "py4j": py4j}


# one build op (a root span, so its self time is unattributed) with an
# extract and a materialize layer span inside it; the event log's jobs
# are submitted at 1001.5 s, 1005.2 s and 1008.0 s
SPANS = [
    span(0, "kg_build.op", None, 1000.0, 1007.0, py4j=9),
    span(1, "extract", "extract", 1001.0, 1003.0, parent=0, py4j=4),
    span(2, "materialize", "materialize", 1004.0, 1006.5, parent=0, py4j=3),
]


def test_fold_tiny_event_log():
    folded = tracing.fold_event_logs([EVENT_LOG], SPANS)
    tags = folded["tags"]
    ex = tags["extract"]
    assert ex["jobs"] == 1
    assert ex["task_cpu_s"] == pytest.approx(1.1)
    assert ex["gc_s"] == pytest.approx(0.02)
    assert ex["input_mb"] == pytest.approx(3.0)
    assert ex["shuffle_write_mb"] == pytest.approx(1.0)
    assert ex["task_skew"] == pytest.approx(1000 / 500)
    mat = tags["materialize"]
    assert (mat["jobs"], mat["spill_mb"]) == (1, pytest.approx(3.0))
    assert mat["task_skew"] == pytest.approx(900 / 600)
    un = tags[tracing.UNATTRIBUTED]
    assert un["jobs"] == 1 and un["task_cpu_s"] == pytest.approx(0.05)
    assert [(j["job"], j["tag"]) for j in folded["jobs"]] == [
        (0, "extract"), (1, "materialize"), (2, tracing.UNATTRIBUTED)]
    # idle layers still report every field, as zeros
    assert tags["sparql.compile"]["jobs"] == 0
    assert tags["sparql.compile"]["task_skew"] == 0.0


def test_layer_metrics_names_every_field(tmp_path):
    shutil.copy(EVENT_LOG, tmp_path / "app-1")
    out = tracing.layer_metrics(SPANS, str(tmp_path))
    want = {f"{t}.{f}" for t in tracing.TAGS + (tracing.UNATTRIBUTED,)
            for f in tracing.FIELDS}
    assert set(out["metrics"]) == want
    assert out["metrics"]["extract.wall_s"] == pytest.approx(2.0)
    assert out["metrics"]["unattributed.wall_s"] == pytest.approx(2.5)


@pytest.mark.parametrize("n, want", [
    (10, None),       # no percentile has ten samples beyond it
    (11, (9, 1)),     # p9 is rank 1: ten samples lie above it
    (20, (50, 10)),
    (100, (90, 90)),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    xs = list(range(n, 0, -1))  # order must not matter
    assert tracing.tail_percentile(xs) == want
    if want is not None:
        assert sum(1 for x in xs if x > want[1]) >= 10


def test_span_self_time_arithmetic():
    selfs = tracing.self_values(SPANS)
    assert selfs[0]["wall_s"] == pytest.approx(7.0 - 2.0 - 2.5)
    assert selfs[1]["wall_s"] == pytest.approx(2.0)
    assert selfs[2]["wall_s"] == pytest.approx(2.5)
    # self times of a tree add up to its root span's wall time
    assert sum(s["wall_s"] for s in selfs.values()) == pytest.approx(7.0)
    assert selfs[0]["py4j"] == 9 - 4 - 3


def test_job_from_pool_thread_without_job_group_goes_to_open_span(tmp_path):
    """materialize_encoded submits jobs from plain ThreadPoolExecutor
    threads, which carry no job group; the fold attributes them by the
    time window of the span open on the calling thread."""
    tracer = tracing.Tracer(enabled=True)
    with ThreadPoolExecutor(max_workers=2) as pool:
        with tracer.span("kg_build.op"):
            with tracer.span("materialize", "materialize"):
                time.sleep(0.01)
                submitted = pool.submit(time.time).result()
                time.sleep(0.01)
            time.sleep(0.01)
            later = pool.submit(time.time).result()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Submission Time": submitted * 1000.0, "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor CPU Time": 10**9, "Executor Run Time": 5}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1],
         "Submission Time": later * 1000.0, "Properties": {}},
    ]
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in events))
    folded = tracing.fold_event_logs([str(path)], tracer.spans)
    assert [(j["tag"], j["group"]) for j in folded["jobs"]] == [
        ("materialize", None), (tracing.UNATTRIBUTED, None)]
    assert folded["tags"]["materialize"]["task_cpu_s"] == pytest.approx(1.0)
