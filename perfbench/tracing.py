"""Tracing for the traced benchmark run: spans, py4j call counting, and
the fold of Spark's event log into per-layer metrics.

Spans are recorded by the benchmark around each call into a layer of
``jena_spark``; nothing inside the package is instrumented.  Spark jobs
are attributed to the innermost span open when the job was submitted
(a time window, not ``setJobGroup``: jobs submitted from a plain
``ThreadPoolExecutor`` thread carry no job group).  Jobs and time that
fall outside every layer span are reported under ``unattributed``.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from contextlib import contextmanager
from typing import Dict, Iterable, List, Optional

# layer tags, named after the modules the benchmark calls into
TAGS = (
    "session",
    "extract",
    "nodetable",
    "materialize",
    "materialize.lookup",
    "sparql.compile",
    "sparql.execute",
    "streaming.apply",
    "dedup.jaccard",
    "dedup.simhash",
    "similarity.topk",
    "linking.link",
)
UNATTRIBUTED = "unattributed"
FIELDS = (
    "wall_s",
    "task_cpu_s",
    "gc_s",
    "input_mb",
    "shuffle_write_mb",
    "spill_mb",
    "jobs",
    "task_skew",
)
MB = 1024.0 * 1024.0


def tail_percentile(samples: Iterable[float], beyond: int = 10):
    """(percentile, value) of the highest whole percentile that has at
    least ``beyond`` samples strictly above its nearest-rank position,
    or None when the sample is too small to support any."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 0, -1):
        rank = max(1, math.ceil(p * n / 100))  # nearest-rank, 1-based
        if n - rank >= beyond:
            return p, xs[rank - 1]
    return None


class Py4jCounter:
    """Counts py4j commands the driver sends to the JVM, by wrapping the
    gateway client's ``send_command`` on the instance.  Memory commands
    are not counted: py4j sends one whenever Python garbage-collects a
    JVM object proxy, so their number depends on GC timing and would not
    repeat from run to run."""

    def __init__(self) -> None:
        self.calls = 0

    def install(self, spark) -> None:
        from py4j.protocol import MEMORY_COMMAND_NAME

        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        def counted(command, *args, **kwargs):
            if not command.startswith(MEMORY_COMMAND_NAME):
                self.calls += 1
            return orig(command, *args, **kwargs)

        client.send_command = counted


class Tracer:
    """In-memory span recorder.  Disabled, ``span`` is a bare yield, so
    the untraced run pays nothing but one generator per call."""

    def __init__(self, enabled: bool, py4j: Optional[Py4jCounter] = None):
        self.enabled = enabled
        self.py4j = py4j
        self.spans: List[dict] = []
        self._stack: List[dict] = []
        self.trace_id = "setup"

    def _py4j_calls(self) -> int:
        return self.py4j.calls if self.py4j is not None else 0

    @contextmanager
    def span(self, name: str, tag: Optional[str] = None):
        """``tag`` None marks a root span (an operation or set-up
        repetition): its self time counts as unattributed."""
        if not self.enabled:
            yield
            return
        s = {
            "id": len(self.spans),
            "name": name,
            "tag": tag,
            "trace": self.trace_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "end": None,
            "py4j": -self._py4j_calls(),
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield
        finally:
            s["end"] = time.time()
            s["py4j"] += self._py4j_calls()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_values(spans: List[dict]) -> Dict[int, dict]:
    """Per span id: self wall seconds and self py4j calls (the span's
    own value minus what its direct children cover)."""
    out = {
        s["id"]: {"wall_s": s["end"] - s["start"], "py4j": s["py4j"]}
        for s in spans
    }
    for s in spans:
        if s["parent"] is not None:
            p = out[s["parent"]]
            p["wall_s"] -= s["end"] - s["start"]
            p["py4j"] -= s["py4j"]
    return out


def innermost_span(spans: List[dict], t: float) -> Optional[dict]:
    """The span open at epoch time ``t`` that started last (spans are
    recorded on one thread, so open spans nest)."""
    best = None
    for s in spans:
        if s["start"] <= t < s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def span_tag(span: Optional[dict]) -> str:
    if span is None or span["tag"] is None:
        return UNATTRIBUTED
    return span["tag"]


def read_event_log(path: str) -> Iterable[dict]:
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def fold_event_logs(paths: Iterable[str], spans: List[dict]) -> dict:
    """Per tag: task CPU, GC, input, shuffle write, spill, job count and
    task skew, from ``SparkListenerJobStart`` / ``SparkListenerTaskEnd``
    events.  Each file is one application, so stage ids are resolved
    per file.  Also returns the job list with its attribution."""
    acc = {t: _empty_acc() for t in TAGS + (UNATTRIBUTED,)}
    jobs: List[dict] = []
    for path in paths:
        stage_tag: Dict[int, str] = {}
        for ev in read_event_log(path):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                span = innermost_span(spans, ev["Submission Time"] / 1000.0)
                tag = span_tag(span)
                acc[tag]["jobs"] += 1
                jobs.append({
                    "job": ev["Job ID"],
                    "tag": tag,
                    "span": span["id"] if span is not None else None,
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                })
                for sid in ev.get("Stage IDs", []):
                    stage_tag.setdefault(sid, tag)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                a = acc[stage_tag.get(ev["Stage ID"], UNATTRIBUTED)]
                a["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                a["input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / MB
                a["shuffle_write_mb"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
                )
                a["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / MB
                a["run_ms"].append(m.get("Executor Run Time", 0))
    out = {}
    for tag, a in acc.items():
        runs = a.pop("run_ms")
        med = statistics.median(runs) if runs else 0
        a["task_skew"] = max(runs) / med if med > 0 else 0.0
        out[tag] = a
    return {"tags": out, "jobs": jobs}


def _empty_acc() -> dict:
    return {
        "task_cpu_s": 0.0, "gc_s": 0.0, "input_mb": 0.0,
        "shuffle_write_mb": 0.0, "spill_mb": 0.0, "jobs": 0, "run_ms": [],
    }


def layer_metrics(spans: List[dict], event_log_dir: Optional[str]) -> dict:
    """Every ``<tag>.<field>`` metric for the layer tags plus
    ``unattributed``; wall_s is the sum of span self times per tag."""
    paths = []
    if event_log_dir and os.path.isdir(event_log_dir):
        paths = sorted(
            os.path.join(event_log_dir, n) for n in os.listdir(event_log_dir)
            if not n.startswith(".")
        )
    folded = fold_event_logs(paths, spans)
    selfs = self_values(spans)
    wall = {t: 0.0 for t in TAGS + (UNATTRIBUTED,)}
    for s in spans:
        wall[span_tag(s)] += selfs[s["id"]]["wall_s"]
    metrics = {}
    for tag, a in folded["tags"].items():
        a["wall_s"] = wall[tag]
        for field in FIELDS:
            metrics[f"{tag}.{field}"] = a[field]
    return {"metrics": metrics, "jobs": folded["jobs"], "self": selfs}
