"""The repository benchmark: two seeded closed-loop workloads over
``jena_spark``'s public functions on ``local[n]`` (``workloads.CORES``).

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 1 --trace 0

Run from the repository root.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics of BENCHMARK.json, with ``--trace 1`` the per-layer
metrics from a traced run (Spark event log plus spans recorded around
each layer call).  The line before it holds the workload's named
detail metrics.  Inputs, stores, logs and the Spark scratch space live
under ``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3  # from-scratch builds of the starting state; setup_s takes the median

COUNTERS = (
    ("extract.docs", "count"),
    ("extract.triples", "count"),
    ("extract.error_docs", "count"),
    ("nodetable.terms", "count"),
    ("materialize.bytes_written", "B"),
    ("materialize.partition_skew", "ratio"),
    ("sparql.compile.py4j_calls", "count"),
    ("sparql.link_plus.jobs", "count"),
    ("streaming.apply.partitions_rewritten", "count"),
    ("dedup.candidate_pairs", "count"),
    ("dedup.verified_ratio", "ratio"),
    ("similarity.ivf_recall", "ratio"),
    ("linking.link_ratio", "ratio"),
)
FIELD_UNITS = {
    "wall_s": "s", "task_cpu_s": "s", "gc_s": "s", "input_mb": "MB",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "jobs": "count",
    "task_skew": "ratio",
}


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    driver JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> int:
        children: dict = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(pid))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop_event.wait(self.interval)

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=5)
        self.peak = max(self.peak, self.sample())


def configure_env(root: str, work: str, event_log: str | None, cores: int) -> None:
    """Everything the program writes stays under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_MAX_PARTITION_BYTES": "4m",
        "SPARK_GRAFT_OPEN_COST": "262144",
        "TMPDIR": tmp,
        # no /tmp/hsperfdata_*: the run writes only inside the checkout
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYTHONHASHSEED": "0",
    })
    args = [
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{event_log}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def start_session(tracer, cores: int):
    from jena_spark.session import get_spark

    with tracer.span("session", "session"):
        spark = get_spark(app="perfbench", master=f"local[{cores}]",
                          shuffle_partitions=cores)
        spark.sparkContext.setLogLevel("ERROR")
        # the first Python-worker job pays worker and Arrow start-up
        spark.range(0, cores * 4, numPartitions=cores).mapInPandas(
            lambda it: it, "id long").count()
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark and wait until the gateway JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def layer_output(counters: dict, tracer, event_log: str) -> tuple:
    import tracing

    folded = tracing.layer_metrics(tracer.spans, event_log)
    metrics = {
        name: {"value": value, "unit": FIELD_UNITS[name.rsplit(".", 1)[1]]}
        for name, value in folded["metrics"].items()
    }
    selfs = folded["self"]
    by_id = {s["id"]: s for s in tracer.spans}
    counters["sparql.compile.py4j_calls"] = sum(
        selfs[s["id"]]["py4j"] for s in tracer.spans if s["tag"] == "sparql.compile")

    def under(span_id, name):
        while span_id is not None:
            if by_id[span_id]["name"] == name:
                return True
            span_id = by_id[span_id]["parent"]
        return False

    counters["sparql.link_plus.jobs"] = sum(
        1 for j in folded["jobs"] if under(j["span"], "sparql_mix.link_plus"))
    for name, unit in COUNTERS:
        metrics[name] = {"value": counters.get(name, 0), "unit": unit}
    # op spans: self times of the layers plus unattributed cover the op
    ops = [s for s in tracer.spans if s["parent"] is None and s["trace"].startswith("round")]
    op_ids = {s["id"] for s in ops}
    in_ops = [s for s in tracer.spans if _root(s, by_id) in op_ids]
    span_check = {
        "op_wall_s": sum(s["end"] - s["start"] for s in ops),
        "layer_self_plus_unattributed_s": sum(selfs[s["id"]]["wall_s"] for s in in_ops),
    }
    return metrics, span_check, folded["jobs"]


def _root(span, by_id):
    while span["parent"] is not None:
        span = by_id[span["parent"]]
    return span["id"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "jena_spark", "__init__.py")):
        print("perfbench: run from the repository root (jena_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    import tracing
    from workloads import CORES, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{os.getpid()}")
    event_log = os.path.join(work, "eventlog") if args.trace else None
    configure_env(root, work, event_log, CORES[args.workload])

    py4j = tracing.Py4jCounter() if args.trace else None
    tracer = tracing.Tracer(enabled=bool(args.trace), py4j=py4j)
    rss = RssSampler()
    rss.start()
    wl = WORKLOADS[args.workload](args.seed, os.path.join(base, "cache"), work, tracer)
    phases = {}
    spark = None
    try:
        # set-up: JVM, SparkSession and Arrow warm-up once, then the
        # workload's starting state SETUP_REPS times from scratch
        mark = time.perf_counter()
        tracer.trace_id = "setup"
        spark = start_session(tracer, CORES[args.workload])
        session_s = time.perf_counter() - mark
        with tracer.span("prepare"):
            wl.prepare(spark)  # seeded inputs, cached per seed; untimed
        phases["session_prepare"] = time.perf_counter() - mark
        state_s = []
        for rep in range(SETUP_REPS):
            tracer.trace_id = f"setup{rep}"
            t0 = time.perf_counter()
            with tracer.span("setup.build"):
                wl.build(spark)
            state_s.append(time.perf_counter() - t0)
        wl.prepare_checks()
        if py4j is not None:
            py4j.install(spark)
        phases["setup"] = time.perf_counter() - mark - phases["session_prepare"]

        # one untimed warm-up round on sampled inputs, then whole rounds
        # until --seconds have passed; the traced run measures exactly one
        # round so its counts repeat
        ops, rounds, mark = [], 0, time.perf_counter()
        while True:
            tracer.trace_id = f"round{rounds}" if rounds else "warmup"
            try:
                recs = wl.run_round(spark, warm=rounds == 0)
            except Exception as e:  # one failed op; keep measuring
                traceback.print_exc()
                recs = [{"kind": "error", "s": 0.0, "items": 0, "ok": False,
                         "why": f"{type(e).__name__}: {e}"}]
            ops.extend(r | {"round": rounds} for r in recs)
            if rounds == 0:
                t_start = time.perf_counter()
                phases["warmup"] = t_start - mark
            elif args.trace or time.perf_counter() - t_start >= args.seconds:
                break
            rounds += 1
        phases["measure"] = time.perf_counter() - t_start
        counters = dict(wl.counters)
        if args.trace and hasattr(wl, "traced_counters"):
            tracer.trace_id = "counters"
            counters.update(wl.traced_counters(spark))
        wl.close()
        mark = time.perf_counter()
        stop_jvm(spark)
        spark = None
        phases["teardown"] = time.perf_counter() - mark
    finally:
        if spark is not None:
            try:
                stop_jvm(spark)
            except Exception:
                traceback.print_exc()
        rss.stop()

    failed = [o for o in ops if not o["ok"]]
    for o in failed[:5]:
        print(f"perfbench: failed {o['kind']}: {o['why']}", file=sys.stderr)
    timed = [o for o in ops if o["round"] and o["kind"] != "error"]
    if not timed:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1
    round_s = {}
    for o in timed:
        round_s[o["round"]] = round_s.get(o["round"], 0.0) + o["s"]
    e2e = {
        "setup_s": {"value": session_s + statistics.median(state_s), "unit": "s"},
        "round_s": {"value": statistics.median(round_s.values()), "unit": "s"},
        "op_geomean_s": {"value": statistics.geometric_mean(o["s"] for o in timed),
                         "unit": "s"},
    }
    phases["total"] = time.perf_counter() - T0
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops": len(timed), "rounds": rounds,
        "failed_op_ratio": {"value": len(failed) / len(ops), "unit": "ratio"},
        **e2e,
        # 10-25% apart between runs of the same code on a shared 4-core
        # host: too unsteady to carry a bound
        "peak_rss_mb": {"value": rss.peak / (1024 * 1024), "unit": "MB"},
        "session_s": session_s, "state_build_s": state_s, "phases_s": phases,
        "rounds_s": [round_s[r] for r in sorted(round_s)],
        **wl.detail(timed),
    }
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    last_untraced = os.path.join(results, f"{args.workload}.json")
    if args.trace:
        metrics, span_check, jobs = layer_output(counters, tracer, event_log)
        detail["span_check"] = span_check
        detail["trace_overhead"] = None
        if os.path.exists(last_untraced):
            with open(last_untraced) as f:
                ref = json.load(f)
            detail["trace_overhead"] = {
                k: e2e[k]["value"] - ref[k] for k in ("round_s", "op_geomean_s")
            } | {"untraced_seed": ref["seed"]}
        trace_dir = os.path.join(base, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        stem = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}")
        tracer.write(stem + ".spans.jsonl")
        with open(stem + ".jobs.json", "w") as f:
            json.dump(jobs, f)
    else:
        metrics = e2e
        with open(last_untraced, "w") as f:
            json.dump({"seed": args.seed, "round_s": e2e["round_s"]["value"],
                       "op_geomean_s": e2e["op_geomean_s"]["value"]}, f)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
