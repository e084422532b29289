"""Benchmark entry point.

    python3 perfbench/run.py --workload {build,probe,dedup_stream} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. The corpus is generated from ``--seed``
before the set-up timer starts; set-up (session start, corpus read and
persist, ground-truth hashing, the workload's sketch builds and an
untimed warm-up of every call) is reported as ``setup_s``. The workload
then runs whole rounds of its calls for ``--seconds`` (at least one), and
every answer is checked.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is the layer
run: it sets up all three workloads in turn, runs every call in its own
Spark job group, and reports per-call layer measures read from Spark's
status store, the numpy kernel timings, the error-bound utilisation and
the tracing overhead. It stamps ``tools.run_scaling.cpu_calibration``
before it starts Spark and writes its spans to ``.perfbench_out/``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. The exit code is non-zero on any wrong answer.
Generated data lives under ``.perfbench_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {"setup_s": "s", "rows_per_s": "rows/s", "op_ms_p50": "ms",
             "peak_rss_mb": "MB", "sketch_bytes": "bytes"}

PY = ["wall_s", "exec_cpu_s", "py_worker_s", "py_run_s", "to_python_bytes",
      "from_python_bytes", "task_skew", "pipe_rows_per_input_row"]
JVM = ["wall_s", "exec_cpu_s", "shuffle_bytes", "task_skew"]
SHUFFLED_PY = PY + ["shuffle_bytes"]
CACHING_PY = SHUFFLED_PY + ["cached_rdds_left"]
#: traced call -> the measures it reports (those zero by construction dropped)
CALL_MEASURES = {
    "agg.prepare_input": ["wall_s", "exec_cpu_s", "task_skew"],
    "agg.build_sketch.bloom": SHUFFLED_PY,
    "operators.sharded.build_sharded_bloom": SHUFFLED_PY,
    "jvm_build.hll_build_jvm": JVM,
    "jvm_build.cms_build_jvm": JVM,
    "agg.build_sketch.kll": SHUFFLED_PY,
    "jvm_build.hll_grouped_build_jvm": SHUFFLED_PY,
    "jvm_build.cms_grouped_build_jvm": CACHING_PY,
    "jvm_build.bloom_grouped_build_jvm": CACHING_PY,
    "agg.with_membership": PY,
    "agg.with_cms_count": PY,
    "operators.sharded.sharded_membership": SHUFFLED_PY,
    "sql.probe_query": PY,
    "streaming.dedup_stream.BloomDedupStream": CACHING_PY,
}
MEASURE_UNITS = {"wall_s": "s", "exec_cpu_s": "s", "py_worker_s": "s", "py_run_s": "s",
                 "to_python_bytes": "bytes", "from_python_bytes": "bytes",
                 "shuffle_bytes": "bytes", "task_skew": "ratio",
                 "cached_rdds_left": "count", "pipe_rows_per_input_row": "ratio"}
KERNEL_UNITS = {"sketches.bloom.update_ns": "ns", "sketches.hll.update_ns": "ns",
                "sketches.cms.update_ns": "ns", "sketches.kll.update_ns": "ns",
                "sketches.bloom.contains_ns": "ns", "sketches.cms.query_ns": "ns",
                "sketches.bloom.merge_ms": "ms", "sketches.bloom.to_bytes_ms": "ms",
                "sketches.bloom.from_bytes_ms": "ms"}
EXTRA_UNITS = {"accuracy.bloom.fpr_utilization": "ratio",
               "accuracy.hll.err_utilization": "ratio",
               "trace.overhead_pct": "%"}
#: the workload-specific figures printed above the JSON line
DETAIL_UNITS = {"build_turns_per_s": "turns/s", "grouped_turns_per_s": "turns/s",
                "passes": "count", "probe_keys_per_s": "keys/s", "membership_ms_p50": "ms",
                "cms_count_ms_p50": "ms", "sharded_probe_ms_p50": "ms",
                "sql_probe_ms_p50": "ms", "rounds": "count", "dedup_rows_per_s": "rows/s",
                "dedup_batch_ms_p50": "ms", "dedup_batch_ms_tail": "ms",
                "tail_percentile": "percentile", "batches": "count"}
TRACE_BATCHES = 2             # dedup batches per pass in the layer run


def per_layer_units() -> dict[str, str]:
    units = {f"{call}.{m}": MEASURE_UNITS[m]
             for call, ms in CALL_MEASURES.items() for m in ms}
    return {**units, **KERNEL_UNITS, **EXTRA_UNITS}


def configure_env(work: str) -> None:
    """Session settings for a run, set before pyspark starts the JVM."""
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    # fits a 15 GB box with room for the Python workers; config defaults to 16g
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the heap is committed and touched up front (-Xms = -Xmx, pre-touch) so
    # that peak_rss_mb does not swing with how much of it the collector
    # happened to use; -UsePerfData keeps the JVM from writing its counters
    # under /tmp
    heap = os.environ["SPARK_DRIVER_MEM"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{heap} -XX:+AlwaysPreTouch "
        f"-XX:-UsePerfData' "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell")


def process_tree(root: int) -> list[int]:
    """``root`` and every descendant."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_parts() -> dict[str, float]:
    """VmHWM in MB over this process tree, by kind: this process, the JVM,
    and the Python worker daemon with its workers."""
    parts = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    for pid in process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                status = dict(line.split(":", 1) for line in fh if ":" in line)
            kind = ("driver" if pid == os.getpid() else
                    "jvm" if status["Name"].strip() == "java" else "workers")
            parts[kind] += int(status["VmHWM"].split()[0]) / 1024
        except (OSError, KeyError, ValueError):
            continue
    return parts


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for every child to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()   # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(process_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


class timed:
    """Adds the block's wall time to ``phases[name]``."""
    def __init__(self, phases: dict, name: str):
        self.phases, self.name = phases, name

    def __enter__(self):
        self.t0 = time.perf_counter()

    def __exit__(self, *exc):
        self.phases[self.name] = time.perf_counter() - self.t0


def layer_metrics(spans: list[dict]) -> dict[str, float]:
    """Median of each call's traced spans, per measure."""
    out = {}
    for call, measures in CALL_MEASURES.items():
        recs = [s for s in spans if s["name"] == call and s["traced"]]
        for m in measures:
            vals = [s.get(m, 0.0) for s in recs]
            out[f"{call}.{m}"] = statistics.median(vals) if vals else 0.0
    return out


def layer_run(b, w, phases: dict) -> None:
    """Set up each workload in turn and run its calls traced. Workloads run
    one after another so that one's set-up caches never serve another's
    calls. The probe and dedup_stream calls, whose fixed per-call costs
    tracing could inflate, also run once untraced, for the overhead."""
    def run_as(name, traced, fn):
        b.tracer.enabled = traced
        b.tracer.parent = f"{name}/{'traced' if traced else 'untraced'}"
        fn()
        b.tracer.enabled, b.tracer.parent = False, ""

    with timed(phases, "build_setup"):
        w.build_setup(b)
        w.scan_hash(b, b.df, record=False)
    run_as("build", True, lambda: (w.scan_hash(b, b.df), w.run_all(
        w.global_calls(b, b.df) + w.grouped_calls(b, b.df))))
    with timed(phases, "probe_setup"):
        w.probe_setup(b)
    for traced in (False, True):
        run_as("probe", traced, lambda: [q() for q in w.probe_queries(b)])
    with timed(phases, "dedup_setup"):
        w.dedup_setup(b)
    for traced in (False, True):
        run_as("dedup_stream", traced, lambda: w.dedup_pass(b, TRACE_BATCHES))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["build", "probe", "dedup_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "bloomfilter_spark")):
        print("perfbench: run from a checkout that holds bloomfilter_spark/",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    sys.path[:0] = [ROOT, HERE]
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass          # another run still uses it


def run(args, work: str) -> int:
    import corpus as gen
    import kernels
    import workloads as w
    from bloomfilter_spark.config import get_spark
    from tools.run_scaling import cpu_calibration
    from tracing import Tracer

    phases: dict[str, float] = {}
    with timed(phases, "generate"):
        data = os.path.join(work, "corpus")
        c = gen.generate(data, w.N_TURNS, args.seed, w.N_CONVS)
        truth = w.Truth(c, gen.probe_set(c, w.N_PROBES, args.seed))
    # one stamp (~18 s) before the run: the host's state when it started
    calibration = cpu_calibration() if args.trace else None

    t0 = time.perf_counter()
    with timed(phases, "session_start"):
        spark = get_spark("perfbench")
    try:
        with timed(phases, "read_persist"):
            df = spark.read.parquet(data)
            # the builds run over a persisted corpus; probe builds its
            # sketches once, straight from parquet, and dedup_stream
            # persists just its stream
            if args.trace or args.workload == "build":
                df = df.persist()
                df.count()
        with timed(phases, "truth_hashes"):
            probes = truth.hash_with(spark)
        b = w.Bench(spark, Tracer(spark, enabled=False), truth, df, probes, work)
        if args.trace:
            layer_run(b, w, phases)
            with timed(phases, "kernels"):
                metrics = layer_metrics(b.tracer.spans)
                metrics.update(kernels.kernel_metrics(
                    args.seed, w.BLOOM_CAPACITY, w.N_TURNS, w.CORPUS_FPR))
            walls = {kind: sum(s["wall_s"] for s in b.tracer.spans
                               if s["parent"] in (f"probe/{kind}", f"dedup_stream/{kind}"))
                     for kind in ("traced", "untraced")}
            metrics["accuracy.bloom.fpr_utilization"] = statistics.median(b.checks.fpr_util)
            metrics["accuracy.hll.err_utilization"] = statistics.median(b.checks.hll_util)
            metrics["trace.overhead_pct"] = 100.0 * (walls["traced"] / walls["untraced"] - 1)
            units = per_layer_units()
        else:
            setup, runner = w.WORKLOADS[args.workload]
            with timed(phases, f"{args.workload}_setup"):
                setup(b)
            setup_s = time.perf_counter() - t0
            res = runner(b, args.seconds)
            rss = peak_rss_parts()
            metrics = {"setup_s": setup_s, "rows_per_s": res["rows_per_s"],
                       "op_ms_p50": res["op_ms_p50"], "peak_rss_mb": sum(rss.values()),
                       "sketch_bytes": res["sketch_bytes"]}
            units = E2E_UNITS
            for k, v in res["detail"].items():
                print(f"{k}: {v} {DETAIL_UNITS[k]}" if v is not None
                      else f"{k}: n/a, needs more than ten samples")
            for k, v in rss.items():
                print(f"peak_rss_mb.{k}: {v:.1f} MB")
            for k, v in b.times.items():
                print(f"call.{k}: {len(v)} x, median {1e3 * statistics.median(v):.1f} ms")
    finally:
        stop_spark(spark)

    for k, v in phases.items():
        print(f"phase.{k}: {v:.3f} s")
    checks = b.checks
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"seed": args.seed, "phases_s": phases, "cpu_calibration": calibration,
                       "spans": b.tracer.spans}, fh, indent=1)
        print(f"spans: {path}")
        print(f"cpu_calibration: {json.dumps(calibration)}")
    error_rate = checks.failed / max(checks.attempted, 1)
    print(f"error_rate: {error_rate} ({checks.failed}/{checks.attempted})"
          + (f" failed: {sorted(set(checks.failures))}" if checks.failures else ""))
    for k, v in metrics.items():
        print(f"{k}: {v} {units[k]}")
    correct = checks.failed == 0 and checks.attempted > 0
    print(json.dumps({
        "correct": correct, "attempted": checks.attempted, "failed": checks.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
