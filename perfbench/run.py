"""Benchmark of the doris_spark engine: one command, one workload per run.

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 they are the
per-layer ones, from a run whose passes alternate untraced and traced.
A line before it carries the run's diagnostics: the drift control, load
average, CPU steal, the wall time of each phase of the run, sample
counts, each pass's CPU time, the wall-time query_p50_ms and stream_s,
per-operation median latencies and every failure by operation and
exception type.
See perfbench/README.md for the workloads and what each metric measures.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data")
WORKLOADS = ("llm_curation", "ingest_upsert")


def isolate(run_dir: str) -> None:
    """Point every temp, scratch and warehouse location of this process,
    the JVM it launches and its Python workers at a fresh directory, and
    put the checkout root on the workers' import path."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "pyspark-shell")
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.chdir(run_dir)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "doris_spark")):
        print(f"perfbench: no doris_spark package under {ROOT}", file=sys.stderr)
        return 2
    # half the CPUs the process may use: the JVM's compiler and collector
    # threads, the Python client and the Python workers run beside the
    # Spark task threads, and on a shared host the spare CPUs absorb
    # their work and the host's, instead of delaying a stage
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    sys.path.insert(0, ROOT)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=_mkdir(os.path.join(ROOT, ".perfbench_tmp")))
    try:
        isolate(run_dir)
        return run(args, cpus, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)


def _mkdir(path: str) -> str:
    os.makedirs(path, exist_ok=True)
    return path


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _steal_pct(before: list[int], after: list[int]) -> float:
    """Share of this machine's CPU time taken by its host (steal) between
    two readings: the usual cause of a run that is slow as a whole."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d) if sum(d) else 0.0


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin
    closes) and wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args, cpus: int, run_dir: str) -> int:
    from harness import Harness, RssSampler, end_to_end, per_layer, wall_metrics

    rss = RssSampler()
    if args.trace:  # memory is a per-layer metric
        rss.start()
    load_start = os.getloadavg()[0]
    cpu_start = _cpu_times()
    h = Harness(os.path.join(DATA_DIR, args.workload), run_dir, cpus)
    if args.workload == "llm_curation":
        from llm_curation import LlmCuration as W
    else:
        from ingest_upsert import IngestUpsert as W
    wl = W(h, args.seed)
    phase = {"harness": time.perf_counter() - T_PROCESS}
    try:
        h.start(trace=bool(args.trace))
        h.tracer.enabled = False  # the warm-up is not traced
        wl.prepare()
        # set-up ends when the workload is warm; the benchmark's own
        # result checks in the warm-up pass are not part of it
        setup_s = time.perf_counter() - T_PROCESS - h.check_s
        phase["setup"] = time.perf_counter() - T_PROCESS
        control_before = h.control()
        t = time.perf_counter()
        passes = h.stream(wl.run_pass, args.seconds, wl.min_passes, bool(args.trace))
        phase["stream"] = time.perf_counter() - t
        control_after = h.control()
        rss.stop()
        live_heap = h.live_heap_mb() if args.trace else 0.0
        # the oracle and final-state checks run after every timed and
        # sampled window
        t = time.perf_counter()
        final_ok = wl.final_check()
        extra = wl.extra_metrics()
        phase["check"] = time.perf_counter() - t
    finally:
        rss.stop()
        t = time.perf_counter()
        if hasattr(h, "spark"):
            stop_spark(h.spark)
        phase["stop"] = time.perf_counter() - t

    failures: dict[str, int] = {}
    for r in h.records:
        if r["error"]:
            key = f"{r['name']}: {r['error']}"
            failures[key] = failures.get(key, 0) + 1
    if not final_ok:
        failures["final_state: WrongResult"] = 1
    failed = sum(failures.values())
    attempted = len(h.records) + 1
    wall = wall_metrics(h, passes)
    if args.trace:
        metrics = per_layer(h, passes, extra)
        metrics.update(wall)
        metrics["env.control_s"] = ((control_before + control_after) / 2, "s")
        metrics["peak_rss_mb"] = (rss.peak_bytes / 2**20, "MB")
        metrics["jvm.live_heap_mb"] = (live_heap, "MB")
        spans_out = os.path.join(_mkdir(os.path.join(ROOT, ".perfbench_out")),
                                 f"spans-{args.workload}-seed{args.seed}.json")
        with open(spans_out, "w") as f:
            json.dump(h.tracer.spans, f)
    else:
        metrics = end_to_end(passes, setup_s)
    timed = [r for r in h.records if r["pass"] >= 0 and not r["traced"]]
    by_op: dict[str, list[float]] = {}
    for r in timed:
        by_op.setdefault(r["name"], []).append(r["s"] * 1000)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "env.control_s": [control_before, control_after],
        "loadavg_1m": [load_start, os.getloadavg()[0]],
        "cpu_steal_pct": _steal_pct(cpu_start, _cpu_times()),
        "phase_s": phase,
        "passes": len(passes),
        "timed_reads": sum(1 for r in timed if r["kind"] == "read"),
        "pass_cpu_s": [p["cpu_s"] for p in passes],
        **{k: v for k, (v, _) in wall.items()},
        "op_median_ms": {k: statistics.median(v) for k, v in sorted(by_op.items())},
        "error_rate": failed / attempted, "failures": failures,
    }))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
