"""Set-up, the timed operation loop, and the metrics computed from it.

One process, one client, closed loop: an operation starts only after the
previous one has returned and its result has been checked. Each
operation runs under its own Spark job group, so a watchdog can cancel
it and the traced run can read its jobs and stages afterwards.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from collections import Counter
from contextlib import contextmanager

from spans import (Tracer, catalyst_phases, job_group_stages, self_times, union,
                   wait_for_listener)

# An operation still running after this long is cancelled and counts as
# failed; a failed operation's latency counts as this value, so it misses
# every latency limit.
OP_TIMEOUT_S = 60.0

OPERATOR_MODULES = ("dedup", "textops", "vector", "multimodal")


def _proc_tree() -> tuple[dict[int, list[int]], dict[int, str], dict[int, list[str]]]:
    """(children, command name, stat fields after the name) of every
    process on the machine, from /proc."""
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    stat: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, _, tail = f.read().rpartition(")")
        except OSError:
            continue
        pid, fields = int(d), tail.split()
        comm[pid] = head.partition("(")[2]
        stat[pid] = fields
        children.setdefault(int(fields[1]), []).append(pid)
    return children, comm, stat


def _descendants(children: dict[int, list[int]], comm: dict[int, str]) -> list[int]:
    """This process and all its descendants: the Spark JVM and the Python
    workers. A process the JVM has forked but not yet exec'd is left out:
    it shows the JVM's own pages."""
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(c for c in children.get(pid, ())
                    if not comm.get(c) == comm.get(pid) == "java")
    return out


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _ticks(fields: list[str]) -> int:
    """utime + stime + cutime + cstime of a /proc stat line."""
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants, with
    the children they have reaped. The kernel leaves out the time the
    host stole from this machine's CPUs (steal), which wall time on a
    shared host includes."""
    children, comm, stat = _proc_tree()
    return _TICK_S * sum(_ticks(stat[pid]) for pid in _descendants(children, comm)
                         if pid in stat)


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in _descendants(*_proc_tree()[:2]):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        if self.is_alive():
            self.join()


class Harness:
    def __init__(self, data_dir: str, run_dir: str, cpus: int) -> None:
        from doris_spark import queries as Q

        Q.load_all()
        self.queries = Q
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.cpus = cpus
        self.tracer = Tracer()
        self.records: list[dict] = []
        self.counters: Counter = Counter()
        self.setup_parts: dict[str, float] = {}
        self.registered = 0
        self._collected: list = []
        self._n = 0
        self.pass_no = -1  # -1: preparation and warm-up, untimed
        self.check_s = 0.0  # time spent checking results, outside the ops
        self.op_py_cpu_s = 0.0  # CPU time of this process inside the ops

    @contextmanager
    def checking(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t

    # ------------------------------------------------------------ set-up

    def start(self, trace: bool) -> None:
        """Start the session, register the Doris functions, load tables.
        With tracing on, every public operator function is wrapped so its
        calls show up as spans."""
        import doris_spark.functions as fns
        from doris_spark.operators import dedup, multimodal, textops, vector
        from doris_spark.plans import dialect, mv_rewrite, sql_macros
        from doris_spark.session import get_spark, load_tables

        register_all = fns.register_all

        def counted_register(spark):
            t = time.perf_counter()
            with self.tracer.span("functions.register"):
                self.registered = register_all(spark)
            self.setup_parts["functions.register_s"] = time.perf_counter() - t
            return self.registered

        fns.register_all = counted_register
        if trace:
            for mod in (dedup, textops, vector, multimodal):
                name = "operators." + mod.__name__.rsplit(".", 1)[1]
                for attr, val in list(vars(mod).items()):
                    if callable(val) and not attr.startswith("_") \
                            and getattr(val, "__module__", None) == mod.__name__ \
                            and not isinstance(val, type) and not hasattr(val, "evalType"):
                        self.tracer.wrap(mod, attr, name)
            self.tracer.wrap(dialect, "dialect", "plans.rewrite")
            self.tracer.wrap(sql_macros, "rewrite", "plans.rewrite")
            self.tracer.wrap(mv_rewrite, "try_rewrite", "plans.mv_rewrite")
        self.tracer.enabled = trace
        self.tracer.op = "setup"
        t = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark("perfbench", cpus=self.cpus)
        self.setup_parts["session.start_s"] = (
            time.perf_counter() - t - self.setup_parts.get("functions.register_s", 0.0))
        self.spark.sparkContext.setLogLevel("ERROR")
        t = time.perf_counter()
        with self.tracer.span("session.tables"):
            self.tables = load_tables(self.spark, self.data_dir)
        self.setup_parts["session.tables_s"] = time.perf_counter() - t

    def live_heap_mb(self) -> float:
        """JVM heap in use after a full collection: what the program
        retains, independent of when the JVM chose to grow its heap."""
        mx = self.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        mx.gc()
        return mx.getHeapMemoryUsage().getUsed() / 2**20

    def control(self) -> float:
        """Seconds of the fixed CPU-burn control query (drift diagnostic)."""
        t = time.perf_counter()
        self.queries.QUERIES["control_fixed_cpu_burn"](self.spark, self.data_dir).collect()
        return time.perf_counter() - t

    # ------------------------------------------------------- operations

    def collect(self, df) -> list:
        """Collect a DataFrame's rows into this process (the execution span)."""
        self._collected.append(df)
        with self.tracer.span("exec.collect"):
            return df.collect()

    def op(self, kind: str, name: str, fn):
        """Run one operation; returns (output, record). `record["error"]`
        is set on failure; the caller sets it when the output is wrong."""
        sc = self.spark.sparkContext
        group = f"perfbench-op{self._n}"
        self._n += 1
        sc.setJobGroup(group, name)
        watchdog = threading.Timer(OP_TIMEOUT_S, sc.cancelJobGroup, [group])
        watchdog.start()
        self.tracer.op = group
        self._collected = []
        root = len(self.tracer.spans)
        out, err = None, None
        py_cpu = time.process_time()
        t = time.perf_counter()
        try:
            with self.tracer.span("op"):
                out = fn()
            dt = time.perf_counter() - t
        except Exception as e:  # noqa: BLE001 - every failure is counted
            dt, err = OP_TIMEOUT_S, type(e).__name__
        finally:
            self.op_py_cpu_s += time.process_time() - py_cpu
            watchdog.cancel()
            sc.setLocalProperty("spark.jobGroup.id", None)
        rec = {"kind": kind, "name": name, "s": dt, "error": err,
               "pass": self.pass_no, "traced": self.tracer.enabled}
        self.records.append(rec)
        if self.tracer.enabled:
            self._read_spark(group, root, kind)
        return out, rec

    def wrong(self, rec: dict, why: str) -> None:
        rec["error"] = "WrongResult"
        rec["detail"] = why
        rec["s"] = OP_TIMEOUT_S

    def _read_spark(self, group: str, root: int, kind: str) -> None:
        wait_for_listener(self.spark)
        jobs, stages = job_group_stages(self.spark, group)
        for df in self._collected:
            try:
                phases = catalyst_phases(df)
            except Exception:  # noqa: BLE001 - a DataFrame without a tracker
                continue
            for p, (s, e) in phases.items():
                self.tracer.attach(root, "catalyst." + p, s, e)
        for st in stages:
            self.tracer.attach(root, "exec.stage", st["start"], st["end"])
        c = self.counters
        builds = [(s["start"], s["end"]) for s in self.tracer.spans[root:]
                  if s["name"] == "queries.build"]
        c["exec.jobs"] += len(jobs)
        c["queries.build_jobs"] += sum(
            1 for j in jobs if j["submitted"] is not None
            and any(lo <= self.tracer.perf(j["submitted"]) <= hi for lo, hi in builds))
        c["exec.stages"] += len(stages)
        # the per-row work of an operator runs inside the stages of the
        # operation that called it: charge their active time to each
        # operator module the operation entered
        stage_s = union([(self.tracer.perf(st["start"]), self.tracer.perf(st["end"]))
                          for st in stages])
        for name in {s["name"] for s in self.tracer.spans[root:]
                     if s["name"].startswith("operators.")}:
            c[name + ".stage_s"] += stage_s
        for st in stages:
            for k in ("tasks", "task_cpu_s", "gc_s", "input_bytes", "shuffle_read_bytes",
                      "shuffle_write_bytes", "spill_bytes"):
                c["exec." + k] += st[k]
            if kind == "write":
                c["storage.rows_moved"] += st["output_records"] + st["shuffle_write_records"]
                c["storage.bytes_written"] += st["output_bytes"]

    def count(self, key: str, n: float) -> None:
        if self.tracer.enabled:
            self.counters[key] += n

    # ----------------------------------------------------------- the loop

    def stream(self, run_pass, seconds: float, min_passes: int, traced_run: bool) -> list[dict]:
        """Run whole passes until `seconds` have passed and at least
        `min_passes` have run. With tracing on, passes alternate untraced
        and traced, so one run also gives the tracing overhead. Returns
        one entry per pass, holding the records of its operations (a check
        made after the stream may still mark one wrong)."""
        if traced_run:
            min_passes = max(2, min_passes)
        passes = []
        t_start = time.perf_counter()
        i = 0
        while True:
            self.pass_no = i
            self.tracer.enabled = traced_run and i % 2 == 1
            first = len(self.records)
            cpu, py_cpu, op_py_cpu = tree_cpu_s(), time.process_time(), self.op_py_cpu_s
            run_pass(i)
            # the program's CPU time in the pass: the JVM and the Python
            # workers throughout, this process only inside the operations
            # (not while it makes inputs or checks results)
            bench_cpu = (time.process_time() - py_cpu) - (self.op_py_cpu_s - op_py_cpu)
            passes.append({"records": self.records[first:], "traced": self.tracer.enabled,
                           "cpu_s": tree_cpu_s() - cpu - bench_cpu})
            i += 1
            if time.perf_counter() - t_start >= seconds and i >= min_passes:
                break
        self.tracer.enabled = False
        return passes


def _pass_s(p: dict) -> float:
    """Seconds a pass spent inside its operations."""
    return sum(r["s"] for r in p["records"])


def _pass_cpu_s(p: dict) -> float:
    """CPU seconds of a pass; a failed operation adds the timeout, as it
    does to the pass's wall time."""
    return p["cpu_s"] + sum(OP_TIMEOUT_S for r in p["records"] if r["error"])


def wall_metrics(h: Harness, passes: list[dict]) -> dict:
    """Wall-time latency of the untraced passes."""
    timed = [r for r in h.records if r["pass"] >= 0 and not r["traced"]]
    reads = [r["s"] * 1000 for r in timed if r["kind"] == "read"]
    untraced = [_pass_s(p) for p in passes if not p["traced"]]
    return {
        "query_p50_ms": (statistics.median(reads), "ms"),
        "stream_s": (statistics.median(untraced), "s"),
    }


def end_to_end(passes: list[dict], setup_s: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "stream_cpu_s": (statistics.median(_pass_cpu_s(p) for p in passes
                                           if not p["traced"]), "s"),
    }


def per_layer(h: Harness, passes: list[dict], extra: dict) -> dict:
    """Per-layer metrics of the traced passes, per pass of the stream
    (set-up metrics once per run)."""
    traced = [p for p in passes if p["traced"]]
    n = max(1, len(traced))
    spans = h.tracer.spans
    st = Counter(self_times(spans, lambda op: op != "setup"))
    c = h.counters
    op_wall = sum(s["end"] - s["start"] for s in spans if s["name"] == "op")
    accounted = sum(v for k, v in st.items() if k != "op")
    untr = [_pass_s(p) for p in passes if not p["traced"]]
    tr = [_pass_s(p) for p in traced]
    writes = [r for r in h.records if r["pass"] >= 0 and r["traced"] and r["kind"] == "write"]
    write_ms = [r["s"] * 1000 for r in writes]
    write_s = sum(r["s"] for r in writes)
    mb = 2**20
    m = {
        "session.start_s": (h.setup_parts.get("session.start_s", 0.0), "s"),
        "session.tables_s": (h.setup_parts.get("session.tables_s", 0.0), "s"),
        "functions.register_s": (h.setup_parts.get("functions.register_s", 0.0), "s"),
        "functions.registered": (h.registered, "count"),
        "queries.build_s": (st["queries.build"] / n, "s"),
        "queries.build_jobs": (c["queries.build_jobs"] / n, "count"),
        "catalyst.analysis_s": (st["catalyst.analysis"] / n, "s"),
        "catalyst.optimization_s": (st["catalyst.optimization"] / n, "s"),
        "catalyst.planning_s": (st["catalyst.planning"] / n, "s"),
        "exec.jobs": (c["exec.jobs"] / n, "count"),
        "exec.stages": (c["exec.stages"] / n, "count"),
        "exec.residual_s": (st["exec.collect"] / n, "s"),
        "exec.stage_active_s": (st["exec.stage"] / n, "s"),
        "exec.task_cpu_s": (c["exec.task_cpu_s"] / n, "s"),
        "exec.gc_s": (c["exec.gc_s"] / n, "s"),
        "exec.tasks": (c["exec.tasks"] / n, "count"),
        "exec.shuffle_read_mb": (c["exec.shuffle_read_bytes"] / mb / n, "MB"),
        "exec.shuffle_write_mb": (c["exec.shuffle_write_bytes"] / mb / n, "MB"),
        "exec.spill_mb": (c["exec.spill_bytes"] / mb / n, "MB"),
        "exec.input_mb": (c["exec.input_bytes"] / mb / n, "MB"),
        "engine.sql_s": (st["engine.sql"] / n, "s"),
        "engine.dml_s": (st["engine.dml"] / n, "s"),
        "plans.rewrite_s": (st["plans.rewrite"] / n, "s"),
        "plans.mv_rewrite_s": (st["plans.mv_rewrite"] / n, "s"),
        "streaming.merge_s": (st["streaming.merge"] / n, "s"),
        "mtmv.refresh_s": (st["mtmv.refresh"] / n, "s"),
        "mtmv.partitions_refreshed": (c["mtmv.partitions_refreshed"] / n, "count"),
        "plans.mv_rewrite_hits": (c["plans.mv_rewrite_hits"] / n, "count"),
        "write_p50_ms": (statistics.median(write_ms) if write_ms else 0.0, "ms"),
        "ingest_rows_per_s": (c["storage.rows_ingested"] / write_s if write_s else 0.0,
                              "1/s"),
        "bench.op_other_s": (st["op"] / n, "s"),
        "trace.accounted_pct": (100.0 * accounted / op_wall if op_wall else 0.0, "%"),
        "trace.overhead_pct": (
            100.0 * (statistics.median(tr) / statistics.median(untr) - 1) if tr and untr
            else 0.0, "%"),
    }
    for mod in OPERATOR_MODULES:
        m[f"operators.{mod}_s"] = (st[f"operators.{mod}"] / n, "s")
        m[f"operators.{mod}_stage_s"] = (c[f"operators.{mod}.stage_s"] / n, "s")
    # metrics of a layer the workload does not reach read 0
    for k, u in (("storage.rows_rewritten_per_row", "count"), ("storage.write_amp", "ratio"),
                 ("storage.space_amp", "ratio")):
        m[k] = (0.0, u)
    m.update(extra)
    return m
