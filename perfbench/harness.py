"""Shared run harness: session boot, the closed-loop timed window, and the
outside-in counters every workload reports.

Everything here observes the program from outside.  Wall times come from
``time.perf_counter`` around calls into the program's public functions;
Spark's own counters come from the driver's status store, read after each
call for the jobs the call started; JVM counters come from the
``ManagementFactory`` beans; memory and CPU of the JVM and its Python
workers come from ``/proc``.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
MB = 1024.0 * 1024.0


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def process_start_perf() -> float:
    """This process's start time on the ``perf_counter`` clock, taken from
    ``/proc/self/stat`` so interpreter start-up and imports count as set-up."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    age = uptime - start_ticks / CLK_TCK
    return time.perf_counter() - max(age, 0.0)


# ---------------------------------------------------------------------------
# /proc readers
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE_KB
    except (OSError, ValueError, IndexError):
        return 0


def cpu_s(pid: int, with_children: bool = True) -> float:
    """utime + stime (+ reaped children) of one process, in seconds."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    ticks = int(f[11]) + int(f[12]) + ((int(f[13]) + int(f[14])) if with_children else 0)
    return ticks / CLK_TCK


def calibrate_ms(reps: int = 5) -> float:
    """Median wall time of a fixed pure-Python loop: a host-speed probe that
    shows when the machine itself ran slower, independent of the program."""
    took = []
    for _ in range(reps):
        t = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc = (acc * 31 + i) % 1_000_003
        took.append(time.perf_counter() - t)
    return 1000.0 * statistics.median(took)


def host_cpu() -> tuple[float, float]:
    """(busy seconds excluding steal, steal seconds) summed over host CPUs."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f[:8]
    return (user + nice + system + irq + softirq) / CLK_TCK, steal / CLK_TCK


def _wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until every pid has exited; kill what is left at the deadline."""
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            with contextlib.suppress(OSError):
                os.kill(pid, 9)


class RssSampler:
    """Samples the summed RSS of the JVM and its Python workers every
    ``period`` seconds on a daemon thread and keeps the peak."""

    def __init__(self, jvm_pid: int, period: float = 0.1):
        self.jvm_pid, self.period = jvm_pid, period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self) -> int:
        total = rss_kb(self.jvm_pid) + sum(rss_kb(p) for p in descendants(self.jvm_pid))
        self.peak_kb = max(self.peak_kb, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


# ---------------------------------------------------------------------------
# Spark and JVM counters
# ---------------------------------------------------------------------------


class SparkCounters:
    """Exact per-call Spark work, read from the driver's status store.

    Jobs are taken by id range: the DAG scheduler numbers jobs in
    submission order, and the benchmark is a single closed-loop client, so
    the jobs a call started are exactly the ids handed out during it.  A job
    group would not do: a streaming query's micro-batch thread replaces it
    with the query's run id.  The store keeps the last 1000 jobs and
    stages, so it is read right after each call."""

    FIELDS = ("jobs", "stages", "tasks", "run_ms", "cpu_ns", "shuffle_b", "spill_b", "input_b", "gc_ms")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc
        self.dag = self.jsc.sc().dagScheduler()
        self.store = self.jsc.sc().statusStore()
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        self.jit_bean = mf.getCompilationMXBean()
        self.gc_beans = list(mf.getGarbageCollectorMXBeans())

    def next_job_id(self) -> int:
        return int(self.dag.numTotalJobs())

    def jobs_between(self, first: int, end: int) -> dict:
        out = dict.fromkeys(self.FIELDS, 0)
        tracker = self.jsc.statusTracker()
        stage_ids: set[int] = set()
        for jid in range(first, end):
            info = tracker.getJobInfo(jid)
            out["jobs"] += 1
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds())
        for sid in stage_ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # evicted or never submitted (py4j wraps NoSuchElementException)
                continue
            if str(st.status()) != "COMPLETE":
                continue  # SKIPPED: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += int(st.numTasks())
            out["run_ms"] += int(st.executorRunTime())
            out["cpu_ns"] += int(st.executorCpuTime())
            out["shuffle_b"] += int(st.shuffleReadBytes()) + int(st.shuffleWriteBytes())
            out["spill_b"] += int(st.diskBytesSpilled())
            out["input_b"] += int(st.inputBytes())
            out["gc_ms"] += int(st.jvmGcTime())
        return out

    def jit_ms(self) -> int:
        return int(self.jit_bean.getTotalCompilationTime())

    def gc_ms(self) -> int:
        return sum(int(b.getCollectionTime()) for b in self.gc_beans)


# ---------------------------------------------------------------------------
# Tracing
# ---------------------------------------------------------------------------


class Tracer:
    """Spans recorded around calls into the program's layers.

    A span has a name, start, end, parent and the id of the timed operation
    it belongs to; Spark counts for the jobs it started are attached when
    ``counted=True``.  Spans stay in memory and are written out at the end
    of the run.  Disabled, ``span`` costs one attribute test."""

    def __init__(self, enabled: bool, counters: SparkCounters | None):
        self.enabled = enabled
        self.counters = counters
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextlib.contextmanager
    def span(self, name: str, counted: bool = False, **attrs):
        if not self.enabled or self.op_id is None:  # only timed operations are traced
            yield None
            return
        t_in = time.perf_counter()
        rec = {"name": name, "op": self.op_id, "parent": self._stack[-1] if self._stack else None, **attrs}
        rec["id"] = len(self.spans)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        first = self.counters.next_job_id() if counted else None
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if counted:
                rec["spark"] = self.counters.jobs_between(first, self.counters.next_job_id())
            self.overhead_s += time.perf_counter() - rec["end"]

    def self_time(self, rec: dict) -> float:
        """Span duration minus the union of its children's intervals."""
        kids = sorted((s["start"], s["end"]) for s in self.spans if s["parent"] == rec["id"])
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]


# ---------------------------------------------------------------------------
# The run
# ---------------------------------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


class Run:
    """One benchmark process: owns the run directory, the SparkSession, the
    samplers, and the accounting of attempted/failed operations."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool, t0: float):
        self.root, self.workload, self.seed = root, workload, seed
        self.seconds, self.trace_on, self.t0 = seconds, trace, t0
        self.dir = os.path.join(root, ".perfbench_runs", f"{workload}-s{seed}-p{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(os.path.join(self.dir, "tmp"))
        self.records: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.setup: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.detail: dict = {}
        self.spark = None
        self.rss: RssSampler | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    # -- session ----------------------------------------------------------
    def boot(self) -> None:
        """Start the program's own SparkSession (its defaults, with the
        host's CPU count) and run one trivial job so the JVM, the executor
        threads and the Python gateway are up before anything is timed."""
        from recsys_pipeline_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}")
        self.spark.range(1).count()
        self.setup["session_s"] = time.perf_counter() - t
        self.setup["boot_s"] = time.perf_counter() - self.t0
        self.counters = SparkCounters(self.spark)
        self.tracer = Tracer(self.trace_on, self.counters)
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.rss = RssSampler(self.jvm_pid)
        self.rss.start()

    def repeat_prepare(self, prepare, times: int = 3) -> None:
        """Run the workload's repeatable set-up step ``times`` times (each
        into a fresh directory) and keep the median; the last result is the
        one the run uses."""
        took = []
        for k in range(times):
            t = time.perf_counter()
            prepare(k)
            took.append(time.perf_counter() - t)
        self.setup["prepare_s"] = median(took)
        self.setup["prepare_all_s"] = took

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(what)
            log(f"check failed: {what}")

    # -- the timed window -------------------------------------------------
    def warm_up(self, op, times: int = 1) -> None:
        """``times`` discarded operations; their wall time is set-up time."""
        t = time.perf_counter()
        jit0 = self.counters.jit_ms()
        for k in range(times):
            try:
                op(-1 - k)
            except Exception as ex:  # a warm-up failure shows again in the timed window
                log(f"warm-up op failed: {type(ex).__name__}: {ex}")
        self.setup["warm_s"] = time.perf_counter() - t
        self.setup["warm_jit_s"] = (self.counters.jit_ms() - jit0) / 1000.0

    def timed(self, op) -> list[dict]:
        """Closed loop: the next operation starts when the previous one has
        returned, until ``seconds`` have passed.  Each record carries the
        operation's wall time and the exact Spark work it started."""
        # set-up = boot + the median repeatable step + warm-up
        self.setup["setup_s"] = self.setup["boot_s"] + self.setup["prepare_s"] + self.setup["warm_s"]
        self.layer["host.calib_ms"] = calibrate_ms()
        self.setup["to_first_op_s"] = time.perf_counter() - self.t0
        self.setup["jit_setup_s"] = self.counters.jit_ms() / 1000.0
        records = []
        host0, jit0, gc0 = host_cpu(), self.counters.jit_ms(), self.counters.gc_ms()
        tree0 = self._tree_cpu()
        t_start = time.perf_counter()
        t_end = t_start + self.seconds
        i = 0
        while True:
            self.tracer.op_id = i
            if self.trace_on:
                first, py0 = self.counters.next_job_id(), self._worker_cpu()
            ov0 = self.tracer.overhead_s
            self.attempted += 1
            t = time.perf_counter()
            try:
                with self.tracer.span(f"{self.workload}.op"):
                    rec = op(i) or {}
                rec["wall_s"] = time.perf_counter() - t
                rec["ok"] = True
            except Exception as ex:
                rec = {"wall_s": time.perf_counter() - t, "ok": False, "error": f"{type(ex).__name__}: {ex}"[:500]}
                self.failed += 1
                log(f"op {i} failed: {rec['error']}")
            if self.trace_on:
                t_c = time.perf_counter()
                rec["spark"] = self.counters.jobs_between(first, self.counters.next_job_id())
                rec["py_cpu_s"] = self._worker_cpu() - py0
                self.tracer.overhead_s += time.perf_counter() - t_c
            rec["trace_overhead_s"] = self.tracer.overhead_s - ov0
            records.append(rec)
            i += 1
            if time.perf_counter() >= t_end:
                break
        window = time.perf_counter() - t_start
        self.tracer.op_id = None
        host1 = host_cpu()
        n = len(records)
        self.detail["window_s"] = window
        self.layer["jvm.gc_s"] = (self.counters.gc_ms() - gc0) / 1000.0 / n
        self.layer["jvm.jit_timed_s"] = (self.counters.jit_ms() - jit0) / 1000.0 / n
        self.layer["host.steal_s"] = (host1[1] - host0[1]) / n
        self.layer["host.other_busy_s"] = max(0.0, (host1[0] - host0[0]) - (self._tree_cpu() - tree0)) / n
        return records

    def _worker_cpu(self) -> float:
        return sum(cpu_s(p) for p in descendants(self.jvm_pid))

    def _tree_cpu(self) -> float:
        return cpu_s(os.getpid(), with_children=False) + cpu_s(self.jvm_pid) + self._worker_cpu()

    # -- reporting --------------------------------------------------------
    def spark_layer_metrics(self, records: list[dict]) -> None:
        """Per-operation medians of the exact Spark counts (traced runs)."""
        ok = [r for r in records if r.get("ok") and "spark" in r]
        if not ok:
            return
        med = {k: median(r["spark"][k] for r in ok) for k in SparkCounters.FIELDS}
        self.layer["spark.jobs"] = med["jobs"]
        self.layer["spark.stages"] = med["stages"]
        self.layer["spark.tasks"] = med["tasks"]
        self.layer["spark.task_cpu_s"] = med["cpu_ns"] / 1e9
        self.layer["spark.shuffle_mb"] = med["shuffle_b"] / MB
        self.layer["spark.spill_mb"] = med["spill_b"] / MB
        self.layer["io.scan_mb"] = med["input_b"] / MB
        self.layer["python.worker_cpu_s"] = median(r["py_cpu_s"] for r in ok)
        self.layer["bench.self_ms"] = 1000.0 * median(
            self.tracer.self_time(s) for s in self.tracer.by_name(f"{self.workload}.op")
        )
        ov = median(r["trace_overhead_s"] for r in ok)
        self.layer["trace.overhead_ms"] = ov * 1000.0
        self.layer["trace.overhead_pct"] = 100.0 * ov / max(median(r["wall_s"] for r in ok) - ov, 1e-9)

    def finish_setup_layers(self) -> None:
        self.rss.stop()
        self.layer["memory.peak_rss_mb"] = self.rss.peak_kb / 1024.0
        self.layer["session.start_s"] = self.setup["session_s"]
        self.layer["setup.prepare_s"] = self.setup["prepare_s"]
        self.layer["setup.warm_s"] = self.setup["warm_s"]
        self.layer["jvm.jit_s"] = self.setup["jit_setup_s"]

    def write_detail(self, records: list[dict]) -> str:
        out_dir = os.path.join(self.root, ".perfbench_runs", "last")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.workload}-trace{int(self.trace_on)}.json")
        doc = {
            "workload": self.workload, "seed": self.seed, "seconds": self.seconds,
            "setup": self.setup, "layer": self.layer, "detail": self.detail,
            "problems": self.problems, "ops": records,
            "spans": [dict(s, self_s=self.tracer.self_time(s)) for s in self.tracer.spans if "end" in s],
        }
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1, default=str)
        return path

    def close(self) -> None:
        """Stop the session, the JVM and its workers, wait for them, and
        remove the run directory."""
        if self.rss is not None:
            self.rss.stop()
        if self.spark is not None:
            sc = self.spark.sparkContext
            gateway = sc._gateway
            proc = getattr(gateway, "proc", None)
            workers = descendants(self.jvm_pid)
            try:
                self.spark.stop()
            finally:
                with contextlib.suppress(Exception):
                    gateway.shutdown()
                if proc is not None:
                    with contextlib.suppress(Exception):
                        proc.stdin.close()  # the JVM exits when its stdin closes
                    try:
                        proc.wait(timeout=30)
                    except Exception:
                        proc.kill()
                        proc.wait(timeout=10)
                _wait_gone(workers, timeout=30)
        shutil.rmtree(self.dir, ignore_errors=True)


def report(run: Run, e2e: dict[str, float], layer: dict[str, float]) -> dict[str, tuple[float, str]]:
    """The metrics BENCHMARK.json names, with its units: the end-to-end set
    for an untraced run, the per-layer set for a traced one.  A per-layer
    metric of a layer this workload does not load reads 0."""
    with open(os.path.join(run.root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if not run.trace_on:
        return {m["name"]: (float(e2e[m["name"]]), m["unit"]) for m in spec["end_to_end"]}
    return {m["name"]: (float(layer.get(m["name"], 0.0)), m["unit"]) for m in spec["per_layer"]}
