"""Shared machinery for the benchmark workloads: the run context
(session start, work directory, run-hygiene markers), statistics,
peak-memory and CPU readings, the in-memory tracer and the Spark
event-log summary.

Every measurement here is taken from outside the engine: the tracer
wraps the engine's public functions for the length of a traced phase
and restores them afterwards, so the untraced timings run the engine
exactly as shipped.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import os
import platform
import re
import resource
import shutil
import statistics
import subprocess
import threading
import time


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------
def p50(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def _rank(n: int, pct: float) -> int:
    """1-based nearest rank of percentile ``pct`` (0-100) among ``n``."""
    return max(1, math.ceil(pct / 100.0 * n))


def tail(values: list[float], pct: float) -> float:
    """Nearest-rank percentile ``pct`` of ``values``."""
    if not values:
        return 0.0
    return float(sorted(values)[_rank(len(values), pct) - 1])


def closed_loop(run_pass, seconds: float) -> list[dict]:
    """Run passes back to back, each starting when the previous one has
    finished, until ``seconds`` have passed (at least one pass)."""
    t_end = time.perf_counter() + seconds
    passes = [run_pass()]
    while time.perf_counter() < t_end:
        passes.append(run_pass())
    return passes


def samples_beyond(n: int, pct: float) -> int:
    """How many of ``n`` samples lie beyond the nearest-rank ``pct``."""
    return n - _rank(n, pct) if n else 0


# ---------------------------------------------------------------------------
# resource readings
# ---------------------------------------------------------------------------
def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process from /proc (VmHWM), in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def reset_peaks(spark) -> None:
    """Start a new peak for the Python process's RSS (VmHWM restarts
    from the current RSS) and for every JVM heap pool."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:  # not resettable here: the peak then covers the whole process
        pass
    for pool in _heap_pools(spark):
        pool.resetPeakUsage()


def jvm_heap_peak_mb(spark) -> float:
    """Sum over the JVM heap pools of each pool's peak use since the
    last ``reset_peaks``, in MiB."""
    return sum(p.getPeakUsage().getUsed() for p in _heap_pools(spark)) / 2**20


def jvm_uptime_ms(spark) -> int:
    return int(spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getUptime())


# Only young and full pauses evacuate the heap. G1's Remark and Cleanup
# pauses report the heap as it stands, garbage in eden included.
_GC_PAUSE = re.compile(r"^\[(\d+)ms\].* Pause (?:Young|Full).* \d+M->(\d+)M\(\d+M\)")


def gc_live_peak_mb(gc_log: str, t0_ms: int, t1_ms: int) -> float | None:
    """Largest heap left after an evacuating collection pause between
    JVM uptimes ``t0_ms`` and ``t1_ms``, from a ``-Xlog:gc`` file (None
    if no such pause fell in the window): the most the program kept
    live at once."""
    peak = None
    with open(gc_log) as f:
        for line in f:
            m = _GC_PAUSE.match(line)
            if m and t0_ms <= int(m.group(1)) <= t1_ms:
                peak = max(peak or 0, int(m.group(2)))
    return None if peak is None else float(peak)


def _heap_pools(spark) -> list:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def py_cpu_s() -> float:
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


# ---------------------------------------------------------------------------
# run context
# ---------------------------------------------------------------------------
class RunContext:
    """One benchmark process: its work directory (inside the checkout),
    its Spark session and the markers that describe the machine."""

    def __init__(self, root: str, workload: str, seed: int, trace: bool):
        self.root, self.workload, self.seed, self.trace = root, workload, seed, trace
        self.work = os.path.join(root, "perfbench", ".work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.tmp = os.path.join(self.work, "tmp")
        os.makedirs(self.tmp)
        self.spark = None
        self.jvm_pid: int | None = None
        self.event_log_dir: str | None = None
        self.session_start_s = 0.0
        self._ticks0 = cpu_ticks()
        self.markers = {
            "nproc": os.cpu_count(),
            "loadavg_before": [round(x, 2) for x in os.getloadavg()],
            # share of CPU time the hypervisor gave to others during the run
            "steal_frac": None,
            "python": platform.python_version(),
        }

    def scoped_env(self) -> None:
        """Point every temporary file of the run (Python tempfile, Spark
        local dirs, JVM tmpdir) at the work directory, so the run writes
        nowhere outside its checkout."""
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp
        # every JVM, spark-submit's launcher included
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        import tempfile

        tempfile.tempdir = self.tmp

    def start_spark(self, cores: int) -> None:
        """Start the engine's session with its shipped settings (heap
        included), plus the run's scratch directories."""
        t0 = time.perf_counter()
        os.environ["SPARK_GRAFT_CPUS"] = str(cores)
        self.gc_log = os.path.join(self.work, "gc.log")
        extra = {
            # the collector's log only; heap and collector stay as shipped
            "spark.driver.extraJavaOptions": f"-Xlog:gc:file={self.gc_log}:uptimemillis",
            "spark.ui.enabled": "false",
            "spark.local.dir": self.tmp,
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            self.event_log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_log_dir)
            extra["spark.eventLog.enabled"] = "true"
            extra["spark.eventLog.dir"] = "file://" + self.event_log_dir
            extra["spark.eventLog.compress"] = "false"
        from advent_of_code_flink_paimon_spark.session import get_spark

        self.spark = get_spark("perfbench", extra_conf=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.session_start_s = time.perf_counter() - t0
        self.markers["local_n"] = self.spark.sparkContext.defaultParallelism
        self.markers["spark"] = self.spark.version

    def stop(self) -> None:
        """Stop Spark and wait until the JVM has exited."""
        if self.spark is None:
            return
        self.markers["loadavg_after"] = [round(x, 2) for x in os.getloadavg()]
        steal, total = cpu_ticks()
        d_total = total - self._ticks0[1]
        self.markers["steal_frac"] = round((steal - self._ticks0[0]) / d_total, 4) if d_total else 0.0
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        with contextlib.suppress(Exception):
            gateway.shutdown()
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        self.spark = None

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(self.work))


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------
class Tracer:
    """Spans kept in memory for the traced phase.

    A span is (id, parent id, trace id, name, start, end, attributes).
    The parent is the innermost open span on the same thread; a span
    opened with no parent starts a new trace id, so the spans of one
    trigger or one query share it. ``install_engine`` wraps engine callables
    for the traced phase and ``uninstall`` puts the originals back."""

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        rec = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else sid,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000.0 for s in self.spans if s["name"] == name]

    def wrap(self, owner, attr: str, span_name: str) -> None:
        """Replace ``owner.attr`` by a callable that runs the original
        inside a span named ``span_name``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(span_name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def wrap_context(self, owner, attr: str, span_name: str) -> None:
        """Replace a context-manager factory so the span covers the time
        from entering it to its yield (the wait to acquire what it
        guards)."""
        orig = getattr(owner, attr)
        tracer = self

        @contextlib.contextmanager
        def traced(*args, **kwargs):
            with tracer.span(span_name):
                cm = orig(*args, **kwargs)
                cm.__enter__()
            try:
                yield
            except BaseException as exc:
                if not cm.__exit__(type(exc), exc, exc.__traceback__):
                    raise
            else:
                cm.__exit__(None, None, None)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def install_engine(self) -> None:
        """Spans around the lakehouse commits and reads and the
        micro-batch conf guard: the layer boundaries every workload
        crosses."""
        from advent_of_code_flink_paimon_spark.lakehouse.table import Table
        from advent_of_code_flink_paimon_spark.operators import registry

        for attr in ("append", "upsert", "overwrite", "read", "compact", "expire_snapshots"):
            self.wrap(Table, attr, f"lakehouse.{attr}")
        self.wrap_context(registry, "micro_batch_confs", "operators.mb_lock_wait")

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def engine_layer_metrics(tracer: Tracer) -> dict[str, float]:
    """Per-layer figures every workload reports from the engine-boundary
    spans (zero where the layer did no work)."""
    out: dict[str, float] = {}
    for op in ("append", "upsert", "overwrite"):
        d = tracer.durations_ms(f"lakehouse.{op}")
        out[f"lakehouse.{op}_ms.p50"] = p50(d)
        out[f"lakehouse.{op}.count"] = float(len(d))
    d = tracer.durations_ms("lakehouse.read")
    out["lakehouse.read_plan_ms.p50"] = p50(d)
    out["lakehouse.read_plan.count"] = float(len(d))
    out["lakehouse.compact_ms"] = sum(tracer.durations_ms("lakehouse.compact"))
    out["lakehouse.expire_ms"] = sum(tracer.durations_ms("lakehouse.expire_snapshots"))
    d = tracer.durations_ms("operators.mb_lock_wait")
    out["operators.mb_lock_wait_ms.p50"] = p50(d)
    out["operators.mb_lock_wait_ms.total"] = sum(d)
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------
def event_log_summary(log_dir: str, t0_ms: float, t1_ms: float, cores: int) -> dict[str, float]:
    """Jobs, stages, tasks and task run time of the jobs submitted in
    the wall-clock window [t0_ms, t1_ms] (epoch ms), and the share of
    core time no task used."""
    jobs = stages = tasks = 0
    run_ms = 0.0
    paths = [
        os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files
        if not f.startswith(".")
    ]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if t0_ms <= ev.get("Submission Time", 0) <= t1_ms:
                        jobs += 1
                elif kind == "SparkListenerStageCompleted":
                    info = ev.get("Stage Info", {})
                    if t0_ms <= info.get("Submission Time", 0) <= t1_ms:
                        stages += 1
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    if t0_ms <= info.get("Launch Time", 0) <= t1_ms:
                        tasks += 1
                        run_ms += ev.get("Task Metrics", {}).get("Executor Run Time", 0)
    wall_s = max(1e-9, (t1_ms - t0_ms) / 1000.0)
    return {
        "spark.jobs": float(jobs),
        "spark.stages": float(stages),
        "spark.tasks": float(tasks),
        "spark.task_run_s": run_ms / 1000.0,
        "spark.idle_frac": max(0.0, 1.0 - (run_ms / 1000.0) / (cores * wall_s)),
    }
