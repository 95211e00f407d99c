"""Shared run machinery for the benchmark: session, scratch directory,
memory sampling, the contention canary, spans, and Spark status counters.

Nothing here starts a thread or a JVM at import time; ``Bench`` owns every
resource a run opens and ``Bench.close`` releases them.
"""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import subprocess
import tempfile
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of a non-empty sample (q in [0, 1])."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


def _proc_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def child_pids(pid: int) -> list[int]:
    out = []
    try:
        for task in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{task}/children") as fh:
                    out.extend(int(c) for c in fh.read().split())
            except OSError:
                continue
    except OSError:
        pass
    return out


def descendant_pids(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = child_pids(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def _proc_state(pid: int) -> tuple[str, str] | None:
    """(state, start time) of a process, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return fields[0], fields[19]


def stop_processes(pids: list[int], term_wait: float = 20.0) -> None:
    """Send SIGTERM, then SIGKILL, to each process still running, and wait
    until every one has ended (a zombie has ended; this process reaps its
    own)."""
    ident = {p: _proc_state(p) for p in pids}

    def running() -> list[int]:
        out = []
        for p, first in ident.items():
            now = _proc_state(p)
            if first is None or now is None or now[1] != first[1]:
                continue            # gone, or the pid now names another process
            if now[0] == "Z":
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
                continue
            out.append(p)
        return out

    live = running()
    for sig, wait in ((signal.SIGTERM, term_wait), (signal.SIGKILL, 10.0)):
        if not live:
            break
        for p in live:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        deadline = time.monotonic() + wait
        while live and time.monotonic() < deadline:
            time.sleep(0.05)
            live = running()


def stop_jvm(timeout: float = 60.0) -> None:
    """End the PySpark gateway JVM and every process it forked, and wait for
    each. The JVM exits by itself when its stdin closes, but only after this
    process has gone; closing the pipe here makes it exit first."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    forked = descendant_pids(proc.pid)
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    stop_processes(forked)
    SparkContext._gateway = None
    SparkContext._jvm = None


class RssSampler:
    """Samples, every ``period`` seconds, the summed resident memory of this
    process and its whole process tree (the Spark JVM and the Python
    workers it forks); keeps the peak."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss", daemon=True)

    def sample(self) -> float:
        me = os.getpid()
        total = sum(_proc_rss_mb(p) for p in [me, *descendant_pids(me)])
        self.peak_mb = max(self.peak_mb, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
            self.sample()


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    trace_id: str


@dataclass
class Tracer:
    """In-memory spans and counters, written out once at the end of a run.
    Spans are recorded by the benchmark around calls into each layer."""

    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    events: list[dict] = field(default_factory=list)     # e.g. streaming progress
    _stack: list[str] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, trace_id: str = ""):
        t0 = time.perf_counter()
        self._stack.append(name)
        try:
            yield
        finally:
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            self.spans.append(Span(name, t0, time.perf_counter(), parent, trace_id))

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value

    def busy_ms(self, name: str) -> float:
        """Summed self time of every span with this name, in ms."""
        total = 0.0
        for s in self.spans:
            if s.name != name:
                continue
            child = sum(c.end - c.start for c in self.spans
                        if c.parent == name and s.start <= c.start and c.end <= s.end)
            total += (s.end - s.start) - child
        return total * 1000.0

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({"span": s.__dict__}) + "\n")
            for e in self.events:
                fh.write(json.dumps({"event": e}) + "\n")
            fh.write(json.dumps({"counts": self.counts}) + "\n")


def span(tracer: Tracer | None, name: str, trace_id: str = ""):
    """``tracer.span(...)``, or no span when the run is untraced."""
    return nullcontext() if tracer is None else tracer.span(name, trace_id)


class Bench:
    """One benchmark process: a fresh scratch directory inside the checkout,
    the Spark session, the memory sampler and the canary."""

    def __init__(self, root: str, seed: int):
        self.root = root
        self.seed = seed
        self.cpus = os.cpu_count() or 1
        self.tmp = os.path.join(root, ".perfbench_tmp", f"run-{os.getpid()}-{time.time_ns()}")
        os.makedirs(self.tmp)
        self.rss = RssSampler()
        self.spark = None
        self.session_start_s = 0.0
        self.canary_s: list[float] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    def start_spark(self):
        # Python workers import the engine (and example rules) by module path
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH", "")) if p)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        # temporary files of this process, the JVMs and the Python workers
        # stay in the run's scratch directory
        tmp = self.path("tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tempfile.tempdir = tmp
        jvm_tmp = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["SPARK_LAUNCHER_OPTS"] = jvm_tmp
        t0 = time.perf_counter()
        from streamalert_spark.session import _DEFAULTS, get_spark

        # the engine's default is 48g; a shared 4-core host needs far less
        mem_gb = max(1, min(2, _host_mem_gb() // 6))
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf={
                "spark.driver.extraJavaOptions":
                    f"{_DEFAULTS.get('spark.driver.extraJavaOptions', '')} {jvm_tmp}".strip(),
                "spark.driver.memory": f"{mem_gb}g",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": self.path("spark-local"),
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.sql.streaming.numRecentProgressUpdates": "1000",
            },
        )
        self.spark.range(1).collect()
        self.session_start_s = time.perf_counter() - t0
        self.rss.start()
        return self.spark

    def canary(self) -> float:
        """Fixed null job; its time against its own history marks a run as
        contended."""
        t0 = time.perf_counter()
        self.spark.range(4_000_000, numPartitions=self.cpus).selectExpr("sum(id) AS s").collect()
        dt = time.perf_counter() - t0
        self.canary_s.append(dt)
        return dt

    def status_totals(self) -> dict[str, float]:
        """Cumulative task counters from Spark's status store (in local mode
        one executor runs every task)."""
        store = self.spark.sparkContext._jsc.sc().statusStore()
        execs = store.executorList(True)
        out = {"tasks": 0.0, "shuffle_bytes": 0.0, "run_ms": 0.0, "gc_ms": 0.0}
        for i in range(execs.size()):
            e = execs.apply(i)
            out["tasks"] += e.totalTasks()
            out["shuffle_bytes"] += e.totalShuffleWrite()
            out["run_ms"] += e.totalDuration()
            out["gc_ms"] += e.totalGCTime()
        return out

    def close(self) -> None:
        """Stop the session, the JVM and every process the run started, and
        wait for each to end."""
        try:
            if self.spark is not None:
                for q in self.spark.streams.active:
                    q.stop()
                self.spark.stop()
        finally:
            self.spark = None
            self.rss.stop()
            stop_jvm()
            stop_processes(descendant_pids(os.getpid()))
            shutil.rmtree(self.tmp, ignore_errors=True)
            parent = os.path.dirname(self.tmp)
            try:
                os.rmdir(parent)
            except OSError:
                pass


def _host_mem_gb() -> int:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // (1024 * 1024)
    except OSError:
        pass
    return 8
