"""Shared plumbing for the benchmark: working directories, the Spark
session the benchmark owns, RSS sampling, spans and small statistics.

Everything the benchmark writes lives under ``perfbench/.work`` in the
checkout it runs from.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def load_spec(path: str | None = None) -> dict:
    with open(path or os.path.join(HERE, "spec.json")) as f:
        return json.load(f)


def cpu_count() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Point every temporary path at ``work`` and let Spark's Python
    workers import the program from the checkout root."""
    for sub in ("tmp", "spark-local", "warehouse", "eventlog", "out"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # no JVM writes its perf-counter file to the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData").strip()
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_spark(work: str, cpus: int, event_log: bool = False):
    """The program's own session factory on local[cpus], with the
    benchmark's paths and, for traced runs, a plain-JSON event log.

    The heap is 2g instead of the factory's 16g default, which is more
    than a small host holds, and starts at that size (-Xms = -Xmx): a
    heap that starts small is resized and collected on a schedule that
    differs from run to run, which moves both latency and memory. The
    heap is not touched in advance, so RSS counts the pages the program
    has used."""
    from tastytrade_sdk_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xms2g -XX:-UsePerfData"),
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cpus=cpus, extra_conf=conf)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def shutdown_jvm(timeout: float = 30.0) -> None:
    """Stop the session and the JVM this process launched; wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout)
            except Exception:
                proc.kill()
                proc.wait(timeout=timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None


def descendants(root: int) -> list[int]:
    """Every live process below ``root``, from /proc."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    # the command name may hold spaces; fields after ')' are fixed
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    below: list[int] = []
    frontier = [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        below += kids
        frontier += kids
    return below


def kill_descendants(timeout: float = 10.0) -> None:
    """SIGKILL every process this one started, directly or not, and
    wait until they are gone."""
    import signal

    pids = descendants(os.getpid())
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + timeout
    for pid in pids:
        while time.monotonic() < deadline:
            try:
                if os.waitpid(pid, os.WNOHANG)[0]:
                    break  # our own child, reaped
            except ChildProcessError:
                if not os.path.exists(f"/proc/{pid}"):
                    break  # a grandchild, reaped by its new parent
            time.sleep(0.05)


class RssSampler:
    """Peak of the summed RSS of one process and all its descendants,
    sampled from /proc every ``period`` seconds on a daemon thread."""

    def __init__(self, period: float = 0.5) -> None:
        self.period = period
        self.peak_bytes = 0
        self._root: int | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def start(self, root_pid: int) -> None:
        self._root = root_pid
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{name}/statm") as f:
                    pages = int(f.read().split()[1])
            except OSError:
                continue
            # the command name may hold spaces; fields after ')' are fixed
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            pid = int(name)
            parent[pid] = ppid
            rss[pid] = pages * self._page
        keep = {self._root}
        for pid in sorted(parent):
            chain, p = [], pid
            while p in parent and p not in keep and len(chain) < 64:
                chain.append(p)
                p = parent[p]
            if p in keep:
                keep.update(chain)
        return sum(rss.get(pid, 0) for pid in keep if not self._jvm_helper(pid, parent))

    @staticmethod
    def _jvm_helper(pid: int, parent: dict[int, int]) -> bool:
        """A JVM child other than a Python worker daemon: a short-lived
        helper command the JVM spawns through vfork. Until its exec
        completes it shares the JVM's pages, and counting it would add
        the whole JVM a second time."""
        def exe(p: int) -> str:
            try:
                return os.path.basename(os.readlink(f"/proc/{p}/exe"))
            except OSError:
                return ""

        if exe(parent.get(pid, -1)) != "java":
            return False
        return not exe(pid).startswith("python")

    def _run(self) -> None:
        while not self._stop.is_set():
            if self._root is not None:
                self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.period)


@dataclass
class Span:
    span_id: int
    trace_id: str
    parent_id: int | None
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)


class Spans:
    """In-memory span recorder; written out once, at the end of a run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)

    def add(self, trace_id: str, name: str, start: float, end: float,
            parent: Span | None = None, **attrs) -> Span:
        s = Span(next(self._ids), trace_id,
                 parent.span_id if parent else None, name, start, end, attrs)
        self.spans.append(s)
        return s

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, math.ceil(q / 100.0 * len(s)) - 1))
    return s[k]


def hd_quantile(xs: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-quantile (q in 0..1): an average of
    all order statistics weighted by the Beta((n+1)q, (n+1)(1-q)) mass
    of each rank's interval. On small samples it moves far less between
    runs than any single order statistic."""
    s = sorted(xs)
    n = len(s)
    if n < 2:
        return s[0] if s else 0.0
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    steps = 64
    grid = [(i + (k + 0.5) / steps) / n for i in range(n) for k in range(steps)]
    logs = [(a - 1) * math.log(x) + (b - 1) * math.log1p(-x) for x in grid]
    top = max(logs)
    dens = [math.exp(v - top) for v in logs]
    weights = [sum(dens[i * steps:(i + 1) * steps]) for i in range(n)]
    return sum(w * x for w, x in zip(weights, s)) / sum(weights)


def geomean(xs: list[float]) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
