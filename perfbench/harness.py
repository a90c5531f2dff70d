"""Run scaffolding shared by the workloads: the hermetic environment,
the Spark session and its teardown, the in-memory span tracer, the
Spark event-log reader and small statistics helpers.

Nothing here is imported by the engine; the benchmark times the
engine's public functions from outside.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import shlex
import signal
import subprocess
import threading
import time
from contextlib import contextmanager


class Interrupted(BaseException):
    """Raised by the SIGTERM/SIGINT/SIGALRM handler so that every
    ``finally`` between the signal and ``main`` runs the teardown.
    A BaseException, so no ``except Exception`` in library code can
    swallow it."""


def _raise_interrupted(signum, _frame):
    raise Interrupted(signal.Signals(signum).name)


def install_signal_handlers(deadline_s: int) -> None:
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGALRM):
        signal.signal(sig, _raise_interrupted)
    signal.alarm(deadline_s)


def ignore_signals() -> None:
    """Teardown must not be cut short by a second signal."""
    signal.alarm(0)
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, signal.SIG_IGN)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def hermetic_env(root: str, work: str, trace: bool) -> dict[str, str]:
    """Point every place Spark, the engine and Python write to at
    ``work`` and make the package importable by Spark's Python
    workers. Must run before pyspark or the engine is imported: the
    engine reads SPARK_GRAFT_MODEL_DIR at import time, and the JVM
    reads PYSPARK_SUBMIT_ARGS at launch."""
    dirs = {name: os.path.join(work, name) for name in
            ("models", "local", "tmp", "warehouse", "events", "data")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    conf = [
        f"spark.sql.warehouse.dir={dirs['warehouse']}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={dirs['tmp']}",
        "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        conf += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{dirs['events']}",
                 "spark.eventLog.rolling.enabled=false", "spark.eventLog.compress=false"]
    submit = " ".join(f"--conf {shlex.quote(c)}" for c in conf) + " pyspark-shell"
    pypath = os.environ.get("PYTHONPATH")
    os.environ.update(
        SPARK_GRAFT_MODEL_DIR=dirs["models"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_CPUS=str(cpu_count()),
        TMPDIR=dirs["tmp"],
        PYTHONPATH=root if not pypath else root + os.pathsep + pypath,
        PYTHONDONTWRITEBYTECODE="1",
        PYSPARK_SUBMIT_ARGS=submit,
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return dirs


def _children() -> set[int]:
    pids: set[int] = set()
    for path in glob.glob(f"/proc/{os.getpid()}/task/*/children"):
        try:
            with open(path) as fh:
                pids.update(int(p) for p in fh.read().split())
        except FileNotFoundError:  # the thread ended meanwhile
            continue
    return pids


class Session:
    """Owns the run's Spark session and serving readers, and tears
    them down on one path whether the run succeeds, fails or is
    signalled: close readers, ``spark.stop()``, shut the py4j gateway
    down and wait for the JVM, then check that no child process of
    this one survives."""

    def __init__(self) -> None:
        self.spark = None
        self.readers: list = []
        self.survivors: list[int] = []

    def start_spark(self):
        from vector_search_go_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=cpu_count())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1000).selectExpr("sum(id)").collect()  # JVM + worker warm-up
        return self.spark

    def open(self, reader):
        self.readers.append(reader)
        return reader

    def close(self, reader) -> None:
        self.readers.remove(reader)
        close = getattr(reader, "close", None)
        if close is not None:
            close()

    def close_readers(self) -> None:
        while self.readers:
            self.close(self.readers[-1])

    def stop_spark(self) -> None:
        spark, self.spark = self.spark, None
        if spark is None:
            return
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        try:
            spark.stop()
        except (Py4JError, ConnectionError, OSError):
            pass  # the gateway is torn down below either way
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except (Py4JError, ConnectionError, OSError):
            pass
        if proc is not None:
            # the JVM's gateway server exits on EOF of its stdin
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    def teardown(self) -> None:
        try:
            self.close_readers()
        finally:
            self.stop_spark()
        deadline = time.time() + 5
        left = _children()
        while left and time.time() < deadline:
            time.sleep(0.1)
            left = _children()
        self.survivors = sorted(left)
        for pid in self.survivors:
            try:
                os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, 0)
            except (ProcessLookupError, ChildProcessError):
                continue


class Tracer:
    """In-memory spans (id, parent, name, start, end, rows) recorded
    around calls into the engine's layers. A span opened on a thread
    with no open span of its own (a reader's pool thread) takes the
    main thread's innermost open span as its parent: the benchmark is
    a single closed-loop client, so that span is the one that caused
    it. Disabled tracers cost one attribute check per call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._tls = threading.local()
        self._main: list[int] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        rec = {"name": name, "parent": parent, "start": time.perf_counter(), "rows": None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def wrap(self, owner, attr: str, name: str, rows=None) -> None:
        """Replace ``owner.attr`` by a spanned call; ``rows(result)``
        records the rows the call returned."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if rows is not None:
                    rec["rows"] = rows(out)
                return out

        setattr(owner, attr, traced)

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.of(name))

    def covered_s(self, name: str) -> float:
        """Wall time covered by the union of the ``name`` spans."""
        return _union_length((s["start"], s["end"]) for s in self.of(name))

    def self_s(self, name: str) -> float:
        """Summed self time of ``name`` spans: duration minus the union
        of the intervals its child spans cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return sum((s["end"] - s["start"]) - _union_length(kids.get(s["id"], []))
                   for s in self.of(name))

    def children_max_s(self, parent_name: str, child_name: str) -> float:
        """Per ``parent_name`` span, the longest ``child_name`` child;
        summed over the parents."""
        longest: dict[int, float] = {}
        for s in self.of(child_name):
            if s["parent"] is not None:
                d = s["end"] - s["start"]
                longest[s["parent"]] = max(longest.get(s["parent"], 0.0), d)
        return sum(longest.get(p["id"], 0.0) for p in self.of(parent_name))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _union_length(intervals) -> float:
    total, lo, hi = 0.0, None, None
    for a, b in sorted(intervals):
        if hi is None or a > hi:
            if hi is not None:
                total += hi - lo
            lo, hi = a, b
        else:
            hi = max(hi, b)
    return total if hi is None else total + hi - lo


def event_log_metrics(events_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, executor run/CPU/GC time,
    input and shuffle bytes, read from the Spark event log of the
    traced run (complete once the session has stopped)."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def acc(group: str) -> dict:
        return out.setdefault(group, {
            "jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
            "gc_s": 0.0, "input_bytes": 0, "shuffle_bytes": 0,
        })

    for path in glob.glob(os.path.join(events_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or "-"
                    job_group[ev["Job ID"]] = g
                    a = acc(g)
                    a["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Submission Time" in info:  # skipped stages never ran
                        acc(stage_group.get(info["Stage ID"], "-"))["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    a = acc(stage_group.get(ev["Stage ID"], "-"))
                    a["tasks"] += 1
                    a["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    a["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    a["shuffle_bytes"] += (m.get("Shuffle Read Metrics") or {}).get(
                        "Remote Bytes Read", 0
                    ) + (m.get("Shuffle Read Metrics") or {}).get("Local Bytes Read", 0)
    return out


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def proc_stat(pid: int) -> list[str] | None:
    """The fields of ``/proc/<pid>/stat`` after the command name (state,
    ppid, ...), or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None


def process_tree(root: int) -> dict[int, list[str]]:
    """``proc_stat`` of ``root`` and of each of its live descendants."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = proc_stat(int(d))
            if f is not None:  # else it exited while listing
                stats[int(d)] = f
    tree, frontier = set(), {root}
    while frontier:
        tree |= frontier
        frontier = {p for p, f in stats.items() if int(f[1]) in frontier} - tree
    return {p: stats[p] for p in tree if p in stats}


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process, its live
    descendants (the JVM, Spark's Python workers) and every child they
    have reaped."""
    ticks = 0
    for f in process_tree(os.getpid()).values():
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _CLK_TCK


def tail(xs) -> tuple[float, float] | None:
    """(percentile, value) of the highest of p99/p95/p90/p75 that has
    at least ten samples beyond it, or None for fewer than 40."""
    s = sorted(xs)
    n = len(s)
    for p in (99, 95, 90, 75):
        idx = int(n * p / 100)
        if n - idx - 1 >= 10:
            return p, s[idx]
    return None
