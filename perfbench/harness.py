"""Measurement plumbing shared by the workloads: timed operations with
output checks, driver-side spans, process-tree RSS sampling, Spark
stage statistics from the status REST API, and the host fingerprint."""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import hashlib
import json
import math
import os
import statistics
import threading
import time
import traceback
import urllib.request
from dataclasses import dataclass, field


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    if not values:
        return 0.0
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q / 100 * len(ordered)) - 1)]


class CheckFailed(AssertionError):
    pass


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class Op:
    kind: str          # e.g. "append", "read:day_slice", "query:bm25_topk_docs"
    start: float       # time.time() at start
    seconds: float
    ok: bool
    round: int
    error: str = ""


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


@dataclass
class Recorder:
    """Timed operations (every one is checked) plus driver-side spans.

    Spans are kept in memory and written out with the run record; the
    benchmark records them only around calls it makes into the package's
    public functions."""

    tracing: bool = False
    ops: list[Op] = field(default_factory=list)
    spans: list[Span] = field(default_factory=list)
    round_no: int = 0
    probe: object = None           # host_probe bound to the JVM; runs before every op
    probes: list[float] = field(default_factory=list)
    probe_s: float = 0.0           # wall time spent probing, kept out of every figure
    _stack: list[int] = field(default_factory=list)
    _op_id: int | None = None
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def op(self, kind: str, fn, *args, **kwargs):
        """Run ``fn`` as one timed operation. ``fn`` returns the value to
        hand back; an exception (including a failed check) marks the
        operation failed and returns None."""
        if self.probe is not None:
            self.sample_host()
        self._op_id = len(self.ops)
        wall = time.time()
        t0 = time.perf_counter()
        ok, err, value = True, "", None
        with self.span(kind):
            try:
                value = fn(*args, **kwargs)
            except Exception as exc:  # a failed op is counted, not fatal
                ok, err = False, f"{type(exc).__name__}: {exc}"
                traceback.print_exc()
        self.ops.append(Op(kind, wall, time.perf_counter() - t0, ok, self.round_no, err))
        self._op_id = None
        return value

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.tracing:
            yield
            return
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            idx = len(self.spans)
            self.spans.append(Span(name, time.time(), 0.0, parent, self._op_id))
            self._stack.append(idx)
        try:
            yield
        finally:
            with self._lock:
                self.spans[idx].end = time.time()
                if self._stack and self._stack[-1] == idx:
                    self._stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        """Record a span around every call of ``module.attr``."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)

    def measured(self, kind_prefix: str = "") -> list[Op]:
        return [o for o in self.ops if o.round > 0 and o.kind.startswith(kind_prefix)]

    def sample_host(self) -> None:
        t0 = time.perf_counter()
        for _ in range(PROBES_PER_SAMPLE):
            self.probes.append(self.probe())
        self.probe_s += time.perf_counter() - t0

    def host_factor(self) -> float:
        """PROBE_REF_S over the run's median probe time: multiplying a wall
        time by it gives the time on a host as fast as the reference."""
        return PROBE_REF_S / median(self.probes) if self.probes else 1.0


class RssSampler:
    """Peak RSS of this process and all its descendants (the JVM and
    the Python workers it forks), sampled from /proc."""

    INTERVAL = 0.2   # seconds between samples

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss_kb(self) -> int:
        parents: dict[int, int] = {}
        rss: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
                fields = stat[stat.rindex(")") + 2:].split()
                pid = int(entry)
                parents[pid] = int(fields[1])
                rss[pid] = int(fields[21]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
            except (OSError, ValueError, IndexError):
                continue
        root = os.getpid()
        total, frontier = rss.get(root, 0), [root]
        children: dict[int, list[int]] = {}
        for pid, ppid in parents.items():
            children.setdefault(ppid, []).append(pid)
        while frontier:
            for child in children.get(frontier.pop(), []):
                total += rss.get(child, 0)
                frontier.append(child)
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
            self._stop.wait(self.INTERVAL)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, self._tree_rss_kb())

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


# --------------------------------------------------------------------------
# Spark status REST API (trace runs only: it needs the UI)
def rest(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/{path}", timeout=30) as r:
        return json.load(r)


def rest_time(s: str | None) -> float:
    if not s:
        return 0.0
    return dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def scan_files(spark) -> list[tuple[float, int]]:
    """(submission time, files read) of every file scan in the SQL
    executions of the application, from the scan nodes' metrics."""
    out = []
    for e in rest(spark, "sql?details=true&planDescription=false&length=1000000"):
        t = rest_time(e.get("submissionTime"))
        for node in e.get("nodes", []):
            for m in node.get("metrics", []):
                if m["name"] == "number of files read":
                    out.append((t, int(m["value"].replace(",", ""))))
    return out


@dataclass
class StageStats:
    """Per-job and per-stage figures of the whole application."""

    jobs: list[dict]
    stages: dict[int, dict]

    @classmethod
    def fetch(cls, spark) -> "StageStats":
        keys = ("numTasks", "executorRunTime", "executorCpuTime", "shuffleReadBytes",
                "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled")
        stages: dict[int, dict] = {}
        for s in rest(spark, "stages"):
            # retried attempts share an id: sum them
            cur = stages.setdefault(s["stageId"], {**{k: 0 for k in keys}, "intervals": []})
            for k in keys:
                cur[k] += s.get(k, 0)
            cur["intervals"].append(
                (rest_time(s.get("submissionTime")), rest_time(s.get("completionTime"))))
        return cls(rest(spark, "jobs"), stages)

    def window(self, start: float, end: float) -> dict:
        """Totals over the jobs submitted within [start, end] (wall clock)."""
        sel = [j for j in self.jobs if start <= rest_time(j.get("submissionTime")) <= end]
        stage_ids = {sid for j in sel for sid in j.get("stageIds", []) if sid in self.stages}
        st = [self.stages[s] for s in stage_ids]
        busy = _union([iv for s in st for iv in s.get("intervals", []) if iv[0] and iv[1]])
        return {
            "jobs": len(sel),
            "stages": len(st),
            "tasks": sum(s["numTasks"] for s in st),
            "exec_run_s": sum(s["executorRunTime"] for s in st) / 1e3,
            "exec_cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in st),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in st),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in st),
            "stage_busy_s": busy,
            "driver_gap_s": max(0.0, (end - start) - busy),
        }


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------------------
def host_fingerprint(seed: int) -> dict:
    import platform

    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_1m_start": os.getloadavg()[0],
        "seed": seed,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def code_id(root: str) -> str:
    """Hash of the engine's and the benchmark's files: which code a run
    measured (a checkout need not be a git repository)."""
    h = hashlib.sha256()
    for top in ("boatrace_database_spark", "perfbench"):
        for d, dirs, names in os.walk(os.path.join(root, top)):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for n in sorted(names):
                path = os.path.join(d, n)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


# A shared host's speed drifts by a third, at times by half, between
# minutes, and it moves every time of a run together. Each run therefore
# times a fixed probe before every operation; its figures are scaled to a
# host on which the probe's median takes PROBE_REF_S (about its time on the
# 4-core build host when quiet). The probe calls no engine code; it shares
# only the JVM with it.
PROBE_REF_S = 0.15
PROBES_PER_SAMPLE = 2   # taken before each operation: 18 a run


def host_probe(jvm) -> float:
    """Seconds for fixed work: a pure-Python loop in the driver, filling an
    array on one JVM thread and sorting it on the JVM's common pool (the
    array stays in the JVM), and 200 py4j round trips."""
    t0 = time.perf_counter()
    s = 0
    for i in range(200_000):
        s += i * i % 7
    arr = jvm.java.util.Random(7).ints(1_000_000).toArray()
    jvm.java.util.Arrays.parallelSort(arr)
    clock = jvm.java.lang.System
    for _ in range(200):
        clock.nanoTime()
    return time.perf_counter() - t0


def reference_query_s(spark) -> float:
    """A fixed query whose time tracks how busy the host is."""
    t0 = time.perf_counter()
    spark.range(0, 3_000_000, numPartitions=4).selectExpr("sum(id % 7) AS s").collect()
    return time.perf_counter() - t0


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under path, ignoring checksums and markers."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size
