"""Shared benchmark plumbing: resource pinning, the /proc RSS sampler,
the span tracer, Spark event-log attribution and small statistics.

Nothing here changes the engine: resources are pinned through the
environment variables ``engine_spark.session`` already reads, and spans
are recorded around calls from the benchmark into the engine.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import sys
import threading
import time

T0 = time.perf_counter()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SCRATCH = os.path.join(BENCH_DIR, ".scratch")
MIN_FREE_BYTES = 3 << 30
PAGE = os.sysconf("SC_PAGE_SIZE")

#: set-ups per run; setup_s is their median
SETUP_REPS = 3


def log(msg: str) -> None:
    """Progress note on stderr, stamped with seconds since start."""
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


class DiskFull(RuntimeError):
    pass


def check_disk() -> None:
    free = shutil.disk_usage(BENCH_DIR).free
    if free < MIN_FREE_BYTES:
        raise DiskFull(
            f"only {free >> 20} MiB free under {BENCH_DIR}; "
            f"the benchmark needs {MIN_FREE_BYTES >> 20} MiB"
        )


def pin_resources() -> str:
    """Pin cores, driver memory and Spark scratch space for this run and
    return the run's scratch directory. Fails instead of filling the disk;
    :class:`RssSampler` repeats the disk check while the run goes on."""
    check_disk()
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    # a third of the host, at most 6 GiB: session.py defaults to 24g
    mem_mb = min(6144, total_kb // 1024 // 3)
    run_dir = os.path.join(SCRATCH, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # Python workers import engine_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return run_dir


def start_session(run_dir: str, trace: bool):
    """``engine_spark.session.get_spark`` with the benchmark's own
    warehouse and temp dirs; the event log is on only in traced runs."""
    from engine_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={run_dir} "
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
        ),
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Shut the Py4J gateway down and wait until the JVM has exited (its
    Python workers end with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


# ---------------------------------------------------------------------------
# the process tree, read from /proc

TICK = os.sysconf("SC_CLK_TCK")


def tree_stats(exclude=()) -> list[list[int]]:
    """``/proc/<pid>/stat`` fields (after the command name, as ints where
    numeric) of this process and its descendants, skipping the subtrees
    of ``exclude``."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # process ended between listing and reading
        pid = int(stat.split("/")[2])
        children.setdefault(int(fields[1]), []).append(pid)
        stats[pid] = [int(x) if x.lstrip("-").isdigit() else 0 for x in fields]
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in exclude or pid not in stats:
            continue
        out.append(stats[pid])
        todo += children.get(pid, [])
    return out


def tree_cpu_s(exclude=()) -> float:
    """CPU seconds the process tree has used, reaped children included.
    Unlike wall time it leaves out time the host took the CPUs away."""
    return sum(sum(f[11:15]) for f in tree_stats(exclude)) / TICK



class RssSampler:
    """Samples the summed RSS of this process and its descendants (the
    Spark JVM and Python workers) every ``period`` seconds; ``exclude``
    holds pids whose subtrees are not counted (the load generator).

    Each sample also checks free disk. Below the floor it records the
    error in ``disk_error`` and calls ``on_disk_full`` (the workload
    cancels its Spark jobs there), so a spill that starts mid-run fails
    the run instead of filling the disk."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.exclude: set[int] = set()
        self.peak = 0
        self.disk_error: DiskFull | None = None
        self.on_disk_full = lambda: None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def sample(self) -> int:
        return sum(f[21] * PAGE for f in tree_stats(self.exclude))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.sample())
            if self.disk_error is None:
                try:
                    check_disk()
                except DiskFull as e:
                    self.disk_error = e
                    self.on_disk_full()
            self._stop.wait(self.period)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


# ---------------------------------------------------------------------------
# spans


class Tracer:
    """Spans around the benchmark's calls into each layer.

    A span records name, start, end, parent and run id; the workloads
    record their counts at the same boundaries. Spans stay in memory
    until :meth:`dump`. While a span is open its name is the Spark job group,
    so the event log attributes task metrics to it. A disabled tracer
    records nothing and leaves the job group alone.
    """

    def __init__(self, spark, enabled: bool, run_id: str):
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.own_s = 0.0  # time spent inside the tracer itself

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = {
            "name": name,
            "parent": parent["name"] if parent else None,
            "run_id": self.run_id,
        }
        self._stack.append(s)
        self._set_group(name)
        self.own_s += time.perf_counter() - t
        s["start"] = time.perf_counter()
        try:
            yield
        finally:
            s["end"] = time.perf_counter()
            t = time.perf_counter()
            self._stack.pop()
            self._set_group(parent["name"] if parent else None)
            self.spans.append(s)
            self.own_s += time.perf_counter() - t

    def _set_group(self, name: str | None) -> None:
        """Make ``name`` the job group of the session, if one is running."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(name, name)

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Seconds per layer (the span name's first component) not
        covered by child spans."""
        child_s: dict[int, float] = {}
        by_name = {}
        for s in self.spans:
            by_name.setdefault(s["name"], []).append(s)
        for s in self.spans:
            if s["parent"] is None:
                continue
            for p in by_name.get(s["parent"], []):
                if p["start"] <= s["start"] and s["end"] <= p["end"]:
                    child_s[id(p)] = child_s.get(id(p), 0.0) + s["end"] - s["start"]
                    break
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].split(".")[0]
            out[layer] = out.get(layer, 0.0) + (
                s["end"] - s["start"] - child_s.get(id(s), 0.0)
            )
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# Spark event log → task metrics per job group


TASK_FIELDS = ("shuffle_write_bytes", "spill_disk_bytes", "executor_run_s", "gc_s")


def task_metrics_by_group(eventlog_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group from the event log written by a
    stopped session."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for path in glob.glob(os.path.join(eventlog_dir, "**"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group or ""
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    g = out.setdefault(
                        stage_group.get(ev.get("Stage ID"), ""),
                        dict.fromkeys(TASK_FIELDS, 0.0),
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    g["spill_disk_bytes"] += m.get("Disk Bytes Spilled", 0)
                    g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    return out


# ---------------------------------------------------------------------------
# statistics


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile."""
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    return v[min(len(v) - 1, max(0, int(round(q * len(v))) - 1))]


def median(values: list[float]) -> float:
    v = sorted(values)
    n = len(v)
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2
