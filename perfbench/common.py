"""Shared benchmark plumbing: results, percentiles, spans, RSS, Spark set-up.

Nothing here imports the engine at module load; workloads import it after
``run.py`` has checked that the checkout holds it.
"""

from __future__ import annotations

import json
import math
import os
import platform
import statistics
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
WORK_ROOT = os.path.join(ROOT, ".bench_work")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty sample."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, math.ceil(q / 100.0 * len(s)) - 1))
    return float(s[k])


def median(values) -> float:
    return float(statistics.median(values))


# -- results ------------------------------------------------------------


@dataclass
class Result:
    """What one workload run reports.

    ``metrics`` maps a name to ``(value, unit, samples)``; ``attempted`` and
    ``failed`` count ops, where a failed op is an output-check miss.
    """

    workload: str
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)
    problems: list = field(default_factory=list)
    params: dict = field(default_factory=dict)

    def put(self, name: str, value: float, unit: str, samples: int = 1) -> None:
        self.metrics[name] = (float(value), unit, int(samples))

    def fail(self, n: int, why: str) -> None:
        """Count ``n`` failed ops, keeping the first few reasons."""
        if n <= 0:
            return
        self.failed += n
        if len(self.problems) < 20:
            self.problems.append(why)


def environment() -> dict:
    import subprocess

    try:
        import pyspark

        spark_v = pyspark.__version__
    except ImportError:
        spark_v = None
    try:
        java = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        ).stderr.splitlines()[0]
    except (OSError, IndexError, subprocess.TimeoutExpired):
        java = None
    return {
        "cores": cores(),
        "python": platform.python_version(),
        "spark": spark_v,
        "java": java,
        "machine": platform.machine(),
    }


# -- tracing ------------------------------------------------------------


class Tracer:
    """In-memory spans around calls into the engine's layers.

    A span is ``(id, parent, name, start, end)``; the parent is the span
    open on the same thread when it began. Spans are kept in memory and
    written once, when the run ends.
    """

    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self._local = threading.local()
        self._next = 0
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append((sid, parent, name, t0, t1))

    def add(self, name: str, t0: float, t1: float) -> None:
        """A span timed by the caller, with no parent."""
        with self._lock:
            sid = self._next
            self._next += 1
        self.spans.append((sid, None, name, t0, t1))

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def totals(self) -> dict[str, tuple[int, float, float]]:
        """name -> (calls, total seconds, self seconds)."""
        child = {}
        for _sid, parent, _n, t0, t1 in self.spans:
            if parent is not None:
                child[parent] = child.get(parent, 0.0) + (t1 - t0)
        out: dict[str, list] = {}
        for sid, _p, name, t0, t1 in self.spans:
            acc = out.setdefault(name, [0, 0.0, 0.0])
            acc[0] += 1
            acc[1] += t1 - t0
            acc[2] += (t1 - t0) - child.get(sid, 0.0)
        return {k: tuple(v) for k, v in out.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sid, parent, name, t0, t1 in self.spans:
                fh.write(
                    json.dumps(
                        {"id": sid, "parent": parent, "name": name,
                         "start": t0, "end": t1}
                    )
                    + "\n"
                )


class CountingRoutes(list):
    """A router's route list that counts the routes the engine iterates
    over, for the traced run: the comparisons it makes, not the table size."""

    scanned = 0

    def __iter__(self):
        for route in list.__iter__(self):
            self.scanned += 1
            yield route


class Patch:
    """Replace module attributes for the traced run; restored on exit."""

    def __init__(self) -> None:
        self._saved: list[tuple] = []

    def set(self, obj, attr: str, value) -> None:
        self._saved.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, value)

    def restore(self) -> None:
        while self._saved:
            obj, attr, value = self._saved.pop()
            setattr(obj, attr, value)


# -- memory -------------------------------------------------------------


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def reset_peak_rss() -> None:
    """Restart this process's ``VmHWM`` from its current RSS, so the peak
    covers only what follows (not the benchmark's own set-up)."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass


def peak_rss_mb() -> float:
    """Peak RSS (``VmHWM``) of this process plus its live descendants (the
    JVM and its Python workers), in MiB."""
    total, todo, seen = 0, [os.getpid()], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _vm_hwm_kb(pid)
        todo.extend(_children(pid))
    return total / 1024.0


# -- Spark ----------------------------------------------------------------


def work_dir(name: str) -> str:
    path = os.path.join(WORK_ROOT, f"{name}-{os.getpid()}")
    os.makedirs(path, exist_ok=True)
    return path


def prepare_process_env() -> None:
    """Keep every file the run writes (JVM and Python temp files, Spark
    scratch) inside the checkout."""
    tmp = os.path.join(WORK_ROOT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    # a small heap keeps the footprint steady and the shared box safe
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")


def start_spark(trace: bool):
    """A fresh session through the engine's own factory, at the measured
    core count; the UI (and its REST API) only for traced runs."""
    from event_streamer_spark.session import get_spark

    n = cores()
    tmp = os.path.join(WORK_ROOT, "tmp")
    conf = {
        "spark.local.dir": os.path.join(WORK_ROOT, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK_ROOT, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
    }
    if trace:
        conf["spark.ui.enabled"] = "true"
        conf["spark.ui.port"] = "0"
        conf["spark.ui.showConsoleProgress"] = "false"
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    for q in spark.streams.active:
        q.stop()
    spark.stop()


def stop_jvm(timeout: float = 60.0) -> None:
    """End the JVM this process launched and wait for it: it exits when
    its stdin closes, which would otherwise happen only after we exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout)


def clean_work_dirs() -> None:
    """Remove this process's work directories (inputs, tables, files)."""
    import glob
    import shutil

    for path in glob.glob(os.path.join(WORK_ROOT, f"*-{os.getpid()}")):
        shutil.rmtree(path, ignore_errors=True)


class SparkRest:
    """Reads the Spark status REST API of a traced run's session."""

    def __init__(self, spark) -> None:
        self.base = spark.sparkContext.uiWebUrl
        self.app = spark.sparkContext.applicationId

    def get(self, path: str):
        if not self.base:
            return []
        url = f"{self.base}/api/v1/applications/{self.app}/{path}"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.loads(resp.read().decode())

    def stages(self) -> list[dict]:
        return self.get("stages?status=complete")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
