"""What every workload shares: the process environment, timed session
set-up, the memory sampler and the reading of streaming progress."""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from dataclasses import dataclass

from perfbench.stats import median, percentile
from perfbench.trace import Tracer

#: In-JVM session rebuilds per run; ``session.warm_setup_s`` is their median.
WARM_SETUPS = 2


@dataclass
class Context:
    """One run: its arguments, its work directory and its session."""

    seed: int
    seconds: int
    trace: bool
    root: str
    work: str
    tracer: Tracer
    memory: MemorySampler
    spark: object = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    @staticmethod
    def log(msg: str) -> None:
        print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def prepare_environment(root: str, work: str) -> None:
    """Keep every file the run writes inside ``work`` and make this
    directory's ``perfbench`` importable in Spark's Python workers.

    Must run before the JVM starts: it inherits this environment.
    """
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # The driver JVM's heap and young generation are fixed.  Left to
            # itself G1 grows the heap by a rule driven by GC timing, which
            # moved the JVM's resident memory by up to 40% between runs; now
            # the old generation, which the program's own data fills, is
            # what varies.  (Not JAVA_TOOL_OPTIONS: the small launcher JVM
            # would refuse these sizes.)
            "SPARK_SUBMIT_OPTS": "-Xms2g -Xmn512m",
            "PYTHONPATH": os.pathsep.join(
                p for p in (root, os.environ.get("PYTHONPATH", "")) if p
            ),
            "SPARK_GRAFT_CPUS": cpus,
            "SPARK_DRIVER_MEMORY": "2g",
            "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
            "TZ": "UTC",
        }
    )
    time.tzset()


def _set_up(tracer: Tracer, with_pull_source: bool) -> tuple[object, dict[str, float]]:
    """One session set-up through the package's public calls; return the
    session and the time of each call."""
    with tracer.span("session.setup"):
        a = time.perf_counter()
        with tracer.span("session.import"):
            from logspout_kinesis_tests_spark import session
        b = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = session.get_spark(app_name="perfbench")
        c = time.perf_counter()
        with tracer.span("session.ensure_runtime_confs"):
            session.ensure_runtime_confs(spark)
        d = time.perf_counter()
        if with_pull_source:
            from logspout_kinesis_tests_spark.streaming.pull_source import (
                register_pull_source,
            )

            with tracer.span("session.register_pull_source"):
                register_pull_source(spark)
        e = time.perf_counter()
    return spark, {
        "import": b - a,
        "get_spark": c - b,
        "ensure_runtime_confs": d - c,
        "register_pull_source": e - d,
    }


def setup_session(tracer: Tracer, t_process: float, with_pull_source: bool, tmp_root: str):
    """Set the session up; return it, the cold set-up time, the time of each
    call in the cold set-up and the median warm set-up time.

    The cold set-up runs from process start: imports, the JVM launch and the
    package's set-up calls.  It is ``setup_s``.  A process launches its JVM
    once, so the cold set-up is one sample per run.  Then ``WARM_SETUPS``
    times the SparkContext is stopped and built again in the same JVM, with a
    fresh temp directory so the package zip is built and shipped again.
    Their median isolates the package's set-up code from the JVM launch.
    """
    import tempfile

    spark, calls = _set_up(tracer, with_pull_source)
    cold = time.perf_counter() - t_process
    warm = []
    for i in range(WARM_SETUPS):
        spark.stop()
        tempfile.tempdir = os.path.join(tmp_root, f"setup{i}")
        os.makedirs(tempfile.tempdir, exist_ok=True)
        t0 = time.perf_counter()
        spark, _ = _set_up(tracer, with_pull_source)
        warm.append(time.perf_counter() - t0)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cold, calls, median(warm)


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _status(pid: int) -> tuple[str, int]:
    """(command name, resident KB) of a process from its status file."""
    name, rss = "", 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("Name:"):
                name = line.split()[1]
            elif line.startswith("VmRSS:"):
                rss = int(line.split()[1])
    return name, rss


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


class MemorySampler:
    """Resident memory of this process's descendants, the Spark JVM and the
    Python workers it starts, sampled every ``INTERVAL_S``.  The JVM counts
    its RSS.  Python workers count their proportional set size, which splits
    the pages that workers forked from one daemon share, so those count once.
    Processes the benchmark starts itself are left out with :meth:`exclude`.

    The peak is taken over the rolling median of ``WINDOW`` samples: memory
    held for at least half that window counts, while a worker process that
    lives for a moment between two queries does not.  A workload calls
    :meth:`stop` when its timed phases end, so checks and probes that follow
    do not count."""

    INTERVAL_S = 0.5
    WINDOW = 5

    def __init__(self):
        self.samples: list[tuple[int, int]] = []  # (JVM KB, Python workers KB)
        self._excluded: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def exclude(self, pid: int) -> None:
        self._excluded.add(pid)

    def _sample(self) -> None:
        jvm = python = 0
        for pid in _descendants(os.getpid()):
            if pid in self._excluded:
                continue
            try:
                name, rss = _status(pid)
                if name == "java":
                    jvm += rss
                else:
                    python += _pss_kb(pid)
            except OSError:  # the process ended while being read
                continue
        self.samples.append((jvm, python))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.INTERVAL_S)

    def peak_mb(self, part=sum) -> float:
        """Peak rolling median of ``part(sample)`` over the samples, in MB."""
        values = [part(s) for s in self.samples]
        w = min(self.WINDOW, len(values))
        return max((median(values[i : i + w]) for i in range(len(values) - w + 1)), default=0) / 1024

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self.stop()


def run_query_until(query, done, timeout_s: float) -> None:
    """Wait until ``done()`` holds, then stop ``query``; fail on timeout or
    if the query died."""
    deadline = time.monotonic() + timeout_s
    try:
        while not done():
            if query.exception() is not None:
                raise RuntimeError(f"query failed: {query.exception()}")
            if not query.isActive:
                raise RuntimeError("query stopped before its input was processed")
            if time.monotonic() > deadline:
                last = query.lastProgress
                raise TimeoutError(
                    "streaming query did not keep up within its deadline; last progress: "
                    f"{last.json if last is not None else None}"
                )
            time.sleep(0.1)
    finally:
        query.stop()


def progress_list(query) -> list[dict]:
    """The query's progress events with data, as plain dicts."""
    return [json.loads(p.json) for p in query.recentProgress if p.numInputRows > 0]


def batch_rates(progress: list[dict]) -> list[float]:
    """Records per second of each micro-batch, over its trigger execution."""
    return [p["numInputRows"] / (p["durationMs"]["triggerExecution"] / 1e3) for p in progress]


def pipeline_metrics(progress: list[dict]) -> dict[str, float]:
    """The ``pipeline.*`` per-layer metrics from progress events."""

    def p50(key):
        return percentile([p["durationMs"].get(key, 0) for p in progress], 50)

    overhead = [
        p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0)
        for p in progress
    ]
    return {
        "pipeline.batches": len(progress),
        "pipeline.rows_per_batch_p50": percentile([p["numInputRows"] for p in progress], 50),
        "pipeline.trigger_ms_p50": p50("triggerExecution"),
        "pipeline.add_batch_ms_p50": p50("addBatch"),
        "pipeline.overhead_ms_p50": percentile(overhead, 50),
        "pipeline.latest_offset_ms_p50": p50("latestOffset"),
        "pipeline.query_planning_ms_p50": p50("queryPlanning"),
        "pipeline.wal_commit_ms_p50": p50("walCommit"),
    }
