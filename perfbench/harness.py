"""Shared pieces of the benchmark: host-fit environment, session set-up,
closed-loop timing, Spark counters read from the status store, process-tree
RSS sampling and in-memory spans.

Nothing here changes the program: it only builds sessions through
``arhivum_spark.session.get_spark`` and reads what Spark already records.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
import uuid
from contextlib import contextmanager

MB = 1024 * 1024


def host_settings(work: str) -> dict:
    """Run settings that fit the host: ``local[N]`` with N <= nproc, a
    driver heap sized to host RAM (the program's default is 16g), and every
    spill or temp directory on disk inside the checkout, never /dev/shm."""
    cores = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // MB
    heap_mb = max(1024, min(3072, ram_mb // 5))
    return {"cores": cores, "ram_mb": ram_mb, "heap_mb": heap_mb, "work": work}


def apply_environment(settings: dict, repo: str, bench: str) -> None:
    """Export the host-fit settings. Must run before pyspark starts a JVM."""
    work = settings["work"]
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = f"{settings['heap_mb']}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files: HotSpot writes them to /tmp whatever the tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the program, and the benchmark's own UDFs,
    # from the checkout
    paths = [repo, bench] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def new_session(settings: dict):
    from arhivum_spark.session import get_spark

    n = settings["cores"]
    tmp = os.path.join(settings["work"], "tmp")
    spark = get_spark(
        "perfbench",
        cores=n,
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def median(xs):
    return float(statistics.median(xs))


def quantile(xs, q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


def closed_loop(op, seconds: float) -> list:
    """Run ``op`` back to back, one at a time, at least once. Another op
    starts only if the previous one's duration still fits in the window, so
    a run's length stays close to ``seconds`` however long one op takes."""
    results = []
    start = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        results.append(op(len(results)))
        last = time.perf_counter() - t0
        if time.perf_counter() - start + last > seconds:
            return results


# ---------------------------------------------------------------------------
# Spark counters


class SparkCounters:
    """Per-job-group Spark counters, read from ``statusTracker()`` and the
    status store (works with ``spark.ui.enabled=false``)."""

    FIELDS = ("jobs", "stages", "shuffle_write_mb", "shuffle_read_mb",
              "spill_mb", "peak_exec_mem_mb", "executor_run_s")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()

    @contextmanager
    def group(self, name: str):
        """Tag every Spark job started inside the block with ``name``,
        restoring the enclosing group afterwards."""
        prior = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            if prior is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prior, prior)

    def read(self, name: str) -> dict:
        from py4j.protocol import Py4JJavaError

        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(name)
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        out = dict.fromkeys(self.FIELDS, 0.0)
        out["jobs"] = len(job_ids)
        for sid in stage_ids:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # never attempted: skipped, shuffle reused
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
            out["peak_exec_mem_mb"] = max(
                out["peak_exec_mem_mb"], sd.peakExecutionMemory() / MB
            )
            out["executor_run_s"] += sd.executorRunTime() / 1000.0
        return out


# ---------------------------------------------------------------------------
# Resident memory of the driver JVM and its Python workers


def _children_map() -> dict:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_mb(root_pid: int) -> float:
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total / MB


class RssSampler:
    """Samples the RSS of the JVM process tree (JVM plus the Python worker
    daemon and its workers) on a background thread; ``peak`` is the highest
    sum seen since the last ``reset``."""

    def __init__(self, spark, interval: float = 0.2):
        self.pid = spark.sparkContext._gateway.proc.pid
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, tree_rss_mb(self.pid))

    def reset(self) -> None:
        self.peak = tree_rss_mb(self.pid)

    def __enter__(self):
        self.reset()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# Spans


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and written
    out as JSON lines when the run ends. A disabled tracer records nothing."""

    def __init__(self, enabled: bool, run_id: str = ""):
        self.enabled = enabled
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, default=str) + "\n")
