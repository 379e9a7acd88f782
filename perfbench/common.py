"""Shared plumbing: the per-run directory, session start, resource probes,
the percentile rule and the Spark REST counters used by traced runs."""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time
import urllib.request
import uuid


def cpu_count() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def load_1m() -> float:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return -1.0


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat: the share of time the host
    gave the machine's CPUs to someone else, for run context."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, IndexError, ValueError):
        return 0, 0


class RunDir:
    """A private scratch directory under ``<root>/.perfbench_runs`` that
    holds every file a run writes (inputs, stores, checkpoints, Spark local
    dirs, JVM temp files) and is removed when the run ends."""

    def __init__(self, root: str):
        self.base = os.path.join(os.path.abspath(root), ".perfbench_runs")
        self.path = os.path.join(self.base, f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
        os.makedirs(self.path)
        self._n = 0

    def sub(self, name: str) -> str:
        """A fresh, not-yet-existing path inside the run dir."""
        self._n += 1
        return os.path.join(self.path, f"{self._n:03d}-{name}")

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(self.base)  # only when no other run is using it
        except OSError:
            pass


def isolate_temp_files(run_dir: RunDir) -> None:
    """Point every temp-file writer this process starts at the run dir.
    Must run before the JVM starts."""
    import tempfile

    tmp = os.path.join(run_dir.path, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir.path, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


DRIVER_MEM = "2g"


def start_session(trace: bool):
    """``session.get_spark`` at ``local[nproc]``; returns (spark, seconds)."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_UI"] = "true" if trace else "false"
    from golang_cassandra_kafka_feed_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(os.environ["TMPDIR"], "wh"),
            # the whole heap is committed and touched at start, so peak RSS
            # moves with off-heap, native and Python memory, not with when
            # the collector happened to grow the heap
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Driver JVM peak RSS (VmHWM) plus this Python process's peak RSS."""
    jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb(os.getpid())) / 1024.0


# -- statistics ------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, p: float, min_beyond: int = 10) -> float | None:
    """Nearest-rank ``p``-th percentile, or None when fewer than
    ``min_beyond`` samples lie beyond it (the tail is not supported by
    the sample)."""
    n = len(xs)
    if n == 0:
        return None
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < min_beyond:
        return None
    return float(sorted(xs)[rank - 1])


def highest_supported_percentile(
    xs, candidates=(99.9, 99.0, 95.0, 90.0, 75.0, 50.0), min_beyond: int = 10
) -> tuple[float, float] | None:
    """(p, value) for the highest candidate percentile with at least
    ``min_beyond`` samples beyond it."""
    for p in candidates:
        v = percentile(xs, p, min_beyond)
        if v is not None:
            return p, v
    return None


# -- Spark REST counters (traced runs only) --------------------------------


class JobCounter:
    """Counts jobs, tasks, executor run time and shuffle bytes through the
    Spark UI REST API (the scripts/job_profile.py method).  A window is
    the set of jobs submitted between ``mark()`` and ``delta()``."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.app = sc.applicationId
        self.port = int(sc.uiWebUrl.rsplit(":", 1)[1])
        self.spark = spark

    def _api(self, path: str):
        url = f"http://localhost:{self.port}/api/v1/applications/{self.app}{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.loads(r.read())

    def _settle(self) -> None:
        # the listener bus is asynchronous: wait until the status store has
        # seen every submitted job finish
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        for _ in range(200):
            if not tracker.getActiveJobsIds():
                break
            time.sleep(0.01)
        time.sleep(0.05)

    def mark(self) -> set[int]:
        self._settle()
        return {j["jobId"] for j in self._api("/jobs")}

    def delta(self, before: set[int]) -> dict:
        """Totals over the jobs submitted since ``before``, plus the same
        totals per job description (``by_desc``)."""
        self._settle()
        jobs = [j for j in self._api("/jobs") if j["jobId"] not in before]
        stages = {}
        if jobs:
            for s in self._api("/stages"):
                if s.get("status") == "COMPLETE":
                    stages[s["stageId"]] = s

        def totals(js) -> dict:
            sids = {s for j in js for s in j.get("stageIds", [])}
            return {
                "jobs": len(js),
                "tasks": sum(j.get("numCompletedTasks", 0) for j in js),
                "executor_run_ms": sum(
                    stages[s].get("executorRunTime", 0) for s in sids if s in stages
                ),
                "shuffle_bytes": sum(
                    stages[s].get("shuffleWriteBytes", 0) for s in sids if s in stages
                ),
            }

        out = totals(jobs)
        groups: dict[str, list] = {}
        for j in jobs:
            groups.setdefault(j.get("description", ""), []).append(j)
        out["by_desc"] = {d: totals(js) for d, js in groups.items()}
        return out
