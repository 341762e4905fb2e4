"""Spark session sized to the machine, the run's environment record,
Spark work counters read per job group, and process memory."""

from __future__ import annotations

import os
import platform
import subprocess
import tempfile
from typing import Tuple


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_gb(cores: int, ram: int) -> int:
    """A quarter of RAM, at most 2 GB per core, at least 1 GB."""
    return max(1, min(ram // 4 // 1024, 2 * cores))


def start_session(repo_root: str, work_dir: str):
    """One fresh local[nproc] session per run. The repo root goes on
    the Python workers' PYTHONPATH (they do not inherit the driver's
    sys.path); scratch and temp files stay under `work_dir`."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = repo_root + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # the gateway's connection-info dir
    from pyspark.sql import SparkSession

    cores = nproc()
    mem = driver_memory_gb(cores, ram_mb())
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("lucille-perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.driver.memory", f"{mem}g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.local.dir", os.path.join(work_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it (its
    Python worker daemon exits with it)."""
    gw = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def status_kb(pid, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its JVM."""
    return (status_kb("self", "VmHWM") + status_kb(jvm_pid(spark), "VmHWM")) / 1024.0


def rss_mb() -> float:
    return status_kb("self", "VmRSS") / 1024.0


def git_commit(repo_root: str) -> str:
    """HEAD's commit read from .git files; 'unknown' outside a git
    checkout."""
    git = os.path.join(repo_root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        p = os.path.join(git, ref)
        if os.path.exists(p):
            with open(p) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def environment(spark, repo_root: str) -> dict:
    import numpy
    import pandas
    import pyarrow

    cores = nproc()
    ram = ram_mb()
    return {
        "nproc": cores,
        "ram_mb": ram,
        "master": spark.sparkContext.master,
        "driver_memory_gb": driver_memory_gb(cores, ram),
        "spark": spark.version,
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "git_commit": git_commit(repo_root),
    }


class JobGroups:
    """Per-group Spark work counters, read from outside through
    `sparkContext.statusTracker()`. The benchmark runs every request,
    batch and build under its own job group."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()

    def set(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def counts(self, group: str) -> Tuple[int, int, int]:
        """-> (jobs, stages run, tasks run) for `group`. Stages the
        scheduler skipped (shuffle output reused) count as not run."""
        jobs = stages = tasks = 0
        seen = set()
        for jid in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return jobs, stages, tasks
