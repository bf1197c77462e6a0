"""Pinned Spark session, Python-worker memory and Spark job counters.

Everything the benchmark writes (stores, Spark scratch, JVM and Python
temp files) goes under one run directory inside the checkout, which
`close()` removes.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time

#: Session settings every run uses; the store's shape depends on them
#: (config.derive_chunk_target reads driver memory and the core count).
DRIVER_MEMORY = "2g"
MAX_CORES = 4


def cores() -> int:
    """local[N] width: the host's cores, capped so hosts compare."""
    return max(1, min(MAX_CORES, os.cpu_count() or 1))


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, field: str) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip().startswith("python")
    except OSError:
        return False


def python_workers() -> list[int]:
    """PySpark worker processes (daemon and forked workers): the Python
    descendants of this driver. The JVM itself is excluded."""
    return [p for p in _descendants(os.getpid()) if _is_python(p)]


def reset_worker_peaks() -> None:
    """Reset VmHWM of every live worker (writing 5 to clear_refs), so a
    later `worker_peak_mb` covers only what ran in between."""
    for pid in python_workers():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # worker exited, or the kernel refuses: peak is since start


def worker_peak_mb() -> float:
    peaks = [_status_kb(p, "VmHWM") for p in python_workers()]
    return max([p for p in peaks if p is not None] or [0]) / 1024.0


class Bench:
    """One benchmark process: a pinned local session plus a scratch
    directory under `root`. Use as a context manager."""

    def __init__(self, root: str, seed: int):
        self.root = root
        self.seed = seed
        self.dir = os.path.join(root, ".perfbench_tmp", f"run-{os.getpid()}-{seed}")
        self.spark = None
        self._group = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def __enter__(self) -> "Bench":
        os.makedirs(self.path("tmp"), exist_ok=True)
        tmp = self.path("tmp")
        # python workers import the engine from the checkout, and every
        # temp file (python, JVM, Spark shuffle) stays inside the run dir
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [self.root] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        )
        os.environ["TMPDIR"] = tmp
        # every JVM (the launcher's too): temp files in the run dir, and
        # no hsperfdata files in the system temp dir
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
            [os.environ.get("JAVA_TOOL_OPTIONS", ""), f"-Djava.io.tmpdir={tmp}",
             "-XX:-UsePerfData"]
        ).strip()
        import tempfile

        tempfile.tempdir = tmp
        from pyspark.sql import SparkSession

        n = cores()
        self.spark = (
            SparkSession.builder.master(f"local[{n}]")
            .appName("perfbench")
            .config("spark.driver.memory", DRIVER_MEMORY)
            # C1 only: C2's compiler threads compete with the task
            # threads for the four cores, and its warm-up runs for
            # minutes, longer than a run. Under C1 the cold set-up is
            # shorter (22-30 s against 27-32 s) and later calls flatter.
            # C1 alone reserves only 48 MB of code cache; every query
            # compiles new generated classes, so that fills within
            # 70-110 s and the JVM stops compiling, which slows every
            # later call by an amount that varies from run to run.
            # Compiling at a tenth of the usual call counts gets the
            # warm-up cycle further along the JIT curve (cold lookups
            # 2.2 s against 2.7 s).
            .config("spark.driver.extraJavaOptions",
                    "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m"
                    " -XX:CompileThresholdScaling=0.1")
            .config("spark.local.dir", self.path("spark-local"))
            .config("spark.sql.warehouse.dir", self.path("warehouse"))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.shuffle.partitions", str(2 * n))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "1024")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
            # Int.MaxValue skips Spark's per-row batch-size walk, as the
            # engine's own session hook does
            .config("spark.sql.execution.arrow.maxBytesPerBatch", "2147483647")
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def close(self) -> None:
        if self.spark is not None:
            sc = self.spark.sparkContext
            gateway = sc._gateway
            proc = getattr(gateway, "proc", None)
            self.spark.stop()
            gateway.shutdown()
            if proc is not None:
                # the JVM exits when its stdin closes; its python
                # workers exit with it
                try:
                    proc.stdin.close()
                    proc.wait(timeout=60)
                except (OSError, subprocess.TimeoutExpired):
                    proc.kill()
                    proc.wait(timeout=30)
            self.spark = None
        deadline = time.monotonic() + 30
        while python_workers() and time.monotonic() < deadline:
            time.sleep(0.1)
        shutil.rmtree(self.dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.dir))
        except OSError:
            pass  # another run's directory is still there

    def info(self) -> dict:
        from osm_pbf_parquet_spark.config import derive_chunk_target

        return {
            "nproc": os.cpu_count(),
            "local_n": cores(),
            "driver_memory": DRIVER_MEMORY,
            "chunk_target_bytes": derive_chunk_target(self.spark),
            "seed": self.seed,
            "python": sys.version.split()[0],
            "spark": self.spark.version,
        }

    def run_op(self, fn):
        """Run `fn` as its own Spark job group; return (result, seconds,
        (jobs, tasks per stage)). Worker peaks are reset first."""
        sc = self.spark.sparkContext
        self._group += 1
        group = f"op-{self._group}"
        sc.setJobGroup(group, group)
        reset_worker_peaks()
        t0 = time.perf_counter()
        try:
            result = fn()
        finally:
            seconds = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
        return result, seconds, self.job_counts(group)

    def job_counts(self, group: str) -> tuple[int, list[int]]:
        st = self.spark.sparkContext.statusTracker()
        jobs = sorted(st.getJobIdsForGroup(group))
        tasks = []
        for j in jobs:
            info = st.getJobInfo(j)
            for s in sorted(info.stageIds) if info else []:
                si = st.getStageInfo(s)
                if si is not None:
                    tasks.append(si.numTasks)
        return len(jobs), tasks
