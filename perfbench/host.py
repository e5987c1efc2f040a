"""Host sizing, the engine session, and measurements every workload shares:
process-tree RSS, Spark job/stage/task counts per job group, and the
host calibration run."""

from __future__ import annotations

import os
import sys
import threading
import time

from perfbench.stats import median

_T0 = time.time()


def log(msg: str) -> None:
    """A progress line on stderr, stamped with seconds since start."""
    print(f"perfbench {time.time() - _T0:7.1f}s {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def physical_ram_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024 * 1024)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem() -> str:
    """A quarter of physical RAM, at most 4 GB: the session default (16g)
    exceeds small hosts, and the inputs here are a few hundred MB."""
    gb = max(1, min(4, int(physical_ram_gb() // 4)))
    return f"{gb}g"


def configure_env(work_dir: str) -> None:
    """Environment the engine reads at start-up.  Every temporary file
    Spark or Python makes lands under ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ.pop("OMP_NUM_THREADS", None)


def start_spark(work_dir: str):
    """The engine's own session factory, plus the benchmark's bookkeeping
    confs: temp dirs inside ``work_dir`` and enough retained jobs for the
    status tracker to count every job of a run."""
    from gmallrealtime02_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _tree_pids(root: int, exclude: set[int]) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak RSS of this process and its descendants (the Python driver,
    the JVM and its Python workers), sampled every ``interval`` s.
    Processes in ``exclude`` (the load generator) are left out."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        kb = sum(_rss_kb(p) for p in _tree_pids(os.getpid(), self.exclude))
        self.peak_kb = max(self.peak_kb, kb)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak_kb / 1024


class JobCounter:
    """Counts Spark jobs, stages and tasks per job group through the
    public status tracker."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._n = 0

    def group(self, label: str) -> str:
        self._n += 1
        group = f"perfbench:{label}:{self._n}"
        self.sc.setJobGroup(group, label)
        return group

    def counts(self, group: str) -> tuple[int, int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        return len(jobs), stages, tasks


def calibration_s(spark, reps: int = 3) -> float:
    """Median wall time of a fixed ``spark.range`` shuffle + aggregate
    that runs no repository code: host drift shows here first."""
    from pyspark.sql import functions as F

    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        (
            spark.range(8_000_000)
            .groupBy((F.col("id") % 4096).alias("k"))
            .agg(F.sum("id").alias("s"), F.count("*").alias("n"))
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        times.append(time.perf_counter() - t0)
    return median(times)
