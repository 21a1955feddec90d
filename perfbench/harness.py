"""Run-scoped environment, Spark session, statistics and the result line.

Everything a run creates (tables, the result cache, ``spark-warehouse``,
Spark's local dirs, Python temp files) lives under one temp directory
inside the checkout, removed when the run ends.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PROGRAM_PACKAGES = ("datafusion_pinot_spark", "pinot_segment")
SESSION_MEMORY = "2g"
NO_PERF_DATA = "-XX:-UsePerfData"


def program_present() -> bool:
    return all(
        os.path.isfile(os.path.join(ROOT, pkg, "__init__.py"))
        for pkg in PROGRAM_PACKAGES
    )


def cpus() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        return os.cpu_count() or 1


class RunDir:
    """One temp directory per run under ``<checkout>/.perfbench_tmp``.

    ``enter()`` points TMPDIR, PYTHONPATH and the session settings at it
    before Spark starts, so the JVM and its Python workers inherit them."""

    def __init__(self) -> None:
        base = os.path.join(ROOT, ".perfbench_tmp")
        os.makedirs(base, exist_ok=True)
        self.path = tempfile.mkdtemp(prefix="run-", dir=base)
        self.tmp = os.path.join(self.path, "tmp")
        self.data = os.path.join(self.path, "data")
        self.cache = os.path.join(self.path, "result_cache")
        for d in (self.tmp, self.data):
            os.makedirs(d)

    def enter(self) -> None:
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = None  # re-read TMPDIR
        paths = [ROOT] + [
            p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
        ]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = SESSION_MEMORY
        # workers run the interpreter running the benchmark
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # no JVM perf-data files under /tmp (spark-submit's launcher JVM)
        os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
            filter(None, [os.environ.get("SPARK_LAUNCHER_OPTS"), NO_PERF_DATA])
        )

    def spark_conf(self) -> dict[str, str]:
        java_opts = f"-Djava.io.tmpdir={self.tmp} -Dderby.system.home={self.tmp} {NO_PERF_DATA}"
        return {
            "spark.sql.warehouse.dir": os.path.join(self.path, "spark-warehouse"),
            "spark.local.dir": os.path.join(self.path, "spark-local"),
            "spark.driver.extraJavaOptions": java_opts,
        }

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.path))
        except OSError:
            pass  # another run still holds its directory there


def start_spark(run_dir: RunDir):
    """The repo's session factory with run-scoped dirs; the pinot source
    registered."""
    from datafusion_pinot_spark.session import get_spark
    from datafusion_pinot_spark.sources.pinot_datasource import PinotDataSource

    spark = get_spark(
        app_name="perfbench", cpus=cpus(), extra_conf=run_dir.spark_conf()
    )
    spark.dataSource.register(PinotDataSource)
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def failed_spark_tasks(spark) -> int:
    """Failed task attempts over every job the status tracker retains."""
    tracker = spark.sparkContext.statusTracker()
    failed = 0
    for job_id in tracker.getJobIdsForGroup(None):
        job = tracker.getJobInfo(job_id)
        for stage_id in job.stageIds if job else ():
            stage = tracker.getStageInfo(stage_id)
            if stage is not None:
                failed += stage.numFailedTasks
    return failed


def table_bytes(table_dir: str) -> int:
    """Bytes of every file under the table directory (segments, manifest)."""
    total = 0
    for dirpath, _, files in os.walk(table_dir):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def percentile(values: list[float], q: float) -> float:
    """The ``q``-th percentile, interpolated between order statistics
    (``statistics.quantiles``' inclusive method)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1]


@dataclass
class Outcome:
    """What a run attempted and how much of it failed or was wrong."""

    attempted: int = 0
    errors: int = 0
    mismatches: int = 0
    failed_tasks: int = 0
    notes: list[str] = field(default_factory=list)

    @property
    def failed(self) -> int:
        return self.errors + self.mismatches + self.failed_tasks

    @property
    def failed_ratio(self) -> float:
        return self.failed / max(1, self.attempted)


class Clock:
    """Seconds since the process started (``setup_s`` is measured on it)."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        try:
            with open(f"/proc/{os.getpid()}/stat") as f:
                start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
            with open("/proc/uptime") as f:
                uptime = float(f.read().split()[0])
            age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
            self.t0 -= max(0.0, age)
        except (OSError, ValueError, IndexError):
            pass  # no procfs: count from the first import instead

    def now(self) -> float:
        return time.perf_counter() - self.t0


def result_line(outcome: Outcome, metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps(
        {
            "correct": outcome.failed == 0 and outcome.attempted > 0,
            "attempted": outcome.attempted,
            "failed": outcome.failed,
            "metrics": {
                k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
            },
        }
    )
