"""Shared plumbing: the Spark session, working dirs, statistics, result line."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

CACHE_DIR = ".perfbench_cache"  # generated inputs, kept across runs
WORK_DIR = ".perfbench_work"  # per-run state, removed at exit


@dataclass
class Ctx:
    root: str  # checkout root: every file the run touches is under it
    workload: str
    seed: int
    seconds: float
    trace: bool
    cores: int
    t_process: float  # perf_counter() at process start

    @property
    def cache(self) -> str:
        return os.path.join(self.root, CACHE_DIR)

    @property
    def work(self) -> str:
        return os.path.join(self.root, WORK_DIR, f"{self.workload}-{self.seed}-{os.getpid()}")

    @property
    def spans_path(self) -> str:
        """Where a traced run writes its spans (kept after the run)."""
        return os.path.join(self.root, WORK_DIR, f"spans-{self.workload}-{self.seed}.json")

    def fresh(self, name: str) -> str:
        """An empty directory under this run's work dir."""
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path


@dataclass
class Result:
    correct: bool = True
    attempted: int = 0
    failed: int = 0
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    problems: list[str] = field(default_factory=list)

    def mismatch(self, what: str) -> None:
        self.correct = False
        self.problems.append(what)


def start_spark(ctx: Ctx, cores: int | None = None):
    """Start (or, after ``spark.stop()``, restart) the session on
    ``local[cores]`` with every temporary location inside the checkout, then
    warm it with one small job.  Returns (spark, seconds taken)."""
    from cdc_platform_spark.session import get_spark

    cores = cores or ctx.cores
    tmp = os.path.join(ctx.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.local.dir": tmp,
            # no hsperfdata file under /tmp: every write stays in the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.range(200_000).selectExpr("sum(id)").collect()
    return spark, time.perf_counter() - t0


def stop_jvm() -> None:
    """End the Py4J gateway JVM this process launched and wait for it (its
    Python workers are its children and end with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def jvm_rss_peak_mb(spark) -> float:
    """Peak resident set of the driver JVM (VmHWM), in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    return float(statistics.median(xs))
