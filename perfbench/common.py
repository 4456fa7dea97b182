"""Paths, machine fitting and the Spark session lifecycle for the benchmark.

The engine's session defaults (``SPARK_GRAFT_CPUS=32``, a 48g driver) are
sized for a large host. The benchmark fits them to the machine it runs on
from the outside, through the environment variables and ``extra_conf``
that ``session.get_spark`` already reads, and records what it chose.
Everything the benchmark writes lives under ``perfbench/.work`` in the
checkout.
"""

from __future__ import annotations

import os
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
WORK_DIR = os.path.join(BENCH_DIR, ".work")


def work_dir(*parts: str) -> str:
    """A directory under the benchmark's work dir, created if missing."""
    p = os.path.join(WORK_DIR, *parts)
    os.makedirs(p, exist_ok=True)
    return p


def machine_settings() -> dict:
    """Session sizing for this machine: one executor thread per usable
    core, matching shuffle partitions, and a driver heap of an eighth of
    physical memory clamped to [1 GiB, 4 GiB]."""
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    cpus = max(1, int(cpus or 1))
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    driver_mb = int(min(4096, max(1024, phys // 8 // 2**20)))
    return {
        "master": f"local[{cpus}]",
        "cpus": cpus,
        "shuffle_partitions": cpus,
        "driver_memory": f"{driver_mb}m",
        "phys_mem_gb": round(phys / 2**30, 1),
        "local_dirs": work_dir("spark-local"),
        "tmp_dir": work_dir("tmp"),
    }


def fit_environment(settings: dict) -> None:
    """Export the settings where the engine and the Python workers read
    them. Must run before the engine package is imported: the session
    module reads ``SPARK_GRAFT_CPUS`` at import time."""
    os.environ["SPARK_GRAFT_CPUS"] = str(settings["cpus"])
    os.environ["SPARK_DRIVER_MEM"] = settings["driver_memory"]
    os.environ["SPARK_LOCAL_DIRS"] = settings["local_dirs"]
    os.environ["TMPDIR"] = settings["tmp_dir"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # Python workers import the engine by name; without the checkout on
    # their path every UDF fails with ModuleNotFoundError
    paths = [REPO_ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)


def spark_conf(settings: dict, event_log_dir: str | None) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": settings["local_dirs"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={settings['tmp_dir']}",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.sql.warehouse.dir": os.path.join(WORK_DIR, "warehouse"),
        # read once per JVM, so every context of a run sets it alike;
        # values are sampled only when a traced context polls metrics
        "spark.executor.processTreeMetrics.enabled": "true",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.logStageExecutorMetrics": "true",
            "spark.executor.metrics.pollingInterval": "500ms",
        })
    else:
        conf["spark.eventLog.enabled"] = "false"
    return conf


class Session:
    """Owns the SparkSession of a run. ``start`` builds a fresh
    SparkContext (the first call also launches the JVM); ``close`` stops
    Spark, shuts the JVM down and waits for it to exit."""

    def __init__(self, settings: dict):
        self.settings = settings
        self.spark = None
        self._gateway_proc = None

    def start(self, event_log_dir: str | None = None):
        from gfw_raster_analysis_lambda_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            "perfbench",
            master=self.settings["master"],
            shuffle_partitions=self.settings["shuffle_partitions"],
            extra_conf=spark_conf(self.settings, event_log_dir),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        gw = self.spark.sparkContext._gateway
        self._gateway_proc = getattr(gw, "proc", None) or self._gateway_proc
        return self.spark

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Exception as e:  # the JVM may already be gone
                print(f"gateway shutdown: {e!r}", file=sys.stderr)
            SparkContext._gateway = None
            SparkContext._jvm = None
        proc = self._gateway_proc
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def quantile_tail(values: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value) of the highest percentile with at least ten
    samples above it, or (None, None) when there are fewer than eleven."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return None, None
    idx = n - 11  # ten samples beyond index n-11
    return round(100.0 * idx / (n - 1), 1) if n > 1 else 0.0, v[idx]

