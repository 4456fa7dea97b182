"""SparkSession construction for the engine.

Local mode is the test target (one JVM, N threads); the same configs are the
ones we would pass to spark-submit on a real multi-executor cluster. The
knobs below are the scale-relevant ones:

- AQE on (runtime coalesce + skew-join splitting — the engine's spatial
  joins can produce skewed cell keys when many AOIs overlap hot cells).
- Arrow exchange on (every raster kernel is an Arrow-batched UDF).
- ``maxRecordsPerBatch`` bounds per-task memory: one record is one image
  tile; at 5000x5000 uint16 a decoded tile is ~50 MB, so batches must stay
  small. The reference had the same bound as a hard 3 GB lambda cap
  (reference README.md:369); here it is a first-class config.

Defaults are sized from the machine: one task thread and one shuffle
partition per usable core, and a driver heap of a quarter of physical
memory (1-32 GiB). In local mode that JVM runs every task, and each core
also runs a Python worker outside the heap, so the rest of memory is left
to those workers and the OS. ``SPARK_GRAFT_CPUS``, ``SPARK_MASTER`` and
``SPARK_DRIVER_MEM`` override the defaults.

Two settings cut the fixed cost at the Python boundary:

- ``spark.python.daemon.module`` is the engine's ``worker_daemon``, which
  takes Spark's archives off the Python workers' path before they import
  pyspark (see that module). Only a local master whose workers can import
  this package from their cwd or PYTHONPATH gets it; elsewhere the
  package may arrive through ``--py-files`` only after the daemon starts,
  so Spark's default daemon stays.
- ``spark.python.sql.dataFrameDebugging.enabled`` is off: with it on,
  every ``F.*`` or ``Column`` call on the driver also reads a conf, sets
  and clears the JVM call-site origin and walks the Python stack.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _machine_cpus() -> int:
    """Cores this process may run on."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        n = os.cpu_count() or 1
    return max(1, n)


def _machine_driver_memory() -> str:
    """A quarter of physical memory, clamped to 1-32 GiB (see module doc)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(32 * 1024, max(1024, phys // 4 // 2**20))}m"


DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS") or _machine_cpus())
WORKER_DAEMON = "gfw_raster_analysis_lambda_spark.worker_daemon"


def _worker_daemon_conf(master: str, conf: dict) -> dict:
    """``spark.python.daemon.module`` for a local master whose workers can
    import this package (module doc): ``python -m`` puts the cwd first on
    a worker's path, and the worker's PYTHONPATH is the driver's plus
    ``spark.executorEnv.PYTHONPATH``."""
    if not master.startswith("local"):
        return {}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [os.getcwd()]
    for value in (os.environ.get("PYTHONPATH", ""), conf.get("spark.executorEnv.PYTHONPATH", "")):
        paths += [p for p in value.split(os.pathsep) if p]
    if root not in {os.path.abspath(p) for p in paths}:
        return {}
    return {"spark.python.daemon.module": WORKER_DAEMON}


def get_spark(
    app_name: str = "gfw_spark_zonal",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 32,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the zonal engine.

    ``arrow_batch_rows`` is tiles-per-Arrow-batch — the per-task memory
    bound for the zonal kernel (each row carries an encoded tile that
    decodes to w*h pixels).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or _machine_cpus()
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    nshuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows)
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _machine_driver_memory())
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    conf = {**_worker_daemon_conf(master, extra_conf or {}), **(extra_conf or {})}
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
