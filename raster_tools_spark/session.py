"""SparkSession factory with the engine's canonical config.

Scale-minded defaults: AQE on (runtime re-plan + skew join), Arrow on
(every UDF in this engine is vectorized), UTC session timezone (oracle
comparison), shuffle partitions sized to cores for local mode (a real
cluster overrides via spark-submit --conf).

Python task fixed cost: pyspark's worker calls
``importlib.invalidate_caches()`` at the start of every task, and below
CPython 3.13 that re-reads the whole directory of ``pyspark.zip`` once
per cached ``zipimporter`` -- ~0.25 s per task, most of a small UDF
stage's Python time.  3.13 made ``zipimporter.invalidate_caches`` lazy.
For ``local[...]`` masters, whose workers get this package on their
``PYTHONPATH`` below, the workers come from ``_pydaemon`` instead of
``pyspark.daemon``; it re-reads an archive only when it changed.  An
``extra_conf`` that sets ``spark.python.daemon.module`` wins, and the
stock daemon stays when the working directory holds another copy of
this package (see ``_workers_import_this_package``).
``tools/worker_tax.py`` measures the cost (median gap between two tasks
on one worker, and "time to initialize Python workers").
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "raster-tools-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # one BLAS thread per Python worker: N workers each spawning
    # ncpu-sized BLAS pools oversubscribes the box quadratically
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    # make this package importable in executor Python workers even when
    # the driver was launched from another CWD (workers inherit env,
    # not the driver's sys.path; on a cluster use --py-files instead)
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    n_threads = cpus if master == "local[*]" else _threads_of(master, cpus)
    shuffle_partitions = shuffle_partitions or max(n_threads, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # image tables are CPU-heavy per byte (decode in Python UDFs):
        # default 128 MB scan splits starve the cores (an 800 MB table
        # would fan out to only ~7 tasks).  16 MB keeps every core busy
        # while staying far above the per-file overhead floor.
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
    )
    extra_conf = dict(extra_conf or {})
    if (master == "local" or master.startswith("local[")) and \
            _workers_import_this_package():
        # workers share this host's PYTHONPATH (set above), so the
        # daemon can come from this package; see _pydaemon
        extra_conf.setdefault("spark.python.daemon.module",
                              "raster_tools_spark._pydaemon")
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _workers_import_this_package() -> bool:
    """Whether ``python -m`` in the workers' working directory (this
    process's) imports this ``raster_tools_spark``: ``-m`` puts that
    directory first on ``sys.path``, so another copy of the package
    there -- say an older checkout without ``_pydaemon`` -- would be
    the one the daemon starts from."""
    local = os.path.join(os.getcwd(), "raster_tools_spark")
    here = os.path.dirname(os.path.abspath(__file__))
    return not os.path.exists(local) or os.path.samefile(local, here)


def _threads_of(master: str, default: int) -> int:
    if master.startswith("local[") and master.endswith("]"):
        inner = master[6:-1]
        if inner != "*":
            try:
                return int(inner)
            except ValueError:
                pass
    return default
