"""SparkSession factory tuned for the pipeline.

Local-mode settings mirror what we would submit cluster-side via
``spark-submit --py-files`` (AQE on, Arrow on, shuffle partitions sized
to cores, UTC so DuckDB-oracle comparisons are timezone-stable,
parquet timestamps as INT64 micros so their footers carry min/max).
"""

from __future__ import annotations

import atexit
import functools
import glob
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set[str] = set()


@functools.cache
def _package_zip() -> str:
    """Zip the package's ``.py`` files once per process into a fresh
    temp dir, removed at interpreter exit. Spark's file server reads it
    lazily, so it must outlive ``addPyFile``, but not the process that
    shipped it. ``__pycache__`` stays out: zipimport never reads
    bytecode from an archive's ``__pycache__``."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    tmp_dir = tempfile.mkdtemp(prefix="otelcol_spark_pkg_")
    atexit.register(shutil.rmtree, tmp_dir, ignore_errors=True)
    path = os.path.join(tmp_dir, "otelcol_spark_pkg.zip")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for src in sorted(glob.glob(os.path.join(pkg_dir, "**", "*.py"), recursive=True)):
            zf.write(src, os.path.relpath(src, root))
    return path


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    The local-mode equivalent of ``spark-submit --py-files pkg.zip``:
    UDFs that reference module-level functions (e.g. the murmur3
    kernel) are pickled by reference and must be importable on the
    worker side — which fails whenever the driver's cwd isn't the repo
    root. Zip the package once and addPyFile it. Idempotent per app.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED:
        return
    spark.sparkContext.addPyFile(_package_zip())
    _SHIPPED.add(app_id)


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap sized to the host: half of MemTotal, in MiB.

    Local mode runs every executor inside this one JVM, and the Python
    workers, off-heap buffers and page cache need the rest. A heap larger
    than RAM on a host with no swap gets the JVM OOM-killed instead of
    failing a task with an error. Falls back to 4g when MemTotal cannot
    be read (no /proc).
    """
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    kib = int(line.split()[1])
                    return f"{max(512, kib // 2048)}m"
    except OSError:
        pass
    return "4g"


def get_spark(
    app_name: str = "otelcol_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cpus=None → local[*]; otherwise local[cpus]. ``master`` (or the
    ``SPARK_GRAFT_MASTER`` env var) overrides with a cluster URL — e.g.
    ``spark://host:7077`` for a standalone cluster (tools/cluster_bench.py)
    — in which case ``cpus`` sizes only the shuffle partitioning and the
    executor fleet is described via ``extra_conf`` (spark.executor.cores /
    spark.cores.max), mirroring a spark-submit deployment. Under
    ``spark-submit`` with neither given, its ``--master`` stands. The
    driver heap is ``SPARK_DRIVER_MEM`` when set, else
    ``default_driver_memory()``.
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cpus = int(env) if env else 0
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or None
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        # not launched by spark-submit, so nothing else sets a master
        master = f"local[{cpus}]" if cpus else "local[*]"
    n_shuffle = shuffle_partitions or (cpus if cpus else (os.cpu_count() or 8))

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # INT64 timestamps, whose parquet footers carry min/max (INT96's
        # carry none); Spark takes this from the session conf only, not
        # from a write option
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
