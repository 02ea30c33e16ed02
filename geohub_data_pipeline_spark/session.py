"""SparkSession factory and runtime configuration.

The engine must behave identically whether it builds its own session
(CLI / tests / bench) or receives one from a host harness, so every
conf that affects *semantics* is applied at runtime via ``configure``.

Scale notes (targets a 1000-executor cluster; tested on local[32]):
  - AQE on: runtime shuffle-partition coalescing, skew-join splitting,
    and broadcast demotion/promotion are the main levers that keep a
    plan healthy at 100x the data without re-tuning.
  - ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound;
    AQE coalesces down.  At cluster scale raise it to ~2-3x total cores.
  - Arrow enabled: every pandas-UDF operator (geometry, raster, media)
    moves data in Arrow batches, not pickled rows.

Python workers (``_worker_confs``, local masters only):
  - ``spark.executorEnv.PYTHONPATH`` puts the directory holding this
    package on the path of every Python process Spark starts: task
    workers, their daemon, and the streaming data-source runner, which
    is not a task and never receives ``addPyFile`` (without it the
    ingest queue source fails with ``ModuleNotFoundError``).  In a
    cluster the image or the archives conf does this job;
    ``ship_package`` stays for the task path.
  - ``spark.python.daemon.module`` names ``daemon.py``, Spark's daemon
    minus the per-task re-read of every zip archive on the worker's
    path (a 1-partition Python map 0.21-0.24 -> 0.10-0.11 s on 4
    cores).  It is set only when the driver resolves the module with
    ``find_spec`` (no job runs); otherwise Spark's daemon is kept and
    the decision is logged, since a daemon module that cannot be
    imported fails every Python task.
  - Both are static (read when the JVM starts), so a harness-provided
    session runs with Spark's default daemon; ``configure`` cannot
    change them.
"""

from __future__ import annotations

import atexit
import functools
import importlib.util
import logging
import os
import pathlib
import tempfile
import zipfile

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

DAEMON_MODULE = "geohub_data_pipeline_spark.daemon"

_PKG_ZIP: str | None = None


def _package_zip() -> str:
    """Zip this package once per process (for addPyFile shipping)."""
    global _PKG_ZIP
    if _PKG_ZIP is None:
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        fd, path = tempfile.mkstemp(prefix="geohub_data_pipeline_spark-",
                                    suffix=".zip")
        os.close(fd)
        atexit.register(pathlib.Path(path).unlink, missing_ok=True)
        with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for name in files:
                    if not name.endswith(".py"):
                        continue
                    full = os.path.join(root, name)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
        _PKG_ZIP = path
    return _PKG_ZIP


def ship_package(spark: SparkSession) -> None:
    """Make the engine importable on every executor's Python worker.

    Pandas-UDF kernels (geometry/raster/multimodal) are module-level
    functions pickled *by reference* — workers must import this
    package.  ``addPyFile`` ships a zip to every executor, which is
    also exactly what a 1000-executor cluster deployment needs (no
    shared filesystem assumption).
    """
    sc = spark.sparkContext
    if getattr(sc, "_geohub_pkg_shipped", False):
        return
    try:
        sc.addPyFile(_package_zip())
    except Exception:
        pass  # e.g. identical file re-added after session reuse
    sc._geohub_pkg_shipped = True

# Confs that are runtime-settable and semantically load-bearing.
RUNTIME_CONFS: dict[str, str] = {
    # Deterministic wall-clock semantics for timestamp <-> string and
    # ltz<->ntz conversions, independent of host timezone.
    "spark.sql.session.timeZone": "UTC",
    # The harness' events.parquet stores TIMESTAMP(NANOS); Spark has no
    # nanosecond timestamp type, so read as epoch-nanos long and convert
    # (sources/tables.py) — same µs truncation DuckDB applies.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Keep AQE's coalesce parallelism-first (the Spark default): with
    # parallelismFirst=false the 64 MB advisory collapsed every
    # CPU-heavy post-shuffle stage (window sorts, sessionization) to
    # ONE task at bench scale — measured 1.45 s -> 0.55 s on
    # sessionization at sf1 flipping this back.  Tiny-task pressure is
    # bounded by minPartitionSize (1 MB default) instead.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # honor pushFilters() on Python data sources (sources/pmtiles_source)
    "spark.sql.python.filterPushdown.enabled": "true",
}

# Static confs (must be set before the JVM starts).
#
# Driver heap (guide §5): in local mode the driver JVM IS the executor,
# so the heap must be sized to the CONCURRENT TASKS, not to driver-only
# work — 16g over local[32] left ~0.5 GB per running task and the sf3
# dedup/ann suite spent its time in GC (measured r11, identical probe:
# ann 4.61 -> 1.85 s, dedup_minhash 11.21 -> 3.46 s with IQR 4.08 ->
# 0.26 going 16g -> 48g).  Default scales with the core count
# (~1.5 GB/task, floor 8g) so the driver's lower-core bench re-runs
# size down automatically; production clusters size executor memory
# instead and SPARK_GRAFT_DRIVER_MEM overrides as before.
STATIC_CONFS: dict[str, str] = {
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.driver.memory": os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM",
        f"{max(8, (3 * int(os.environ.get('SPARK_GRAFT_CPUS', '32'))) // 2)}g"),
    "spark.ui.enabled": "false",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.mergeSchema": "false",
    # bucketed tables (co-located joins) land here, not in the repo cwd
    "spark.sql.warehouse.dir": os.environ.get(
        "SPARK_GRAFT_WAREHOUSE",
        os.path.join(tempfile.gettempdir(), "spark-warehouse")),
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (harness-provided or ours).

    Best-effort: a conf that is static in some Spark build is skipped
    rather than failing the query.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    ship_package(spark)
    return spark


@functools.cache
def _worker_confs() -> dict[str, str]:
    """Static confs for local-mode Python workers (module docstring);
    the daemon decision is made and logged once a process."""
    confs = {"spark.executorEnv.PYTHONPATH": os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))}
    if importlib.util.find_spec(DAEMON_MODULE) is not None:
        confs["spark.python.daemon.module"] = DAEMON_MODULE
        _log.info("Python workers run daemon %s", DAEMON_MODULE)
    else:
        _log.warning("cannot resolve %s; Python workers keep Spark's "
                     "default daemon", DAEMON_MODULE)
    return confs


def get_session(app_name: str = "geohub-data-pipeline-spark",
                master: str | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    confs = {**STATIC_CONFS, **RUNTIME_CONFS}
    if master.startswith("local"):
        confs.update(_worker_confs())
    for k, v in confs.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())
