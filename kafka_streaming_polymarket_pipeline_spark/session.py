"""SparkSession factory tuned for this engine.

Local mode is the test bed (one JVM, N threads); the config choices are the
ones that transfer to a 1000-executor cluster: AQE on (runtime re-plan,
skew-join splitting, partition coalescing), shuffle partitions sized to the
parallelism at hand rather than the 200 default, UTC session time so
event-time semantics are reproducible, and Arrow enabled so any
Pandas-UDF path is batch-vectorized.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession

_DRIVER_MEM_CAP_GIB = 48
_CGROUP_MEMORY_MAX = "/sys/fs/cgroup/memory.max"


def host_memory_bytes(cgroup_memory_max: str = _CGROUP_MEMORY_MAX) -> int | None:
    """Physical memory this process can use: ``os.sysconf``'s total, or the
    cgroup v2 ``memory.max`` limit when that is lower. None if neither is
    readable."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        total = None
    try:
        with open(cgroup_memory_max) as fh:
            limit = int(fh.read().strip())  # "max" (no limit) raises ValueError
        total = limit if total is None else min(total, limit)
    except (OSError, ValueError):
        pass
    return total


def driver_memory(env=os.environ, host_bytes: int | None = None) -> str:
    """``spark.driver.memory`` for a local session: ``SPARK_DRIVER_MEM`` if
    set, else half of ``host_bytes`` (default: ``host_memory_bytes()``)
    rounded down to whole GiB, at least 1g and at most 48g.

    Local mode runs every task inside the driver JVM, so its heap ceiling is
    the whole engine's. A ceiling the host cannot back lets G1 grow the heap
    past physical memory instead of collecting, and the kernel OOM-kills the
    JVM; half leaves room for off-heap, metaspace and the Python workers."""
    explicit = env.get("SPARK_DRIVER_MEM")
    if explicit:
        return explicit
    if host_bytes is None:
        host_bytes = host_memory_bytes()
    if host_bytes is None:
        return f"{_DRIVER_MEM_CAP_GIB}g"
    return f"{max(1, min(host_bytes // 2 // 2**30, _DRIVER_MEM_CAP_GIB))}g"


def get_spark(
    app_name: str = "kafka_streaming_polymarket_pipeline_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with scale-sane defaults.

    The driver heap is ``driver_memory()``: ``SPARK_DRIVER_MEM`` when set,
    else half of the host's physical memory (or of a lower cgroup v2
    ``memory.max``), rounded down to whole GiB and capped at 48g, so a
    15.7 GiB host gets 7g and a host with 96 GiB or more keeps 48g.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable knobs to an externally provided session.

    The correctness driver hands us its own SparkSession; static configs
    (driver memory) are fixed by then, but SQL conf is not. Pin UTC so
    timestamp comparisons against the (UTC-naive) DuckDB oracle hold.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Pinning the SQL session tz makes the JVM compute in UTC, but PySpark's
    # collect() converts TimestampType through datetime.fromtimestamp, which
    # uses the *process* (libc) timezone — a driver process running in, say,
    # America/New_York would read every collected instant shifted by the UTC
    # offset even though the plan evaluated in UTC. Pin the process tz too so
    # both halves of the conversion agree; date columns are unaffected
    # (ordinal arithmetic) and tzset is a no-op platform-wise on Windows.
    if os.environ.get("TZ") != "UTC":
        os.environ["TZ"] = "UTC"
        if hasattr(time, "tzset"):
            time.tzset()
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:
        pass  # conf may be static in some deployments; AQE is an optimization only
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python workers regardless of the
    driver process's cwd/PYTHONPATH (an external driver may launch from
    anywhere; mapInPandas closures are pickled by reference and the worker
    must import the module). addPyFile distributes a zip of the package —
    the runtime equivalent of ``--py-files`` on a real cluster submit."""
    import hashlib
    import tempfile
    import zipfile

    sc = spark.sparkContext
    if getattr(sc, "_pmps_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    # Deterministic member order so the zip content-hashes stably.
    members = []
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                members.append((full, os.path.join(pkg_name, os.path.relpath(full, pkg_dir))))
    members.sort(key=lambda m: m[1])
    digest = hashlib.md5()
    for full, rel in members:
        digest.update(rel.encode())
        with open(full, "rb") as fh:
            digest.update(fh.read())
    # Content-hash key (not PID): PID reuse across runs must never ship stale
    # code, and a crash mid-write must never leave a corrupt zip at the final
    # name — write to a unique temp file, then atomic rename.
    zip_path = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-pyfiles-{digest.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zip_path):
        fd, tmp_path = tempfile.mkstemp(suffix=".zip", dir=tempfile.gettempdir())
        os.close(fd)
        try:
            with zipfile.ZipFile(tmp_path, "w") as zf:
                for full, rel in members:
                    zf.write(full, rel)
            os.replace(tmp_path, zip_path)
        except BaseException:
            if os.path.exists(tmp_path):
                os.unlink(tmp_path)
            raise
    try:
        sc.addPyFile(zip_path)
    except Exception:
        return  # deployment forbids addPyFile — retry on the next tune_session
    sc._pmps_shipped = True
