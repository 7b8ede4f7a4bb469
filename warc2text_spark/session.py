"""SparkSession factory with scale-oriented defaults.

The same settings are intended for cluster deployment (spark-submit
--py-files warc2text_spark.zip); tests and the sandbox bench run local[N].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
MAX_DRIVER_MEM_MB = 32 * 1024


def default_driver_memory(meminfo: str) -> str:
    """Driver heap for a host whose ``/proc/meminfo`` text is given: half
    of MemTotal, capped at 32g (32g when MemTotal cannot be read)."""
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            mb = int(line.split()[1]) // 1024 // 2
            return f"{min(mb, MAX_DRIVER_MEM_MB)}m"
    return f"{MAX_DRIVER_MEM_MB}m"


def _host_driver_memory() -> str:
    try:
        with open("/proc/meminfo") as f:
            return default_driver_memory(f.read())
    except OSError:
        return default_driver_memory("")


def get_spark(app_name: str = "warc2text-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        # runtime re-planning: skew-join splitting + partition coalescing
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        # Arrow transfer for the two Python kernels.  r7: batch size is
        # bounded by BYTES (the real executor-memory invariant — Spark 4's
        # maxBytesPerBatch), not by a tiny row cap: the r6 256-row cap
        # protected against 5 MB payload spans but cost ~18% e2e on
        # realistic ~300 B crawl rows (measured 1.54 s -> 1.26 s at
        # sf0.1 with 4096-row batches).  16 MB x 32 concurrent tasks
        # bounds in-flight Arrow memory at ~0.5 GB per side regardless of
        # row width; both knobs stay env-tunable for other deployments.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH_ROWS", "4096"))
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH_BYTES",
                               str(16 * 1024 * 1024)))
        # split huge parquet files into ~128 MB tasks at scan time
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        # local mode: the driver JVM is also the executor — size its heap
        # for 32 concurrent task buffers or GC becomes the throughput
        # ceiling (observed: 8g caps ~70k docs/s, 16g+ reaches ~200k), but
        # never past half the host's memory
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _host_driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors regardless of cwd — the
    local/test equivalent of ``spark-submit --py-files warc2text_spark.zip``."""
    import pathlib
    import zipfile

    pkg_dir = pathlib.Path(__file__).resolve().parent
    # always rebuild: a pid-keyed existence check resurrects a STALE zip
    # when the OS recycles the pid of a long-dead session — executors
    # then silently miss modules added since (caught by a verify drive)
    zip_path = pathlib.Path("/tmp") / f"warc2text_spark_{os.getpid()}.zip"
    # write-then-rename: an in-place rewrite races with an executor
    # lazily fetching the already-registered path (truncated zip)
    tmp_path = zip_path.with_suffix(f".{os.getpid()}.tmp")
    with zipfile.ZipFile(tmp_path, "w") as zf:
        for py in sorted(pkg_dir.rglob("*.py")):
            zf.write(py, f"warc2text_spark/{py.relative_to(pkg_dir)}")
    os.replace(tmp_path, zip_path)
    try:
        spark.sparkContext.addPyFile(str(zip_path))
    except Exception:
        pass  # e.g. Spark Connect sessions: rely on --py-files
