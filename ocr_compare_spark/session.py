"""SparkSession builder tuned for the extraction workload.

Local-mode knobs mirror what a cluster deployment would set per
executor: AQE on (runtime re-plan + skew-join splitting), shuffle
partitions ~ cores, small Arrow batches because each row carries a
KB–MB ``html`` payload (a 10k-row Arrow batch of 1 MB documents would
be 10 GB — bound it).

Python workers start from ``ocr_compare_spark.worker_daemon`` instead of
``pyspark.daemon``. pyspark's worker runs ``importlib.invalidate_caches()``
once per task, and before CPython 3.12 every cached zipimporter answers
it by re-reading its archive's directory (pyspark.zip, the py4j zip and
the spark-core jar): 0.1-0.3 s of CPU per task, more than half of a
loopbench run's Python worker CPU. The daemon backports the 3.12 fix
(https://github.com/python/cpython/issues/103200), which re-reads an
archive only on the next lookup through it, and then runs pyspark's
own daemon, so the workers, their pyspark and ``addPyFile`` are
unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Rows per Arrow batch crossing the JVM->Python boundary. Documents
# are KB-MB payloads; keep batches bounded so Python workers don't
# balloon (reference analog: one-document-at-a-time calls,
# ocr_executor.py:122-183 — we batch, but boundedly).
ARROW_MAX_RECORDS = "512"


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "ocr_compare_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Sandboxed VMs often have a blackholed DNS resolver; a stray
    # AAAA/reverse lookup can stall the driver for 30-60s mid-job
    # (measured). Pin everything to loopback/IPv4 before JVM start.
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    cores = default_parallelism()
    master = master or f"local[{cores}]"
    if shuffle_partitions is None:
        # ~cores in local mode; on a real cluster this would be
        # 2-3x total executor cores (AQE coalesces the excess).
        shuffle_partitions = max(cores, 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", ARROW_MAX_RECORDS)
        .config("spark.ui.enabled", "false")
        # Python workers fork from a daemon with CPython 3.12's lazy
        # zipimport invalidation (python/cpython#103200): pyspark
        # invalidates import caches per task, and 3.11 re-reads
        # pyspark.zip's directory each time (module docstring).
        .config("spark.python.daemon.module", "ocr_compare_spark.worker_daemon")
        # Shuffle/broadcast temp on RAM-backed tmpfs: this VM's disk
        # is slow and contended (measured: the same 288k-pair compare
        # phase is 11-18s with tmpfs local.dir vs 68-74s on /tmp, and
        # disk contention grows with thread count — it was the source
        # of the intermittent 10-70s "host noise" stalls). On a real
        # cluster this maps to local NVMe scratch disks.
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS_OVERRIDE", "/dev/shm/spark-local"))
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        .config("spark.executor.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        # local mode: moderate heap beats a huge one (G1 pause times
        # scale with heap; measured 48g ~2x slower than 16g on cached
        # reads). On a real cluster this is per-executor sizing.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
