"""SparkSession factory.

Replaces the reference's ``StreamExecutionEnvironment.getExecutionEnvironment``
(FlinkWindowLearning.scala:36) with an idiomatic, scale-tuned SparkSession.

Local-mode defaults are sized for the test container (local[N], single JVM);
every setting that matters at cluster scale (AQE, skew-join handling,
shuffle partitions, Arrow) is applied here so the same code runs unchanged
on a 1000-executor cluster — only ``master`` and memory sizing change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Number of local cores to use; the driver runs us at local[32].
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

_MEMINFO = "/proc/meminfo"


def _driver_mem() -> str:
    """Driver heap: ``SPARK_GRAFT_DRIVER_MEM`` when set, else
    ``min(32g, half of the host's MemTotal)`` — a fixed 32g heap on a
    smaller host invites the kernel OOM killer instead of a JVM spill.
    Falls back to 32g where ``/proc/meminfo`` is unreadable."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        return mem
    try:
        with open(_MEMINFO) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    half_mb = int(line.split()[1]) // 2048  # kB -> MB, halved
                    return f"{min(32 * 1024, half_mb)}m"
    except (OSError, ValueError, IndexError):
        pass
    return "32g"


def get_spark(
    app_name: str = "flink_start_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Scale notes (100 TB design):
    - AQE is on: runtime coalescing of shuffle partitions, skew-join
      splitting, and dynamic join-strategy switching. On a real cluster
      ``spark.sql.shuffle.partitions`` should start near 2-3x total cores
      and let AQE coalesce down; locally we pin it to the core count.
    - Arrow is on for every pandas interchange (Pandas UDFs, toPandas).
    - Session timezone is pinned to UTC so event-time windows are
      deterministic and comparable across engines.
    """
    cpus = _DEFAULT_CPUS
    # Driver memory must be fixed before the JVM gateway launches; the
    # SparkConf value is ignored once the gateway exists, so pass it via
    # PYSPARK_SUBMIT_ARGS for the first session in this process.
    if SparkSession.getActiveSession() is None and "PYSPARK_SUBMIT_ARGS" not in os.environ:
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-memory {_driver_mem()} pyspark-shell"
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            # parenthesized on purpose: the un-parenthesized form parses
            # as `(shuffle_partitions or int(cpus)) if ... else 32`,
            # silently discarding an explicit shuffle_partitions whenever
            # SPARK_GRAFT_CPUS is non-numeric (e.g. '*')
            "spark.sql.shuffle.partitions",
            str(
                shuffle_partitions
                or (int(cpus) if str(cpus).isdigit() else 32)
            ),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The driver's parquet stores TIMESTAMP(NANOS) which the Spark
        # reader rejects; read them as epoch-nano longs and convert to
        # TimestampType in the catalog loader (sources/catalog.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Streaming state: RocksDB is the cluster choice (off-heap/
        # on-disk state beyond executor heap); the local HDFS-backed
        # store stays the test default, and result parity between the
        # two providers is pinned by tests/test_streaming_state_store.py
        # so flipping providerClass in production changes nothing but
        # capacity.
        .config("spark.sql.streaming.stateStore.stateSchemaCheck", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_python_workers(spark) -> None:
    """Spawn the Python worker pool with one trivial pandas pass. The
    daemon workers start lazily on the first pandas UDF; timing code
    runs this first so that spawn is charged to session start, not to
    whichever pandas query happens to run first."""
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()


def stop_spark() -> None:
    """Stop the active session, if any (used by test teardown)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
