"""SparkSession factory with scale-oriented defaults.

All engine entry points go through :func:`get_spark` so every run gets the
same physical configuration: Arrow-batched Python UDFs, AQE (with skew-join
splitting and partition coalescing), and a shuffle-partition count sized to
the local core count. On a real cluster the same builder is used by
``run_validation.py`` under ``spark-submit --py-files``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "anomaly_detection_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with the engine's standard config, or return the
    active one unchanged.

    The config applies only when this call creates the session: a session
    the caller already built (a test suite, a notebook, a benchmark harness)
    keeps its own conf, and every argument is ignored.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; under
    spark-submit the cluster manager's master wins (we never override an
    externally provided master). Unset, ``SPARK_GRAFT_CPUS`` is the number
    of cores this process may run on, and ``SPARK_GRAFT_DRIVER_MEM`` a
    quarter of the host's physical memory.

    A created session does not capture the Python call site of each Column
    function call (``spark.python.sql.dataFrameDebugging.enabled``): that
    costs several py4j round trips per call, and a DataFrame error's context
    then names the failing expression without the Python file and line that
    built it.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    elif (
        "PYSPARK_GATEWAY_PORT" not in os.environ
        and "SPARK_MASTER" not in os.environ
    ):
        # Only default the master when NOT launched by spark-submit. Before
        # the JVM exists SparkConf() is a plain dict and cannot see the
        # spark.master system property spark-submit sets — but spark-submit's
        # PythonRunner always exports PYSPARK_GATEWAY_PORT for the driver
        # process, so its absence means we own the JVM and may pick
        # local[$SPARK_GRAFT_CPUS]. Builder options override spark-submit
        # conf, so guessing wrong here would silently discard the cluster
        # master (pinned by tests/test_spark_submit.py).
        builder = builder.master(f"local[{cpus}]")

    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(8, int(cpus))
        except ValueError:
            shuffle_partitions = 32

    conf = {
        # local[N] runs the whole engine in the driver JVM; the 1g default
        # OOMs well before the bench scale. Only read at JVM launch — a
        # no-op under spark-submit, where executor memory is cluster-managed.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                              f"{host_mb // 4}m"),
        # Arrow transfer for every pandas_udf / applyInPandas / mapInPandas.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # AQE: runtime re-planning, skew-join splitting, post-shuffle coalesce.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Broadcast joins for dimension tables (media catalog etc.).
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Keep scans well-sized at local scale; on a cluster this is tuned
        # per-table (128m default is fine for 100TB parquet/iceberg scans).
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        # no Python call site recorded in the JVM per Column function call:
        # several py4j round trips each, thousands per plan built
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
