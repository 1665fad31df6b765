"""SparkSession construction with the engine's standard configuration.

Scale posture: AQE on (runtime skew splitting + partition coalescing),
Arrow enabled for all pandas-UDF kernels, shuffle partitions sized to the
local core count (on a real cluster this is set per-job).  The core count
is $SPARK_GRAFT_CPUS when set, else the cores this process may run on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The engine's session settings, for get_spark and for sessions that
# spark-submit starts (jobs/flagship_job.py).
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # JVM<->Python worker handshakes over unix domain sockets: measurably
    # lower per-task latency than TCP loopback (Spark 4 feature)
    "spark.python.unix.domain.socket.enabled": "true",
    # PySpark 4 wraps every DataFrame/Column call in a Python stack walk
    # plus two JVM calls to record its call site for error messages
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "diagonal_b6_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """A local session with ENGINE_CONF, then `extra_conf` on top.

    DataFrame debugging is off: an analysis or runtime error then names
    the failing expression but not the Python line that built it, and
    plan building skips one stack walk and two py4j calls per
    DataFrame/Column call.  A caller who wants the call sites back passes
    `extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}`;
    PySpark reads the setting once per process, from the first session
    that asks."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(map=ENGINE_CONF)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
