"""SparkSession bootstrap.

The reference engine converges row/vectorized execution on one planner
(SURVEY.md §3); here one SparkSession with Catalyst/Tungsten owns all
physical strategy. Config is chosen for the local[N] test harness but with
settings that transfer to a multi-executor cluster (AQE, adaptive skew
join, partition coalescing).

Python workers start from the engine's own daemon module
(``spark.python.daemon.module`` = ``opengauss_vectordb_spark._pydaemon``):
pyspark's daemon, minus the per-task re-read of every zip archive on the
worker path, which made each Python task cost about 250 ms more than a
JVM task. So the package must be importable by the workers, as its UDFs
already require; ``get_spark`` puts the package's parent directory on
their PYTHONPATH (``spark.executorEnv.PYTHONPATH``), which covers local
runs from any directory. On a cluster, ship the package to the
executors (``--py-files``) as for any UDF code.

pyspark's DataFrame debugging (``spark.python.sql.dataFrameDebugging.
enabled``) is off. It wraps ``F.col`` and every Column method with a
call-site capture that costs several py4j round trips per call, so a
routed ANN search built hundreds of round trips before running any
job. The only thing it adds is the Python call-site section of an
analysis error's message, which nothing in the engine reads.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Mirrors reference GUC surface conceptually (enable_sonic_hashjoin etc. —
# guc_sql.cpp:624) but every knob maps to a Spark conf.
_DEFAULT_CONF = {
    # AQE replaces the reference's cost-model re-planning at runtime
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # deterministic timestamp semantics for the duckdb oracle comparison
    "spark.sql.session.timeZone": "UTC",
    # Arrow for any pandas-UDF slow path (reference's C kernels → pandas UDFs)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: PG-compat layer handles semantics deltas explicitly
    "spark.sql.ansi.enabled": "false",
    # the driver's events.parquet stores TIMESTAMP(NANOS), which Spark has
    # no native type for — read as long, converted in catalog.table()
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    "spark.driver.extraJavaOptions": "-Dderby.system.home=/tmp/derby",
    # pyspark's worker daemon without the per-task re-read of every zip
    # archive on the worker path (see _pydaemon.py)
    "spark.python.daemon.module": "opengauss_vectordb_spark._pydaemon",
    # no Python call-site capture per Column call: on, every F.col and
    # Column method also runs getActiveSession, a PySparkCurrentOrigin
    # lookup, a conf read and an origin set and clear over py4j
    # (F.col measured 1.3 ms on, 0.37 ms off)
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "opengauss-vectordb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or fetch) the engine session.

    On a real cluster, pass master=None and submit normally; locally we
    default to local[$SPARK_GRAFT_CPUS or *].
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        # local: match core count, not the 200 default (cluster: leave to AQE)
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # the worker daemon and the engine's UDFs import this package: put it
    # on the workers' path whatever directory the session starts in
    conf["spark.executorEnv.PYTHONPATH"] = os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        conf["spark.driver.memory"] = os.environ["SPARK_DRIVER_MEMORY"]
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
