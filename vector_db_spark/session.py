"""SparkSession factory tuned for this engine.

Local mode is the test/bench environment; the configs are chosen so the same
plans scale to a real cluster: AQE for runtime re-planning and skew joins
(k-means clusters are naturally skewed — SURVEY.md §4), Arrow for every
Python<->JVM boundary, UTC timezone so timestamps compare exactly against the
DuckDB oracle.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# the directory holding this package, put on the Python workers' path so the
# worker daemon below imports from the same checkout as the driver
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "spark-vector-engine", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores. Shuffle
    partitions match the local parallelism — on a real cluster this would be
    ~2-3x total executor cores; AQE coalesces down when partitions are small.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # typed filter pushdown into Python data sources (sources/jsonl.py)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.warehouse.dir", os.path.join(tempfile.gettempdir(), "spark-warehouse"))
        # Python workers run under pyworker.py's daemon, which stops every
        # task from re-reading pyspark.zip (see that module)
        .config("spark.python.daemon.module", "vector_db_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
