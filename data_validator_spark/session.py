"""SparkSession factory tuned for the validation engine.

Local-mode knobs chosen so the same code scales to a multi-executor
cluster: AQE on (runtime coalesce + skew-join splitting), shuffle
partitions sized to cores, Arrow enabled for pandas-UDF stages, UTC
session timezone (reference coerces all timestamps to UTC,
/root/reference/shared/firestore_services.py:239-247).

PySpark's DataFrame debugging (spark.python.sql.dataFrameDebugging.
enabled) is off. When on, every Column function call looks up the
active session, reads a conf, walks the Python stack and sets and
clears a call-site origin in the JVM, so it costs several extra Py4J
round trips: the per-label validation plan this package used to
build sent 6,706 commands with it on and 2,586 with it off. The flag
only adds the Python call site to analysis error messages. A caller
who wants that back passes
extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"};
PySpark reads the setting once per process, on the first Column call
made with an active session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "data_validator_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession.

    cores=None -> local[*]. shuffle_partitions defaults to cores (local
    mode has no network shuffle; 200 default just adds scheduling
    overhead). On a real cluster, callers pass explicit values via
    spark-submit --conf instead.
    """
    master = f"local[{cores}]" if cores else os.environ.get("SPARK_MASTER", "local[*]")
    n_shuffle = shuffle_partitions or (cores if cores else (os.cpu_count() or 8))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # audio `bytes` rows are large (tens of KB): the default 4096-row
        # columnar batches mean ~100-200 MB humongous allocations per
        # task batch, which thrashes the JVM GC (measured 75s -> 3.7s on
        # a ~1 GB cold bytes scan when capped). Cap both the parquet
        # reader batch and the Arrow transfer batch so a batch of
        # payload rows stays in the tens of MB (SURVEY.md §7.3).
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
