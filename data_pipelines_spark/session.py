"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]`` but every default is chosen to survive a
multi-executor cluster: AQE on (runtime coalesce + skew-join handling), UTC
session time zone (oracle comparability), Arrow enabled for the pandas-UDF
surface, shuffle partitions sized to the active parallelism instead of the
global default of 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: The engine's SQL conf, applied by :func:`get_spark` and by
#: ``scripts/run_ingest.py`` (whose master and resources come from
#: spark-submit). The lake's file codec is not here: ``lake_writer`` in
#: ``lake/table.py`` sets it on every lake write.
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # int64 micros instead of legacy INT96: parquet footers then carry
    # min/max statistics for timestamp columns, which the lake's per-file
    # zone maps (read(min_seq_ts=...) file skipping) rely on. A session
    # conf, not a writer option: Spark's parquet writer reads it from the
    # session.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def get_spark(
    app_name: str = "data_pipelines_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    ``shuffle_partitions`` defaults to the core count — on a real cluster this
    would be ~2-3x total executor cores; AQE coalesces downward at runtime.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus)
        except ValueError:
            shuffle_partitions = os.cpu_count() or 8

    spark = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # for parquet written outside the lake
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config(map={**ENGINE_CONF, **(extra_conf or {})})
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark
