"""SparkSession factory with scale-appropriate defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "tiflow_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """local[cpus] session; on a real cluster the master/submit args win.

    - shuffle partitions sized to cores (not the 200 default) for local runs;
    - AQE on: runtime partition coalescing + skew-join splitting (the
      row validator's key join benefits under hot-key skew);
    - UTC session TZ so results compare bit-exact against the DuckDB oracle;
    - Arrow enabled for the pandas-UDF paths.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    shuffle = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
