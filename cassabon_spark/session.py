"""SparkSession factory tuned for the engine.

Defaults are sized for local[32] testing but every setting is the one we'd
want on a real cluster: AQE on (runtime coalescing + skew-join handling),
Arrow for any pandas exchange, UTC session timezone so epoch math is
deterministic and oracle-comparable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(app_name: str = "cassabon-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = shuffle_partitions or int(cpus)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # INT96 (the default) is deprecated AND carries no parquet min/max
        # statistics, which would blind footer-stats file skipping on time
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .getOrCreate()
    )
    return spark


def prep(spark: SparkSession) -> SparkSession:
    """Apply runtime-mutable confs to a session we did not create (the driver's).

    Safe on any session: only touches runtime SQL confs. UTC matters because the
    oracle (DuckDB) computes epoch math on naive timestamps.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    except Exception:
        pass  # static conf on some builds; AQE default-on in Spark 4
    return spark


def empty_frame(spark: SparkSession, schema: StructType | str) -> DataFrame:
    """A zero-row frame of `schema` over an RDD with no partitions, so
    collecting it starts no task. `spark.createDataFrame([], schema)`
    parallelizes the empty list into Python-worker tasks instead."""
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)


def release_checkpoint(df: DataFrame) -> None:
    """Drop the blocks a `df.localCheckpoint()` pinned: the checkpointed
    frame's logical plan is the LogicalRDD over them."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)
