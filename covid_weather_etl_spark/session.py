"""SparkSession factory tuned for this engine.

The reference delegates all planning to Postgres and pandas
(SURVEY.md §4); here the session is configured so Catalyst + AQE do that
job: adaptive execution for runtime re-planning (skew joins, partition
coalescing), UTC session time so parquet timestamps compare bit-for-bit
with the DuckDB oracle, and Arrow enabled for the Pandas-UDF slow path.

At 100 TB these settings change meaning but not shape: shuffle
partitions scale with cluster cores (AQE coalesces down), and
`maxPartitionBytes` keeps scan tasks ~128 MB so a 1000-executor cluster
gets even work distribution.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession


#: runtime-settable SQL confs every engine session needs: `get_spark`
#: builds with them and `configure_existing` applies them to a session
#: built by the caller. UTC keeps parquet timestamps bit-comparable
#: with the DuckDB oracle; aggregate pushdown lets the single-task
#: gates (graph.py, corpus.py) answer row-count guards from parquet
#: footer statistics (exact, plan-only).
SQL_CONFS = (
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
    ("spark.sql.adaptive.skewJoin.enabled", "true"),
    ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ("spark.sql.parquet.aggregatePushdown", "true"),
)


def get_spark(app_name: str = "covid-weather-etl-spark",
              cpus: int | str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a local SparkSession with engine defaults."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = shuffle_partitions or (cpus if str(cpus).isdigit() else 32)
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in SQL_CONFS:
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: the conditions `spark.conf.set` raises for a conf the session does
#: not let the caller change at runtime
_UNSETTABLE = ("CANNOT_MODIFY_STATIC_CONFIG", "CANNOT_MODIFY_CONFIG")


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to a session we did not build.

    The driver hands `queries()` callables an externally built session; the
    settings that matter for oracle parity (UTC time zone) and for plan
    quality (AQE) are runtime-settable and applied here.
    """
    # events.ts may be TIMESTAMP(NANOS); see sources/catalog.py
    for k, v in SQL_CONFS + (
            ("spark.sql.legacy.parquet.nanosAsLong", "true"),):
        try:
            spark.conf.set(k, v)
        except AnalysisException as exc:
            # a build where the conf is static or reserved keeps its
            # own value; a rejected value is an error
            if exc.getCondition() not in _UNSETTABLE:
                raise
    return spark
