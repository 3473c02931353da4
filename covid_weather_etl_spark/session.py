"""SparkSession factory tuned for this engine.

The reference delegates all planning to Postgres and pandas
(SURVEY.md §4); here the session is configured so Catalyst + AQE do that
job: adaptive execution for runtime re-planning (skew joins, partition
coalescing), UTC session time so parquet timestamps compare bit-for-bit
with the DuckDB oracle, and Arrow enabled for the Pandas-UDF slow path.

The session also keeps the engine's generated code. Catalyst compiles
every whole-stage plan to a Java class and caches the class by its
source; Spark's default cache of 100 classes is smaller than what one
ETL cycle or one registry round compiles, so those plans were compiled
again on every batch. `get_spark` sizes the cache to 2000 classes.
That is a static conf, fixed when the JVM's first session starts:
`configure_existing` cannot set it, so a session built by the caller
(the driver's own vanilla session) keeps Spark's default of 100.

The engine's sessions are short: one ETL batch per task, short
dashboard queries, over small data. In such a session HotSpot's C2
compiler, not the queries, is the largest CPU consumer, and what it
compiles is Spark's own call trees (Janino, Java serialization, the
closure cleaner, Hadoop FS, Scala collections); the generated query
classes never get hot. `get_spark` therefore launches the driver JVM
with a smaller C2 inlining budget, `JIT_OPTIONS`: C2 still compiles
every hot method, but each compile unit inlines less. Measured on
local[4] (4-core VM, JDK 17), against HotSpot's defaults:
- perfbench, 10 alternating pairs each: etl_ingest CPU per op 6.82 ->
  4.70 s (median; the ETL changes made with it give about 0.2 s of
  that) and registry_mix 1.07 -> 0.80 s; `setup_s` 4% lower on both;
- one warm-plus-3-batch ETL run spent 14.1 s in C2 instead of 27.9 s
  and emitted 8.7 MB of C2 code instead of 14.0 MB (JFR);
- a sf0.1 10-query sample used 22% less CPU cold and 4% less warm;
  `bench.py` at sf0.1 ran its 350 queries in 164 s instead of 181 s;
- the price is peak speed on compute-bound work: a 10M-row
  `sha2` aggregate used 23% more CPU at steady state.
C1 only (`-XX:TieredStopAtLevel=1`) saved more on perfbench but cost
64% warm CPU on that sample and 2.7x on that aggregate. The options
apply only where `get_spark` starts the JVM: a session built elsewhere
(the driver's vanilla session) keeps HotSpot's defaults. They go in
`spark.driver.defaultJavaOptions` because `--driver-java-options`
replaces `extraJavaOptions`.

At 100 TB these settings change meaning but not shape: shuffle
partitions scale with cluster cores (AQE coalesces down), and
`maxPartitionBytes` keeps scan tasks ~128 MB so a 1000-executor cluster
gets even work distribution. The inlining budget is the driver's only;
long-lived executors doing the compute-bound work keep HotSpot's
defaults.
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


#: driver JVM options: C2 inlines a hot call only into a callee of at
#: most 100 bytecodes, and an already compiled callee only when its
#: machine code is under 1000 bytes (JDK 17 defaults: 325 and 2500).
#: Spark adds -XX:+IgnoreUnrecognizedVMOptions to the driver command,
#: so a misspelt flag is dropped without an error;
#: tests/test_session.py reads the live values.
JIT_OPTIONS = "-XX:FreqInlineSize=100 -XX:InlineSmallCode=1000"


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
        .config("spark.driver.defaultJavaOptions", JIT_OPTIONS)
        # generated classes, keyed by their source. Measured with
        # perfbench on local[4]: an etl_ingest op (a weather and a
        # covid batch, then the monitor read) compiled 161-164 classes
        # at Spark's default of 100 and 24 at 2000, 8 of them then
        # projections that inlined the batch's batch_ts literal;
        # registry_mix's two timed rounds compiled 14 and 6 classes at
        # 100, 6 and 0 at 2000. Guava splits the cache into 4 LRU
        # segments of a quarter of the size each, so a working set
        # near 100 classes already thrashes at the default.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
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
    quality (AQE) are runtime-settable and applied here. The codegen
    cache size is static, so such a session keeps its own (Spark's
    default 100 classes unless its builder set it).
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
