"""Catalog over the driver-supplied parquet tables.

Mirrors the reference's warehouse-of-tables model (Postgres schemas,
`database/schema.py:5-7` in the reference) as a parquet lakehouse: each
table is a columnar scan that Catalyst can prune and push filters into
(`PushedFilters` / `ReadSchema` in `.explain`), replacing the manual
SELECT-list + WHERE-splicing the reference hand-writes per query
(reference `streamlit/etl_logs.py:104-117`).

At 100 TB the same call works against a partitioned table root
(`.../lineitem/shipdate_month=.../*.parquet`) — partition pruning is
free once the layout carries the key.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: small dimension tables that should always broadcast in joins —
#: the analog of the reference's 3-row country / 2-row api dims
#: (reference `data/countries.py:1-5`).
DIM_TABLES = ("region", "nation", "customer", "supplier", "part")


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) (rejected by
        # the vectorized reader — read as raw int64 via the legacy conf
        # and truncated with exact integer `div`, since epoch-nanos
        # ≈ 1.7e18 exceeds double's 2^53 exact range) and as
        # TIMESTAMP(MICROS, isAdjustedToUTC=false) (inferred as
        # TIMESTAMP_NTZ, which unix_micros/watermarks reject). Normalize
        # both to session-TZ TIMESTAMP; the session runs UTC, so the
        # NTZ cast reinterprets the same wall-clock instant and DuckDB
        # comparisons stay bit-exact.
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_parquet_or_none(spark: SparkSession,
                         path: str) -> DataFrame | None:
    """``spark.read.parquet(path)``, or None when the path does not
    exist — the one failure that means "nothing written yet". Any
    other one (corrupt footer, schema drift, I/O error) is re-raised
    rather than read as empty."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if (exc.getCondition() or "") != "PATH_NOT_FOUND":
            raise
        return None


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Lazy DataFrames, one per table. No data is read until an action."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return {t: _read(spark, sf_dir, t) for t in names}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each table as a temp view for the SQL API path."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def ensure_warehouse(spark: SparkSession, db: str = "warehouse",
                     location: str | None = None) -> None:
    """DDL bootstrap (SURVEY.md S7): CREATE DATABASE / TABLE IF NOT
    EXISTS for the reference's warehouse fact tables, DDL rendered from
    the canonical StructType constants — the Spark restatement of the
    reference's sqlglot-roundtripped DDL executor
    (`database/schema.py:103-143`). Idempotent by construction."""
    from covid_weather_etl_spark import schemas as S

    loc = f" LOCATION '{location}/{db}.db'" if location else ""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}{loc}")
    for table, schema in (("weather", S.WEATHER_SCHEMA),
                          ("covid", S.COVID_SCHEMA),
                          ("import_logs", S.IMPORT_LOG_SCHEMA),
                          ("transform_logs", S.TRANSFORM_LOG_SCHEMA),
                          ("load_logs", S.LOAD_LOG_SCHEMA)):
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                         for f in schema.fields)
        spark.sql(f"CREATE TABLE IF NOT EXISTS {db}.{table} ({cols}) "
                  f"USING parquet")


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition to the session's core count before a CPU-heavy
    narrow stage (shingling, hashing, UDF batches). Single-file parquet
    tables arrive as ONE input partition, which would serialize the
    whole downstream chain on one task; one cheap shuffle of the
    (small) source rows unlocks full parallelism. At 100 TB inputs are
    many files and this becomes a no-op choice — keyed repartition is
    still the right call ahead of per-key explodes to keep skew off a
    single task."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *keys) if keys else df.repartition(n)
