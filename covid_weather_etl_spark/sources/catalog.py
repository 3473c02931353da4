"""Catalog over the driver-supplied parquet tables.

Mirrors the reference's warehouse-of-tables model (Postgres schemas,
`database/schema.py:5-7` in the reference) as a parquet lakehouse: each
table is a columnar scan that Catalyst can prune and push filters into
(`PushedFilters` / `ReadSchema` in `.explain`), replacing the manual
SELECT-list + WHERE-splicing the reference hand-writes per query
(reference `streamlit/etl_logs.py:104-117`).

Every parquet read in the engine goes through `read_parquet` (tables via
`load_tables`). Schema rule: the first read of a path infers its schema
(one Spark job, as `spark.read.parquet` always does) and records the
`StructType`; a later read with the same key passes it as
`.schema(...)` and runs no job, as a catalog keeps a table's schema
instead of rediscovering it per query. Each session keeps its own
cache. The key is the absolute path, a stamp of what is on disk there
— `(size, mtime_ns, inode)` of a file, or the sorted `(relpath, size,
mtime_ns)` of every file under a directory, recursively — and the
session values of the confs that change what inference returns
(`_INFER_CONFS`). One entry is kept per path: a rewrite or an appended
part file changes the stamp, so the next read infers again and
replaces the entry.

At 100 TB the same call works against a partitioned table root
(`.../lineitem/shipdate_month=.../*.parquet`) — partition pruning is
free once the layout carries the key.
"""

from __future__ import annotations

import os
import stat
import weakref

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


#: session confs whose values change the schema parquet inference
#: returns; their values are part of every schema-cache key.
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

#: session -> {absolute path: (key, schema of its last inferred read)}
_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary())


def _stamp(path: str) -> tuple | None:
    """What a rewrite of `path` changes, or None when it is absent."""
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_size, st.st_mtime_ns, st.st_ino)
    files = []
    for d, _, names in os.walk(path):
        for n in names:
            f = os.path.join(d, n)
            fs = os.stat(f)
            files.append((os.path.relpath(f, path), fs.st_size,
                          fs.st_mtime_ns))
    return tuple(sorted(files))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema only when
    the path's cache key (module docstring) is new. An absent path
    is read as is, so it raises ``PATH_NOT_FOUND`` as before."""
    stamp = _stamp(path)
    if stamp is None:
        return spark.read.parquet(path)
    key = (stamp, tuple(spark.conf.get(k) for k in _INFER_CONFS))
    schemas = _SCHEMAS.setdefault(spark, {})
    full = os.path.abspath(path)
    hit = schemas.get(full)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    schemas[full] = (key, df.schema)
    return df


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
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
    """`read_parquet(spark, path)`, or None when the path does not
    exist — the one failure that means "nothing written yet". Any
    other one (corrupt footer, schema drift, I/O error) is re-raised
    rather than read as empty."""
    try:
        return read_parquet(spark, path)
    except AnalysisException as exc:
        if (exc.getCondition() or "") != "PATH_NOT_FOUND":
            raise
        return None


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Lazy DataFrames, one per table. No data is read until an action."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return {t: _read(spark, sf_dir, t) for t in names}


def register_views(spark: SparkSession, sf_dir: str,
                   names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Register each of `names` as a temp view for the SQL API path."""
    dfs = load_tables(spark, sf_dir, names)
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
