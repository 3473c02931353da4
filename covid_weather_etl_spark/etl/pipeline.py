"""Bronze→silver→gold ETL pipeline — the reference's flagship restated.

The reference's three imperative stages (`Extractor` → `Transformer` →
`Loader` over `S3/{raw,processed,error}/batch_<ts>/`, SURVEY.md §3.1)
become three declarative DataFrame stages over a parquet lakehouse:

    bronze    staged raw JSON files, envelope {"data":[entry]}
    silver    validated + imputed entries (reference 'processed' zone)
    quarantine rejected whole files     (reference 'error' zone)
    gold      warehouse fact tables, anti-join-dedup append
    logs      append-only transform/load logs (reference extract.*,
              transform.logs, load.logs), latest-wins semantics

Faithful semantics from the reference:
- entry may be a JSON object or a 1-element array of one
  (`etl/transformer.py:31`) — normalized at parse;
- weather nulls: snow/tsun → 0.0 imputation, any other null rejects
  (`etl/transformer.py:46-57`); covid: ANY null rejects (`:35-40`);
- whole-FILE error granularity: one bad entry poisons its file
  (`etl/transformer.py:40,57-60`);
- load dedup on the natural key with skip-and-count
  (`database/operations.py:175-206`);
- ≥50% file error rate raises the critical alert flag
  (`etl/transformer.py:130-136`);
- incremental 30-day cursor advanced after load (`dags/etl_dag.py:40-46`).

A batch reads its staged JSON once. `transform` attaches each file's
verdict to its entries with a window over the lineage column
(`input_file_name()`) and caches that routed frame; silver, quarantine,
the transform log and the batch's file and row counts are all narrow
reads of it. `load` appends the batch's own silver frame to gold with an
anti-join on the natural key, materialised once, and numbers the new
rows from per-partition counts, so no step funnels the batch through
one task. The batch's `batch_ts` joins silver and the transform log as
a one-row frame, so a steady batch compiles no new code, and silver and
quarantine are written in files of `ROWS_PER_FILE` rows, sized from the
batch's counts. At 100 TB gold would be partitioned by date so the
anti-join prunes to the incoming date range.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from covid_weather_etl_spark import schemas as S
from covid_weather_etl_spark.functions import driver
from covid_weather_etl_spark.operators.dedup import dedup_on_load
from covid_weather_etl_spark.sources.catalog import read_parquet_or_none


@dataclass(frozen=True)
class Lake:
    """Directory layout of the lakehouse."""
    root: str

    def path(self, zone: str, table: str = "") -> str:
        return os.path.join(self.root, zone, table) if table \
            else os.path.join(self.root, zone)


def _entry_schema(kind: str) -> T.StructType:
    return S.RAW_WEATHER_SCHEMA if kind == "weather" else S.RAW_COVID_SCHEMA


def read_staging(spark: SparkSession, staging_glob: str, kind: str) -> DataFrame:
    """Parse staged raw JSON (bronze) into one row per entry.

    `staging_glob` is `<dir>/<file-name pattern>`. Reads the
    `{"data": [<entry>]}` envelope with entries kept as raw JSON
    strings, then parses each entry, normalizing the reference's
    dict-vs-[dict] ambiguity (`etl/transformer.py:31`): a leading '['
    means a 1-element array wrapping the object. Carries `src_file`
    (via `input_file_name()`) as the lineage column that replaces the
    reference's import_logs bookkeeping. Runs no Spark job.
    """
    schema = _entry_schema(kind)
    # One directory plus a name filter, not the glob itself: Spark
    # expands a glob into one path per file, and past 32 paths
    # (spark.sql.sources.parallelPartitionDiscovery.threshold) lists
    # them in a Spark job with a task per file.
    root, pattern = os.path.split(staging_glob)
    # multiLine: the reference writes indent=2 pretty JSON, one envelope
    # per file (etl/extractor.py:94-95) — not JSON-lines.
    raw = (spark.read.schema(S.ENVELOPE_SCHEMA)
           .option("multiLine", "true").option("pathGlobFilter", pattern)
           .json(root)
           .withColumn("src_file",
                       F.element_at(F.split(F.input_file_name(), "/"), -1)))
    entry_str = F.col("entry_str")
    parsed = F.when(
        F.ltrim(entry_str).startswith("["),
        F.from_json(entry_str, T.ArrayType(schema)).getItem(0),
    ).otherwise(F.from_json(entry_str, schema))
    return (
        raw.select("src_file", F.explode_outer("data").alias("entry_str"))
        .withColumn("entry", parsed)
        .select("src_file", "entry.*")
        # country from the reference's `<ISO>_<API>_<date>` file naming
        # (etl/extractor.py:48)
        .withColumn("country_code", F.split(F.col("src_file"), "_").getItem(0))
    )


def _invalid_entry(kind: str) -> F.Column:
    """Row-level validation predicate (True = bad entry)."""
    if kind == "weather":
        required = ["date"] + [f for f in S.WEATHER_FIELDS
                               if f not in S.WEATHER_IMPUTED]
    else:
        required = ["date"] + list(S.COVID_INT_FIELDS) + ["fatality_rate"]
    bad = F.lit(False)
    for c in required:
        bad = bad | F.col(c).isNull()
    return bad


def transform(spark: SparkSession, bronze: DataFrame, kind: str,
              batch_ts: int) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Validate + clean bronze entries → (routed, silver, quarantine,
    transform_log).

    File-granular routing: ONE bad entry sends the whole file to
    quarantine (reference `etl/transformer.py:40,57-60`). A window over
    `src_file` gives every entry its file's entry and bad-entry counts
    and flags one entry per file; `routed` is that frame, cached.
    Silver (the good files' entries, imputed and with country codes
    mapped to names), quarantine (the bad files' entries) and the
    transform log (the flagged entry of each file) are filters and
    projections of it, so the staged JSON is parsed once however many
    of them a batch writes. Runs no Spark job: the cache fills on the
    first action; the caller unpersists `routed` when the batch is done.
    """
    per_file = W.partitionBy("src_file")
    routed = (
        bronze
        .withColumn("_bad", _invalid_entry(kind).cast("long"))
        .withColumn("n_entries", F.count("*").over(per_file))
        .withColumn("n_bad_entries", F.sum("_bad").over(per_file))
        .withColumn("_first",
                    F.row_number().over(per_file.orderBy("_bad")) == 1)
        .withColumn("status", F.when(F.col("n_bad_entries") > 0, "Error")
                    .otherwise("Processed"))
        .cache())
    bronze_cols = bronze.columns
    quarantine = routed.filter(F.col("status") == "Error").select(*bronze_cols)
    good = routed.filter(F.col("status") == "Processed").select(*bronze_cols)

    # S.COUNTRIES as a literal map; an unmapped code is kept as the country
    names = F.create_map(*[F.lit(v) for _, code, name in S.COUNTRIES
                           for v in (code, name)])
    country = F.coalesce(names[F.col("country_code")],
                         F.col("country_code")).alias("country")
    if kind == "weather":
        silver = (
            good
            # snow/tsun null → 0.0 (reference etl/transformer.py:46-51)
            .fillna(0.0, subset=list(S.WEATHER_IMPUTED))
            .select(
                F.to_timestamp("date").alias("date"),
                *[F.col(f).cast("float").alias(f) for f in S.WEATHER_FIELDS],
                country, "src_file")
        )
    else:
        # last_update/region are dropped (reference etl/transformer.py:42-43)
        silver = good.select(
            F.to_date("date").alias("date"),
            *[F.col(f).cast("int").alias(f) for f in S.COVID_INT_FIELDS],
            F.col("fatality_rate").cast("float").alias("fatality_rate"),
            country, "src_file")
    # batch_ts comes from a one-row frame, not a literal: a literal is
    # compiled into the projection's generated class, so every batch
    # would compile its projections again. The hint plans the cross
    # join as a cartesian product; a broadcast would run one more job
    # for every action over silver or the log (4 a batch).
    ts = (driver.local_frame(spark, [(batch_ts,)], "batch_ts bigint not null")
          .hint("shuffle_replicate_nl"))
    silver = silver.crossJoin(ts)
    tlog = routed.filter("_first").crossJoin(ts).select(
        "batch_ts", F.col("src_file").alias("source_file"),
        "status", "n_entries", "n_bad_entries")
    return routed, silver, quarantine, tlog


def load(spark: SparkSession, silver: DataFrame, gold_path: str,
         kind: str) -> int:
    """Anti-join dedup append of one batch's silver rows into gold;
    returns the number of rows appended.

    Replaces the reference's per-row existence probe
    (`database/operations.py:175-206`) with `dedup_on_load`: in-batch
    dropDuplicates on the natural key, one left-anti join against gold,
    then a bulk columnar append. The deduplicated batch is materialised
    once before anything else reads it, as `upsert_gold_stream` does:
    the append must not re-run an anti-join against a gold directory
    that by then holds the batch itself, and ids follow the partition
    layout, which must not change between counting and writing.

    Surrogate ids continue densely from max(gold.id), the set-based
    get_or_create: one collect of per-partition row counts gives each
    partition its first id, and `monotonically_increasing_id`'s low 33
    bits (the row's index within its partition) the rest — no window,
    so no task sees more than its own partition. Which row gets which
    id follows the partition layout (the reference's SERIAL made no
    ordering promise either).
    """
    key = S.WEATHER_NATURAL_KEY if kind == "weather" else S.COVID_NATURAL_KEY
    existing = read_parquet_or_none(spark, gold_path)
    if existing is None:
        batch, max_id = silver.dropDuplicates(key), 0
    else:
        batch = dedup_on_load(silver, existing, key)
        max_id = existing.agg(F.max("id")).first()[0] or 0
    batch = batch.localCheckpoint(eager=True)

    pid = F.spark_partition_id()
    counts = dict(batch.groupBy(pid).count().collect())
    first_ids = [max_id + 1]   # first id of partition p at index p
    for p in range(max(counts, default=-1) + 1):
        first_ids.append(first_ids[-1] + counts.get(p, 0))
    row_in_part = F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1)
    ids = (F.element_at(F.array(*[F.lit(i).cast("long") for i in first_ids]),
                        pid + 1) + row_in_part)
    schema = S.WEATHER_SCHEMA if kind == "weather" else S.COVID_SCHEMA
    # Unpartitioned at test scale so an all-quarantined batch still
    # leaves a readable (empty) gold footer; the at-scale layout adds
    # .partitionBy("country") — the reference's dominant filter (P4) —
    # plus a month component (see SCALE.md §1).
    (batch.select(ids.alias("id"),
                  *[f.name for f in schema.fields if f.name != "id"])
     .write.mode("append").parquet(gold_path))
    return sum(counts.values())


@dataclass
class BatchResult:
    kind: str
    batch_ts: int
    n_files: int
    n_error_files: int
    error_rate_pct: float
    high_error_alert: bool   # reference: ≥50% → logger.critical
    n_loaded: int
    n_skipped_duplicates: int


#: rows per silver or quarantine part file: a batch of up to this many
#: rows writes one file per zone, not one per cached partition
ROWS_PER_FILE = 1_000_000


def _coalesced(df: DataFrame, rows: int) -> DataFrame:
    """`df` as ceil(rows / ROWS_PER_FILE) partitions (at least one), for
    a write that should leave that many files."""
    return df.coalesce(max(1, -(-rows // ROWS_PER_FILE)))


def run_batch(spark: SparkSession, staging_glob: str, lake: Lake, kind: str,
              batch_ts: int) -> BatchResult:
    """One end-to-end batch: bronze → silver/quarantine → gold + logs.

    The file, error-file, good-row and quarantined-row counts come from
    one aggregate over the transform log; the row counts size the
    silver and quarantine writes to whole files of `ROWS_PER_FILE`
    rows. Gold gets this batch's silver frame, as it is, not a re-read
    of the silver zone, so a retried batch_ts counts only its own
    rows."""
    if not glob.glob(staging_glob.removeprefix("file:")):
        # empty work-list: the reference logs and exits cleanly
        # (tests/test_transformer.py:185-192)
        return BatchResult(kind=kind, batch_ts=batch_ts, n_files=0,
                           n_error_files=0, error_rate_pct=0.0,
                           high_error_alert=False, n_loaded=0,
                           n_skipped_duplicates=0)
    bronze = read_staging(spark, staging_glob, kind)
    routed, silver, quarantine, tlog = transform(spark, bronze, kind, batch_ts)
    try:
        is_error = F.col("status") == "Error"
        stats = tlog.agg(
            F.count("*").alias("n_files"),
            F.sum(is_error.cast("long")).alias("n_err"),
            F.sum(F.when(~is_error, F.col("n_entries"))).alias("n_good"),
            F.sum(F.when(is_error, F.col("n_entries"))).alias("n_bad"),
        ).first()
        n_files, n_err, n_good = (stats["n_files"], stats["n_err"] or 0,
                                  stats["n_good"] or 0)
        _coalesced(silver, n_good).write.mode("append").parquet(
            lake.path("silver", kind))
        if n_err:
            _coalesced(quarantine, stats["n_bad"]).write.mode("append").parquet(
                lake.path("quarantine", kind))
        tlog.coalesce(1).write.mode("append").parquet(
            lake.path("logs", "transform"))
        n_loaded = load(spark, silver, lake.path("gold", kind), kind)
    finally:
        routed.unpersist()
    driver.local_frame(
        spark,
        [(batch_ts, f"{kind}_batch", "Success", n_loaded, n_good - n_loaded)],
        S.LOAD_LOG_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(lake.path("logs", "load"))

    rate = 100.0 * n_err / n_files if n_files else 0.0
    return BatchResult(
        kind=kind, batch_ts=batch_ts, n_files=n_files, n_error_files=n_err,
        error_rate_pct=round(rate, 2),
        high_error_alert=rate >= 50.0,
        n_loaded=n_loaded, n_skipped_duplicates=n_good - n_loaded)


# ---------------------------------------------------------------------------
# Incremental cursor (reference dags/etl_dag.py:31-46): a one-row state
# table instead of an Airflow Variable; the 30-day window arithmetic is
# identical.
# ---------------------------------------------------------------------------

CURSOR_DEFAULT = "2021-04-01"
WINDOW_DAYS = 30


def get_window(spark: SparkSession, lake: Lake) -> tuple[str, str]:
    """Current [start, end] backfill window (end = start + 29 days)."""
    cursor = read_parquet_or_none(spark, lake.path("state", "cursor"))
    start = (CURSOR_DEFAULT if cursor is None
             else cursor.first()["start_date"])
    end = dt.date.fromisoformat(start) + dt.timedelta(days=WINDOW_DAYS - 1)
    return start, end.isoformat()


def advance_cursor(spark: SparkSession, lake: Lake) -> str:
    """Advance the cursor past the current window (reference
    set_start_date after load, `dags/etl_dag.py:44-46,84`)."""
    _, end = get_window(spark, lake)
    new_start = (dt.date.fromisoformat(end) + dt.timedelta(days=1)).isoformat()
    (driver.local_frame(spark, [(new_start,)], "start_date string")
     .write.mode("overwrite").parquet(lake.path("state", "cursor")))
    return new_start
