"""Behavioral tests for the bronze→silver→gold ETL pipeline — ports of
the reference's unittest suite (SURVEY.md §5: transformer/loader cases)
re-asserted at the DataFrame level.
"""

from __future__ import annotations

import pytest

import json
import os

from pyspark.sql import functions as F

from covid_weather_etl_spark.etl import pipeline as P


def write_envelope(directory: str, file_name: str, entries: list) -> str:
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, file_name)
    with open(path, "w") as f:
        json.dump({"data": entries}, f, indent=2)
    return path


def weather_entry(date="2021-04-01", **overrides) -> dict:
    e = {"date": date, "tavg": 10.0, "tmin": 5.0, "tmax": 15.0, "prcp": 0.5,
         "snow": 0.0, "wdir": 180.0, "wspd": 12.0, "wpgt": 20.0,
         "pres": 1015.0, "tsun": 60.0}
    e.update(overrides)
    return e


def covid_entry(date="2021-04-01", **overrides) -> dict:
    e = {"date": date, "confirmed": 100, "deaths": 2, "recovered": 50,
         "confirmed_diff": 10, "deaths_diff": 0, "recovered_diff": 5,
         "active": 48, "active_diff": 5, "fatality_rate": 0.02,
         "last_update": "2021-04-01 10:00:00", "region": "NA"}
    e.update(overrides)
    return e


@pytest.fixture
def lake(tmp_path):
    return P.Lake(str(tmp_path / "lake"))


def stage_dir(tmp_path) -> str:
    return str(tmp_path / "staging" / "batch_1700000000")


# --- transformer semantics (reference tests/test_transformer.py) -----------

@pytest.mark.slow
def test_weather_imputation_and_load(spark, tmp_path, lake):
    """snow/tsun null → 0.0 (reference :90-106); happy path loads all."""
    d = stage_dir(tmp_path)
    write_envelope(d, "MDA_WEATHER_2021-04-01",
                   [weather_entry(snow=None, tsun=None)])
    write_envelope(d, "MDA_WEATHER_2021-04-02",
                   [weather_entry(date="2021-04-02")])
    res = P.run_batch(spark, f"{d}/*", lake, "weather", 1700000000)
    assert res.n_files == 2 and res.n_error_files == 0
    assert res.n_loaded == 2 and not res.high_error_alert
    gold = spark.read.parquet(lake.path("gold", "weather"))
    row = gold.filter(F.col("date") == "2021-04-01 00:00:00").collect()[0]
    assert row["snow"] == 0.0 and row["tsun"] == 0.0
    assert row["country"] == "Moldova"          # MDA → name via dim join
    assert dict(gold.dtypes)["date"] == "timestamp"


def test_covid_drops_metadata_and_date_type(spark, tmp_path, lake):
    """covid transform drops last_update/region, date is DATE
    (reference :65-83; database/schema.py:88)."""
    d = stage_dir(tmp_path)
    write_envelope(d, "DEU_COVID_2021-04-01", [covid_entry()])
    res = P.run_batch(spark, f"{d}/*", lake, "covid", 1700000000)
    assert res.n_loaded == 1
    gold = spark.read.parquet(lake.path("gold", "covid"))
    assert "last_update" not in gold.columns and "region" not in gold.columns
    assert dict(gold.dtypes)["date"] == "date"
    assert gold.collect()[0]["country"] == "Germany"


def test_entry_list_ambiguity(spark, tmp_path):
    """entry may be dict OR [dict] (reference etl/transformer.py:31)."""
    d = stage_dir(tmp_path)
    write_envelope(d, "ITA_WEATHER_2021-04-01", [[weather_entry(tavg=22.5)]])
    bronze = P.read_staging(spark, f"{d}/*", "weather")
    rows = bronze.collect()
    assert len(rows) == 1 and rows[0]["tavg"] == 22.5


def test_corrupt_file_quarantined_whole(spark, tmp_path, lake):
    """ONE bad entry poisons the whole file; good files still process
    (reference :113-131, whole-file granularity :40,57-60)."""
    d = stage_dir(tmp_path)
    write_envelope(d, "MDA_WEATHER_2021-04-01",
                   [weather_entry(), weather_entry(date="2021-04-02", tavg=None)])
    write_envelope(d, "DEU_WEATHER_2021-04-01", [weather_entry()])
    res = P.run_batch(spark, f"{d}/*", lake, "weather", 1700000000)
    assert res.n_files == 2 and res.n_error_files == 1
    assert res.n_loaded == 1                     # only DEU's file
    q = spark.read.parquet(lake.path("quarantine", "weather"))
    assert q.count() == 2                        # BOTH entries of the bad file
    tlog = spark.read.parquet(lake.path("logs", "transform"))
    statuses = {r["source_file"]: r["status"] for r in tlog.collect()}
    assert statuses["MDA_WEATHER_2021-04-01"] == "Error"
    assert statuses["DEU_WEATHER_2021-04-01"] == "Processed"


def test_covid_any_null_rejects(spark, tmp_path, lake):
    """covid: ANY null field rejects the file (reference :35-40)."""
    d = stage_dir(tmp_path)
    write_envelope(d, "ITA_COVID_2021-04-01", [covid_entry(recovered=None)])
    res = P.run_batch(spark, f"{d}/*", lake, "covid", 1700000000)
    assert res.n_error_files == 1 and res.n_loaded == 0


def test_high_error_rate_alert(spark, tmp_path, lake):
    """error rate ≥50% → critical alert, '50.0%' (reference :157-180,
    199-219 'Error percentage: 50.00% (1 out of 2)')."""
    d = stage_dir(tmp_path)
    write_envelope(d, "MDA_WEATHER_2021-04-01", [weather_entry(pres=None)])
    write_envelope(d, "DEU_WEATHER_2021-04-01", [weather_entry()])
    res = P.run_batch(spark, f"{d}/*", lake, "weather", 1700000000)
    assert res.error_rate_pct == 50.0 and res.high_error_alert


def test_empty_worklist(spark, tmp_path, lake):
    """empty staging dir → clean no-op (reference :185-192)."""
    res = P.run_batch(spark, str(tmp_path / "nowhere" / "*"), lake,
                      "weather", 1700000000)
    assert res.n_files == 0 and not res.high_error_alert


# --- loader semantics (reference tests/test_loader.py) ---------------------

@pytest.mark.slow
def test_duplicate_load_skipped(spark, tmp_path, lake):
    """re-running the same batch loads 0, skips as duplicates
    (reference :67-78 duplicate → skip insert, still Success)."""
    d = stage_dir(tmp_path)
    write_envelope(d, "MDA_WEATHER_2021-04-01", [weather_entry()])
    r1 = P.run_batch(spark, f"{d}/*", lake, "weather", 1700000000)
    r2 = P.run_batch(spark, f"{d}/*", lake, "weather", 1700000001)
    assert r1.n_loaded == 1
    assert r2.n_loaded == 0 and r2.n_skipped_duplicates >= 1
    assert spark.read.parquet(lake.path("gold", "weather")).count() == 1


def test_in_batch_duplicates_collapse(spark, tmp_path, lake):
    """duplicate natural keys within one batch load once
    (reference :161-174 duplicate paths deduped)."""
    d = stage_dir(tmp_path)
    write_envelope(d, "MDA_WEATHER_2021-04-01", [weather_entry()])
    write_envelope(d, "MDA_WEATHER_2021-04-01b", [weather_entry()])
    res = P.run_batch(spark, f"{d}/*", lake, "weather", 1700000000)
    assert res.n_loaded == 1 and res.n_skipped_duplicates == 1


def test_ids_continue_across_batches(spark, tmp_path, lake):
    """surrogate ids continue from max(gold.id) (get_or_create analog)."""
    d1, d2 = stage_dir(tmp_path), str(tmp_path / "staging" / "batch_2")
    write_envelope(d1, "MDA_WEATHER_2021-04-01", [weather_entry()])
    write_envelope(d2, "MDA_WEATHER_2021-04-02",
                   [weather_entry(date="2021-04-02")])
    P.run_batch(spark, f"{d1}/*", lake, "weather", 1)
    P.run_batch(spark, f"{d2}/*", lake, "weather", 2)
    ids = sorted(r["id"] for r in
                 spark.read.parquet(lake.path("gold", "weather")).collect())
    assert ids == [1, 2]


def test_ids_dense_across_partitions(spark, tmp_path, lake):
    """ids stay dense and unique when the batch spans several partitions
    (per-partition counts give each partition its first id)."""
    d = stage_dir(tmp_path)
    for day in range(1, 13):
        write_envelope(d, f"MDA_WEATHER_2021-04-{day:02d}",
                       [weather_entry(date=f"2021-04-{day:02d}")])
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")      # keep the 8 shuffle partitions apart
    try:
        res = P.run_batch(spark, f"{d}/*", lake, "weather", 1)
    finally:
        spark.conf.set(key, old)
    gold_dir = lake.path("gold", "weather")
    assert len([f for f in os.listdir(gold_dir)
                if f.endswith(".parquet")]) > 1
    ids = sorted(r["id"] for r in spark.read.parquet(gold_dir).collect())
    assert res.n_loaded == 12 and ids == list(range(1, 13))


def test_retry_counts_only_this_batch(spark, tmp_path, lake):
    """a retried batch_ts loads nothing and skips exactly its own good
    entries, however many times the silver zone holds them."""
    d = stage_dir(tmp_path)
    write_envelope(d, "MDA_WEATHER_2021-04-01", [weather_entry()])
    write_envelope(d, "DEU_WEATHER_2021-04-01", [weather_entry()])
    write_envelope(d, "ITA_WEATHER_2021-04-01", [weather_entry(tmin=None)])
    r1 = P.run_batch(spark, f"{d}/*", lake, "weather", 1700000000)
    r2 = P.run_batch(spark, f"{d}/*", lake, "weather", 1700000000)
    assert (r1.n_loaded, r1.n_skipped_duplicates) == (2, 0)
    assert (r2.n_loaded, r2.n_skipped_duplicates) == (0, 2)


#: Spark jobs of a first two-file batch into an empty lake, in the
#: batch's job group, measured at 13 (local[4], 8 shuffle partitions):
#: 4 for the counts aggregate, whose first job is the one scan of the
#: staged JSON and whose second fills the routed cache; 1 each for the
#: silver, quarantine and transform-log writes; 2 to materialise the
#: deduplicated batch, 2 to count its rows per partition; 1 for the
#: gold append and 1 for the load log. A lineage that runs twice adds
#: at least the JSON scan again.
BATCH_JOBS_MAX = 13


def test_batch_runs_its_lineage_once(spark, tmp_path, lake):
    d = stage_dir(tmp_path)
    write_envelope(d, "MDA_WEATHER_2021-04-01", [weather_entry()])
    write_envelope(d, "DEU_WEATHER_2021-04-01", [weather_entry(tmin=None)])
    sc = spark.sparkContext
    sc.setJobGroup("etl-job-count", "one batch")
    try:
        P.run_batch(spark, f"{d}/*", lake, "weather", 1700000000)
    finally:
        sc.setJobGroup("", "")
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("etl-job-count"))
    assert n_jobs <= BATCH_JOBS_MAX


#: classes a steady ETL cycle (a weather and a covid batch into a lake
#: that already holds both) compiles: none, since batch_ts reaches the
#: silver and transform-log projections as data, not as a literal.
#: With the literal inlined a cycle compiled 8; with Spark's default
#: codegen cache of 100 classes as well, 63-76.
CYCLE_COMPILES_MAX = 0


def stage_cycle(tmp_path, n: int) -> dict:
    """Batch n of both kinds: four countries over 12 days that overlap
    the previous batch's last two, plus one rejected file per kind."""
    dirs = {}
    for kind, entry in (("weather", weather_entry), ("covid", covid_entry)):
        d = str(tmp_path / "staging" / f"batch_{n}" / kind)
        for country in ("MDA", "DEU", "ITA", "FRA"):
            for day in range(10 * n + 1, 10 * n + 13):
                date = f"2021-{4 + day // 28:02d}-{1 + day % 28:02d}"
                write_envelope(d, f"{country}_{kind.upper()}_{date}",
                               [entry(date=date)])
        write_envelope(d, f"MDA_{kind.upper()}_bad", [entry(date=None)])
        dirs[kind] = d
    return dirs


def test_steady_cycle_reuses_generated_code(spark, tmp_path, lake):
    """The third cycle's plans were all compiled by the second."""
    metric = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
              .METRIC_COMPILATION_TIME())
    for n in range(3):
        dirs = stage_cycle(tmp_path, n)
        before = metric.getCount()
        for kind in ("weather", "covid"):
            res = P.run_batch(spark, f"{dirs[kind]}/*", lake, kind,
                              1700000000 + n)
            assert res.n_error_files == 1 and res.n_loaded > 0
        compiles = metric.getCount() - before
    assert compiles <= CYCLE_COMPILES_MAX


def corrupt_parquet(directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    with open(os.path.join(directory, "part-corrupt.parquet"), "wb") as f:
        f.write(b"not a parquet file")


def test_unreadable_gold_fails_the_batch(spark, tmp_path, lake):
    """a gold read that fails for any reason but a missing path fails
    the batch — it must not restart ids at 1 and append duplicates."""
    d = stage_dir(tmp_path)
    write_envelope(d, "MDA_WEATHER_2021-04-01", [weather_entry()])
    P.run_batch(spark, f"{d}/*", lake, "weather", 1)
    gold_dir = lake.path("gold", "weather")
    corrupt_parquet(gold_dir)
    before = sorted(os.listdir(gold_dir))
    with pytest.raises(Exception) as exc:
        P.run_batch(spark, f"{d}/*", lake, "weather", 2)
    assert "part-corrupt.parquet" in str(exc.value)
    assert sorted(os.listdir(gold_dir)) == before


# --- incremental cursor (reference dags/etl_dag.py) ------------------------

def test_cursor_window_and_advance(spark, lake):
    start, end = P.get_window(spark, lake)
    assert (start, end) == ("2021-04-01", "2021-04-30")   # +29 days
    new_start = P.advance_cursor(spark, lake)
    assert new_start == "2021-05-01"
    start2, end2 = P.get_window(spark, lake)
    assert (start2, end2) == ("2021-05-01", "2021-05-30")


def test_unreadable_cursor_raises(spark, lake):
    """only a missing cursor means the default window."""
    corrupt_parquet(lake.path("state", "cursor"))
    with pytest.raises(Exception) as exc:
        P.get_window(spark, lake)
    assert "part-corrupt.parquet" in str(exc.value)
