"""The one parquet loader (`sources/catalog.py`): a schema inferred once
per (path, on-disk stamp, inference confs) and reused as an explicit
schema, with the same frames as an inferred read."""

from __future__ import annotations

import datetime as dt
import os
import pathlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from covid_weather_etl_spark.sources import catalog
from tests.conftest import SF_DIR

ENGINE = pathlib.Path(catalog.__file__).resolve().parents[1]


def _forget(spark, path) -> None:
    catalog._SCHEMAS.get(spark, {}).pop(os.path.abspath(path), None)


def _rows(df) -> list[str]:
    return sorted(map(repr, df.collect()))


def _jobs(spark, group: str, fn):
    """Run `fn` under job group `group`; (its result, jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", catalog.TABLES)
def test_warm_table_read_equals_cold_inferred_read(spark, name):
    _forget(spark, f"{SF_DIR}/{name}.parquet")
    cold = catalog.load_tables(spark, SF_DIR, (name,))[name]
    warm = catalog.load_tables(spark, SF_DIR, (name,))[name]
    assert warm.dtypes == cold.dtypes
    assert _rows(warm) == _rows(cold)


_TS = [dt.datetime(2024, 3, 1, 12, 30, 15, 123456),
       dt.datetime(1999, 12, 31, 23, 59, 59, 999999)]


@pytest.mark.parametrize("ts_type", [
    pa.timestamp("ns"), pa.timestamp("us"), pa.timestamp("us", tz="UTC"),
], ids=["nanos", "micros_ntz", "micros_utc"])
def test_events_ts_encodings_cold_and_warm(spark, tmp_path, ts_type):
    """events.ts as TIMESTAMP(NANOS), as NTZ micros and as UTC micros:
    session-TZ timestamps with the same values, cold and warm."""
    pq.write_table(pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array(_TS, ts_type),
    }), tmp_path / "events.parquet")

    def read():
        return catalog.load_tables(spark, str(tmp_path), ("events",))["events"]

    cold = read()
    warm, jobs = _jobs(spark, f"catalog.ts.{ts_type}", read)
    assert jobs == 0
    for df in (cold, warm):
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert [r["ts"] for r in df.orderBy("event_id").collect()] == _TS


def test_second_load_tables_runs_no_spark_job(spark):
    for t in catalog.TABLES:
        _forget(spark, f"{SF_DIR}/{t}.parquet")
    _, cold = _jobs(spark, "catalog.cold",
                    lambda: catalog.load_tables(spark, SF_DIR))
    _, warm = _jobs(spark, "catalog.warm",
                    lambda: catalog.load_tables(spark, SF_DIR))
    assert cold == len(catalog.TABLES)
    assert warm == 0


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert catalog.read_parquet(spark, path).columns == ["a"]
    assert catalog.read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = catalog.read_parquet(spark, path)
    assert df.columns == ["a", "b"]
    assert _rows(df) == _rows(spark.read.parquet(path))


def test_part_file_added_to_cached_dir_is_seen(spark, tmp_path):
    path = str(tmp_path / "lake")
    spark.range(3).write.parquet(path)
    assert catalog.read_parquet(spark, path).count() == 3
    assert catalog.read_parquet(spark, path).count() == 3
    spark.range(3, 5).write.mode("append").parquet(path)
    df = catalog.read_parquet(spark, path)
    assert sorted(r.id for r in df.collect()) == [0, 1, 2, 3, 4]


def test_partitioned_dir_keeps_inferred_columns(spark, tmp_path):
    path = str(tmp_path / "parts")
    (spark.range(4).selectExpr("id", "id % 2 AS fold")
     .write.partitionBy("fold").parquet(path))
    _forget(spark, path)
    cold = catalog.read_parquet(spark, path)
    warm, jobs = _jobs(spark, "catalog.parts",
                       lambda: catalog.read_parquet(spark, path))
    assert jobs == 0
    assert warm.dtypes == cold.dtypes == [("id", "bigint"), ("fold", "int")]
    assert _rows(warm) == _rows(cold)


def test_corrupt_part_added_to_cached_dir_raises_naming_it(spark, tmp_path):
    path = tmp_path / "lake"
    spark.range(3).write.parquet(str(path))
    assert catalog.read_parquet(spark, str(path)).count() == 3
    (path / "part-99999-corrupt.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="part-99999-corrupt"):
        catalog.read_parquet(spark, str(path)).collect()
    with pytest.raises(Exception, match="part-99999-corrupt"):
        catalog.read_parquet_or_none(spark, str(path)).collect()


def test_absent_path_reads_as_none(spark, tmp_path):
    path = str(tmp_path / "never_written")
    assert catalog.read_parquet_or_none(spark, path) is None
    assert os.path.abspath(path) not in catalog._SCHEMAS.get(spark, {})


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert catalog.read_parquet(spark, path).dtypes == [("b", "binary")]
        spark.conf.set(key, "true")
        assert catalog.read_parquet(spark, path).dtypes == [("b", "string")]
    finally:
        spark.conf.set(key, before)


def test_no_raw_parquet_read_outside_catalog():
    """Every engine parquet read goes through `catalog.read_parquet`."""
    own = pathlib.Path(catalog.__file__).resolve()
    raw = [str(p.relative_to(ENGINE)) for p in ENGINE.rglob("*.py")
           if p.resolve() != own and ".read.parquet(" in p.read_text()]
    assert raw == []
