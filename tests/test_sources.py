"""Tests for the REST Python data source and the CSV connector."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from covid_weather_etl_spark.sources import io as SIO
from covid_weather_etl_spark.sources import rest as R
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def rest_df(spark):
    R.register_rest_source(spark)
    return (spark.read.format("rest_timeseries")
            .option("countries", "MDA,DEU,ITA")
            .option("start", "2021-04-01")
            .option("end", "2021-04-10")
            .load())


def test_rest_source_rows_and_schema(rest_df):
    assert rest_df.count() == 3 * 10
    assert rest_df.columns == ["country", "date", *R.WEATHER_FIELDS]


def test_rest_source_parallelism(rest_df):
    """One input partition per country — the ingest fan-out unit."""
    assert rest_df.rdd.getNumPartitions() == 3


def test_rest_source_deterministic(rest_df):
    row = (rest_df.filter("country = 'MDA' AND date = DATE'2021-04-03'")
           .collect()[0])
    expected = R.synth_observation("MDA", __import__("datetime").date(2021, 4, 3))
    for f in R.WEATHER_FIELDS:
        assert row[f] == expected[f]


def test_rest_source_http_mode_requires_base_url(spark):
    R.register_rest_source(spark)
    df = (spark.read.format("rest_timeseries")
          .option("mode", "http").load())
    with pytest.raises(Exception, match="base_url"):
        df.collect()


def test_rest_source_http_mode_real_roundtrip(spark):
    """mode=http against an in-process localhost API serving the SAME
    md5-deterministic payloads: the real urllib transport (executors ->
    server over TCP, JSON envelope parse, retry path idle) must produce
    a frame identical to mode=fake. Also exercises a flaky endpoint:
    the first request per (country,date) returns 503 and the reader's
    retry loop must absorb it."""
    import http.server
    import json as _json
    import threading
    from datetime import date as _date

    flaky_seen = set()

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            from urllib.parse import parse_qs, urlparse
            q = parse_qs(urlparse(self.path).query)
            key = (q["country"][0], q["date"][0])
            if key not in flaky_seen:
                flaky_seen.add(key)
                self.send_response(503)
                self.end_headers()
                return
            obs = R.synth_observation(key[0], _date.fromisoformat(key[1]))
            body = _json.dumps({"data": [obs]}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # noqa: D102 - silence test output
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        R.register_rest_source(spark)
        opts = dict(countries="MDA,DEU", start="2021-04-01",
                    end="2021-04-03")
        live = (spark.read.format("rest_timeseries")
                .option("mode", "http")
                .option("base_url",
                        f"http://127.0.0.1:{srv.server_address[1]}")
                .options(**opts).load())
        fake = (spark.read.format("rest_timeseries")
                .option("mode", "fake").options(**opts).load())
        got = sorted(map(tuple, live.collect()))
        want = sorted(map(tuple, fake.collect()))
        assert got == want and len(got) == 6
    finally:
        srv.shutdown()


def test_csv_roundtrip(spark, tmp_path):
    src = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.0)], "id long, s string, v double")
    path = str(tmp_path / "out_csv")
    SIO.write_csv(src, path)
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("v", T.DoubleType()),
    ])
    back = SIO.read_csv(spark, path, schema)
    assert sorted(back.collect()) == sorted(src.collect())


def test_ensure_warehouse_ddl(spark, tmp_path):
    from covid_weather_etl_spark.sources.catalog import ensure_warehouse

    ensure_warehouse(spark, db="wh_test", location=str(tmp_path))
    ensure_warehouse(spark, db="wh_test", location=str(tmp_path))  # idempotent
    tables = {t.name for t in spark.catalog.listTables("wh_test")}
    assert {"weather", "covid", "import_logs",
            "transform_logs", "load_logs"} <= tables
    cols = [f.name for f in spark.table("wh_test.weather").schema.fields]
    assert "tavg" in cols and "country" in cols


DERBY = "org.apache.derby.jdbc.EmbeddedDriver"


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """S5/S6 against a REAL database: Spark's distribution bundles
    embedded Derby (the Hive-metastore backend), so the JDBC sink and
    the partitioned JDBC scan can execute end-to-end offline — the
    in-process stand-in for the reference's Postgres warehouse
    (`dags/forecasting_dag.py:47-53`, `database/operations.py:63-108`)."""
    url = f"jdbc:derby:{tmp_path}/wh;create=true"
    src = spark.range(0, 100).selectExpr(
        "id", "CAST(id % 7 AS DOUBLE) AS v",
        "CONCAT('c', CAST(id % 3 AS STRING)) AS tag")
    SIO.write_jdbc_append(src, url, "weather_load", driver=DERBY)
    # second append batch — the sink must not clobber existing rows
    SIO.write_jdbc_append(src.selectExpr("id + 100 AS id", "v", "tag"),
                          url, "weather_load", driver=DERBY)

    back = SIO.read_jdbc_table(
        spark, url, "weather_load",
        partition_column="id", num_partitions=4,
        lower_bound=0, upper_bound=200, driver=DERBY)
    # the partitioned scan really fans out over 4 range slices
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == 200
    assert back.schema.simpleString() == src.schema.simpleString()

    # predicate + projection push INTO the database: the plan's data
    # source node carries the pushed filter, not a post-scan Filter
    pushed = back.filter("id >= 150").select("id", "tag")
    plan = pushed._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "id" in plan
    assert pushed.count() == 50
    got = {(r["id"], r["v"], r["tag"]) for r in back.collect()}
    want = {(i, float(i % 100 % 7), f"c{i % 100 % 3}") for i in range(200)}
    assert got == want


def test_orc_roundtrip_preserves_schema_and_pushdown(spark, tmp_path):
    """ORC sink/source: exact schema + values back, and the engine's
    pushdown contract holds — the read plan shows the filter reaching
    the ORC scan (PushedFilters) and the projection pruning columns."""
    from pyspark.sql import functions as F

    from covid_weather_etl_spark.sources.io import read_orc, write_orc

    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    path = str(tmp_path / "orders_orc")
    write_orc(df, path)
    back = read_orc(spark, path)
    assert back.schema == df.schema
    assert back.count() == df.count()
    a = sorted(df.select("o_orderkey", "o_totalprice").collect())
    b = sorted(back.select("o_orderkey", "o_totalprice").collect())
    assert a == b
    plan = (back.filter(F.col("o_orderkey") == 1)
            .select("o_orderstatus")
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters: [" in plan and "o_orderkey" in plan
    assert "o_totalprice" not in plan.split("ReadSchema")[-1]
