"""`session.configure_existing` on a session the engine did not build."""

from __future__ import annotations

import pytest

from covid_weather_etl_spark import session


def test_configure_existing_applies_every_sql_conf(spark):
    session.configure_existing(spark)
    for k, v in session.SQL_CONFS:
        assert spark.conf.get(k) == v


def test_configure_existing_tolerates_unsettable_confs(spark, monkeypatch):
    """A static or reserved conf keeps the session's own value."""
    before = spark.conf.get("spark.sql.warehouse.dir")
    monkeypatch.setattr(session, "SQL_CONFS", session.SQL_CONFS + (
        ("spark.sql.warehouse.dir", "/nonexistent/warehouse"),
        ("spark.executor.memory", "1g"),
    ))
    session.configure_existing(spark)
    assert spark.conf.get("spark.sql.warehouse.dir") == before


def test_configure_existing_raises_on_rejected_value(spark, monkeypatch):
    monkeypatch.setattr(session, "SQL_CONFS", (
        ("spark.sql.adaptive.enabled", "maybe"),))
    with pytest.raises(Exception, match="INVALID_CONF_VALUE"):
        session.configure_existing(spark)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_get_spark_sizes_the_codegen_cache(spark):
    """The static codegen cache holds the engine's working set; Spark's
    default of 100 classes recompiled every ETL batch."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"


def test_get_spark_sets_the_jit_inlining_budget(spark):
    """The driver JVM runs with the engine's C2 inlining budget. Read
    from the live JVM: Spark launches the driver with
    -XX:+IgnoreUnrecognizedVMOptions, so a misspelt flag would be
    dropped without an error."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName(
            "com.sun.management.HotSpotDiagnosticMXBean"))
    live = {f: bean.getVMOption(f).getValue()
            for f in ("FreqInlineSize", "InlineSmallCode")}
    assert live == {"FreqInlineSize": "100", "InlineSmallCode": "1000"}
