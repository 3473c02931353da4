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
