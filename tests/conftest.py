"""Shared fixtures: one SparkSession + one DuckDB connection per run,
plus the oracle-parity comparator that mimics the driver's check
(row-count + schema-kind + order-insensitive exact value compare).
"""

from __future__ import annotations

import os
import struct

import duckdb
import numpy as np
import pandas as pd
import pytest

from covid_weather_etl_spark.session import get_spark
from covid_weather_etl_spark.sources.catalog import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MED = os.environ.get("SPARK_GRAFT_TEST_SF_DIR_MED", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("cwes-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"),
                  shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize temporal dtypes to us, sort rows."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            # DuckDB may hand back date objects / Decimals
            first = df[c].dropna().head(1)
            if len(first) and hasattr(first.iloc[0], "isoformat"):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def bitrows(df) -> list:
    """A frame's rows, sorted, with every float as its 8 IEEE bytes, so
    comparing two results is bitwise (-0.0 differs from 0.0)."""
    return sorted(tuple(struct.pack("d", v) if isinstance(v, float) else v
                        for v in r.asDict().values())
                  for r in df.collect())


def _type_kind(s: pd.Series) -> str:
    """Coarse schema kind for the driver-style schema compare: flags
    decimal-vs-double splits (e.g. a Spark SQL `x.y` literal typing a
    column DECIMAL) that value coercion would silently paper over."""
    import decimal
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    first = s.dropna().head(1)
    if len(first) and isinstance(first.iloc[0], decimal.Decimal):
        return "decimal"
    return "other"


def assert_parity(spark, duck, query, sf_dir: str = SF_DIR) -> None:
    """Driver-style compare between the Spark query and its DuckDB oracle."""
    sdf = normalize(query.fn(spark, sf_dir).toPandas())
    odf = normalize(duck.execute(query.oracle).fetchdf())
    assert list(sdf.columns) == list(odf.columns), (
        f"{query.name}: column mismatch {list(sdf.columns)} vs {list(odf.columns)}")
    assert len(sdf) == len(odf), (
        f"{query.name}: row count {len(sdf)} vs oracle {len(odf)}")
    for c in sdf.columns:
        ks, ko = _type_kind(sdf[c]), _type_kind(odf[c])
        assert ks == ko, (
            f"{query.name}.{c}: schema kind mismatch — spark {ks} "
            f"({sdf[c].dtype}) vs oracle {ko} ({odf[c].dtype})")
    for c in sdf.columns:
        a, b = sdf[c], odf[c]
        a_kind = np.asarray(a).dtype.kind
        if a_kind == "f" or np.asarray(b).dtype.kind == "f":
            af = pd.to_numeric(a, errors="coerce").astype(float).to_numpy()
            bf = pd.to_numeric(b, errors="coerce").astype(float).to_numpy()
            both_nan = np.isnan(af) & np.isnan(bf)
            # signbit check: a string-hashing driver distinguishes -0.0 from 0.0
            equal = ((af == bf) & (np.signbit(af) == np.signbit(bf))) | both_nan
            assert equal.all(), (
                f"{query.name}.{c}: {int((~equal).sum())} value mismatches, e.g. "
                f"{af[~equal][:5]} vs {bf[~equal][:5]}")
        else:
            eq = (a.astype(str).fillna("<null>") == b.astype(str).fillna("<null>"))
            assert eq.all(), (
                f"{query.name}.{c}: {int((~eq).sum())} mismatches, e.g. "
                f"{a[~eq].head(5).tolist()} vs {b[~eq].head(5).tolist()}")
