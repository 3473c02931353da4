"""Declared schemas for the COVID/weather warehouse and staging zone.

Mirrors the reference's DDL (`database/schema.py:9-100`) and raw
staging-file shapes (FIXTURES.md §1) as explicit StructTypes: fixed,
declared schemas for the warehouse; schema-on-read with a permissive
envelope for staging JSON (the reference iterates whatever keys arrive,
`etl/transformer.py:46-57`).

Note the reference's deliberate asymmetry, preserved here:
`weather.date` is TIMESTAMP while `covid.date` is DATE
(`database/schema.py:70` vs `:88`).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Raw staging entries (bronze). The file envelope is {"data": [<entry>]}
# where <entry> is a JSON object OR a 1-element array holding the object
# (both occur; unwrap at etl/transformer.py:31 in the reference) — so the
# envelope is read as array<string> and parsed per-entry (see
# etl.pipeline.read_staging).
# ---------------------------------------------------------------------------

WEATHER_FIELDS = ("tavg", "tmin", "tmax", "prcp", "snow", "wdir",
                  "wspd", "wpgt", "pres", "tsun")
#: nullable-by-design weather metrics: null → imputed 0.0
#: (reference etl/transformer.py:46-51); all others null → file rejected.
WEATHER_IMPUTED = ("snow", "tsun")

RAW_WEATHER_SCHEMA = T.StructType(
    [T.StructField("date", T.StringType(), False)]
    + [T.StructField(f, T.DoubleType(), True) for f in WEATHER_FIELDS]
)

COVID_INT_FIELDS = ("confirmed", "deaths", "recovered", "confirmed_diff",
                    "deaths_diff", "recovered_diff", "active", "active_diff")

RAW_COVID_SCHEMA = T.StructType(
    [T.StructField("date", T.StringType(), False)]
    + [T.StructField(f, T.LongType(), True) for f in COVID_INT_FIELDS]
    + [
        T.StructField("fatality_rate", T.DoubleType(), True),
        # dropped during transform (reference etl/transformer.py:42-43)
        T.StructField("last_update", T.StringType(), True),
        T.StructField("region", T.StringType(), True),
    ]
)

ENVELOPE_SCHEMA = T.StructType([
    T.StructField("data", T.ArrayType(T.StringType()), True),
])

# ---------------------------------------------------------------------------
# Warehouse fact tables (gold) — database/schema.py:67-100
# ---------------------------------------------------------------------------

WEATHER_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("date", T.TimestampType(), False),
    ]
    + [T.StructField(f, T.FloatType(), True) for f in WEATHER_FIELDS]
    + [T.StructField("country", T.StringType(), False)]
)
#: natural dedup key (reference database/operations.py:175-189)
WEATHER_NATURAL_KEY = ["date", "country", "tavg", "tmin", "tmax"]

COVID_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("date", T.DateType(), False),
    ]
    + [T.StructField(f, T.IntegerType(), True) for f in COVID_INT_FIELDS]
    + [
        T.StructField("fatality_rate", T.FloatType(), True),
        T.StructField("country", T.StringType(), False),
    ]
)
#: natural dedup key (reference database/operations.py:192-206)
COVID_NATURAL_KEY = ["date", "country", "confirmed", "deaths", "recovered"]

# ---------------------------------------------------------------------------
# Lineage / metadata tables — database/schema.py:9-65, as append-only logs
# ---------------------------------------------------------------------------

#: the reference's 3-country dimension (data/countries.py:1-5)
COUNTRIES = [(1, "MDA", "Moldova"), (2, "DEU", "Germany"), (3, "ITA", "Italy")]

IMPORT_LOG_SCHEMA = T.StructType([
    T.StructField("batch_ts", T.LongType(), False),
    T.StructField("country", T.StringType(), False),
    T.StructField("api", T.StringType(), False),
    T.StructField("import_directory_name", T.StringType(), False),
    T.StructField("import_file_name", T.StringType(), False),
    T.StructField("backfill_date", T.StringType(), False),
])

TRANSFORM_LOG_SCHEMA = T.StructType([
    T.StructField("batch_ts", T.LongType(), False),
    T.StructField("source_file", T.StringType(), False),
    T.StructField("status", T.StringType(), False),   # Processed | Error
    T.StructField("n_entries", T.LongType(), False),
    T.StructField("n_bad_entries", T.LongType(), False),
])

LOAD_LOG_SCHEMA = T.StructType([
    T.StructField("batch_ts", T.LongType(), False),
    T.StructField("source_file", T.StringType(), False),
    T.StructField("status", T.StringType(), False),   # Success | Error
    T.StructField("n_inserted", T.LongType(), False),
    T.StructField("n_skipped_duplicates", T.LongType(), False),
])
