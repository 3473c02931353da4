"""The grid snap ``floor(x·10^s + 0.5) / 10^s`` and its exact grid sum
are spelled once, in ``functions/numeric.py``: one twin per context
(Column, SQL text for Spark and DuckDB, Python value), all bitwise
equal and all DOUBLE. A lint keeps inline copies out of the engine.
"""

from __future__ import annotations

import math
import pathlib
import re
import struct

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from covid_weather_etl_spark.functions import numeric
from covid_weather_etl_spark.functions.numeric import (
    fround, fround_sql, fround_val, grid_sum, grid_sum_sql,
)

ENGINE = pathlib.Path(numeric.__file__).resolve().parents[1]
SCALES = (2, 4, 6, 9, 12)


def _bits(v):
    return None if v is None else struct.pack("d", v)


def _inputs(s: int) -> list[float | None]:
    """Exact ties at digit s+1 and one ulp either side, negatives,
    ±0.0, values that snap to 0, magnitudes near 2^53 / 10^s, NULL."""
    p = 10.0 ** s
    xs = [0.0, -0.0, 0.4 / p, -0.4 / p, 0.5 / p, -0.5 / p, 1.0, -1.0,
          123.456789012345, -98.7654321]
    for k in (0, 1, 2, 7, 12345):
        t = (k + 0.5) / p
        xs += [t, math.nextafter(t, 0.0), math.nextafter(t, 1.0),
               -t, math.nextafter(-t, 0.0), math.nextafter(-t, -1.0)]
    big = 2.0 ** 53 / p
    for m in (big, math.nextafter(big, 0.0), math.nextafter(big, 2 * big),
              big - 0.5 / p, big / 3):
        xs += [m, -m]
    return xs + [None]


@pytest.fixture(scope="module")
def snap_frames(spark, duck):
    rows = [(i, x) for i, x in enumerate(
        x for s in SCALES for x in _inputs(s))]
    sdf = spark.createDataFrame(rows, "id long, x double")
    sdf.createOrReplaceTempView("snap_in")
    duck.execute("CREATE OR REPLACE TEMP TABLE snap_in (id BIGINT, x DOUBLE)")
    duck.executemany("INSERT INTO snap_in VALUES (?, ?)", rows)
    return rows, sdf


def test_fround_twins_agree_bitwise_and_are_double(spark, duck, snap_frames):
    rows, sdf = snap_frames
    cols = [fround(F.col("x"), s).alias(f"y{s}") for s in SCALES]
    col_out = sdf.select("id", *cols)
    sql = ", ".join(f"{fround_sql('x', s)} AS y{s}" for s in SCALES)
    sql_out = spark.sql(f"SELECT id, {sql} FROM snap_in")
    for frame in (col_out, sql_out):
        assert all(isinstance(f.dataType, T.DoubleType)
                   for f in frame.schema.fields[1:])
    duck_types = duck.execute(
        f"SELECT DISTINCT {', '.join(f'typeof(y{s})' for s in SCALES)} "
        f"FROM (SELECT {sql} FROM snap_in)").fetchall()
    assert duck_types == [("DOUBLE",) * len(SCALES)]

    by_col = {r["id"]: r for r in col_out.collect()}
    by_sql = {r["id"]: r for r in sql_out.collect()}
    by_duck = {r[0]: r for r in duck.execute(
        f"SELECT id, {sql} FROM snap_in").fetchall()}
    for i, x in rows:
        for k, s in enumerate(SCALES):
            if x is not None and abs(x) * 10.0 ** s >= 2.0 ** 63:
                continue                    # outside the kernel's domain
            want = None if x is None else fround_val(x, s)
            got = (by_col[i][f"y{s}"], by_sql[i][f"y{s}"],
                   by_duck[i][k + 1])
            assert [_bits(g) for g in got] == [_bits(want)] * 3, (x, s, got)


def test_decimal_literal_snap_text_is_not_double(spark, snap_frames):
    """Why the SQL twin writes exponent literals: Spark SQL parses
    ``1000000.0`` and ``0.5`` as DECIMAL, so the same rule spelled
    with them is typed decimal(30,9) instead of DOUBLE."""
    old = spark.sql("SELECT FLOOR((x) * 1000000.0 + 0.5) / 1000000.0 AS y "
                    "FROM snap_in")
    assert old.schema["y"].dataType == T.DecimalType(30, 9)
    new = spark.sql(f"SELECT {fround_sql('x')} AS y FROM snap_in")
    assert new.schema["y"].dataType == T.DoubleType()


def test_grid_sum_twins_agree_bitwise(spark, duck):
    rows = []
    for s in SCALES:
        xs = [x for x in _inputs(s) if x is None or abs(x) < 2.0 ** 50
              / 10.0 ** s]
        rows += [(s, g, x) for g in range(3) for x in xs[g::3]]
    rows += [(s, 9, None) for s in SCALES]          # an all-NULL group
    sdf = spark.createDataFrame(rows, "s int, g int, x double")
    sdf.createOrReplaceTempView("gsum_in")
    duck.execute("CREATE OR REPLACE TEMP TABLE gsum_in "
                 "(s INT, g INT, x DOUBLE)")
    duck.executemany("INSERT INTO gsum_in VALUES (?, ?, ?)", rows)

    col = sdf.groupBy("s", "g").agg(*[
        grid_sum(F.when(F.col("s") == s, F.col("x")), s).alias(f"t{s}")
        for s in SCALES])
    sql = ", ".join(
        f"{grid_sum_sql(f'CASE WHEN s = {s} THEN x END', s)} AS t{s}"
        for s in SCALES)
    text = f"SELECT s, g, {sql} FROM gsum_in GROUP BY s, g"
    sql_out = spark.sql(text)
    for frame in (col, sql_out):
        assert all(isinstance(f.dataType, T.DoubleType)
                   for f in frame.schema.fields[2:])

    def keyed(rs):
        return {(r[0], r[1]): [_bits(v) for v in r[2:]] for r in rs}

    a, b = keyed(col.collect()), keyed(sql_out.collect())
    c = keyed(duck.execute(text).fetchall())
    assert a == b == c
    assert len(a) == 4 * len(SCALES)
    assert a[(6, 9)] == [None] * len(SCALES)
    # a scale's own group equals the exact integer sum of its snaps
    for (s, g), vals in a.items():
        xs = [x for ss, gg, x in rows if (ss, gg) == (s, g) and x is not None]
        if xs:
            units = sum(math.floor(x * 10.0 ** s + 0.5) for x in xs)
            want = float(units) / 10.0 ** s
            assert vals[SCALES.index(s)] == _bits(want), (s, g)


# ---------------------------------------------------------------------------
# lint: no grid snap or grid sum spelled outside functions/numeric.py
# ---------------------------------------------------------------------------

#: `... + 0.5) / 1e6`, `+ 5e-1) / 1e6`, `+ F.lit(0.5)) / F.lit(1e6)`,
#: `math.floor(... * 1e6 + 0.5) / 1e6`, and the `1000000.0` forms.
_SNAP = re.compile(
    r"\+\s*(?:0\.5|5e-1|F\.lit\(\s*0\.5\s*\))\s*\)\s*/\s*"
    r"(?:F\.lit\(\s*)?(?:1e\d+|10{2,}\.0|1_000_000\.0)\b")
#: the exact grid sum's integer step, SQL and Column spellings.
_GRID_SUM = re.compile(
    r"(?:0\.5|5e-1)\s*\)\s*AS\s+BIGINT\s*\)\s*AS\s+DECIMAL\(\s*38\s*,\s*0\s*\)"
    r"|F\.sum\(\s*F\.floor\((?:(?!F\.sum\().){0,300}?F\.lit\(\s*0\.5\s*\)\s*\)"
    r"\s*(?:\.cast\(\s*\"long\"\s*\)\s*)?\.cast\(\s*\"decimal\(38,\s*0\)\"",
    re.S)
#: a local snap helper: a lambda or one-line def around a kernel.
_HELPER = re.compile(
    r"^\s*\w+\s*=\s*lambda\b[^\n]*\b(?:fround\w*|grid_sum\w*)\("
    r"|^\s*def\s+\w+\([^)]*\)[^:\n]*:\s*\n\s*return\s+"
    r"(?:fround\w*|grid_sum\w*)\([^()\n]*\)\s*$", re.M)
#: a site kept on purpose says why on its line or the line above.
_KEPT = "not the kernel:"


def _inline_snaps(root: pathlib.Path) -> list[str]:
    own = pathlib.Path(numeric.__file__).resolve()
    hits = []
    for path in sorted(root.rglob("*.py")):
        if path.resolve() == own:
            continue
        text = path.read_text()
        lines = text.split("\n")
        for rx in (_SNAP, _GRID_SUM, _HELPER):
            for m in rx.finditer(text):
                lead = len(m.group(0)) - len(m.group(0).lstrip())
                ln = text.count("\n", 0, m.start() + lead)
                near = "\n".join(lines[max(ln - 1, 0):ln + 1])
                if _KEPT not in near:
                    hits.append(f"{path.relative_to(root)}:{ln + 1}")
    return hits


def test_no_inline_grid_snap_outside_numeric():
    assert _inline_snaps(ENGINE) == []


@pytest.mark.parametrize("src, flagged", [
    ("y = FLOOR(x * 1e6 + 0.5) / 1e6", True),
    ("y = FLOOR((x) * 1e6 + 5e-1)\n    / 1e6", True),
    ("y = FLOOR(x * 1000000.0 + 0.5) / 1000000.0", True),
    ("y = F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)", True),
    ("y = math.floor(v * 1e9 + 0.5) / 1e9", True),
    ("s = 'CAST(SUM(CAST(CAST(FLOOR(e * 1e2 + 5e-1) AS BIGINT) "
     "AS DECIMAL(38,0))) AS DOUBLE) / 1e2'", True),
    ("t = F.sum(F.floor(c * F.lit(1e4) + F.lit(0.5))\n"
     "          .cast(\"decimal(38,0)\"))", True),
    ("g6 = lambda c: fround(c)  # noqa: E731", True),
    ("def fr9(x):\n    return fround_val(x, 9)", True),
    ("y = fround_sql('x')", False),
    ("u = (raw + 0.5) / float(1 << 52)", False),
    ("k = CAST(FLOOR(p * 1e2 + 0.5) AS BIGINT)", False),
    ("# not the kernel: scaled first\ny = FLOOR(x * 1e6 / n + 0.5) / 1e6",
     False),
])
def test_inline_snap_lint_shapes(tmp_path, src, flagged):
    (tmp_path / "mod.py").write_text(src + "\n")
    assert bool(_inline_snaps(tmp_path)) is flagged
