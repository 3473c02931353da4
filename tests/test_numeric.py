"""The exact DECIMAL sum, the grid snap ``floor(x·10^s + 0.5) / 10^s``
and its exact grid sum are spelled once, in ``functions/numeric.py``:
one twin per context (Column, SQL text for Spark and DuckDB, Python
value), all bitwise equal and all DOUBLE. Lints keep inline copies and
local DECIMAL type aliases out of the engine.
"""

from __future__ import annotations

import ast
import math
import pathlib
import re
import struct

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from covid_weather_etl_spark.functions import numeric
from covid_weather_etl_spark.functions.numeric import (
    decimal_dot, decimal_dot_sql, dsum, dsum_sql, exact_avg, exact_avg_sql,
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
#: the exact grid sum's integer step, SQL and Column spellings, with or
#: without the BIGINT step before the DECIMAL(p,0) cast.
_GRID_SUM = re.compile(
    r"(?:0\.5|5e-1)\s*\)\s*(?:AS\s+BIGINT\s*\)\s*)?"
    r"AS\s+DECIMAL\(\s*\d+\s*,\s*0\s*\)"
    r"|F\.floor\((?:(?!F\.floor\().){0,300}?F\.lit\(\s*0\.5\s*\)\s*\)"
    r"\s*(?:\.cast\(\s*\"long\"\s*\)\s*)?\.cast\(\s*\"decimal\(\d+,\s*0\)\"",
    re.S)
#: a local snap helper: a lambda or one-line def around a kernel.
_HELPER = re.compile(
    r"^\s*\w+\s*=\s*lambda\b[^\n]*\b(?:fround\w*|grid_sum\w*)\("
    r"|^\s*def\s+\w+\([^)]*\)[^:\n]*:\s*\n\s*return\s+"
    r"(?:fround\w*|grid_sum\w*)\([^()\n]*\)\s*$", re.M)
#: a site kept on purpose says why on its line or the line above.
_KEPT = "not the kernel:"
#: the seam between two implicitly concatenated string literals
_SEAM = re.compile(r"([\"'])[ \t]*(\n[ \t]*)+f?\1")


def _engine_texts(root: pathlib.Path):
    """(path, text, lines) of every module but numeric.py; in ``text``
    each seam between concatenated literals is cut down to its
    newlines, so a pattern spans it and line numbers still hold."""
    own = pathlib.Path(numeric.__file__).resolve()
    for path in sorted(root.rglob("*.py")):
        if path.resolve() == own:
            continue
        raw = path.read_text()
        text = _SEAM.sub(lambda m: "\n" * m.group(0).count("\n"), raw)
        yield path, text, raw.split("\n")


def _close(text: str, i: int) -> int:
    """Index of the parenthesis closing the one at ``text[i]``."""
    depth = 0
    for j in range(i, min(len(text), i + 4000)):
        depth += {"(": 1, ")": -1}.get(text[j], 0)
        if depth == 0:
            return j
    return min(len(text), i + 4000)


def _unkept(root, path, text, lines, start) -> list[str]:
    ln = text.count("\n", 0, start)
    near = "\n".join(lines[max(ln - 1, 0):ln + 1])
    return [] if _KEPT in near else [f"{path.relative_to(root)}:{ln + 1}"]


def _inline_snaps(root: pathlib.Path) -> list[str]:
    hits = []
    for path, text, lines in _engine_texts(root):
        for rx in (_SNAP, _GRID_SUM, _HELPER):
            for m in rx.finditer(text):
                lead = len(m.group(0)) - len(m.group(0).lstrip())
                hits += _unkept(root, path, text, lines, m.start() + lead)
    return hits


def test_no_inline_grid_snap_outside_numeric():
    assert _inline_snaps(ENGINE) == []


# ---------------------------------------------------------------------------
# the exact sum: dsum / decimal_dot / exact_avg twins agree bitwise
# ---------------------------------------------------------------------------

#: every DECIMAL type the engine passes to the exact-sum kernel forms
SUM_TYPES = ("decimal(25,6)", "decimal(18,2)", "decimal(25,2)",
             "decimal(38,6)", "decimal(25,9)", "decimal(20,9)",
             "decimal(25,12)", "decimal(25,18)", "decimal(18,15)",
             "decimal(12,2)", "decimal(19,6)", "decimal(25,0)",
             "decimal(8,0)", "decimal(30,0)", "decimal(38,0)",
             "decimal(28,9)", "decimal(30,12)")
#: the types the engine passes to decimal_dot (a wider one overflows
#: DuckDB's 38-digit product)
DOT_TYPES = ("decimal(18,2)", "decimal(19,6)", "decimal(12,2)",
             "decimal(8,0)")
#: 2dp money, negatives and the classic 0.1 + 0.2 + 0.3 order trap;
#: |x| < 1000 so every value fits DECIMAL(18,15)
_MONEY = (123.45, -98.76, 0.01, -0.01, 999.99, -999.99, 0.5, -0.5, 12.3,
          45.67, -0.05, 0.1, 0.2, 0.3, 7.0, -3.33, 100.0, 0.07)


def _scale(dec: str) -> int:
    return int(dec.rstrip(")").split(",")[1])


def test_kernel_types_cover_the_engine():
    """SUM_TYPES and DOT_TYPES list every type literal the engine
    passes to a kernel form, so the twins test below covers them all."""
    call = re.compile(r"\b(dsum|decimal_sum|decimal_dot)(?:_sql)?\(")
    lit = re.compile(r"[\"'](decimal\(\d+,\d+\))[\"']")
    used = {"decimal_dot": set(), "sum": set()}
    for _path, text, _lines in _engine_texts(ENGINE):
        for m in call.finditer(text):
            arg = text[m.end():_close(text, m.end() - 1)]
            used.get(m.group(1), used["sum"]).update(lit.findall(arg))
    assert used["sum"] and used["sum"] <= set(SUM_TYPES), used["sum"]
    assert used["decimal_dot"] <= set(DOT_TYPES), used["decimal_dot"]


def test_exact_sum_twins_agree_bitwise(spark, duck):
    """dsum, exact_avg and decimal_dot: the Column form and spark.sql
    return the same DOUBLE bits for every engine type, and that double
    is the exact decimal total rounded once. DuckDB returns the same
    bits inside the kernel's domain, a total whose unscaled integer
    stays under 2^53 (past it, DuckDB's DECIMAL→DOUBLE cast rounds
    twice). Scale-0 types carry integer terms (ranks, counts), as in
    the engine."""
    from decimal import Decimal

    rows = [(i % 3, x, float(round(x))) for i, x in enumerate(_MONEY)]
    rows += [(9, None, None)]                       # a NULL-only group
    sdf = spark.createDataFrame(rows, "g int, x double, k double")
    sdf.createOrReplaceTempView("dsum_in")
    duck.execute("CREATE OR REPLACE TEMP TABLE dsum_in "
                 "(g INT, x DOUBLE, k DOUBLE)")
    duck.executemany("INSERT INTO dsum_in VALUES (?, ?, ?)", rows)

    def terms(g, dec, dot):
        vs = [Decimal(repr(r[2] if _scale(dec) == 0 else r[1]))
              for r in rows[:-1] if r[0] == g]
        return [v * v for v in vs] if dot else vs

    cols = [exact_avg("x").alias("c0")]
    sqls = [f"{exact_avg_sql('x')} AS c0"]
    cases = [(numeric.DEC, False, True)]
    for dec in SUM_TYPES:
        c, n = ("k" if _scale(dec) == 0 else "x"), len(cases)
        cols.append(dsum(c, dec).alias(f"c{n}"))
        sqls.append(f"{dsum_sql(c, dec)} AS c{n}")
        cases.append((dec, False, False))
    for dec in DOT_TYPES:
        c, n = ("k" if _scale(dec) == 0 else "x"), len(cases)
        cols.append(decimal_dot(c, c, dec).cast("double").alias(f"c{n}"))
        sqls.append(f"CAST({decimal_dot_sql(c, c, dec)} AS DOUBLE) AS c{n}")
        cases.append((dec, True, False))
    col = sdf.groupBy("g").agg(*cols)
    text = f"SELECT g, {', '.join(sqls)} FROM dsum_in GROUP BY g"
    sql_out = spark.sql(text)
    for frame in (col, sql_out):
        assert all(isinstance(f.dataType, T.DoubleType)
                   for f in frame.schema.fields[1:])

    def keyed(rs):
        return {r[0]: [_bits(v) for v in r[1:]] for r in rs}

    a, b = keyed(col.collect()), keyed(sql_out.collect())
    c = keyed(duck.execute(text).fetchall())
    assert a == b
    assert a[9] == c[9] == [None] * len(cases)
    for g in range(3):
        for n, (dec, dot, avg) in enumerate(cases):
            vs = terms(g, dec, dot)
            s = _scale(dec) * (2 if dot else 1)
            want = float(sum(vs)) / len(vs) if avg else float(sum(vs))
            assert a[g][n] == _bits(want), (g, dec, dot, avg)
            if abs(sum(vs)) * 10 ** s < 2 ** 53:
                assert c[g][n] == a[g][n], (g, dec, dot, avg)


# ---------------------------------------------------------------------------
# lint: no DECIMAL sum or DECIMAL type alias spelled outside numeric.py
# ---------------------------------------------------------------------------

#: the head of a SUM aggregate, SQL (any case) or Column
_SUM_HEAD = re.compile(r"(?<![\w.])(?:F\.sum|SUM|sum)\(")
#: a DECIMAL cast, SQL or Column spelling (``DEC`` is numeric's type)
_DEC_CAST = re.compile(
    r"\bAS\s+DECIMAL\s*\(|\.cast\(\s*(?:f?[\"']decimal\(|DEC\b)", re.I)
#: a local name for a DECIMAL type: a string constant or a cast lambda
_DEC_ALIAS = re.compile(
    r"^\s*\w+\s*=\s*f?[\"']decimal\(\d"
    r"|^\s*\w+\s*=\s*lambda\b[^\n]*\.cast\(\s*f?[\"']decimal\(", re.M | re.I)


def _inline_dec_sums(root: pathlib.Path) -> list[str]:
    """SUMs whose argument casts to DECIMAL (the exact sum spelled out,
    whole or in part) and local DECIMAL type aliases."""
    hits = []
    for path, text, lines in _engine_texts(root):
        for m in _SUM_HEAD.finditer(text):
            arg = text[m.end():_close(text, m.end() - 1)]
            if _DEC_CAST.search(arg):
                hits += _unkept(root, path, text, lines, m.start())
        for m in _DEC_ALIAS.finditer(text):
            lead = len(m.group(0)) - len(m.group(0).lstrip())
            hits += _unkept(root, path, text, lines, m.start() + lead)
    return hits


#: a SQL column bound to a DECIMAL cast: ``CAST(... AS DECIMAL(p,s)) AS t``
_SQL_DEC_BIND = re.compile(
    r"AS\s+DECIMAL\s*\(\s*\d+\s*,\s*\d+\s*\)\s*(\))\s*AS\s+(\w+)", re.I)


def _src(lines: list[str], node: ast.AST) -> str:
    """The source text of ``node`` (ast columns are UTF-8 offsets)."""
    bs = [ln.encode() for ln in lines[node.lineno - 1:node.end_lineno]]
    bs[-1] = bs[-1][:node.end_col_offset]
    bs[0] = bs[0][node.col_offset:]
    return b"\n".join(bs).decode()


def _summed_names(node: ast.AST) -> set[str]:
    """What an ``F.sum(...)`` reads: its variables, and its column
    names in quotes (``F.sum("t")``, ``F.col("b.t")`` inside), without
    a frame alias."""
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr == "sum" and len(node.args) == 1):
        return set()
    a = node.args[0]
    quoted = [a] if isinstance(a, ast.Constant) else []
    names = set()
    for n in ast.walk(a):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
              and n.func.attr == "col" and len(n.args) == 1
              and isinstance(n.args[0], ast.Constant)):
            quoted.append(n.args[0])
    return names | {repr(str(q.value).rsplit(".", 1)[-1]) for q in quoted}


def _column_binds(fn: ast.FunctionDef, lines: list[str]) -> dict:
    """Names a function binds to a DECIMAL cast, each with its node: a
    variable, or a column made by ``.alias`` / ``.withColumn``."""
    bound = {}
    for n in ast.walk(fn):
        if (isinstance(n, ast.Assign) and len(n.targets) == 1
                and isinstance(n.targets[0], ast.Name)
                and _DEC_CAST.search(_src(lines, n.value))):
            bound[n.targets[0].id] = n
    for n in ast.walk(fn):
        if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("alias", "withColumn") and n.args
                and isinstance(n.args[0], ast.Constant)):
            continue
        v = n.func.value if n.func.attr == "alias" else n.args[-1]
        if isinstance(v, ast.Name) and v.id in bound:
            bound.setdefault(repr(n.args[0].value), bound[v.id])
        elif _DEC_CAST.search(_src(lines, v)):
            bound.setdefault(repr(n.args[0].value), n)
    return bound


def _statement(fn: ast.FunctionDef, node: ast.AST) -> ast.stmt:
    """The innermost statement of ``fn`` that holds ``node``."""
    best = fn
    for st in ast.walk(fn):
        if (isinstance(st, ast.stmt) and st is not fn
                and st.lineno <= node.lineno
                and st.end_lineno >= node.end_lineno
                and (best is fn or st.lineno >= best.lineno
                     and st.end_lineno <= best.end_lineno)):
            best = st
    return best


def _kept_span(root, path, lines, first: int, last: int) -> list[str]:
    """A hit at lines ``first..last`` (0-based), unless the marker sits
    on one of them or on the line above or below."""
    near = "\n".join(lines[max(first - 1, 0):last + 2])
    return [] if _KEPT in near else [f"{path.relative_to(root)}:{first + 1}"]


def _bound_dec_sums(root: pathlib.Path) -> list[str]:
    """DECIMAL casts bound to a name that a SUM then reads: the exact
    sum split in two. Column: a variable or aliased column of one
    function; a marker on the binding statement keeps it. SQL:
    ``CAST(... AS DECIMAL(p,s)) AS t`` and a SUM over ``t`` in one
    string literal (f-string fields included); a marker on the cast
    keeps it."""
    hits = []
    for path, text, lines in _engine_texts(root):
        try:
            tree = ast.parse("\n".join(lines))
        except SyntaxError:     # a lint-shape snippet; engine modules import
            continue
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            bound = _column_binds(fn, lines)
            for n in ast.walk(fn):
                for b in map(bound.get, _summed_names(n) & bound.keys()):
                    st = _statement(fn, b)
                    hits += _kept_span(root, path, lines, st.lineno - 1,
                                       st.end_lineno - 1)
        seamless = text.split("\n")
        strs = [n for n in ast.walk(tree) if isinstance(n, ast.JoinedStr)
                or (isinstance(n, ast.Constant) and isinstance(n.value, str))]
        for n in strs:
            body = "\n".join(seamless[n.lineno - 1:n.end_lineno])
            summed = " ".join(body[h.end():_close(body, h.end() - 1)]
                              for h in _SUM_HEAD.finditer(body))
            for m in _SQL_DEC_BIND.finditer(body):
                if not re.search(rf"\b{m.group(2)}\b", summed):
                    continue
                i, depth = m.start(1), 0        # back to the CAST's "("
                while i > 0:
                    depth += {")": 1, "(": -1}.get(body[i], 0)
                    if depth == 0:
                        break
                    i -= 1
                first = n.lineno - 1 + body.count("\n", 0, i)
                last = n.lineno - 1 + body.count("\n", 0, m.end())
                hits += _kept_span(root, path, lines, first, last)
    return sorted(set(hits))


def test_no_inline_decimal_sum_outside_numeric():
    """An exact sum spelled outside the kernel, whole, partial or split
    across a name. A DECIMAL term that only feeds a sum is passed to
    ``dsum`` / ``decimal_sum`` as a double; a DECIMAL column with other
    uses (products, bins, count weights) says so in a marker."""
    assert _inline_dec_sums(ENGINE) + _bound_dec_sums(ENGINE) == []


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
    ("g = ('SUM(CAST(FLOOR(d * d + 0.5)'\n     ' AS DECIMAL(25,0)))')", True),
    ("t = F.floor(c * F.lit(1e9) + F.lit(0.5)).cast(\"decimal(25,0)\")",
     True),
    ("s = 'CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE)'", True),
    ("s = '''SELECT CAST(SUM(CAST(y AS DECIMAL(18,2)))\n"
     "            AS DOUBLE) AS sy'''", True),
    ("s = ('CAST(SUM(CAST(e AS DECIMAL(38,6)))'\n     ' AS DOUBLE)')", True),
    ("t = F.sum(F.col('y').cast('decimal(25,6)')).cast('double')", True),
    ("t = F.sum(c.cast('decimal(18,2)')\n          ).cast('double')", True),
    ("w = 'SUM(CAST(v AS DECIMAL(25,6))) OVER (PARTITION BY k)'", True),
    ("w = F.sum(F.col('v').cast('decimal(25,6)')).over(w)", True),
    ("p = 'SUM(CAST(a AS DECIMAL(18,2)) * CAST(b AS DECIMAL(18,2)))'", True),
    ("q = 'sum(CASE WHEN f THEN CAST(v AS DECIMAL(25,6)) END)'", True),
    ("M2 = \"decimal(18,2)\"", True),
    ("dec = lambda c: c.cast(\"decimal(25,6)\")  # noqa: E731", True),
    ("s = f\"{dsum_sql('x', 'decimal(38,6)')} AS sx\"", False),
    ("t = dsum('y', 'decimal(18,2)').alias('sy')", False),
    ("z = F.lit(0).cast('decimal(25,6)')", False),
    ("t = F.sum('term9').cast('double')", False),
    ("n = sum(x for x in xs)", False),
    ("# not the kernel: weighted\nq = 'SUM(k * CAST(t AS DECIMAL(25,9)))'",
     False),
    ("def f(d):\n    t = F.round(c, 9).cast('decimal(20,9)')\n"
     "    return d.agg(F.sum(t).cast('double'))", True),
    ("def f(d):\n"
     "    d = d.select(F.round(c, 9).cast('decimal(20,9)').alias('t9'))\n"
     "    return d.agg(F.sum('t9').cast('double'))", True),
    ("def f(d):\n    d = d.withColumn('t9', x.cast('decimal(20,9)'))\n"
     "    return d.agg(F.sum(F.col('k') * F.col('b.t9')))", True),
    ("def f(d):\n    z = F.lit(0).cast(DEC)\n"
     "    return d.agg(F.sum(F.when(k, v).otherwise(z)))", True),
    ("def f(d):\n    # not the kernel: products summed too\n"
     "    t = x.cast('decimal(15,9)')\n    return d.agg(F.sum(t * t))", False),
    ("def f(d):\n    t = F.round(c, 9)\n"
     "    return d.agg(dsum(t, 'decimal(20,9)'))", False),
    ("def f(d):\n    t = x.cast('decimal(20,9)')\n"
     "    return d.agg(F.max(t))", False),
    ("q = '''WITH t AS (SELECT CAST(ROUND(v, 9) AS DECIMAL(20,9)) AS t9\n"
     "FROM x) SELECT CAST(SUM(t9) AS DOUBLE) FROM t'''", True),
    ("q = f'''SELECT CAST(v AS DECIMAL(25,9)) AS term FROM a\n"
     "{fround_sql('CAST(SUM(b.term) AS DOUBLE)')}'''", True),
    ("q = '''WITH p AS (SELECT CAST(a AS DECIMAL(15,9)) AS x,\n"
     "  -- not the kernel: x and y feed SUM(x * y)\n"
     "  CAST(b AS DECIMAL(15,9)) AS y FROM t)\n"
     "SELECT SUM(x * y) FROM p'''", False),
    ("q = '''SELECT CAST(a AS DECIMAL(15,9)) AS x FROM t'''", False),
])
def test_inline_snap_lint_shapes(tmp_path, src, flagged):
    """The lints: the grid snap and grid sum, and the exact sum whole,
    partial or split across a name."""
    (tmp_path / "mod.py").write_text(src + "\n")
    hits = (_inline_snaps(tmp_path) + _inline_dec_sums(tmp_path)
            + _bound_dec_sums(tmp_path))
    assert bool(hits) is flagged
