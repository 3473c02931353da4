"""Seeded input generators for the benchmark.

`write_tables` writes the ten parquet tables the query registry reads
(`sources.catalog.TABLES`) with the column types and value domains of
the engine's synthetic test data: a TPC-H-like star schema, an
`events` stream, a `documents` corpus with near-duplicates and unit
`embeddings`. `EtlStager` writes the bronze JSON envelope files that
`etl.pipeline.run_batch` ingests, one file per country and day, and
remembers which files it made bad so the benchmark can check the
quarantine.

The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")

# rows per table at scale 1.0 (TPC-H sf1 ratios for the star schema)
BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "lineitem": 6_000_000,
             "events": 1_000_000, "documents": 50_000, "embeddings": 50_000}
EMBED_DIM = 64
DAY_US = 86_400 * 1_000_000


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * DAY_US).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier doc: the dedup and LSH
            # queries need real candidate pairs to find
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(_pick(rng, WORDS, n_words)))
    langs = np.asarray(LANGS, dtype=object)[
        rng.choice(len(LANGS), n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    return {"doc_id": np.arange(n, dtype=np.int64),
            "text": texts, "lang": langs,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def _embeddings(rng, n):
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 0.07, (10, EMBED_DIM))
    x = rng.normal(0.0, 0.125, (n, EMBED_DIM)) + centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({"vec_id": np.arange(n, dtype=np.int64),
                     "embedding": pa.array(list(x), pa.list_(pa.float32())),
                     "label": labels})


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(r * scale)) for t, r in BASE_ROWS.items()}
    i32 = np.int32
    ncust, nsupp, npart, nord = (n["customer"], n["supplier"], n["part"],
                                 n["orders"])
    nline, nev = n["lineitem"], n["events"]
    partkey = np.arange(npart, dtype=np.int64)
    return {
        "region": pa.table({"r_regionkey": np.arange(5, dtype=i32),
                            "r_name": list(REGIONS)}),
        "nation": pa.table({"n_nationkey": np.arange(25, dtype=i32),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": (np.arange(25) % 5).astype(i32)}),
        "customer": pa.table({
            "c_custkey": np.arange(ncust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(ncust)],
            "c_nationkey": rng.integers(0, 25, ncust).astype(i32),
            "c_acctbal": _money(rng, ncust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, ncust)}),
        "supplier": pa.table({
            "s_suppkey": np.arange(nsupp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(nsupp)],
            "s_nationkey": rng.integers(0, 25, nsupp).astype(i32),
            "s_acctbal": _money(rng, nsupp, -999.99, 9999.99)}),
        "part": pa.table({
            "p_partkey": partkey,
            "p_name": [f"{a} {b}" for a, b in zip(
                _pick(rng, PART_ADJ, npart), _pick(rng, PART_NOUN, npart))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(i32),
            "p_retailprice": np.round(900.0 + (partkey % 1000) / 10.0, 1)}),
        "orders": pa.table({
            "o_orderkey": np.arange(nord, dtype=np.int64),
            "o_custkey": rng.integers(0, ncust, nord),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), nord),
            "o_totalprice": _money(rng, nord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, nord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, nord)}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, nord, nline),
            "l_partkey": rng.integers(0, npart, nline),
            "l_suppkey": rng.integers(0, nsupp, nline),
            "l_linenumber": rng.integers(1, 8, nline).astype(i32),
            "l_quantity": rng.integers(1, 51, nline).astype(np.float64),
            "l_extendedprice": _money(rng, nline, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, nline) / 100.0,
            "l_tax": rng.integers(0, 9, nline) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), nline),
            "l_linestatus": _pick(rng, ("F", "O"), nline),
            "l_shipdate": _days(rng, nline, "1995-01-02", "2001-11-04")}),
        "events": pa.table({
            "event_id": np.arange(nev, dtype=np.int64),
            "ts": (np.datetime64("2024-01-01", "us") + np.sort(
                rng.integers(0, 30 * DAY_US, nev)).astype("timedelta64[us]")),
            "user_id": rng.integers(0, max(1, nev * 3 // 200), nev),
            "event_type": _pick(rng, EVENT_TYPES, nev),
            "value": np.round(rng.exponential(50.0, nev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, nev)]}),
        "documents": pa.table(_documents(rng, n["documents"])),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }


def write_tables(out_dir: str, seed: int, scale: float) -> None:
    """Write every table as `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# ETL staging files
# ---------------------------------------------------------------------------

#: ISO code -> the country name gold should hold: the reference's three
#: mapped countries, plus one code it has no mapping for, which the
#: pipeline keeps as the country name
COUNTRIES = {"MDA": "Moldova", "DEU": "Germany", "ITA": "Italy",
             "FRA": "FRA"}
WINDOW_DAYS = 30
#: a batch re-runs RERUN_DAYS seed-drawn days of the last RERUN_FROM
#: days of the window before it. The count is fixed so that every seed
#: stages the same number of files.
RERUN_FROM, RERUN_DAYS = 15, 10
WEATHER_REQUIRED = ("tavg", "tmin", "tmax", "prcp", "wdir", "wspd", "wpgt",
                    "pres")
COVID_FIELDS = ("confirmed", "deaths", "recovered", "confirmed_diff",
                "deaths_diff", "recovered_diff", "active", "active_diff",
                "fatality_rate")


@dataclass
class StagedBatch:
    """One staged batch: where its files are, what they hold, and what
    the pipeline should make of them. Every file holds one entry, so a
    good file is one silver row."""
    window: int
    rerun: list[int]                  # days re-run from the window before
    dirs: dict[str, str]              # kind -> staging directory
    files: dict[str, int]             # kind -> files staged
    bad_files: dict[str, set[str]]    # kind -> names of files with a bad entry
    to_load: dict[str, dict[str, int]]  # kind -> country -> new good rows
    to_skip: dict[str, int]           # kind -> good rows already in gold
    n_entries: int
    n_bytes: int

    @property
    def n_files(self) -> int:
        return sum(self.files.values())


@dataclass
class EtlStager:
    """Writes one-entry envelope files `<ISO>_<KIND>_<date>` per country
    and day of consecutive 30-day windows. The first batch stages only
    the last `RERUN_FROM` days of its window. Every later batch stages a
    whole window and re-runs days from the end of the one before it,
    whose rows the load then skips as duplicates; the seed sets which
    days it re-runs, the share of bad entries and the share of
    `[dict]`-wrapped entries. Every window has at least one bad file
    per kind."""
    root: str
    seed: int
    rng: np.random.Generator = field(init=False)
    bad_share: float = field(init=False)
    wrap_share: float = field(init=False)
    _batches: int = field(init=False, default=0)

    def __post_init__(self):
        self.rng = np.random.default_rng(self.seed + 7919)
        self.bad_share = float(self.rng.uniform(0.03, 0.06))
        self.wrap_share = float(self.rng.uniform(0.2, 0.6))

    def _window_entries(self, window: int, kind: str) -> list:
        """(file name, envelope data, is bad, day index, country code)
        per country and day. A window's content is a pure function of
        (seed, window, kind), so a re-run stages identical entries."""
        rng = np.random.default_rng([self.seed, window, kind == "covid"])
        start = np.datetime64("2021-04-01") + window * WINDOW_DAYS
        n_files = len(COUNTRIES) * WINDOW_DAYS
        bad_files = set(rng.choice(n_files, max(1, round(
            self.bad_share * n_files)), replace=False).tolist())
        out = []
        for ci, code in enumerate(COUNTRIES):
            for d in range(WINDOW_DAYS):
                day = str(start + d)
                if kind == "weather":
                    e = {"date": day,
                         "tavg": round(float(rng.uniform(-7, 28)), 1),
                         "tmin": round(float(rng.uniform(-13, 10)), 1),
                         "tmax": round(float(rng.uniform(-5, 35)), 1),
                         "prcp": round(float(rng.exponential(1.5)), 1),
                         "snow": None if rng.random() < 0.5 else 0.0,
                         "wdir": float(rng.integers(0, 361)),
                         "wspd": round(float(rng.uniform(0, 40)), 1),
                         "wpgt": round(float(rng.uniform(0, 80)), 1),
                         "pres": round(float(rng.uniform(1000, 1030)), 1),
                         "tsun": None if rng.random() < 0.3
                         else float(rng.integers(0, 475))}
                    required = WEATHER_REQUIRED
                else:
                    c = int(rng.integers(1000, 10**6))
                    dd = int(rng.integers(0, 5000))
                    r = int(rng.integers(0, c))
                    e = {"date": day, "confirmed": c, "deaths": dd,
                         "recovered": r,
                         "confirmed_diff": int(rng.integers(0, 5000)),
                         "deaths_diff": int(rng.integers(0, 100)),
                         "recovered_diff": int(rng.integers(0, 5000)),
                         "active": c - dd - r,
                         "active_diff": int(rng.integers(-500, 500)),
                         "fatality_rate": round(dd / c, 4),
                         "last_update": f"{day} 10:00:00", "region": code}
                    required = COVID_FIELDS
                bad = ci * WINDOW_DAYS + d in bad_files
                if bad:
                    e[required[int(rng.integers(0, len(required)))]] = None
                wrap = rng.random() < self.wrap_share
                out.append((f"{code}_{kind.upper()}_{day}",
                            [[e]] if wrap else [e], bad, d, code))
        return out

    def stage(self) -> StagedBatch:
        """Stage the next batch: the next 30-day window (only its end
        for the first batch) and, after the first batch, a re-run of
        seed-drawn days of the window before it, whose good rows are
        already in gold (its bad files are bad again)."""
        window = self._batches
        self._batches += 1
        rerun = sorted(self.rng.choice(
            range(WINDOW_DAYS - RERUN_FROM, WINDOW_DAYS), RERUN_DAYS,
            replace=False).tolist()) if window else []
        b = StagedBatch(window, rerun, {}, {}, {}, {}, {}, 0, 0)
        for kind in ("weather", "covid"):
            d = os.path.join(self.root, f"batch_{self._batches}", kind)
            os.makedirs(d)
            b.dirs[kind], b.files[kind], b.bad_files[kind] = d, 0, set()
            b.to_load[kind] = dict.fromkeys(COUNTRIES.values(), 0)
            b.to_skip[kind] = 0
            old = [f for f in self._window_entries(window - 1, kind)
                   if f[3] in rerun] if window else []
            new = [f for f in self._window_entries(window, kind)
                   if window or f[3] >= WINDOW_DAYS - RERUN_FROM]
            for is_new, (name, entries, bad, _, code) in (
                    [(False, f) for f in old] + [(True, f) for f in new]):
                path = os.path.join(d, name)
                with open(path, "w") as fh:
                    json.dump({"data": entries}, fh, indent=2)
                b.files[kind] += 1
                b.n_entries += len(entries)
                b.n_bytes += os.path.getsize(path)
                if bad:
                    b.bad_files[kind].add(name)
                elif is_new:
                    b.to_load[kind][COUNTRIES[code]] += 1
                else:
                    b.to_skip[kind] += 1
        return b
