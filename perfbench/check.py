"""Output checks: oracle fingerprints for registry queries.

A fingerprint is a digest of a result after the test suite's own
normalisation (`tests.conftest.normalize`), so two results share a
fingerprint exactly when the suite's oracle comparator would call them
equal: same column names, row count, coarse column kinds, float values
bit-equal (which tells -0.0 from 0.0) and every other value equal as a
string.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from tests.conftest import _type_kind, normalize


def fingerprint(pdf: pd.DataFrame) -> str:
    df = normalize(pdf)
    h = hashlib.sha256()
    h.update(repr((list(df.columns), len(df))).encode())
    for c in df.columns:
        h.update(_type_kind(df[c]).encode())
        arr = np.asarray(df[c])
        if arr.dtype.kind == "f":
            v = arr.astype(np.float64)
            h.update(np.where(np.isnan(v), np.nan, v).tobytes())
        else:
            h.update("\x1f".join(df[c].astype(str)).encode())
    return h.hexdigest()


def oracle_fingerprints(queries, data_dir: str, tables) -> dict[str, str]:
    """Run each query's DuckDB oracle over the parquet files in
    `data_dir` and fingerprint the result."""
    import duckdb

    con = duckdb.connect()
    # one thread: the recursive-CTE oracles ran fastest so (12 s against
    # 27 s on four threads), and it leaves the other cores to the engine
    con.execute("SET threads=1")
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
        return {q.name: fingerprint(con.execute(q.oracle).fetchdf())
                for q in queries}
    finally:
        con.close()
