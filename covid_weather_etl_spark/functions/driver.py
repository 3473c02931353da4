"""The one seam between the driver and Spark plans.

Some plans have a shortcut for frames that are small by construction:
collect the frame and finish on the driver, or run the whole kernel in
one task. Every such shortcut is gated here, and its fallback is the
distributed plan, which must return the same rows bit for bit
(tests/test_driver_paths.py pins each gate both ways). Callers read
``FORCE_DISTRIBUTED`` at call time through this module; only tests set
it.

Rows built on the driver (a shortcut's result, a constant grid, a
codebook, a log row) go back to Spark through ``local_frame`` and no
other way: ``spark.createDataFrame(list)`` ships pickled rows through an
RDD that a Python worker must unpickle on every action, while an Arrow
table becomes a ``LocalRelation`` the JVM scans on its own.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

#: True sends every gated plan down its distributed fallback.
FORCE_DISTRIBUTED = False


def fits(n: int, cap: int) -> bool:
    """True when a frame of ``n`` rows may take its shortcut."""
    return not FORCE_DISTRIBUTED and n <= cap


def bounded_collect(df, cap: int):
    """The rows of ``df`` when there are at most ``cap`` of them and the
    switch is off, else None. One job that fetches at most cap + 1 rows."""
    if FORCE_DISTRIBUTED:
        return None
    rows = df.limit(cap + 1).collect()
    return rows if len(rows) <= cap else None


def local_frame(spark, rows, schema):
    """A DataFrame of the driver-side ``rows`` (tuples or ``Row``s, in
    ``schema``'s field order) under ``schema``, a DDL string or a
    ``StructType``.

    The rows are built into an Arrow table one column at a time, so
    Spark plans them as a ``LocalRelation`` (below
    ``spark.sql.execution.arrow.localRelationThreshold``) and no Python
    worker runs for any action on the frame. Values land as
    ``createDataFrame(rows, schema)`` stores them: a ``float`` field
    rounds to float32, NaN, ±0.0 and ±inf keep their bits, None is NULL.
    """
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow)
    return spark.createDataFrame(table, schema)
