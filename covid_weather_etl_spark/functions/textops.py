"""Shared word n-gram kernels — the only code that spells out an n-gram.

The cross-engine rule: a document with fewer than n tokens has NO
n-grams. DuckDB's oracles get that for free (``generate_series(1,
len - n + 1)`` is empty), but Spark's ``sequence(0, -1)`` is the
DESCENDING ``[0, -1]``, so an unguarded transform makes an (n-1)-token
document throw inside ``slice()`` and shorter ones emit malformed
shingles. Here the guard is part of the expression: the kernels return
NULL for a short document, and ``explode`` / ``posexplode`` /
``array_distinct`` of NULL yield no rows — exactly the oracle's
behaviour. Every shingling or adjacent-pair query builds on these.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ngrams(tk: Column | str, n: int) -> Column:
    """Array of the space-joined n-word shingles of the token array
    ``tk`` in document order, or NULL when ``size(tk) < n``.

    Split the text into a column once and pass that column: an inline
    split(text) inside the lambda re-tokenizes the document per
    shingle (quadratic in doc length)."""
    tk = F.col(tk) if isinstance(tk, str) else tk
    return F.when(F.size(tk) >= n, F.transform(
        F.sequence(F.lit(0), F.size(tk) - n),
        lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n))))


def bigram_pairs(tk: Column | str, left: str = "w1",
                 right: str = "w2") -> Column:
    """Array of ``struct(left, right)`` adjacent-token pairs of ``tk``,
    or NULL when ``size(tk) < 2`` (same guard as ``ngrams``)."""
    tk = F.col(tk) if isinstance(tk, str) else tk
    return F.when(F.size(tk) >= 2, F.transform(
        F.sequence(F.lit(1), F.size(tk) - 1),
        lambda i: F.struct(tk[i - 1].alias(left), tk[i].alias(right))))


def shingled_rows(df: DataFrame, *extra: str, n: int = 3) -> DataFrame:
    """``doc_id`` [+ ``extra`` cols] + exploded DISTINCT n-gram word
    shingles as ``s``, from a frame with ``doc_id``/``text`` columns.

    Callers that consume the result multiple times should
    localCheckpoint it themselves (lifetime differs per query).
    """
    cols = ["doc_id", *extra]
    return (df.select(*cols, F.split("text", " ").alias("tk"))
              .select(*cols, F.explode(ngrams("tk", n)).alias("s"))
              .distinct())
