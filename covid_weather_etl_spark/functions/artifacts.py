"""Train-once warehouse artifacts: where each one lives, when it is
complete, and how it is cached.

A persisted artifact is a model or state derived from a corpus table,
built once and then read by every query that needs it, so the hot path
never retrains. This module is the only code that knows how such an
artifact is keyed, built and memoised. The artifacts on the seam:

- IVF codebook, IVF rebalanced codebook (``operators/similarity.py``)
  and PQ codebook (``operators/pq.py``), derived from ``embeddings``;
- BPE merges + vocab and the extended BPE vocab (``operators/text.py``);
- dedup label star, dedup old-store state (``old``, ``oldidx``,
  ``oldsz``) and the compacted index (``operators/corpus.py``);
- dedup fold state, compacted fold state and IVF fold state
  (``streaming/streams.py``);
- schema-evolution snapshots (``operators/warehouse.py``), derived from
  ``customer``.

**Keying.** `artifact_path` names ``spark-warehouse/<name>_<base>_<md5>``
where the digest folds in the absolute corpus path, the source table's
parquet-footer fingerprint (`table_fingerprint`) and the algorithm
constants. Regenerated data or a changed constant therefore retrains
instead of reusing a stale artifact.

**Build-then-rename.** `ensure` builds into fresh sibling temp
directories and renames them into place only when the build returns.
So a directory at an artifact path is always a complete artifact: a
build that raises leaves nothing there, and the next call rebuilds. If
another process published the path first, its copy is kept and the
temp copy discarded.

**Memo.** `ensure` remembers each artifact it has seen complete in this
process (with its loaded driver-side value, if any), so later calls
touch neither the file system nor Spark. `discard` drops an artifact
from the memo and the disk.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from typing import Callable

#: persisted artifacts (and the bucketed copies) live under the repo's
#: warehouse dir whatever the calling session's CWD or warehouse conf:
#: a vanilla session built elsewhere would put its default one outside.
WAREHOUSE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), "spark-warehouse")

#: artifact paths known complete in this process -> ensure's value.
_MEMO: dict[tuple[str, ...], object] = {}


def table_fingerprint(sf_dir: str, table: str = "documents") -> str:
    """Cheap CONTENT key of ``<sf_dir>/<table>.parquet``: footer row
    count + byte size, summed over the part files when the table is a
    directory (metadata only — no data scan, no SparkSession, callable
    at import time by oracle SQL code). Empty only when the table does
    not exist; a corrupt or unreadable footer raises, so it can never
    alias the "no corpus" artifact."""
    import pyarrow.parquet as pq
    p = os.path.join(os.path.abspath(os.path.normpath(sf_dir)),
                     f"{table}.parquet")
    try:
        files = ([os.path.join(p, f) for f in sorted(os.listdir(p))
                  if f.endswith(".parquet")] if os.path.isdir(p) else [p])
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except FileNotFoundError:
        return ""
    return f"n{rows}b{sum(os.path.getsize(f) for f in files)}"


def artifact_path(sf_dir: str, name: str, algo: str | None = None,
                  table: str = "documents") -> str:
    """Deterministic warehouse location of the artifact ``name`` built
    from ``sf_dir``'s ``table``: md5 of ``abspath|fingerprint`` plus
    ``|algo`` when the artifact has algorithm constants."""
    abspath = os.path.abspath(os.path.normpath(sf_dir))
    base = os.path.basename(abspath).replace(".", "_")
    key = [abspath, table_fingerprint(sf_dir, table)]
    if algo is not None:
        key.append(algo)
    digest = hashlib.md5("|".join(key).encode()).hexdigest()[:10]
    return os.path.join(WAREHOUSE_DIR, f"{name}_{base}_{digest}")


def ensure(paths: str | tuple[str, ...], build: Callable[..., None],
           load: Callable[..., object] | None = None):
    """Make the artifact at ``paths`` (one path, or a tuple for an
    artifact stored as several directories) exist, building it at most
    once, and return ``load(*paths)`` — or ``paths`` when ``load`` is
    None. ``build(*tmp_paths)`` writes each part to its temp path; each
    is renamed into place only after ``build`` returns. ``load`` must
    return driver-side data (it is memoised across sessions), never a
    DataFrame."""
    key = (paths,) if isinstance(paths, str) else tuple(paths)
    if key in _MEMO:
        return _MEMO[key]
    missing = [p for p in key if not os.path.isdir(p)]
    if missing:
        tmps = tuple(f"{p}.tmp-{uuid.uuid4().hex[:12]}" for p in key)
        try:
            build(*tmps)
            for tmp, p in zip(tmps, key):
                if p in missing:
                    _publish(tmp, p)
        finally:
            for tmp in tmps:
                shutil.rmtree(tmp, ignore_errors=True)
    value = load(*key) if load is not None else paths
    _MEMO[key] = value
    return value


def _publish(tmp: str, path: str) -> None:
    """Rename a finished build into place; a path another process
    published meanwhile wins (the caller removes ``tmp``)."""
    try:
        os.rename(tmp, path)
    except OSError:
        if not os.path.isdir(path):
            raise


def discard(path: str) -> None:
    """Forget every memo entry that holds ``path`` and delete the
    artifact's directory, so the next `ensure` rebuilds it."""
    for key in [k for k in _MEMO if path in k]:
        del _MEMO[key]
    shutil.rmtree(path, ignore_errors=True)
