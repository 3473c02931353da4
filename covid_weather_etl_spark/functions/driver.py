"""The one seam between driver-side fast paths and distributed plans.

Some plans have a shortcut for frames that are small by construction:
collect the frame and finish on the driver, or run the whole kernel in
one task. Every such shortcut is gated here, and its fallback is the
distributed plan, which must return the same rows bit for bit
(tests/test_driver_paths.py pins each gate both ways). Callers read
``FORCE_DISTRIBUTED`` at call time through this module; only tests set
it.
"""

from __future__ import annotations

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
