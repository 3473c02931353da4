"""Registry / driver-window contract pins: the invariants the per-round
rotation edits must never break (the driver checks exactly the first 50
entries of ``all_queries()``; a name collision or an oracle-less window
slot silently burns a correctness row)."""

from __future__ import annotations

from covid_weather_etl_spark.queries import registry as R


def test_rotation_window_contract():
    qs = R.all_queries()
    window = list(qs)[:50]
    # the driver takes the first 50 dict entries; the rotation tuple
    # may hold more (new ops displace tail refreshes to the next
    # round's queue)
    assert window == list(R._CHECK_WINDOW)[:50]
    assert len(set(R._CHECK_WINDOW)) == len(R._CHECK_WINDOW) >= 50
    # every r11 window slot is oracle-equipped (the remaining rows-only
    # queries are all iterative ML with r7/r8 driver rows) — ANY
    # oracle-less slot is a burnt correctness row
    # rolling_cv_gbt is one of the 8 rows-only-by-nature iterative-ML
    # queries (PARITY.md §11); its r04 cohort slot refreshes the
    # weaker rows-only evidence deliberately (the r7 precedent)
    allowed_rows_only = {"rolling_cv_gbt"}
    unexpected = [n for n in window
                  if not qs[n].oracle and n not in allowed_rows_only]
    assert not unexpected, unexpected


def test_registry_names_unique_and_callable():
    qs = R.all_queries()
    assert len(qs) >= 271
    for name, q in qs.items():
        assert q.name == name
        assert callable(q.fn)
        # oracle, when present, is non-trivial SQL text
        assert q.oracle is None or "SELECT" in q.oracle.upper()


def test_entry_module_exposes_registry():
    import __spark_entry__ as e
    qs = e.queries()
    oracles = e.oracle_sql()
    assert set(oracles) <= set(qs)
    reg = R.all_queries()
    assert set(qs) == set(reg)
    assert set(oracles) == {n for n, q in reg.items() if q.oracle}
