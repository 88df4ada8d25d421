"""Shape of the driver contract in __spark_entry__.py — importable, the
three callables exposed, names consistent between queries() and
oracle_sql(), and the checked window fully hash-checkable. (Runtime
behavior is covered by the driver replica `tools/check_all.py` and the
verify skill; this pins the contract surface itself.)"""

from __future__ import annotations

import importlib.util
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _load():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", REPO / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_contract_surface():
    mod = _load()
    qs = mod.queries()
    os_ = mod.oracle_sql()
    assert callable(mod.entry)
    assert len(qs) >= 100
    # every oracle belongs to a registered query
    assert set(os_) <= set(qs)
    # the driver's checked window (first 50) must be hash-checkable
    # except the declared rows-only rotations (api._WINDOW_ROWS_ONLY —
    # entries with no single-SQL oracle by design, surfaced for their
    # first rows-match driver rows; see tests/test_driver_order.py).
    from flink_realtime_datawarehouse_v3_spark import api

    window = list(qs)[:50]
    assert all(n in os_ or n in api._WINDOW_ROWS_ONLY for n in window)
    # remaining rows-only entries exist and sit strictly at the tail
    rows_only = [n for n in qs if n not in os_ and n not in api._WINDOW_ROWS_ONLY]
    assert rows_only
    assert list(qs)[-len(rows_only):] == rows_only
    # every oracle is non-trivial SQL mentioning a SELECT
    assert all("SELECT" in sql.upper() for sql in os_.values())
