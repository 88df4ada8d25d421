"""Session memo-cache reset (runs LAST by filename: the reset drops memos
the other test modules deliberately share, so re-warming mid-suite would
only add wall time)."""

from __future__ import annotations

import os
import tempfile

from flink_realtime_datawarehouse_v3_spark import api, session
from flink_realtime_datawarehouse_v3_spark.operators import simsearch
from flink_realtime_datawarehouse_v3_spark.sources import bucketed, cdc

from .conftest import SF_SMOKE


def test_reset_session_caches_unpersists_everything(spark):
    """A long-lived session sweeping multiple SF dirs must not accumulate
    persisted DataFrames: after reset, every session table (iterated from
    the registry, so a table declared later cannot escape the reset) is
    empty, the bucketed tables' directory is gone and zero RDDs stay
    persisted; the next query call re-warms from scratch."""
    def persisted_ids() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    # Earlier modules may leave localCheckpoint RDDs behind (cleaned lazily
    # by the ContextCleaner) — measure growth relative to a baseline, not an
    # absolute zero.
    baseline = persisted_ids()

    # Warm at least one entry of each kind (incl. the artifact memo the
    # ANN/BPE fits share and the bucketed fact tables).
    api.QUERIES["dwd_trade_order_detail"](spark, SF_SMOKE).count()
    api.QUERIES["text_token_stats"](spark, SF_SMOKE).count()
    api.QUERIES["join_bucketed_colocated"](spark, SF_SMOKE).count()
    api.QUERIES["simsearch_ivf_topk"](spark, SF_SMOKE).count()
    assert api._MATERIALIZED and cdc._ODS_CACHE and bucketed._READY
    assert simsearch._ARTIFACTS
    bucket_dirs = [base for *_, base in bucketed._READY.values()]
    assert all(os.path.isdir(d) for d in bucket_dirs)

    api.reset_session_caches()
    for table, _ in session._TABLES:
        assert not table, f"reset left session-table entries: {list(table)[:3]}"
    assert not any(os.path.exists(d) for d in bucket_dirs), "bucketed dir left behind"
    assert persisted_ids() <= baseline, "reset left memo RDDs persisted"

    # And the surface still works after a reset (re-warms cleanly).
    assert api.QUERIES["dwd_trade_order_detail"](spark, SF_SMOKE).count() > 0


def test_unpersist_orphans_boundary(spark):
    """The sweep-boundary sweep drops every cached RDD (the per-batch
    localCheckpoint stragglers the async ContextCleaner can lag on) and
    the surface re-warms cleanly afterwards. Runs last by filename: at a
    true boundary no live references exist, which is the function's
    documented precondition."""
    for i in range(3):
        spark.range(50 + i).localCheckpoint().count()
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) >= 3
    api.reset_session_caches()
    api.unpersist_orphans()
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0
    assert api.QUERIES["dedup_exact"](spark, SF_SMOKE).count() > 0


def test_scratch_dirs_removed_by_reset(spark, monkeypatch, tmp_path):
    """Scratch output lives under one root in tempfile's directory, and a
    reset deletes it: two scratch_dir calls give two distinct empty
    directories under one root, and after a sink round trip and a reset
    nothing new is left in the temp directory."""
    session.reset_session_tables()
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))

    a, b = session.scratch_dir(spark, "t"), session.scratch_dir(spark, "t")
    assert a != b and os.path.dirname(a) == os.path.dirname(b)
    assert os.path.dirname(os.path.dirname(a)) == str(tmp)
    assert os.listdir(a) == [] and os.listdir(b) == []
    assert api.QUERIES["sink_corpus_csv_roundtrip"](spark, SF_SMOKE).count() > 0

    session.reset_session_tables()
    assert not os.path.exists(a) and not os.path.exists(b)
    assert os.listdir(tmp) == []
