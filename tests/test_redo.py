"""Redo log (consistent replication) — pkg/config/consistent.go twin.

The contract under test (pinned by the reference's consistent_replicate_*
integration tests): every micro-batch is durably logged BEFORE the sink
applies it, meta tracks checkpoint_ts <= resolved_ts, and redo_apply
restores a lost downstream to the resolved-ts point.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from tigate_spark.config import ChangefeedConfig, ConsistentConfig
from tigate_spark.operators.apply import materialize
from tigate_spark.sources.changes import changes_stream
from tigate_spark.streaming.changefeed import PAYLOAD_COLS, Changefeed
from tigate_spark.streaming.redo import RedoLog, redo_apply

#: heavy streaming/e2e tail — excluded from the fast path
#: (`pytest -m "not slow"`); the close gate runs everything
pytestmark = pytest.mark.slow

_OUT = ["table_id", "pk", "last_commit_ts", "event_type", "value_cents"]


@pytest.fixture(scope="module")
def chunked_source(spark, sf_dir, tmp_path_factory):
    """4 commit-ordered files -> 4 micro-batches."""
    from tigate_spark.catalog_streaming import split_commit_order

    work = str(tmp_path_factory.mktemp("redo_src"))
    flat, land = split_commit_order(
        spark, os.path.join(sf_dir, "events.parquet"), work, 4)
    for k in range(4):
        land(k)
    return flat


def _expected(spark, sf_dir, hi=None):
    ch = changes_stream(spark, sf_dir)
    if hi is not None:
        ch = ch.filter(F.col("commit_ts") <= hi)
    return materialize(ch, PAYLOAD_COLS).select(*_OUT)


def test_redo_recovers_lost_downstream(spark, sf_dir, chunked_source,
                                       tmp_path):
    """Full disaster: run a redo-enabled feed, destroy the replica, and
    redo_apply reconstructs the exact LWW state from the logs alone."""
    redo_dir = str(tmp_path / "redo")
    cfg = ChangefeedConfig(
        changefeed_id="cf-redo", sink_uri="replica://",
        consistent=ConsistentConfig(level="eventual", storage=redo_dir),
    )
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path))
    cf.run_to_completion()
    meta = cf.redo.meta()
    assert meta["checkpoint_ts"] == meta["resolved_ts"] > 0
    shutil.rmtree(cf.sink.state_dir)  # the downstream is gone
    got = redo_apply(spark, redo_dir,
                     ["event_type", "value_cents"]).select(*_OUT)
    exp = _expected(spark, sf_dir)
    assert got.count() == exp.count() > 0
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_redo_runs_ahead_of_crashed_sink(spark, sf_dir, tmp_path):
    """Crash between redo flush and sink apply: the log holds MORE than
    the downstream (checkpoint_ts < resolved_ts), and recovery lands at
    the logged resolved-ts point, not the crash point."""
    ch = changes_stream(spark, sf_dir).orderBy("commit_ts", "seq")
    n = ch.count()
    thirds = [
        ch.limit((k + 1) * n // 3).subtract(ch.limit(k * n // 3))
        for k in range(3)
    ]
    log = RedoLog(str(tmp_path / "redo"))
    his = []
    for k, part in enumerate(thirds):
        his.append(log.log_batch(part, k))
        if k < 2:  # the sink only saw batches 0-1 before the crash
            log.mark_applied(k, his[k])
    meta = log.meta()
    assert meta["checkpoint_ts"] == his[1] < his[2] == meta["resolved_ts"]
    got = redo_apply(spark, str(tmp_path / "redo"),
                     PAYLOAD_COLS).select(*_OUT)
    exp = _expected(spark, sf_dir, hi=meta["resolved_ts"])
    assert got.count() == exp.count() > 0
    assert got.exceptAll(exp).count() == 0


def test_redo_log_replay_is_idempotent(spark, sf_dir, tmp_path):
    """A replayed micro-batch (crash between redo flush and checkpoint
    commit) overwrites its own per-batch log dir — no duplicates, meta
    monotone."""
    ch = changes_stream(spark, sf_dir).limit(500)
    log = RedoLog(str(tmp_path / "redo"))
    hi = log.log_batch(ch, 0)
    once = redo_apply(spark, str(tmp_path / "redo"), PAYLOAD_COLS)
    n_once = once.count()
    assert log.log_batch(ch, 0) == hi  # replay
    again = redo_apply(spark, str(tmp_path / "redo"), PAYLOAD_COLS)
    assert again.count() == n_once
    assert log.meta()["resolved_ts"] == hi


def test_consistent_config_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="storage"):
        Changefeed(
            spark,
            ChangefeedConfig(changefeed_id="c1", sink_uri="noop://",
                             consistent=ConsistentConfig(level="eventual")),
            str(tmp_path), str(tmp_path),
        )
    with pytest.raises(ValueError, match="compression"):
        ConsistentConfig(level="eventual", storage="x",
                         compression="zstd").validate()
    with pytest.raises(ValueError, match="level"):
        ConsistentConfig(level="exact").validate()


def test_redo_logs_ddl_before_execution(spark, sf_dir, chunked_source,
                                        tmp_path):
    """consistent_replicate_ddl parity: a redo-enabled feed with a DDL
    barrier logs the DDL (append-once by commit_ts) so recovery can
    re-run schema changes, and the row WAL still recovers the full
    state."""
    from tigate_spark.streaming.ddl import DDLEvent

    ch = changes_stream(spark, sf_dir)
    mid = int(ch.selectExpr("percentile_approx(commit_ts, 0.5)").first()[0])
    ddl = DDLEvent(commit_ts=mid, table_id=1,
                   query="ALTER TABLE `app`.`t1` ADD COLUMN `x` INT",
                   schema_tag="v1", schema_name="app", table_name="t1")
    redo_dir = str(tmp_path / "redo")
    cfg = ChangefeedConfig(
        changefeed_id="cf-redo-ddl", sink_uri="replica://",
        consistent=ConsistentConfig(level="eventual", storage=redo_dir),
    )
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path),
                    ddl_events=[ddl])
    cf.run_to_completion()
    ddls = cf.redo.ddls()
    assert [d["commit_ts"] for d in ddls] == [mid]
    assert ddls[0]["query"].startswith("ALTER TABLE")
    cf.redo.log_ddl(ddl)  # replayed barrier: append-once
    assert len(cf.redo.ddls()) == 1
    # rows recovered in full alongside the schema log
    got = redo_apply(spark, redo_dir,
                     ["event_type", "value_cents"]).select(*_OUT)
    exp = _expected(spark, sf_dir)
    assert got.count() == exp.count() > 0
    assert got.exceptAll(exp).count() == 0


def test_redo_survives_resume_with_overwrite(spark, sf_dir,
                                             chunked_source, tmp_path):
    """A rewind (resume overwrite_checkpoint_ts) restarts Spark batch
    ids at 0 — the WAL's epoch namespace keeps the first life's batch
    dirs intact, so recovery after the rewind still holds EVERY row."""
    from tigate_spark.engine import Engine

    redo_dir = str(tmp_path / "redo")
    eng = Engine(spark, chunked_source, str(tmp_path / "work"))
    cid = eng.create(ChangefeedConfig(
        changefeed_id="cf-redo-ovw", sink_uri="replica://",
        consistent=ConsistentConfig(level="eventual", storage=redo_dir),
    ))
    eng.run_to_completion(cid)
    ch = changes_stream(spark, sf_dir)
    mid = int(ch.selectExpr("percentile_approx(commit_ts, 0.5)").first()[0])
    q = eng.resume(cid, overwrite_checkpoint_ts=mid)
    try:
        assert q.awaitTermination(300), "query still running at timeout"
    finally:
        if q.isActive:
            q.stop()
    assert q.exception() is None
    # two epochs on disk: the first life and the rewind
    epochs = sorted(
        d for d in os.listdir(os.path.join(redo_dir, "row"))
        if d.startswith("epoch="))
    assert len(epochs) == 2
    # recovery still reconstructs the FULL state — the replayed epoch's
    # batch=0 did not clobber the original early rows
    got = redo_apply(spark, redo_dir,
                     ["event_type", "value_cents"]).select(*_OUT)
    exp = _expected(spark, sf_dir)
    assert got.count() == exp.count() > 0
    assert got.exceptAll(exp).count() == 0
