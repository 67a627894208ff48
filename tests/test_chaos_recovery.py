"""Kill-mid-batch chaos tests — the redo crash windows under a hard
failure INSIDE a micro-batch, for both executing sink families.

The redo contract (``streaming/redo.py``; the reference's
consistent_replicate_* failover tests) has two distinct crash windows:

- **W1 — after the redo WAL, before the sink commit**: the batch is
  durably logged (resolved_ts advanced) but the downstream never saw it
  (checkpoint_ts lags). Recovery must replay the batch onto the sink
  and redo_apply must already contain it.
- **W2 — after the sink commit, before the checkpoint commit**: the
  downstream holds the batch but Spark's offset log does not — the
  batch REPLAYS in full on resume. Idempotence (overwrite-mode WAL
  dirs, LWW replica merge, fenced safe-mode lanes) must make the replay
  converge, not double-apply.

Each test crashes a 4-batch feed inside batch 1, asserts
``checkpoint_ts <= resolved_ts`` at the crash point, resumes with a
fresh Changefeed over the same work dir (the committed checkpoint), and
asserts the downstream hash-matches the LWW oracle and the redo meta
converged. Windows × sinks: {W1, W2} × {replica://+redo, sqlite://+redo}.
"""

from __future__ import annotations

import os

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

_OUT = ["table_id", "pk", "event_type", "value_cents"]


@pytest.fixture(scope="module")
def chunked_source(spark, sf_dir, tmp_path_factory):
    """4 commit-ordered part files → 4 micro-batches."""
    from tigate_spark.catalog_streaming import split_commit_order

    work = str(tmp_path_factory.mktemp("chaos_src"))
    flat, land = split_commit_order(
        spark, os.path.join(sf_dir, "events.parquet"), work, 4)
    for k in range(4):
        land(k)
    return flat


def _expected(spark, sf_dir):
    return materialize(
        changes_stream(spark, sf_dir), PAYLOAD_COLS).select(*_OUT)


def _read_sink_state(spark, cf):
    from tigate_spark.streaming.sinks import ReplicaSink, read_replica
    from tigate_spark.streaming.sqlite_apply import SqliteApplySink

    if isinstance(cf.sink, SqliteApplySink):
        return cf.sink.read_state(spark).select(*_OUT)
    assert isinstance(cf.sink, ReplicaSink)
    return read_replica(spark, cf.sink.state_dir).select(*_OUT)


def _mk_feed(spark, source, work, sink_uri):
    cfg = ChangefeedConfig(
        changefeed_id="cf-chaos", sink_uri=sink_uri,
        consistent=ConsistentConfig(
            level="eventual", storage=os.path.join(work, "redo")),
    )
    return Changefeed(spark, cfg, source, work)


def _arm_crash(cf: Changefeed, window: str, crash_batch: int = 1):
    """Inject a one-shot hard failure inside ``crash_batch``:
    W1 fires between the redo WAL and the sink (replacing
    cf.sink.process_batch), W2 after the whole batch committed to the
    sink but before foreachBatch returns (so Spark never commits the
    offset and replays the batch on resume). The error text must stay
    clear of the engine's unretryable fragments — this is exactly the
    transient class the resume path exists for."""
    fired = {"done": False}
    if window == "W1":
        orig = cf.sink.process_batch

        def w1(batch_df, batch_id, **kw):
            if batch_id == crash_batch and not fired["done"]:
                fired["done"] = True
                raise RuntimeError(
                    "chaos kill: after redo WAL, before sink commit")
            return orig(batch_df, batch_id, **kw)

        cf.sink.process_batch = w1
    else:
        orig = cf._foreach_batch

        def w2(batch_df, batch_id):
            orig(batch_df, batch_id)
            if batch_id == crash_batch and not fired["done"]:
                fired["done"] = True
                raise RuntimeError(
                    "chaos kill: after sink commit, before checkpoint "
                    "commit")

        cf._foreach_batch = w2
    return fired


@pytest.mark.parametrize("sink_uri", [
    "replica://", "sqlite://",
    # the r17 multi-row executable path: replay convergence rests on
    # the same safe-mode REPLACE idempotence, but the statement/txn
    # shapes differ — both crash windows must still converge
    "sqlite://?batch-dml-multirow=true",
])
@pytest.mark.parametrize("window", ["W1", "W2"])
def test_kill_mid_batch_recovers(spark, sf_dir, chunked_source, tmp_path,
                                 window, sink_uri):
    work = str(tmp_path / "work")
    cf1 = _mk_feed(spark, chunked_source, work, sink_uri)
    fired = _arm_crash(cf1, window)
    with pytest.raises(Exception, match="chaos kill"):
        cf1.run_to_completion()
    assert fired["done"]

    # crash-point invariants
    meta = RedoLog(cf1.redo.storage).meta()
    assert meta["checkpoint_ts"] <= meta["resolved_ts"]
    if window == "W1":
        # batch 1 is logged but was never applied: the recovery window
        # is OPEN (this is the state redo exists to cover)
        assert meta["checkpoint_ts"] < meta["resolved_ts"]
        # redo_apply ALREADY covers everything up to resolved_ts — a
        # lost downstream at this exact instant is recoverable
        logged = redo_apply(spark, cf1.redo.storage,
                            PAYLOAD_COLS).select(*_OUT)
        assert logged.count() > 0

    # resume: a fresh feed over the same work dir continues from the
    # committed offsets (W2 replays the crashed batch in full)
    cf2 = _mk_feed(spark, chunked_source, work, sink_uri)
    cf2.run_to_completion()

    exp = _expected(spark, sf_dir)
    got = _read_sink_state(spark, cf2)
    assert got.count() == exp.count() > 0
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0

    meta2 = cf2.redo.meta()
    assert meta2["checkpoint_ts"] == meta2["resolved_ts"] > 0
    assert "out_of_order_batches" not in meta2  # replays aren't anomalies
    # and the WAL alone still reconstructs the same consistent state
    rec = redo_apply(spark, cf2.redo.storage, PAYLOAD_COLS).select(*_OUT)
    assert rec.exceptAll(exp).count() == 0
    assert exp.exceptAll(rec).count() == 0


def test_kill_mid_batch_then_lose_downstream(spark, sf_dir, chunked_source,
                                             tmp_path):
    """Compound disaster: W1 crash AND the downstream is destroyed
    before resume — redo_apply over the surviving WAL restores the
    consistent state at resolved_ts, then the resumed feed completes to
    the full corpus on the rebuilt downstream."""
    import shutil

    work = str(tmp_path / "work")
    cf1 = _mk_feed(spark, chunked_source, work, "replica://")
    _arm_crash(cf1, "W1")
    with pytest.raises(Exception, match="chaos kill"):
        cf1.run_to_completion()
    shutil.rmtree(cf1.sink.state_dir)  # downstream gone at the worst time

    # recovery tool: rebuild downstream state from the WAL alone
    recovered = redo_apply(spark, cf1.redo.storage, PAYLOAD_COLS)
    meta = cf1.redo.meta()
    assert recovered.filter(
        F.col("last_commit_ts") > meta["resolved_ts"]).count() == 0
    exp_at_resolved = materialize(
        changes_stream(spark, sf_dir).filter(
            F.col("commit_ts") <= meta["resolved_ts"]),
        PAYLOAD_COLS).select(*_OUT)
    got = recovered.select(*_OUT)
    assert got.exceptAll(exp_at_resolved).count() == 0
    assert exp_at_resolved.exceptAll(got).count() == 0


def test_kill_between_ddl_exec_and_post_subbatch(spark, sf_dir,
                                                 chunked_source, tmp_path):
    """Third crash window — INSIDE the DDL barrier: the sink executed
    the ALTER TABLE live, then the feed dies before the post-DDL
    sub-batch (and the checkpoint) commit. On resume the whole
    micro-batch replays: the barrier is re-detected (driver state is
    gone), the registry append dedups, the DDL replay lands in the
    ignorable class ('ignored', never double-applied), and the fenced
    sub-batches converge to the evolved LWW state."""
    from tigate_spark.streaming.ddl import DDLEvent

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    mid = ev.selectExpr(
        "percentile_approx(unix_micros(cast(ts as timestamp)), 0.5) p"
    ).collect()[0][0]
    ddl = DDLEvent(
        commit_ts=int(mid), table_id=1,
        query="ALTER TABLE `app`.`t1` ADD COLUMN `extra_cents` INTEGER "
              "DEFAULT 7",
        schema_tag="v1", schema_name="app", table_name="t1",
    )
    work = str(tmp_path / "work")
    cfg = ChangefeedConfig(changefeed_id="cf-ddl-chaos",
                           sink_uri="sqlite://")
    cf1 = Changefeed(spark, cfg, chunked_source, work, ddl_events=[ddl])
    orig1 = cf1.sink.exec_ddl
    first = {}

    def crash_after_ddl(query, schema, table, table_id):
        out = orig1(query, schema, table, table_id)
        if not first:
            first["outcome"] = out
            raise RuntimeError(
                "chaos kill: after DDL exec, before post-DDL sub-batch")
        return out

    cf1.sink.exec_ddl = crash_after_ddl
    with pytest.raises(Exception, match="chaos kill"):
        cf1.run_to_completion()
    assert first["outcome"] == "applied"  # the DDL really ran downstream

    cf2 = Changefeed(spark, cfg, chunked_source, work, ddl_events=[ddl])
    orig2 = cf2.sink.exec_ddl
    replays = []

    def recording(query, schema, table, table_id):
        out = orig2(query, schema, table, table_id)
        replays.append(out)
        return out

    cf2.sink.exec_ddl = recording
    cf2.run_to_completion()
    # the replayed barrier hit the ignorable class, not a second apply
    assert replays == ["ignored"]
    assert cf2.registry.versions(spark).count() == 1
    # converged: base columns match the LWW oracle; the evolved column
    # is the DDL's DEFAULT on every surviving t1 row (safe-mode REPLACE
    # re-takes column defaults)
    got = cf2.sink.read_state(spark, extra_cols=("extra_cents",))
    exp = _expected(spark, sf_dir)
    base = got.select(*_OUT)
    assert base.count() == exp.count() > 0
    assert base.exceptAll(exp).count() == 0
    t1 = got.filter(F.col("table_id") == 1)
    assert t1.count() > 0
    assert t1.filter(F.col("extra_cents") != 7).count() == 0
