"""Engine lifecycle tests — create/list/pause/resume/remove (§3.1 API)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tigate_spark.config import ChangefeedConfig
from tigate_spark.engine import Engine
from tigate_spark.sources.changes import changes_stream
from tigate_spark.streaming.sinks import read_replica

#: heavy streaming/e2e tail — excluded from the fast path
#: (`pytest -m "not slow"`); the close gate runs everything
pytestmark = pytest.mark.slow


def test_create_validates_id(spark, sf_dir, tmp_path):
    eng = Engine(spark, os.path.join(sf_dir, "events.parquet"), str(tmp_path))
    with pytest.raises(ValueError):
        eng.create(ChangefeedConfig(changefeed_id="bad/id", sink_uri="noop://"))
    with pytest.raises(ValueError):
        eng.create(ChangefeedConfig(changefeed_id="-leading", sink_uri="noop://"))
    eng.create(ChangefeedConfig(changefeed_id="ok-id.1", sink_uri="noop://"))
    with pytest.raises(ValueError):  # duplicate
        eng.create(ChangefeedConfig(changefeed_id="ok-id.1", sink_uri="noop://"))
    assert eng.list() == [{"id": "ok-id.1", "state": "stopped", "sink_uri": "noop://"}]


def test_pause_resume_completes_from_checkpoint(spark, sf_dir, tmp_path):
    eng = Engine(spark, os.path.join(sf_dir, "events.parquet"), str(tmp_path))
    cid = eng.create(ChangefeedConfig(changefeed_id="cf1", sink_uri="replica://"))
    # run to completion, "pause", then resume — resume must be a no-op
    # replay-wise (checkpoint already covers the source)
    eng.run_to_completion(cid)
    feed_state_dir = eng._feeds[cid].changefeed.sink.state_dir
    n1 = read_replica(spark, feed_state_dir).count()
    eng.pause(cid)
    assert eng.list()[0]["state"] == "paused"
    q = eng.resume(cid)
    try:
        assert q.awaitTermination(120), "query still running at timeout"
    finally:
        if q.isActive:
            q.stop()
    n2 = read_replica(spark, feed_state_dir).count()
    assert n2 == n1
    exp = (
        changes_stream(spark, sf_dir)
        .groupBy("table_id", "pk").count().count()
    )
    # replica rows ≤ distinct keys (deleted keys are tombstoned out)
    assert n1 <= exp
    eng.remove(cid, drop_state=True)
    assert not os.path.exists(feed_state_dir)
    with pytest.raises(KeyError):
        eng.pause(cid)


def test_config_json_round_trip():
    import json

    from tigate_spark.config import (
        changefeed_config_from_dict,
        changefeed_config_to_dict,
    )

    body = {
        "changefeed_id": "cf-api",
        "sink_uri": "changelog://",
        "start_ts": 123,
        "filter": {
            "rules": ["app.t0"],
            "event_filters": [{"matcher": ["app.t0"], "ignore_event": ["delete"]}],
        },
        "sink": {
            "protocol": "open-protocol",
            "dispatch_rules": [{"matcher": ["*.*"], "partition": "ts"}],
            "unknown_future_field": True,  # ignored, not an error
        },
        "enable_sync_point": True,
    }
    cfg = changefeed_config_from_dict(body)
    assert cfg.changefeed_id == "cf-api"
    assert cfg.filter.rules == ["app.t0"]
    assert cfg.filter.event_filters[0].ignore_event == ["delete"]
    assert cfg.sink.protocol == "open-protocol"
    assert cfg.sink.dispatch_rules[0].partition == "ts"
    assert cfg.enable_sync_point is True
    # round trip is JSON-stable
    d = changefeed_config_to_dict(cfg)
    cfg2 = changefeed_config_from_dict(json.loads(json.dumps(d)))
    assert cfg2 == cfg
    # a body written for an older config still binds: the settings no
    # code read were removed and are now unknown keys, ignored like any
    old = dict(body, force_replicate=True, sink=dict(
        body["sink"], safe_mode=True,
        delete_only_output_handle_key_columns=True,
        csv={"delimiter": "|", "output_old_value": True,
             "output_handle_key": True}))
    cfg3 = changefeed_config_from_dict(old)
    assert cfg3.sink.csv.delimiter == "|"
    cfg3.sink.csv = None
    assert cfg3 == cfg


def test_get_reports_checkpoint_and_update_requires_pause(spark, sf_dir, tmp_path):
    """GET /changefeeds/{id} parity: detail carries checkpoint_ts once the
    feed has progressed; PUT parity: update refuses a running feed, and a
    paused update swaps the config while keeping the checkpoint dir."""
    eng = Engine(spark, os.path.join(sf_dir, "events.parquet"), str(tmp_path))
    cid = eng.create(ChangefeedConfig(changefeed_id="cf-get", sink_uri="replica://"))
    assert eng.get(cid)["checkpoint_ts"] is None  # nothing ran yet
    eng.run_to_completion(cid)
    detail = eng.get(cid)
    hi = changes_stream(spark, sf_dir).agg(F.max("commit_ts")).first()[0]
    assert detail["checkpoint_ts"] == hi
    # update only when not running
    eng._feeds[cid].state = "running"
    with pytest.raises(ValueError):
        eng.update(cid, ChangefeedConfig(changefeed_id="cf-get", sink_uri="noop://"))
    eng._feeds[cid].state = "paused"
    with pytest.raises(ValueError):  # id immutable
        eng.update(cid, ChangefeedConfig(changefeed_id="other", sink_uri="noop://"))
    old_ckpt_dir = eng._feeds[cid].changefeed.checkpoint_dir
    eng.update(cid, ChangefeedConfig(changefeed_id="cf-get", sink_uri="noop://"))
    assert eng.get(cid)["sink_uri"] == "noop://"
    assert eng._feeds[cid].changefeed.checkpoint_dir == old_ckpt_dir


def test_verify_table_classifies_by_filter(spark, sf_dir, tmp_path):
    """POST /verify_table parity: filter rules split the table universe
    into eligible vs ignored (the reference snapshot stubs the endpoint;
    semantics per the public v2 API)."""
    from tigate_spark.config import FilterConfig

    eng = Engine(spark, os.path.join(sf_dir, "events.parquet"), str(tmp_path))
    out = eng.verify_table(FilterConfig(rules=["app.t0", "app.t2"]))
    assert out["eligible_tables"] == ["app.t0", "app.t2"]
    assert out["ignored_tables"] == ["app.t1", "app.t3"]
    assert out["ineligible_tables"] == []
    # wildcard matches everything
    assert eng.verify_table(FilterConfig(rules=["*.*"]))["ignored_tables"] == []


def test_status_and_health(spark, sf_dir, tmp_path):
    from tigate_spark.config import ChangefeedConfig
    from tigate_spark.engine import Engine

    eng = Engine(spark, f"{sf_dir}/events.parquet", str(tmp_path))
    st = eng.status()
    assert st["liveness"] == "alive" and st["is_owner"]
    assert "pyspark" in st["version"]
    assert eng.health() == {"healthy": True, "failed": []}
    cid = eng.create(ChangefeedConfig(changefeed_id="hc", sink_uri="noop://"))
    eng.run_to_completion(cid)
    assert eng.health()["healthy"]


def test_resume_processes_only_backlog(spark, sf_dir, tmp_path):
    """Exactly-once resume with backlog: files landing while paused are
    the ONLY input the resumed run processes (committed offsets replay
    nothing) — pinned via the resumed query's recentProgress row counts.
    Uses the catalog entry's own split-and-land scaffolding so the test
    and engine_lifecycle_e2e can't silently diverge."""
    import json

    from tigate_spark.catalog_streaming import split_commit_order

    flat, land = split_commit_order(
        spark, os.path.join(sf_dir, "events.parquet"), str(tmp_path), 2
    )
    land(0)
    eng = Engine(spark, flat, str(tmp_path / "work"))
    cid = eng.create(ChangefeedConfig(changefeed_id="eo", sink_uri="replica://"))
    eng.run_to_completion(cid)
    eng.pause(cid)
    n2 = land(1)
    q = eng.resume(cid)
    try:
        assert q.awaitTermination(300), "query still running at timeout"
    finally:
        if q.isActive:
            q.stop()
    assert q.exception() is None
    resumed_rows = sum(
        int(json.loads(str(p))["numInputRows"]) for p in q.recentProgress
    )
    assert resumed_rows == n2, (resumed_rows, n2)
    eng.remove(cid, drop_state=True)


def test_resume_with_overwritten_checkpoint_ts(spark, sf_dir, tmp_path):
    """POST .../resume with overwrite_checkpoint_ts (api/v2/model.go:82,
    changefeed.go:457-458): discard the saved progress and REPLAY from
    the given ts onto the existing downstream — converges by LWW
    idempotence, and the replayed input is exactly the tail."""
    from tigate_spark.catalog_streaming import split_commit_order
    from tigate_spark.operators.apply import materialize
    from tigate_spark.streaming.changefeed import PAYLOAD_COLS

    flat, land = split_commit_order(
        spark, os.path.join(sf_dir, "events.parquet"),
        str(tmp_path / "src"), 4)
    for k in range(4):
        land(k)
    eng = Engine(spark, flat, str(tmp_path / "work"))
    cid = eng.create(
        ChangefeedConfig(changefeed_id="cf-ovw", sink_uri="replica://"))
    eng.run_to_completion(cid)
    cf1 = eng.changefeed(cid)
    progress_dir = cf1.bookkeeping.progress_dir
    n_progress_1 = spark.read.parquet(progress_dir).count()

    ch = changes_stream(spark, sf_dir)
    mid = int(ch.selectExpr(
        "percentile_approx(commit_ts, 0.5)").first()[0])
    q = eng.resume(cid, overwrite_checkpoint_ts=mid)
    try:
        assert q.awaitTermination(300), "query still running at timeout"
    finally:
        if q.isActive:
            q.stop()
    assert q.exception() is None
    # the replay actually ran: new progress rows, covering ONLY the tail
    prog = spark.read.parquet(progress_dir)
    assert prog.count() > n_progress_1
    replayed = prog.orderBy(F.desc("batch_id")).limit(
        prog.count() - n_progress_1)
    tail_events = int(
        prog.agg(F.sum("n_events")).first()[0]
    ) - int(ch.count())  # everything beyond one full pass is the replay
    assert tail_events == ch.filter(F.col("commit_ts") > mid).count()
    # the replica converged to the same full LWW state
    got = read_replica(spark, eng.state_dir(cid)).select(
        "table_id", "pk", "commit_ts", *PAYLOAD_COLS)
    exp = materialize(ch, PAYLOAD_COLS).select(
        "table_id", "pk",
        F.col("last_commit_ts").alias("commit_ts"), *PAYLOAD_COLS)
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0


def test_error_state_machine_retryable_recovers(spark, sf_dir, tmp_path):
    """changefeed_error parity: a transient sink failure puts the feed
    in warning and restarts it from the checkpoint — the failed batch
    replays exactly-once, the feed converges, and last_warning survives
    the recovery (model.go:1305)."""
    from tigate_spark.catalog_streaming import split_commit_order
    from tigate_spark.operators.apply import materialize
    from tigate_spark.sources.changes import changes_stream
    from tigate_spark.streaming.changefeed import PAYLOAD_COLS

    flat, land = split_commit_order(
        spark, os.path.join(sf_dir, "events.parquet"),
        str(tmp_path / "src"), 3)
    for k in range(3):
        land(k)
    eng = Engine(spark, flat, str(tmp_path / "work"))
    cid = eng.create(
        ChangefeedConfig(changefeed_id="cf-flaky", sink_uri="replica://"))
    cf = eng.changefeed(cid)
    orig = cf.sink.process_batch
    trip = {"done": False, "batches": 0}

    def flaky(batch_df, batch_id, **kw):
        if trip["batches"] == 1 and not trip["done"]:
            trip["done"] = True
            raise RuntimeError("transient sink hiccup")
        trip["batches"] += 1
        return orig(batch_df, batch_id, **kw)

    cf.sink.process_batch = flaky
    eng.run_to_completion(cid)
    assert trip["done"], "the injected failure never fired"
    feed_info = {f["id"]: f for f in eng.list()}[cid]
    assert feed_info["state"] == "stopped"
    lw = eng._get(cid).meta["last_warning"]
    assert lw["retryable"] and "transient sink hiccup" in lw["message"]
    # the replayed batch converged: full LWW state
    ch = changes_stream(spark, sf_dir)
    got = read_replica(spark, eng.state_dir(cid)).select(
        "table_id", "pk", "commit_ts", *PAYLOAD_COLS)
    exp = materialize(ch, PAYLOAD_COLS).select(
        "table_id", "pk",
        F.col("last_commit_ts").alias("commit_ts"), *PAYLOAD_COLS)
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0


def test_error_state_machine_unretryable_fast_fails(spark, sf_dir,
                                                    tmp_path):
    """changefeed_fast_fail parity: an unretryable error fails the feed
    on the FIRST attempt — no retry loop — and the state records it."""
    from tigate_spark.catalog_streaming import split_commit_order
    from tigate_spark.engine import ChangefeedUnretryableError

    flat, land = split_commit_order(
        spark, os.path.join(sf_dir, "events.parquet"),
        str(tmp_path / "src"), 2)
    for k in range(2):
        land(k)
    eng = Engine(spark, flat, str(tmp_path / "work"))
    cid = eng.create(
        ChangefeedConfig(changefeed_id="cf-fatal", sink_uri="replica://"))
    cf = eng.changefeed(cid)
    attempts = {"n": 0}

    def fatal(batch_df, batch_id, **kw):
        attempts["n"] += 1
        raise ChangefeedUnretryableError("ErrChangefeedUnretryable: bad")

    cf.sink.process_batch = fatal
    # foreachBatch errors surface as a JVM StreamingQueryException
    with pytest.raises(Exception, match="Unretryable"):
        eng.run_to_completion(cid)
    assert attempts["n"] == 1  # fast fail: no retry
    feed = eng._get(cid)
    assert feed.state == "failed"
    assert not feed.meta["error"]["retryable"]


def test_synced_status_tracks_source_frontier(spark, sf_dir, tmp_path):
    """GET .../synced parity (synced_status tests): not synced while
    landed-but-unprocessed data exists; synced once the feed drains it."""
    from tigate_spark.catalog_streaming import split_commit_order

    flat, land = split_commit_order(
        spark, os.path.join(sf_dir, "events.parquet"),
        str(tmp_path / "src"), 2)
    land(0)
    eng = Engine(spark, flat, str(tmp_path / "work"))
    cid = eng.create(
        ChangefeedConfig(changefeed_id="cf-sync-st", sink_uri="replica://"))
    eng.run_to_completion(cid)
    assert eng.synced(cid)["synced"] is True  # drained what exists
    land(1)  # new upstream data the feed hasn't seen
    st = eng.synced(cid)
    assert st["synced"] is False
    assert st["puller_resolved_ts"] > st["sink_checkpoint_ts"]
    assert "not finished" in st["info"]
    eng.run_to_completion(cid)
    st = eng.synced(cid)
    assert st["synced"] is True
    assert st["sink_checkpoint_ts"] == st["puller_resolved_ts"]


def test_synced_status_with_redo(spark, sf_dir, tmp_path):
    """synced_status_with_redo parity: with the WAL on, synced also
    requires the redo log drained (checkpoint == resolved)."""
    from tigate_spark.config import ConsistentConfig

    eng = Engine(spark, os.path.join(sf_dir, "events.parquet"),
                 str(tmp_path))
    cid = eng.create(ChangefeedConfig(
        changefeed_id="cf-sync-redo", sink_uri="replica://",
        consistent=ConsistentConfig(
            level="eventual", storage=str(tmp_path / "redo")),
    ))
    eng.run_to_completion(cid)
    st = eng.synced(cid)
    assert st["synced"] is True
    assert st["redo"]["checkpoint_ts"] == st["redo"]["resolved_ts"] > 0
    # simulate the crash window: redo ahead of the sink -> not synced
    eng.changefeed(cid).redo._update_meta(
        resolved_ts=st["redo"]["resolved_ts"] + 1)
    assert eng.synced(cid)["synced"] is False


@pytest.mark.parametrize("sink_uri", ["replica://", "sqlite://"])
def test_remove_drop_state_lets_the_id_start_clean(spark, sf_dir, tmp_path,
                                                   sink_uri):
    """remove(drop_state=True) deletes every per-feed dir, so a feed
    re-created under the same id reports no stale checkpoint_ts and a
    sqlite:// feed does not apply onto the old lane DBs."""
    eng = Engine(spark, os.path.join(sf_dir, "events.parquet"), str(tmp_path))
    cfg = ChangefeedConfig(changefeed_id="cf-again", sink_uri=sink_uri)
    cid = eng.create(cfg)
    eng.run_to_completion(cid)
    assert eng.get(cid)["checkpoint_ts"] is not None
    state = eng.state_dir(cid)
    assert os.path.isdir(state)
    eng.remove(cid, drop_state=True)
    assert not os.path.exists(state)
    eng.create(cfg)
    assert eng.get(cid)["checkpoint_ts"] is None
