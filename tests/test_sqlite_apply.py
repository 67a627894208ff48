"""Unit tests for the SQLite writer loop (streaming/sqlite_apply.py) —
the txn-batch / packet-bound / retry / fence / DDL machinery the e2e
entries drive but cannot observe directly."""

from __future__ import annotations

import json
import sqlite3


def _stmts(n, start=0):
    out = []
    for i in range(start, start + n):
        out.append((
            "app", "t0", 0,
            "REPLACE INTO `app`.`t0` (`pk`,`event_type`,`value_cents`) "
            "VALUES (?,?,?)",
            json.dumps([i % 10, f"e{i}", i]),
        ))
    return out


def _state(db):
    con = sqlite3.connect(db)
    rows = dict(
        (pk, (et, vc)) for pk, et, vc in con.execute(
            "SELECT pk, event_type, value_cents FROM `app__t0`")
    )
    con.close()
    return rows


def test_exec_lane_txn_batching_and_state(tmp_path):
    from tigate_spark.streaming.sqlite_apply import _exec_lane

    db = str(tmp_path / "lane-0.db")
    # txn_rows=7 over 100 stmts forces ~15 explicit txns; REPLACE on
    # pk%10 means final state is the last writer per pk
    _exec_lane(db, _stmts(100), txn_rows=7, max_packet=1 << 20)
    assert _state(db) == {i % 10: (f"e{i}", i) for i in range(90, 100)}


def test_exec_lane_packet_bound_flushes_early(tmp_path):
    from tigate_spark.streaming.sqlite_apply import _exec_lane

    db = str(tmp_path / "lane-1.db")
    # max_packet smaller than one arg vector: every statement flushes
    # its own txn; state must still converge
    _exec_lane(db, _stmts(20), txn_rows=1000, max_packet=4)
    assert len(_state(db)) == 10


def test_exec_lane_retries_on_lock(tmp_path):
    from tigate_spark.streaming.sqlite_apply import _exec_lane

    db = str(tmp_path / "lane-2.db")
    _exec_lane(db, _stmts(1), txn_rows=10, max_packet=1 << 20)
    # hold a write lock briefly from a second connection with a short
    # busy window: the writer's backoff loop must eventually succeed
    blocker = sqlite3.connect(db, timeout=1, check_same_thread=False)
    blocker.execute("BEGIN IMMEDIATE")
    import threading

    def release():
        import time
        time.sleep(0.3)
        blocker.rollback()
        blocker.close()

    t = threading.Thread(target=release)
    t.start()
    _exec_lane(db, _stmts(5), txn_rows=10, max_packet=1 << 20)
    t.join()
    assert len(_state(db)) == 5


# --- r9: replay idempotence + zombie fence -------------------------------


def test_replay_same_batch_twice_converges(tmp_path):
    """The exactly-once claim, tested: a micro-batch replayed after a
    crash between sink commit and checkpoint commit (same statements,
    same fence) leaves the lane DB bit-identical."""
    from tigate_spark.streaming.sqlite_apply import _exec_lane

    db = str(tmp_path / "lane-r.db")
    _exec_lane(db, _stmts(50), txn_rows=7, max_packet=1 << 20, fence="b0")
    first = _state(db)
    _exec_lane(db, _stmts(50), txn_rows=7, max_packet=1 << 20, fence="b0")
    assert _state(db) == first
    # and a fence-less sequential replay (marker never committed)
    # converges by safe-mode idempotence
    _exec_lane(db, _stmts(50), txn_rows=7, max_packet=1 << 20)
    assert _state(db) == first


def test_partial_abort_mid_lane_then_replay_converges(tmp_path):
    """Crash mid-lane (some txns committed, no fence marker): the full
    replay must converge to the same LWW state as a clean single run."""
    from tigate_spark.streaming.sqlite_apply import _exec_lane

    clean = str(tmp_path / "clean.db")
    _exec_lane(clean, _stmts(60), txn_rows=7, max_packet=1 << 20,
               fence="b0")

    crashed = str(tmp_path / "crashed.db")

    class Boom(RuntimeError):
        pass

    def exploding(n_ok):
        for i, s in enumerate(_stmts(60)):
            if i == n_ok:
                raise Boom()
            yield s

    import pytest
    with pytest.raises(Boom):
        # txn_rows=7: ~4 txns commit, then the generator explodes
        # mid-iteration — committed prefix stays, marker never written
        _exec_lane(crashed, exploding(30), txn_rows=7,
                   max_packet=1 << 20, fence="b0")
    assert 0 < len(_state(crashed)) <= 10
    _exec_lane(crashed, _stmts(60), txn_rows=7, max_packet=1 << 20,
               fence="b0")
    assert _state(crashed) == _state(clean)


def test_fence_marker_blocks_zombie_attempt(tmp_path):
    """A zombie attempt arriving AFTER the winner finished (same fence)
    must be a no-op even if its view of the statements would change
    state — the marker, not luck, is what stops the stale commit."""
    from tigate_spark.streaming.sqlite_apply import _exec_lane

    db = str(tmp_path / "lane-z.db")
    _exec_lane(db, _stmts(10), txn_rows=3, max_packet=1 << 20, fence="b7")
    won = _state(db)
    stale = [("app", "t0", 0,
              "REPLACE INTO `app`.`t0` (`pk`,`event_type`,`value_cents`) "
              "VALUES (?,?,?)", json.dumps([0, "STALE", -1]))]
    _exec_lane(db, stale, txn_rows=3, max_packet=1 << 20, fence="b7")
    assert _state(db) == won  # zombie skipped on the marker
    # a NEW fence with the same statements does apply
    _exec_lane(db, stale, txn_rows=3, max_packet=1 << 20, fence="b8")
    assert _state(db)[0] == ("STALE", -1)


def test_lane_lock_serializes_concurrent_attempts(tmp_path):
    """Two concurrent attempts on one lane cannot interleave txn
    commits: the flock forces one to run entirely after the other, and
    the fence marker makes the loser a no-op — final state is the
    winner's regardless of start order."""
    import threading

    from tigate_spark.streaming.sqlite_apply import _exec_lane

    db = str(tmp_path / "lane-c.db")
    errs = []

    def attempt():
        try:
            _exec_lane(db, _stmts(200), txn_rows=5, max_packet=1 << 20,
                       fence="b1")
        except Exception as e:  # noqa: BLE001 - surfaced via errs
            errs.append(e)

    ts = [threading.Thread(target=attempt) for _ in range(3)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert _state(db) == {i % 10: (f"e{i}", i) for i in range(190, 200)}


# --- r9: DDL execution (mysql_writer.go:600-668 semantics) ---------------


def test_exec_ddl_own_txn_and_column_visible(tmp_path):
    from tigate_spark.streaming.sqlite_apply import (
        _exec_lane,
        exec_ddl_on_lane,
    )

    db = str(tmp_path / "lane-d.db")
    _exec_lane(db, _stmts(10), txn_rows=100, max_packet=1 << 20)
    out = exec_ddl_on_lane(
        db, "ALTER TABLE `app`.`t0` ADD COLUMN `extra_cents` INTEGER "
        "DEFAULT 0", "app", "t0", 0)
    assert out == "applied"
    con = sqlite3.connect(db)
    cols = [c[1] for c in con.execute("PRAGMA table_info(`app__t0`)")]
    vals = {r[0] for r in con.execute(
        "SELECT extra_cents FROM `app__t0`")}
    con.close()
    assert "extra_cents" in cols and vals == {0}


def test_exec_ddl_ignorable_replay(tmp_path):
    """Replaying an already-applied ADD COLUMN hits SQLite's 'duplicate
    column name' — the reference's ignorable class
    (pkg/apperror/util.go:36-55 ErrColumnExists) — and is ignored, not
    raised."""
    from tigate_spark.streaming.sqlite_apply import exec_ddl_on_lane

    db = str(tmp_path / "lane-e.db")
    q = ("ALTER TABLE `app`.`t0` ADD COLUMN `extra_cents` INTEGER "
         "DEFAULT 0")
    assert exec_ddl_on_lane(db, q, "app", "t0", 0) == "applied"
    assert exec_ddl_on_lane(db, q, "app", "t0", 0) == "ignored"


def test_exec_ddl_before_any_dml_materializes_table(tmp_path):
    """Schema-first changefeed start: DDL may precede any DML for the
    table; the writer materializes the base table, then DML lands with
    the evolved schema."""
    from tigate_spark.streaming.sqlite_apply import (
        _exec_lane,
        exec_ddl_on_lane,
    )

    db = str(tmp_path / "lane-f.db")
    exec_ddl_on_lane(
        db, "ALTER TABLE `app`.`t0` ADD COLUMN `extra_cents` INTEGER "
        "DEFAULT 5", "app", "t0", 0)
    _exec_lane(db, _stmts(3), txn_rows=10, max_packet=1 << 20)
    con = sqlite3.connect(db)
    rows = list(con.execute(
        "SELECT pk, extra_cents FROM `app__t0` ORDER BY pk"))
    con.close()
    assert rows == [(0, 5), (1, 5), (2, 5)]


def test_render_statement_stream_shape(spark, sf_dir):
    from tigate_spark.sources.changes import changes_stream
    from tigate_spark.streaming.sqlite_apply import (
        render_safe_mode_statements,
    )

    ch = changes_stream(spark, sf_dir)
    st = render_safe_mode_statements(ch, n_lanes=4)
    assert set(st.columns) == {"lane", "table_id", "schema_name",
                               "table_name", "commit_ts", "start_ts",
                               "opr", "seq", "piece_no", "sql", "args"}
    sample = st.limit(50).collect()
    assert sample and all(0 <= r["lane"] < 4 for r in sample)
    # U splits into two pieces, D/I into one — piece counts per seq
    n_changes = ch.count()
    n_updates = ch.filter("op = 'U'").count()
    assert st.count() == n_changes + n_updates


def test_render_extra_tables_widens_replace_only(spark, sf_dir):
    """extra_tables renders the 4-column REPLACE for affected tables
    only; DELETE pieces and other tables keep the base form, and the
    extra arg is the documented deterministic derivation."""
    from tigate_spark.sources.changes import changes_stream
    from tigate_spark.streaming.sqlite_apply import (
        render_safe_mode_statements,
    )

    ch = changes_stream(spark, sf_dir)
    st = render_safe_mode_statements(ch, n_lanes=4, extra_tables={1})
    rows = st.collect()
    for r in rows:
        wide = "`extra_cents`" in r["sql"]
        if r["sql"].startswith("REPLACE") and r["table_id"] == 1:
            assert wide and r["sql"].count("?") == 4
            args = json.loads(r["args"])
            assert len(args) == 4
            assert args[3] == abs(args[2] or 0) % 1000
        else:
            assert not wide


def test_exec_ddl_drop_column_and_replay(tmp_path):
    """DROP COLUMN executes; replaying it hits 'no such column' — the
    ErrColumnNotExists ignorable class — and is ignored."""
    from tigate_spark.streaming.sqlite_apply import exec_ddl_on_lane

    db = str(tmp_path / "lane-g.db")
    add = ("ALTER TABLE `app`.`t0` ADD COLUMN `extra_cents` INTEGER "
           "DEFAULT 0")
    drop = "ALTER TABLE `app`.`t0` DROP COLUMN `extra_cents`"
    assert exec_ddl_on_lane(db, add, "app", "t0", 0) == "applied"
    assert exec_ddl_on_lane(db, drop, "app", "t0", 0) == "applied"
    assert exec_ddl_on_lane(db, drop, "app", "t0", 0) == "ignored"
    con = sqlite3.connect(db)
    cols = [c[1] for c in con.execute("PRAGMA table_info(`app__t0`)")]
    con.close()
    assert "extra_cents" not in cols


def test_exec_ddl_create_index_and_replay(tmp_path):
    """CREATE INDEX executes; replay hits 'already exists' — the
    ErrIndexExists/ErrDupKeyName ignorable class."""
    from tigate_spark.streaming.sqlite_apply import exec_ddl_on_lane

    db = str(tmp_path / "lane-h.db")
    idx = "CREATE INDEX `ix_et` ON `app`.`t0` (`event_type`)"
    assert exec_ddl_on_lane(db, idx, "app", "t0", 0) == "applied"
    assert exec_ddl_on_lane(db, idx, "app", "t0", 0) == "ignored"


def test_applied_fence_retention_is_bounded(tmp_path):
    """The fence-marker table keeps a bounded window (retention prunes
    below max rowid - 64) so a long-lived changefeed's lane DBs don't
    grow one row per batch forever."""
    from tigate_spark.streaming.sqlite_apply import _exec_lane

    db = str(tmp_path / "lane-i.db")
    for i in range(200):
        _exec_lane(db, _stmts(1, start=i), txn_rows=10,
                   max_packet=1 << 20, fence=f"b{i}")
    con = sqlite3.connect(db)
    n = con.execute("SELECT count(*) FROM _applied").fetchone()[0]
    fences = {f for (f,) in con.execute("SELECT fence FROM _applied")}
    con.close()
    assert n <= 66
    assert "b199" in fences  # the most recent marker always survives


def test_sink_uri_query_options(spark, tmp_path):
    """Reference parity: the MySQL sink's tuning rides on the sink-URI
    query string (pkg/sink/mysql/config.go:37-55 worker-count /
    max-txn-row with caps). Defaults, explicit values, caps, and the
    invalid-value error all map."""
    from tigate_spark.config import ChangefeedConfig
    from tigate_spark.streaming.changefeed import Changefeed

    def build(uri, cid):
        cfg = ChangefeedConfig(changefeed_id=cid, sink_uri=uri)
        return Changefeed(spark, cfg, str(tmp_path), str(tmp_path)).sink

    s = build("sqlite://", "q-default")
    assert (s.n_lanes, s.txn_rows, s.max_packet) == (4, 256, 64 * 1024)
    s = build("sqlite://?worker-count=8&max-txn-row=512&max-packet=1024",
              "q-set")
    assert (s.n_lanes, s.txn_rows, s.max_packet) == (8, 512, 1024)
    s = build("sqlite://?worker-count=99999&max-txn-row=99999", "q-cap")
    assert (s.n_lanes, s.txn_rows) == (1024, 2048)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        build("sqlite://?worker-count=0", "q-bad")


def test_lane_count_pinned_per_db_dir(tmp_path):
    """lane = table_id % n_lanes names persistent files: restarting a
    sink dir with a different worker-count would strand a table's old
    rows in the previous lane DB while new writes go to another —
    read_state would union stale and current. The count is pinned on
    first use; a mismatch refuses loudly."""
    from tigate_spark.streaming.sqlite_apply import SqliteApplySink

    d = str(tmp_path / "db")
    SqliteApplySink(d, n_lanes=4)
    SqliteApplySink(d, n_lanes=4)  # same count: fine
    import pytest as _pytest

    with _pytest.raises(ValueError, match="worker-count"):
        SqliteApplySink(d, n_lanes=8)


def test_tidb_cdc_ddl_ts_upsert_and_drop(tmp_path):
    """ddl_ts_v1 semantics (mysql_writer.go:280-340): upsert per
    (cluster, changefeed, table_id), later DDL overwrites the ts, a
    DROP TABLE deletes the row; syncpoint_v1 insert-ignores duplicate
    primary_ts (first writer wins)."""
    from tigate_spark.streaming.sqlite_apply import SqliteApplySink

    sink = SqliteApplySink(str(tmp_path / "db"), changefeed="cf-x")
    sink.record_ddl_ts(100, [1, 2])
    sink.record_ddl_ts(200, [1])          # upsert: t1 moves to 200
    sink.record_ddl_ts(300, [], drop_table_ids=[2])   # t2 dropped
    con, cur = sink._cdc_connect()
    rows = sorted(cur.execute(
        "SELECT table_id, ddl_ts FROM tidb_cdc__ddl_ts_v1"))
    con.close()
    assert rows == [(1, "200")]
    sink.record_syncpoint(1000, 5)
    sink.record_syncpoint(1000, 9)        # ignored: first writer wins
    sink.record_syncpoint(2000, 9)
    con, cur = sink._cdc_connect()
    sp = sorted(cur.execute(
        "SELECT primary_ts, secondary_ts FROM tidb_cdc__syncpoint_v1"))
    con.close()
    assert sp == [("1000", "5"), ("2000", "9")]


def test_drop_table_barrier_drops_its_ddl_ts_row(spark, sf_dir, tmp_path):
    """A DROP TABLE barrier through the changefeed removes the table's
    ddl_ts_v1 row however the statement is spaced: the row follows the
    action the lane's DDL translator recognized, not a prefix test of
    the text. Another DDL upserts its table's row."""
    import os

    from tigate_spark.config import ChangefeedConfig
    from tigate_spark.streaming.changefeed import Changefeed
    from tigate_spark.streaming.ddl import DDLEvent

    src = os.path.join(sf_dir, "events.parquet")
    ts = sorted(r[0] for r in spark.read.parquet(src).selectExpr(
        "unix_micros(cast(ts as timestamp))").collect())
    mid = ts[len(ts) // 2]

    def ddl(table_id, query):
        return DDLEvent(commit_ts=mid + table_id, table_id=table_id,
                        query=query, schema_tag=f"v{table_id}",
                        schema_name="app", table_name=f"t{table_id}")

    cf = Changefeed(
        spark, ChangefeedConfig(changefeed_id="cf-drop", sink_uri="sqlite://"),
        src, str(tmp_path), ddl_events=[
            ddl(1, "ALTER TABLE `app`.`t1` ADD COLUMN `extra` INTEGER"),
            ddl(2, "DROP\nTABLE `app`.`t2`"),
            ddl(3, "DROP  TABLE IF EXISTS `app`.`t3`"),
        ])
    cf.run_to_completion()
    rows = cf.sink.read_cdc(spark, "ddl_ts_v1").collect()
    assert sorted((r["table_id"], r["ddl_ts"]) for r in rows) == [
        (1, str(mid + 1))]


def test_tidb_cdc_db_invisible_to_read_state(spark, tmp_path):
    """The bookkeeping db must never leak into the replica state read
    (it registers no tables in _tables)."""
    from tigate_spark.streaming.sqlite_apply import SqliteApplySink

    sink = SqliteApplySink(str(tmp_path / "db"), changefeed="cf-x")
    sink.record_ddl_ts(100, [1])
    assert sink.read_state(spark).count() == 0


def test_batch_dml_equivalent_to_sequential(tmp_path):
    """batch-dml-enable (mysql/config.go:70, default true): adjacent
    identical-SQL statements coalesce into executemany; final lane
    state is identical to the statement-at-a-time run."""
    import json as _json
    import sqlite3

    from tigate_spark.streaming.sqlite_apply import _exec_lane

    stmts = []
    for i in range(500):
        stmts.append(("app", "t0", 0,
                      "REPLACE INTO `app__t0` (pk, event_type, "
                      "value_cents) VALUES (?, ?, ?)",
                      _json.dumps([i % 100, f"e{i}", i]), (0, i + 2, 0)))
        if i % 50 == 7:  # interleave a different text: breaks the run
            stmts.append(("app", "t0", 0,
                          "DELETE FROM `app__t0` WHERE pk = ?",
                          _json.dumps([i % 100]), (0, i + 2, 1)))

    def run(path, batch):
        _exec_lane(str(path), list(stmts),
                   txn_rows=64, max_packet=1 << 20, batch_dml=batch)
        con = sqlite3.connect(str(path))
        out = sorted(con.execute(
            "SELECT pk, event_type, value_cents FROM `app__t0`"))
        con.close()
        return out

    a = run(tmp_path / "batch.db", True)
    b = run(tmp_path / "seq.db", False)
    assert a == b and len(a) > 50
