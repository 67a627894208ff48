"""Streaming changefeed tests — replica equivalence, restart/exactly-once,
changelog encoding, syncpoint/progress bookkeeping, DDL barrier.

Mirrors the reference's integration-test strategy (SURVEY §5): apply the
change stream through the engine, then compare the materialized replica
against an independent batch computation over the same inputs
(`sync_diff_inspector` equivalence, `tests/integration_tests/README.md:17`).
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from tigate_spark.config import ChangefeedConfig, EventFilterRule, FilterConfig
from tigate_spark.operators.apply import materialize
from tigate_spark.operators.filters import apply_filter_config
from tigate_spark.sources.changes import changes_stream
from tigate_spark.streaming.changefeed import PAYLOAD_COLS, Changefeed
from tigate_spark.streaming.ddl import (
    DDLEvent,
    SchemaRegistry,
    split_batch_at_ddl,
)
from tigate_spark.streaming.sinks import read_replica

#: heavy streaming/e2e tail — excluded from the fast path
#: (`pytest -m "not slow"`); the close gate runs everything
pytestmark = pytest.mark.slow


@pytest.fixture(scope="module")
def chunked_source(spark, sf_dir, tmp_path_factory):
    """events split into 4 files ordered by commit_ts → 4 micro-batches
    (maxFilesPerTrigger=1 + lexicographic file order)."""
    src = str(tmp_path_factory.mktemp("events_src"))
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    qs = ev.approxQuantile("event_id", [0.25, 0.5, 0.75], 0.0)
    bounds = [float("-inf"), *qs, float("inf")]
    for i in range(4):
        part = ev.filter(
            (F.col("event_id") > bounds[i]) & (F.col("event_id") <= bounds[i + 1])
        )
        part.coalesce(1).write.parquet(os.path.join(src, f"chunk-{i:02d}"))
    # flatten: file source wants files under one dir
    flat = str(tmp_path_factory.mktemp("events_flat"))
    n = 0
    for i in range(4):
        for f in sorted(glob.glob(os.path.join(src, f"chunk-{i:02d}", "part-*.parquet"))):
            os.link(f, os.path.join(flat, f"{i:02d}-{os.path.basename(f)}"))
            n += 1
    assert n == 4
    return flat


def _expected_replica(spark, sf_dir, cfg: ChangefeedConfig):
    ch = changes_stream(spark, sf_dir)
    ch = apply_filter_config(ch, cfg.filter)
    return materialize(ch, PAYLOAD_COLS)


def test_replica_equivalence_multibatch(spark, sf_dir, chunked_source, tmp_path):
    cfg = ChangefeedConfig(changefeed_id="cf-replica", sink_uri="replica://")
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path))
    cf.run_to_completion()
    # 4 source files → 4 micro-batches through the incremental merge
    batches = spark.read.parquet(cf.bookkeeping.progress_dir)
    assert batches.select("batch_id").distinct().count() == 4

    got = read_replica(spark, cf.sink.state_dir).select(
        "table_id", "pk", "commit_ts", *PAYLOAD_COLS
    )
    exp = _expected_replica(spark, sf_dir, cfg).select(
        "table_id", "pk", F.col("last_commit_ts").alias("commit_ts"), *PAYLOAD_COLS
    )
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_restart_is_exactly_once(spark, sf_dir, chunked_source, tmp_path):
    """Stop after the first batches, restart on the same checkpoint: no
    re-apply, same final state (T10 subsumed by checkpointLocation)."""
    cfg = ChangefeedConfig(changefeed_id="cf-restart", sink_uri="replica://")
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path))
    cf.run_to_completion()
    first = read_replica(spark, cf.sink.state_dir)
    n_batches_1 = (
        spark.read.parquet(cf.bookkeeping.progress_dir)
        .select("batch_id").distinct().count()
    )
    # restart over the same source + checkpoint — nothing new to process
    cf2 = Changefeed(spark, cfg, chunked_source, str(tmp_path))
    cf2.run_to_completion()
    n_batches_2 = (
        spark.read.parquet(cf.bookkeeping.progress_dir)
        .select("batch_id").distinct().count()
    )
    assert n_batches_2 == n_batches_1  # no batch re-ran
    again = read_replica(spark, cf2.sink.state_dir)
    assert again.count() == first.count()


def test_filters_reach_streaming_plan(spark, sf_dir, chunked_source, tmp_path):
    """Changefeed with event+expr filters: replica matches the filtered
    batch oracle (event_filter integration-test shape, conf/cf.toml)."""
    cfg = ChangefeedConfig(
        changefeed_id="cf-filtered",
        sink_uri="replica://",
        filter=FilterConfig(
            rules=["app.t0", "app.t1", "app.t2"],
            event_filters=[EventFilterRule(
                matcher=["app.t1"], ignore_event=["delete"],
                ignore_insert_value_expr="value_cents < 500",
            )],
        ),
    )
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path))
    cf.run_to_completion()
    got = read_replica(spark, cf.sink.state_dir)
    exp = _expected_replica(spark, sf_dir, cfg)
    assert got.count() == exp.count()
    assert set(r["table_id"] for r in got.select("table_id").distinct().collect()) <= {0, 1, 2}


def test_changelog_sink_encodes_and_routes(spark, sf_dir, chunked_source, tmp_path):
    cfg = ChangefeedConfig(changefeed_id="cf-log", sink_uri="changelog://")
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path))
    cf.run_to_completion()
    log = spark.read.parquet(cf.sink.out_dir)
    ch = changes_stream(spark, sf_dir)
    assert log.count() == ch.count()
    # canal-json messages parse and agree with the row's op
    sample = log.select("message", "topic", "partition").limit(50).collect()
    for r in sample:
        msg = json.loads(r["message"])
        assert msg["type"] in ("INSERT", "UPDATE", "DELETE")
        assert r["topic"].startswith("app_t")
        assert 0 <= r["partition"] < cfg.sink.num_partitions
    # per-key ordering preserved inside a partition lane: same pk+table
    # always routes to the same partition (index-value dispatch, R5)
    lanes = log.groupBy("table_id", "pk").agg(
        F.countDistinct("partition").alias("n")
    )
    assert lanes.filter(F.col("n") > 1).count() == 0


def test_storage_sink_dated_tree(spark, sf_dir, chunked_source, tmp_path):
    """K7 cloud-storage sink: {schema}/{table}/{date}/ text tree + root
    metadata checkpoint (csv_storage_basic/run.sh:23-27, changefeed.toml
    protocol=csv date-separator=day)."""
    from tigate_spark.streaming.sinks import read_storage

    cfg = ChangefeedConfig(changefeed_id="cf-store", sink_uri="file://out")
    cfg.sink.protocol = "csv"
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path))
    cf.run_to_completion()
    ch = changes_stream(spark, sf_dir)
    tree = read_storage(spark, cf.sink.out_dir)
    assert tree.count() == ch.count()
    assert {"schema_name", "table_name", "dt", "value"} <= set(tree.columns)
    # dated directory layout on disk
    leaf_dirs = glob.glob(
        os.path.join(cf.sink.out_dir, "schema_name=*", "table_name=*", "dt=*")
    )
    assert leaf_dirs, "expected schema/table/date partition dirs"
    assert all(
        os.path.basename(d).startswith("dt=20") for d in leaf_dirs
    )
    # every line is the 7-field csv shape
    bad = tree.filter(
        F.size(F.split(F.col("value"), ",")) != 7
    ).count()
    assert bad == 0
    # root metadata file carries the changefeed checkpoint ts
    meta = json.load(open(os.path.join(cf.sink.out_dir, "metadata")))
    assert meta["checkpoint-ts"] == ch.agg(F.max("commit_ts")).collect()[0][0]


def test_storage_sink_canal_json_lines(spark, sf_dir, chunked_source, tmp_path):
    """K7 with protocol=canal-json (canal_json_storage_basic variant):
    every line in the dated tree is a parseable canal-json message whose
    database/table agree with the partition directories."""
    from tigate_spark.streaming.sinks import read_storage

    cfg = ChangefeedConfig(changefeed_id="cf-store-cj", sink_uri="file://out")
    cfg.sink.protocol = "canal-json"
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path))
    cf.run_to_completion()
    ch = changes_stream(spark, sf_dir)
    tree = read_storage(spark, cf.sink.out_dir)
    assert tree.count() == ch.count()
    sample = tree.limit(50).collect()
    assert sample
    for r in sample:
        msg = json.loads(r["value"])
        assert msg["type"] in ("INSERT", "UPDATE", "DELETE")
        assert msg["database"] == r["schema_name"]
        assert msg["table"] == r["table_name"]


def test_storage_checkpoint_monotonic_under_replay(spark, sf_dir, tmp_path):
    """K7 metadata contract: an out-of-order / replayed micro-batch must
    never move checkpoint-ts backwards (TiCDC cloudstorage metadata is
    monotone; csv_storage_basic consumer resumes from it)."""
    from tigate_spark.streaming.sinks import StorageSink

    ch = changes_stream(spark, sf_dir).withColumn("pk", F.col("pk"))
    mid = ch.approxQuantile("commit_ts", [0.5], 0.0)[0]
    newer = ch.filter(F.col("commit_ts") > mid)
    older = ch.filter(F.col("commit_ts") <= mid)
    sink = StorageSink(str(tmp_path / "store"), protocol="csv")
    sink.process_batch(newer, 1)
    meta_path = os.path.join(sink.out_dir, "metadata")
    hi = json.load(open(meta_path))["checkpoint-ts"]
    # replay an older batch out of order
    sink.process_batch(older, 0)
    assert json.load(open(meta_path))["checkpoint-ts"] == hi
    # a genuinely newer batch still advances it
    sink.process_batch(newer, 2)
    assert json.load(open(meta_path))["checkpoint-ts"] == hi


def test_storage_hot_leaf_writes_multiple_files(spark, sf_dir, tmp_path):
    """K7 fan-out: a hot (table, day) leaf is written by up to
    files_per_leaf tasks — never funneled through a single writer
    (the r03 single-task-per-leaf bottleneck). AQE's partition coalescing
    merges the salted groups back together when the batch is tiny (the
    desired small-files behavior at low volume), so it is disabled here to
    observe the at-scale plan shape."""
    from tigate_spark.streaming.sinks import StorageSink

    ch = changes_stream(spark, sf_dir)
    sink = StorageSink(str(tmp_path / "store"), protocol="csv", files_per_leaf=4)
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key)
    spark.conf.set(coalesce_key, "false")
    try:
        sink.process_batch(ch, 0)
    finally:
        spark.conf.set(coalesce_key, prev)
    leaf_dirs = glob.glob(
        os.path.join(sink.out_dir, "schema_name=*", "table_name=*", "dt=*")
    )
    assert leaf_dirs
    # the hottest leaf got more than one data file
    max_files = max(
        len([f for f in os.listdir(d) if f.startswith("part-")]) for d in leaf_dirs
    )
    assert max_files > 1, "hot leaf funneled through one writer task"


def test_ignore_start_ts_df_matches_list_variant(spark, sf_dir):
    """F4: the anti-join (data-derived) form is row-identical to the
    literal-list (config) form."""
    from tigate_spark.operators.filters import (
        ignore_txn_start_ts,
        ignore_txn_start_ts_df,
    )

    ch = changes_stream(spark, sf_dir)
    ignore = ch.filter(F.col("seq").isin(10, 20))
    got = ignore_txn_start_ts_df(ch, ignore).select("seq")
    ts_list = [r.start_ts for r in ignore.select("start_ts").collect()]
    exp = ignore_txn_start_ts(ch, ts_list).select("seq")
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0


def test_replica_one_table_merge_reads_only_that_table(
        spark, sf_dir, tmp_path, monkeypatch):
    """Scale gate: the reference's design point is >1M tables
    (README.md:5), so merging a batch must cost nothing proportional to
    the tables in state. With state seeded across every table, a
    one-table batch runs at most 5 Spark jobs, hands the driver exactly
    that one table id, and scans only that table's version dir: every
    other table's state files are corrupted, so reading any of them
    would fail the merge."""
    from tigate_spark.streaming.sinks import ReplicaSink

    state_dir = str(tmp_path / "state")
    sink = ReplicaSink(state_dir, ["event_type", "value_cents"])
    full = changes_stream(spark, sf_dir)
    sink.process_batch(full, 0)  # seed: state now spans every table
    tables = {r[0] for r in full.select("table_id").distinct().collect()}
    assert len(tables) > 1
    seeded = glob.glob(os.path.join(state_dir, "data", "v=*"))
    assert len(seeded) == 1
    for t in tables - {1}:
        for f in glob.glob(os.path.join(seeded[0], f"table_id={t}", "*")):
            with open(f, "wb") as fh:
                fh.write(b"not parquet")
    one_table = spark.createDataFrame(
        full.filter(F.col("table_id") == 1).limit(50).collect(), full.schema)

    received = []
    frame_cls = type(one_table)  # the session's concrete DataFrame class
    real_collect = frame_cls.collect

    def collect(self):
        rows = real_collect(self)
        received.extend(rows)
        return rows

    jvm = spark.sparkContext._jsc.sc()
    monkeypatch.setattr(frame_cls, "collect", collect)
    j0 = jvm.dagScheduler().nextJobId()
    sink.process_batch(one_table, 1)
    jobs = jvm.dagScheduler().nextJobId() - j0
    monkeypatch.undo()
    assert jobs <= 5, jobs
    assert [tuple(r) for r in received] == [(1,)]
    # the merged version holds table 1 only, with its full state
    merged = spark.read.parquet(os.path.join(state_dir, "data", "v=2"))
    assert {r[0] for r in merged.select("table_id").distinct().collect()} \
        == {1}
    want = full.filter(F.col("table_id") == 1).select("pk").distinct()
    assert merged.count() == want.count()


def test_replica_driver_fs_ops_scale_with_touched_only(
        spark, sf_dir, chunked_source, tmp_path, monkeypatch):
    """Manifest design gate (r04 verdict #3): merging a batch must issue
    ZERO per-table driver filesystem calls — no listdir/link/rename loops
    over the state tree — regardless of how many tables the state holds."""
    import os as _os

    from tigate_spark.streaming.sinks import ReplicaSink, read_replica

    state_dir = str(tmp_path / "state")
    sink = ReplicaSink(state_dir, ["event_type", "value_cents"])
    full = changes_stream(spark, sf_dir)
    sink.process_batch(full, 0)  # seed: state now spans every table

    calls = {"listdir": 0, "link": 0, "rename": 0}
    real_listdir = _os.listdir
    monkeypatch.setattr(_os, "listdir", lambda *a, **k: (
        calls.__setitem__("listdir", calls["listdir"] + 1)
        or real_listdir(*a, **k)))
    monkeypatch.setattr(_os, "link", lambda *a, **k: (
        calls.__setitem__("link", calls["link"] + 1)))
    real_rename = _os.rename
    monkeypatch.setattr(_os, "rename", lambda *a, **k: (
        calls.__setitem__("rename", calls["rename"] + 1)
        or real_rename(*a, **k)))
    one_table = full.filter(F.col("table_id") == 1).limit(50)
    sink.process_batch(one_table, 1)
    monkeypatch.undo()
    # the Python driver code itself walks/links nothing (the JVM writes
    # its two output dirs; os.* here only counts Python-side calls)
    assert calls["link"] == 0
    assert calls["rename"] == 0
    assert calls["listdir"] == 0
    assert read_replica(spark, state_dir).count() > 0


def test_syncpoint_ticks_aligned(spark, sf_dir, chunked_source, tmp_path):
    cfg = ChangefeedConfig(
        changefeed_id="cf-sync", sink_uri="noop://",
        enable_sync_point=True, sync_point_interval_s=3600,
    )
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path))
    cf.run_to_completion()
    ticks = spark.read.parquet(cf.bookkeeping.syncpoint_dir)
    iv = 3600 * 1_000_000
    assert ticks.count() > 0
    assert ticks.filter(F.col("primary_ts") % iv != 0).count() == 0
    lo, hi = changes_stream(spark, sf_dir).agg(
        F.min("commit_ts"), F.max("commit_ts")
    ).first()
    first_tick, last_tick = ticks.agg(F.min("primary_ts"), F.max("primary_ts")).first()
    assert lo < first_tick <= last_tick <= hi
    # K5 ts-map pairs (mysql_writer.go:528-542): every tick carries the
    # downstream applied position, which can never trail the tick itself
    assert ticks.filter(F.col("secondary_ts") < F.col("primary_ts")).count() == 0
    # the map advances batch over batch (monotone applied position)
    per_batch = (
        ticks.groupBy("batch_id").agg(F.max("secondary_ts").alias("s"))
        .orderBy("batch_id").collect()
    )
    assert len(per_batch) > 1, "expected ticks from multiple micro-batches"
    secs = [r["s"] for r in per_batch]
    assert secs == sorted(secs)


def test_syncpoint_batch_inside_one_interval_records_no_ticks(spark,
                                                               tmp_path):
    """A micro-batch whose commit range crosses no syncpoint boundary
    records zero ticks instead of failing the feed; a batch crossing k
    boundaries records exactly those k aligned ticks."""
    from tigate_spark.streaming.sinks import Bookkeeping

    bk = Bookkeeping(str(tmp_path), sync_point_us=1000)
    # per-table (table_id, min commit_ts, max commit_ts, count) summaries
    # of the changes (1, 1100), (2, 1500), (1, 1900) ...
    inside = [(1, 1100, 1900, 2), (2, 1500, 1500, 1)]
    assert bk.record(inside, 0) == []
    # ... and of (1, 1950), (2, 3300), (1, 5100)
    crossing = [(1, 1950, 5100, 2), (2, 3300, 3300, 1)]
    assert bk.record(crossing, 1) == [
        2000, 3000, 4000, 5000]
    ticks = spark.read.parquet(bk.syncpoint_dir)
    got = sorted((r["batch_id"], r["primary_ts"], r["secondary_ts"])
                 for r in ticks.collect())
    assert got == [(1, ts, 5100) for ts in (2000, 3000, 4000, 5000)]


@pytest.mark.parametrize("sink_uri", ["noop://", "sqlite://"])
def test_syncpoint_ticks_run_no_spark_job(spark, sf_dir, tmp_path, sink_uri):
    """Syncpoint ticks are written from the driver, like the progress
    rows: a micro-batch with sync point on runs exactly the Spark jobs
    of the same batch with it off."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = {}
    for on in (False, True):
        cfg = ChangefeedConfig(
            changefeed_id=f"cf-sp-jobs-{on:d}", sink_uri=sink_uri,
            enable_sync_point=on, sync_point_interval_s=3600)
        cf = Changefeed(spark, cfg, os.path.join(sf_dir, "events.parquet"),
                        str(tmp_path / f"w{on:d}"))

        def counted(df, batch_id, inner=cf._foreach_batch, on=on):
            j0 = dag.nextJobId()
            inner(df, batch_id)
            jobs[on] = dag.nextJobId() - j0

        cf._foreach_batch = counted
        assert cf.run_to_completion() == 1
    assert spark.read.parquet(cf.bookkeeping.syncpoint_dir).count() > 0
    assert jobs[True] == jobs[False], jobs


def test_ddl_barrier_split(spark, sf_dir, tmp_path):
    """Two DDLs inside one batch: apply order is DML<ts1, DDL1, DML<ts2,
    DDL2, rest; single-table DDL only blocks its own table."""
    ch = changes_stream(spark, sf_dir)
    ts_lo, ts_hi = ch.agg(F.min("commit_ts"), F.max("commit_ts")).first()
    t1 = ts_lo + (ts_hi - ts_lo) // 3
    t2 = ts_lo + 2 * (ts_hi - ts_lo) // 3
    ddls = [
        DDLEvent(commit_ts=t1, table_id=2, query="ALTER TABLE t2 ADD COLUMN x INT",
                 schema_tag="v1"),
        DDLEvent(commit_ts=t2, table_id=None, query="ALTER DATABASE app CHARSET utf8",
                 schema_tag="v2"),
    ]
    registry = SchemaRegistry(str(tmp_path / "registry"))
    applied: list[tuple[int, int]] = []  # (sub, n_rows)

    def apply_dml(df, sub):
        applied.append((sub, df.count()))

    audit = split_batch_at_ddl(
        ch, ddls,
        apply_dml,
        lambda d: registry.append(spark, d, n_tables=4),
    )
    kinds = [a["kind"] for a in audit]
    assert kinds == ["dml", "ddl", "dml", "ddl", "dml"]
    total = sum(a["rows"] for a in audit if a["kind"] == "dml")
    assert total == ch.count()
    # sub-batch 0 may contain table!=2 rows beyond t1 but no table-2 rows >= t1
    # (verified via the split predicate itself in sub 1/2 counts)
    reg = registry.versions(spark)
    assert reg.filter(F.col("schema_tag") == "v1").count() == 1  # only table 2
    assert reg.filter(F.col("schema_tag") == "v2").count() == 4  # all tables

    # barrier correctness, replayed manually: rows applied in sub 0 must
    # not include table 2 at/after t1
    def blocked(df):
        return df.filter(
            ((F.col("table_id") == 2) & (F.col("commit_ts") >= t1))
            | (F.col("commit_ts") >= t2)
        )

    eligible0 = ch.filter(
        ~(((F.col("table_id") == 2) & (F.col("commit_ts") >= t1))
          | (F.col("commit_ts") >= t2))
    )
    assert applied[0][1] == eligible0.count()


def test_vacuum_tombstones(spark, sf_dir, chunked_source, tmp_path):
    """T12: tombstones below the checkpoint are GC-able; live view
    unchanged."""
    from tigate_spark.streaming.sinks import vacuum_tombstones

    from tigate_spark.streaming.sinks import read_state

    cfg = ChangefeedConfig(changefeed_id="cf-gc", sink_uri="replica://")
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path))
    cf.run_to_completion()
    state_dir = cf.sink.state_dir
    state = read_state(spark, state_dir)
    n_dead = state.filter(F.col("op") == "D").count()
    assert n_dead > 0
    live_before = read_replica(spark, state_dir).count()
    hi = state.agg(F.max("commit_ts")).first()[0]
    removed = vacuum_tombstones(spark, state_dir, below_ts=hi + 1)
    assert removed == n_dead
    after = read_state(spark, state_dir)
    assert after.filter(F.col("op") == "D").count() == 0
    assert read_replica(spark, state_dir).count() == live_before
    # vacuum doubles as a compact: exactly one live version remains
    assert len(glob.glob(os.path.join(state_dir, "data", "v=*"))) == 1


def test_checkpoint_broadcast_per_topic(spark, sf_dir, chunked_source, tmp_path):
    """K6: every batch appends a resolved-ts message per topic."""
    import json as _json

    cfg = ChangefeedConfig(changefeed_id="cf-k6", sink_uri="changelog://")
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path))
    cf.run_to_completion()
    ckpt = spark.read.parquet(cf.sink.checkpoint_dir)
    # 4 batches × 4 topics
    assert ckpt.count() == 16
    assert ckpt.select("topic").distinct().count() == 4
    msg = _json.loads(ckpt.first()["message"])
    assert msg["type"] == "resolved" and msg["ts"] > 0


def test_crash_orphan_version_is_invisible(spark, sf_dir, chunked_source, tmp_path):
    """Simulate a crash after the data write but before the manifest
    append: the orphan ``v=<n>`` dir has no manifest row, so readers never
    see it, the replayed batch clobbers it (same next version), and the
    next compact sweeps it."""
    import shutil as _shutil

    from tigate_spark.streaming.sinks import ReplicaSink

    cfg = ChangefeedConfig(changefeed_id="cf-crash", sink_uri="replica://")
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path))
    cf.run_to_completion()
    state_dir = cf.sink.state_dir
    n = read_replica(spark, state_dir).count()
    versions = sorted(
        int(os.path.basename(d).split("=")[1])
        for d in glob.glob(os.path.join(state_dir, "data", "v=*"))
    )
    # orphan: a copy of the newest version dir at max+1, as if a batch
    # crashed after writing data but before committing manifest rows
    orphan = os.path.join(state_dir, "data", f"v={versions[-1] + 1}")
    _shutil.copytree(
        os.path.join(state_dir, "data", f"v={versions[-1]}"), orphan
    )
    assert read_replica(spark, state_dir).count() == n  # orphan invisible
    # replayed merge commits over/past the orphan and stays correct
    sink = ReplicaSink(state_dir, PAYLOAD_COLS)
    replay = changes_stream(spark, sf_dir).filter(F.col("table_id") == 0)
    sink.process_batch(replay, 99)
    assert read_replica(spark, state_dir).count() == n
    sink.compact(spark)
    assert read_replica(spark, state_dir).count() == n
    assert not os.path.exists(orphan)  # swept


def test_claim_check_in_changelog(spark, sf_dir, chunked_source, tmp_path):
    """E5 wired through the config: oversized messages land as pointers."""
    from tigate_spark.config import SinkConfig

    from tigate_spark.functions.encoders import encode_canal_json

    enc = encode_canal_json(changes_stream(spark, sf_dir, with_images=True))
    median_len = int(
        enc.selectExpr("octet_length(message) AS n").approxQuantile("n", [0.5], 0.0)[0]
    )
    cfg = ChangefeedConfig(
        changefeed_id="cf-claim", sink_uri="changelog://",
        sink=SinkConfig(large_message_handle="claim-check",
                        large_message_threshold=median_len),
    )
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path))
    cf.run_to_completion()
    log = spark.read.parquet(cf.sink.out_dir)
    n_total = log.count()
    n_ptr = log.filter(F.col("message").startswith('{"claimCheckLocation"')).count()
    assert 0 < n_ptr < n_total  # some offloaded, some inline


def test_storage_sink_rejects_bad_config():
    from tigate_spark.streaming.sinks import StorageSink

    with pytest.raises(ValueError):
        StorageSink("/tmp/x", protocol="avro")
    with pytest.raises(ValueError):
        StorageSink("/tmp/x", date_separator="hour")


def test_replica_time_travel_as_of_version(spark, sf_dir, chunked_source, tmp_path):
    """Manifest time travel (Delta VERSION AS OF analogue): the state as
    of version k equals an independent replay of the first k source
    chunks; the final as-of equals the live state."""
    from tigate_spark.streaming.sinks import read_state, read_state_as_of

    cfg = ChangefeedConfig(changefeed_id="cf-tt", sink_uri="replica://")
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path))
    cf.run_to_completion()

    def rows(df):
        return sorted(
            (r["table_id"], r["pk"], r["op"], r["commit_ts"], r["seq"])
            for r in df.select("table_id", "pk", "op", "commit_ts", "seq").collect()
        )

    # 4 batches → versions 1..4; replay prefixes independently
    import glob as _g
    files = sorted(_g.glob(os.path.join(chunked_source, "*.parquet")))
    assert len(files) == 4
    for k in (1, 2, 4):
        prefix_dir = str(tmp_path / f"prefix-{k}")
        os.makedirs(prefix_dir)
        for f in files[:k]:
            os.link(f, os.path.join(prefix_dir, os.path.basename(f)))
        cfg_k = ChangefeedConfig(changefeed_id=f"cf-tt-{k}", sink_uri="replica://")
        cf_k = Changefeed(spark, cfg_k, prefix_dir, str(tmp_path / f"wk-{k}"))
        cf_k.run_to_completion()
        expect = rows(read_state(spark, cf_k.sink.state_dir))
        got = rows(read_state_as_of(spark, cf.sink.state_dir, k))
        assert got == expect, f"as-of version {k} diverges"
    # beyond the last version == live state; before the first == None
    assert rows(read_state_as_of(spark, cf.sink.state_dir, 99)) == rows(
        read_state(spark, cf.sink.state_dir)
    )
    assert read_state_as_of(spark, cf.sink.state_dir, 0) is None


def test_mid_stream_compaction_preserves_state(spark, sf_dir, chunked_source, tmp_path):
    """Aggressive compaction (compact_every=2 → fires twice across 4
    batches) must not change the merged state vs an uncompacted run."""
    from tigate_spark.sources.changes import normalize_events
    from tigate_spark.streaming.sinks import ReplicaSink

    files = sorted(glob.glob(os.path.join(chunked_source, "*.parquet")))
    assert len(files) == 4

    def run(state_dir, compact_every):
        sink = ReplicaSink(str(state_dir), PAYLOAD_COLS,
                           compact_every=compact_every)
        for i, f in enumerate(files):
            sink.process_batch(normalize_events(spark.read.parquet(f)), i)
        return sorted(
            map(tuple, read_replica(spark, str(state_dir)).collect())
        )

    compacted = run(tmp_path / "a", 2)
    plain = run(tmp_path / "b", 100)
    assert compacted == plain
    # the compacted run really did checkpoint: few live version dirs
    n_vers = len(glob.glob(os.path.join(str(tmp_path / "a"), "data", "v=*")))
    assert n_vers < 4


def test_csv_source_format_changefeed(spark, sf_dir, tmp_path):
    """config.source_format='csv': the changefeed ingests a CSV export of
    the events table and materializes the same replica as the parquet
    path (the jsonl twin is oracle-checked as a catalog entry; this pins
    the csv branch of the format-aware reader)."""
    from tigate_spark.sources.formats import export_events
    from tigate_spark.streaming.sinks import read_replica

    src = export_events(spark, sf_dir, "csv")
    cfg = ChangefeedConfig(changefeed_id="csv-e2e", sink_uri="replica://",
                           source_format="csv")
    cf = Changefeed(spark, cfg, src, str(tmp_path / "csv"))
    cf.run_to_completion()
    got = sorted(
        (r["table_id"], r["pk"], r["commit_ts"], r["event_type"],
         r["value_cents"])
        for r in read_replica(spark, cf.sink.state_dir).collect()
    )

    cfg2 = ChangefeedConfig(changefeed_id="pq-e2e", sink_uri="replica://")
    cf2 = Changefeed(spark, cfg2, os.path.join(sf_dir, "events.parquet"),
                     str(tmp_path / "pq"))
    cf2.run_to_completion()
    want = sorted(
        (r["table_id"], r["pk"], r["commit_ts"], r["event_type"],
         r["value_cents"])
        for r in read_replica(spark, cf2.sink.state_dir).collect()
    )
    assert got == want and len(got) > 0


def test_large_message_handle_rejected_for_avro(spark, tmp_path):
    """pkg/config/large_message.go:65-77 parity: large-message-handle is
    only defined for the open/canal protocol families — avro's Confluent
    framing has no message column for claim-check to operate on, so the
    combination must fail config validation, not mis-encode at runtime."""
    from tigate_spark.config import ChangefeedConfig, SinkConfig
    from tigate_spark.streaming.changefeed import Changefeed

    for handle in ("claim-check", "handle-key-only"):
        cfg = ChangefeedConfig(
            changefeed_id="bad", sink_uri="changelog://",
            sink=SinkConfig(protocol="avro", large_message_handle=handle),
        )
        with pytest.raises(ValueError, match="not supported"):
            Changefeed(spark, cfg, str(tmp_path), str(tmp_path))
    # the supported families still construct
    for proto in ("canal-json", "open-protocol"):
        cfg = ChangefeedConfig(
            changefeed_id="ok", sink_uri="changelog://",
            sink=SinkConfig(protocol=proto,
                            large_message_handle="claim-check"),
        )
        Changefeed(spark, cfg, str(tmp_path), str(tmp_path))


def test_sqlite_sink_scheme_equivalence(spark, sf_dir, chunked_source,
                                        tmp_path):
    """sink_uri='sqlite://' wires the executable writer loop as a
    first-class sink: the changefeed renders + EXECUTES safe-mode SQL on
    per-lane SQLite files, and the downstream live state equals the
    replica LWW materialization (minus tombstones, which a SQL engine
    deletes physically)."""
    # precondition on the testdata vintage: chunked_source splits by
    # event_id while the writer applies cross-batch in arrival order —
    # equivalent to LWW only while commit timestamps are unique. If the
    # driver regenerates data with ties, fail HERE with a clear message
    # (re-split in LWW order like the catalog e2e) instead of a
    # confusing exceptAll diff below.
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    assert ev.count() == ev.select("ts").distinct().count(), \
        "testdata has commit-ts ties: re-split chunked_source in LWW order"
    cfg = ChangefeedConfig(changefeed_id="cf-sqlite", sink_uri="sqlite://")
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path))
    cf.run_to_completion()
    got = cf.sink.read_state(spark).select(
        "table_id", "pk", "event_type", "value_cents")
    exp = (
        _expected_replica(spark, sf_dir, cfg)
        .filter(F.col("op") != "D")
        .select("table_id", "pk", "event_type", "value_cents")
    )
    assert got.count() == exp.count() > 0
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_changefeed_first_class_ddl_barrier_sqlite(spark, sf_dir,
                                                   chunked_source,
                                                   tmp_path):
    """DDL barrier as an ENGINE feature, not an entry harness: a
    Changefeed configured with DDLEvents splits micro-batches at the
    barrier, records the schema version in its multi-version registry,
    and — on the executing sqlite:// sink — runs the ALTER TABLE live
    on the owning lane; a second feed replaying the same DDL converges
    via registry idempotence + the ignorable-error class."""
    import sqlite3 as _sql

    from tigate_spark.streaming.ddl import DDLEvent

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    assert ev.count() == ev.select("ts").distinct().count(), \
        "testdata has commit-ts ties: anchor DDL at a tie-free ts"
    # anchor mid-stream: strictly above the median event ts
    mid = ev.selectExpr("percentile_approx(unix_micros(cast(ts as timestamp)), 0.5) p").collect()[0][0]
    ddl = DDLEvent(
        commit_ts=int(mid), table_id=1,
        query="ALTER TABLE `app`.`t1` ADD COLUMN `extra_cents` INTEGER "
              "DEFAULT 7",
        schema_tag="v1", schema_name="app", table_name="t1",
    )
    cfg = ChangefeedConfig(changefeed_id="cf-ddl", sink_uri="sqlite://")
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path),
                    ddl_events=[ddl])
    cf.run_to_completion()
    # registry recorded exactly one version row for t1
    reg = cf.registry.versions(spark)
    assert reg.count() == 1
    assert reg.first()["table_id"] == 1
    # the DDL executed: the lane table has the column, default backfilled
    lane = os.path.join(cf.sink.db_dir, f"lane-{1 % cf.sink.n_lanes}.db")
    con = _sql.connect(lane)
    cols = [c[1] for c in con.execute("PRAGMA table_info(`app__t1`)")]
    vals = {r[0] for r in con.execute(
        "SELECT DISTINCT extra_cents FROM `app__t1`")}
    con.close()
    assert "extra_cents" in cols
    assert vals == {7}  # backfill + unnamed-column default
    # replay: a fresh feed over the same work dir (lost driver state)
    # re-encounters the DDL — registry append is idempotent, the
    # duplicate-column error is ignorable, state converges. Deleting
    # ONLY the streaming checkpoint (keeping registry + lane DBs) forces
    # every micro-batch — and the barrier — to actually re-run; with the
    # checkpoint intact availableNow would process nothing and the
    # replay would be vacuous.
    shutil.rmtree(cf.checkpoint_dir)
    cf2 = Changefeed(spark, cfg, chunked_source, str(tmp_path),
                     ddl_events=[ddl])
    cf2.run_to_completion()
    assert cf2.registry.versions(spark).count() == 1
    got = cf2.sink.read_state(spark).select(
        "table_id", "pk", "event_type", "value_cents")
    exp = (
        _expected_replica(spark, sf_dir, cfg)
        .filter(F.col("op") != "D")
        .select("table_id", "pk", "event_type", "value_cents")
    )
    assert got.count() == exp.count() > 0
    assert got.exceptAll(exp).count() == 0


def test_schema_registry_idempotent_append_is_table_scoped(spark, tmp_path):
    """Two DDLs at the SAME commit_ts with the SAME schema_tag on
    DIFFERENT tables are distinct versions — the idempotence dedup key
    includes the table scope, so the second append must not be swallowed
    as a replay of the first (while a true replay still is)."""
    from tigate_spark.streaming.ddl import DDLEvent, SchemaRegistry

    reg = SchemaRegistry(str(tmp_path / "reg"))
    d1 = DDLEvent(commit_ts=100, table_id=1,
                  query="ALTER TABLE t1 ADD COLUMN x INT", schema_tag="v2")
    d2 = DDLEvent(commit_ts=100, table_id=2,
                  query="ALTER TABLE t2 ADD COLUMN x INT", schema_tag="v2")
    reg.append(spark, d1, idempotent=True)
    reg.append(spark, d2, idempotent=True)  # different table: must land
    reg.append(spark, d1, idempotent=True)  # true replay: must dedupe
    v = reg.versions(spark)
    assert v.count() == 2
    assert {r["table_id"] for r in v.collect()} == {1, 2}


def test_ddl_barrier_bookkeeping_once_per_batch(spark, sf_dir,
                                                chunked_source, tmp_path):
    """Bookkeeping is a per-MICRO-BATCH contract even when a DDL barrier
    splits the batch: one K4 progress row per (table_id, batch_id) and
    globally unique K5 primary_ts ticks. Sub-batches overlap in commit
    range (unaffected tables span the whole batch; the blocked table's
    tail starts at the DDL ts), so per-sub-batch recording would emit
    duplicate rows/ticks."""
    from tigate_spark.streaming.ddl import DDLEvent

    ev = changes_stream(spark, sf_dir)
    mid = ev.selectExpr("percentile_approx(commit_ts, 0.5) p").first()[0]
    cfg = ChangefeedConfig(
        changefeed_id="cf-ddl-bk", sink_uri="noop://",
        enable_sync_point=True, sync_point_interval_s=3600,
    )
    ddl = DDLEvent(commit_ts=int(mid), table_id=1,
                   query="ALTER TABLE t1 ADD COLUMN x INT", schema_tag="v1")
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path),
                    ddl_events=[ddl])
    cf.run_to_completion()
    assert cf.registry.versions(spark).count() == 1  # barrier did fire
    progress = spark.read.parquet(cf.bookkeeping.progress_dir)
    dup_progress = (
        progress.groupBy("table_id", "batch_id").count()
        .filter(F.col("count") > 1)
    )
    assert dup_progress.count() == 0
    ticks = spark.read.parquet(cf.bookkeeping.syncpoint_dir)
    assert ticks.count() > 0
    assert ticks.count() == ticks.select("primary_ts").distinct().count()


def test_sqlite_redo_syncpoint_barrier_feed_persists_once_per_batch(
        spark, sf_dir, chunked_source, tmp_path, monkeypatch):
    """One micro-batch, one cache: a sqlite:// feed with the redo log,
    syncpoint and a DDL barrier all on persists exactly one frame per
    micro-batch (the WAL, the barrier split, the sink and the bookkeeping
    all read it). The downstream tidb_cdc__syncpoint_v1 mirrors the
    parquet ts-map pair for pair."""
    from tigate_spark.config import ConsistentConfig

    ev = changes_stream(spark, sf_dir)
    mid = ev.selectExpr("percentile_approx(commit_ts, 0.5) p").first()[0]
    ddl = DDLEvent(
        commit_ts=int(mid), table_id=1,
        query="ALTER TABLE `app`.`t1` ADD COLUMN `extra_cents` INTEGER "
              "DEFAULT 7",
        schema_tag="v1", schema_name="app", table_name="t1",
    )
    cfg = ChangefeedConfig(
        changefeed_id="cf-one-cache", sink_uri="sqlite://",
        enable_sync_point=True, sync_point_interval_s=3600,
        consistent=ConsistentConfig(
            level="eventual", storage=str(tmp_path / "redo")),
    )
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path / "work"),
                    ddl_events=[ddl])
    persists: list[int] = []
    frame_cls = type(ev)  # the session's concrete DataFrame class
    real_persist = frame_cls.persist

    def counting_persist(self, *a, **kw):
        persists.append(1)
        return real_persist(self, *a, **kw)

    monkeypatch.setattr(frame_cls, "persist", counting_persist)
    per_batch: list[int] = []
    inner = cf._foreach_batch

    def counted(batch_df, batch_id):
        n0 = len(persists)
        inner(batch_df, batch_id)
        per_batch.append(len(persists) - n0)

    cf._foreach_batch = counted
    cf.run_to_completion()
    monkeypatch.undo()
    assert per_batch == [1, 1, 1, 1]
    assert cf.registry.versions(spark).count() == 1  # the barrier fired
    meta = cf.redo.meta()
    assert meta["checkpoint_ts"] == meta["resolved_ts"] > 0

    ts_map = [(r["primary_ts"], r["secondary_ts"]) for r in
              spark.read.parquet(cf.bookkeeping.syncpoint_dir).collect()]
    assert ts_map and len({p for p, _ in ts_map}) == len(ts_map)
    down = [(int(r["primary_ts"]), int(r["secondary_ts"])) for r in
            cf.sink.read_cdc(spark, "syncpoint_v1").collect()]
    assert sorted(down) == sorted(ts_map)


def test_changelog_redo_logs_the_change_columns(spark, sf_dir,
                                                chunked_source, tmp_path):
    """With redo on, a changelog:// feed WALs the transformed change
    rows — not the routed/encoded frame the sink writes — so the WAL
    schema is the stream's and redo_apply rebuilds the last-writer-wins
    state."""
    from tigate_spark.config import ConsistentConfig
    from tigate_spark.streaming.redo import redo_apply

    cfg = ChangefeedConfig(
        changefeed_id="cf-cl-redo", sink_uri="changelog://",
        consistent=ConsistentConfig(
            level="eventual", storage=str(tmp_path / "redo")),
    )
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path / "work"))
    cf.run_to_completion()
    stream_cols = cf.transform(cf.read_stream()).columns
    wal = spark.read.parquet(
        os.path.join(cf.redo.row_dir, "epoch=0", "batch=0"))
    assert wal.columns == stream_cols
    assert not {"topic", "partition", "message"} & set(wal.columns)
    out = ["table_id", "pk", "event_type", "value_cents", "user_id"]
    exp = materialize(changes_stream(spark, sf_dir), PAYLOAD_COLS).select(*out)
    got = redo_apply(spark, cfg.consistent.storage, PAYLOAD_COLS).select(*out)
    assert got.count() == exp.count() > 0
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_sink_uri_option_overlay(spark, tmp_path):
    """Reference parity: sinks are configured through the sink-URI query
    string (kafka options.go:102-105 partition-num/max-message-bytes,
    sink.go:136,149 protocol/date-separator). URI params overlay the
    config object; absent params leave it untouched; invalid values and
    invalid COMBINATIONS (avro + claim-check) fail validation the same
    way programmatic configs do."""
    def sink_of(uri):
        cfg = ChangefeedConfig(changefeed_id="uri-opt", sink_uri=uri)
        return Changefeed(spark, cfg, str(tmp_path), str(tmp_path)).cfg.sink

    s = sink_of("changelog://?protocol=open-protocol&partition-num=8"
                "&max-message-bytes=2048")
    assert (s.protocol, s.num_partitions, s.large_message_threshold) == \
        ("open-protocol", 8, 2048)
    s = sink_of("file://out?protocol=csv&date-separator=month")
    assert (s.protocol, s.date_separator) == ("csv", "month")
    s = sink_of("replica://")  # no query: defaults untouched
    assert (s.protocol, s.num_partitions) == ("canal-json", 16)
    with pytest.raises(ValueError):
        sink_of("changelog://?partition-num=0")
    with pytest.raises(ValueError):
        sink_of("file://out?date-separator=weekly")
    with pytest.raises(ValueError):
        sink_of("changelog://?protocol=avro&large-message-handle=claim-check")


def test_storage_sink_configured_by_uri_only(spark, sf_dir, chunked_source,
                                             tmp_path):
    """A storage feed configured ENTIRELY through the sink URI (the way
    a reference user writes it) produces the same dated csv tree as the
    programmatic config."""
    from tigate_spark.streaming.sinks import read_storage

    cfg = ChangefeedConfig(
        changefeed_id="cf-uri-store",
        sink_uri="file://out?protocol=csv&date-separator=day",
    )
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path))
    cf.run_to_completion()
    tree = read_storage(spark, cf.sink.out_dir)
    assert tree.count() == changes_stream(spark, sf_dir).count()
    assert glob.glob(os.path.join(
        cf.sink.out_dir, "schema_name=*", "table_name=*", "dt=*"))


def test_kafka_uri_path_is_default_topic(spark, sf_dir, chunked_source,
                                         tmp_path):
    """The sink-URI path is the default topic (event_router.go:36,72,89:
    the URI topic is every generator's no-match answer): unruled rows
    land there, dispatch rules still win for their matchers."""
    from tigate_spark.config import DispatchRule

    cfg = ChangefeedConfig(
        changefeed_id="cf-uri-topic",
        sink_uri="kafka://broker:9092/all-events?partition-num=4",
    )
    cfg.sink.dispatch_rules = [
        DispatchRule(matcher=["app.t1"], topic="t1-only",
                     partition="table"),
    ]
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path))
    cf.run_to_completion()
    log = spark.read.parquet(cf.sink.out_dir)
    assert cfg.sink.num_partitions == 4  # partition-num came from the URI
    topics = {r["table_id"]: r["topic"] for r in
              log.select("table_id", "topic").distinct().collect()}
    assert topics[1] == "t1-only"
    assert all(t == "all-events" for tid, t in topics.items() if tid != 1)
    assert log.filter(F.col("partition") >= 4).count() == 0


def test_syncpoint_retention_prunes_expired_buckets(spark, sf_dir, tmp_path):
    """Reference ts-map cleanup (mysql_writer.go:215-238, SyncPointRetention
    default 24h): with retention set, expired ticks vanish bucket-wise
    while the newest ticks survive; pruning is a driver-side listdir of
    ~5 live bucket dirs (no Spark job, no rewrite of surviving rows)."""
    from tigate_spark.catalog_streaming import split_commit_order

    src = os.path.join(sf_dir, "events.parquet")
    ch = changes_stream(spark, sf_dir)
    lo, hi = ch.agg(F.min("commit_ts"), F.max("commit_ts")).first()
    span = hi - lo
    iv_s = max(span // 50 // 1_000_000, 1)
    retention_s = max(span // 5 // 1_000_000, 1)
    cfg = ChangefeedConfig(
        changefeed_id="cf-sync-ret", sink_uri="noop://",
        enable_sync_point=True, sync_point_interval_s=iv_s,
        sync_point_retention_s=retention_s,
    )
    work = str(tmp_path)
    flat, land = split_commit_order(spark, src, work + "/split", 4)
    for k in range(4):
        land(k)
    cf = Changefeed(spark, cfg, flat, work)
    cf.run_to_completion()
    ticks = spark.read.parquet(cf.bookkeeping.syncpoint_dir)
    iv = iv_s * 1_000_000
    retention = retention_s * 1_000_000
    bucket = retention // 4
    tick_lo, tick_hi = ticks.agg(
        F.min("primary_ts"), F.max("primary_ts")).first()
    # the newest tick survived and is the last aligned boundary
    assert tick_hi == (hi // iv) * iv
    # everything older than retention (plus one bucket of slack) is gone
    assert tick_lo >= tick_hi - retention - bucket
    # early-stream ticks existed (interval << span) and were pruned
    assert tick_lo > (lo // iv + 1) * iv
    # live bucket dirs stay bounded at ~5 regardless of stream length
    dirs = [d for d in os.listdir(cf.bookkeeping.syncpoint_dir)
            if d.startswith("sp_epoch=")]
    assert 0 < len(dirs) <= 6


def test_storage_dated_tree_respects_timezone(spark, sf_dir,
                                              chunked_source, tmp_path):
    """changefeed.go:27 timezone parity: the dated storage tree renders
    date paths in the configured zone. A +14h zone must shift SOME rows
    across a midnight boundary relative to UTC while total row count is
    identical."""
    from tigate_spark.streaming.sinks import read_storage

    def run(cid, uri):
        cfg = ChangefeedConfig(changefeed_id=cid, sink_uri=uri)
        cf = Changefeed(spark, cfg, chunked_source,
                        str(tmp_path / cid))
        cf.run_to_completion()
        return read_storage(spark, cf.sink.out_dir)

    utc = run("cf-tz-utc", "file://out?protocol=csv")
    kir = run("cf-tz-kir",
              "file://out?protocol=csv&time-zone=Pacific/Kiritimati")
    assert utc.count() == kir.count()
    u = {r["dt"]: r["n"] for r in
         utc.groupBy("dt").agg(F.count("*").alias("n")).collect()}
    k = {r["dt"]: r["n"] for r in
         kir.groupBy("dt").agg(F.count("*").alias("n")).collect()}
    assert u != k, "a +14h zone must move rows across date boundaries"
    # every shifted date is the UTC date or the day after (+14h forward)
    import datetime as _dt

    def _day(d):
        return d if isinstance(d, _dt.date) else \
            _dt.date.fromisoformat(str(d))

    udays = {_day(d) for d in u}
    assert all(
        _day(d) in udays or _day(d) - _dt.timedelta(days=1) in udays
        for d in k
    )


def test_sink_uri_time_zone_validates_eagerly(spark, tmp_path):
    """A typo'd zone fails at create time (changefeed.go:27 validates
    the timezone at creation), not mid-stream on the first dated
    render."""
    with pytest.raises(ValueError, match="time-zone"):
        Changefeed(
            spark,
            ChangefeedConfig(
                changefeed_id="tz-bad",
                sink_uri="file://out?protocol=csv&time-zone=America/NewYork",
            ),
            str(tmp_path), str(tmp_path),
        )


def test_storage_file_expiration_prunes_old_dates(spark, sf_dir,
                                                  chunked_source,
                                                  tmp_path):
    """storage_cleanup parity (sink.go:694 file-expiration-days): dt=
    partitions older than N days behind the newest date are pruned;
    newer dates and the metadata checkpoint survive."""
    import datetime as _dt

    from tigate_spark.streaming.sinks import read_storage

    ch = changes_stream(spark, sf_dir)
    span_days = (
        ch.selectExpr(
            "datediff(to_date(timestamp_micros(max(commit_ts))), "
            "to_date(timestamp_micros(min(commit_ts))))"
        ).first()[0]
    )
    assert span_days >= 2, "testdata must span several days for this test"
    keep = max(span_days // 2, 1)
    cfg = ChangefeedConfig(
        changefeed_id="cf-expire",
        sink_uri=f"file://out?protocol=csv&file-expiration-days={keep}",
    )
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path))
    cf.run_to_completion()
    leaf = glob.glob(os.path.join(
        cf.sink.out_dir, "schema_name=*", "table_name=*", "dt=*"))
    dates = sorted({os.path.basename(d)[3:] for d in leaf})
    newest = _dt.date.fromisoformat(dates[-1])
    cutoff = (newest - _dt.timedelta(days=keep)).isoformat()
    assert dates[0] >= cutoff, f"expired date {dates[0]} survived"
    # the kept window is intact and readable
    tree = read_storage(spark, cf.sink.out_dir)
    exp = ch.filter(
        F.expr(f"to_date(timestamp_micros(commit_ts)) >= '{cutoff}'")
    ).count()
    assert tree.count() == exp > 0
    # validation: expiration needs the day separator
    with pytest.raises(ValueError, match="date-separator"):
        Changefeed(
            spark,
            ChangefeedConfig(
                changefeed_id="cf-exp-bad",
                sink_uri="file://out?protocol=csv&date-separator=month"
                         "&file-expiration-days=2",
            ),
            chunked_source, str(tmp_path / "bad"),
        )


def test_simple_avro_changelog_lane(spark, sf_dir, chunked_source, tmp_path):
    """protocol=simple&encoding-format=avro: every changelog VALUE is a
    decodable com.pingcap.simple.avro binary Message (hex), value-only
    (no key column), byte-identical to the batch encoder."""
    from tigate_spark.functions.simple_avro import (
        decode_message,
        encode_simple_avro,
    )

    cfg = ChangefeedConfig(
        changefeed_id="cf-sa",
        sink_uri="changelog://?protocol=simple&encoding-format=avro")
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path))
    assert cfg.sink.encoding_format == "avro"  # URI overlay applied
    cf.run_to_completion()
    log = spark.read.parquet(cf.sink.out_dir)
    assert "key" not in log.columns  # simple messages are value-only
    ch = changes_stream(spark, sf_dir)
    assert log.count() == ch.count()
    for r in log.select("value").limit(20).collect():
        m = decode_message(bytes.fromhex(r["value"]))
        assert m["type"] == "DML"
    # byte-identity with the batch encoder on a sample
    want = {r["seq"]: r["message_hex"] for r in
            encode_simple_avro(ch).select("seq", "message_hex")
            .limit(100).collect()}
    got = {r["seq"]: r["value"] for r in
           log.filter(F.col("seq").isin(*want)).collect()}
    assert got == want


def test_simple_json_changelog_lane(spark, sf_dir, chunked_source, tmp_path):
    """protocol=simple (default encoding-format=json): messages are the
    simple-JSON row messages, matching the batch encoder."""
    cfg = ChangefeedConfig(changefeed_id="cf-sj",
                           sink_uri="changelog://?protocol=simple")
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path))
    cf.run_to_completion()
    log = spark.read.parquet(cf.sink.out_dir)
    ch = changes_stream(spark, sf_dir)
    assert log.count() == ch.count()
    for r in log.select("message").limit(20).collect():
        msg = json.loads(r["message"])
        assert msg["version"] == 1
        assert ("data" in msg) or ("old" in msg)


def test_encoding_format_validations(spark, chunked_source, tmp_path):
    """encoding-format validates at create: unknown values reject, and
    avro belongs to the simple codec only (per-protocol option parity)."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown encoding-format"):
        Changefeed(spark, ChangefeedConfig(
            changefeed_id="bad-ef",
            sink_uri="changelog://?protocol=simple&encoding-format=capnp"),
            chunked_source, str(tmp_path))
    with _pytest.raises(ValueError,
                        match="encoding-format avro is not supported"):
        Changefeed(spark, ChangefeedConfig(
            changefeed_id="bad-ef2",
            sink_uri="changelog://?protocol=canal-json&encoding-format=avro"),
            chunked_source, str(tmp_path))
