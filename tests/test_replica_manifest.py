"""ReplicaSink's manifest: payload names never collide with the state
layout, and the driver-held manifest snapshot never goes stale or ahead
of the manifest on disk."""

from __future__ import annotations

import copy
import glob
import os

import pytest
from pyspark.sql import functions as F

from tigate_spark.config import ChangefeedConfig
from tigate_spark.sources.changes import normalize_events
from tigate_spark.streaming.changefeed import PAYLOAD_COLS, Changefeed
from tigate_spark.streaming import sinks
from tigate_spark.streaming.sinks import (
    ReplicaSink,
    read_replica,
    read_state,
    read_state_as_of,
    vacuum_tombstones,
)

_SCHEMA = ("seq long, table_id long, op string, start_ts long, "
           "commit_ts long, pk long, `{}` string")


def _rows(df, name):
    return sorted((r["table_id"], r["pk"], r[name]) for r in df.collect())


@pytest.mark.parametrize("name", ["v", "version"])
def test_payload_named_like_the_layout_round_trips(spark, tmp_path, name):
    """``v`` is the version dir's key and ``version`` the manifest's
    column; as payload names they come back intact through the merge,
    the live view, time travel and a compact."""
    state_dir = str(tmp_path / "state")
    sink = ReplicaSink(state_dir, [name])
    schema = _SCHEMA.format(name)
    sink.process_batch(spark.createDataFrame(
        [(1, 0, "I", 10, 20, 1, "a"), (2, 1, "I", 10, 20, 2, "b")],
        schema), 0)
    sink.process_batch(spark.createDataFrame(
        [(3, 0, "U", 30, 40, 1, "c"), (4, 1, "I", 30, 40, 3, "d")],
        schema), 1)
    want = [(0, 1, "c"), (1, 2, "b"), (1, 3, "d")]
    assert _rows(read_replica(spark, state_dir), name) == want
    assert _rows(read_state_as_of(spark, state_dir, 1), name) == [
        (0, 1, "a"), (1, 2, "b")]
    sink.compact(spark)
    assert _rows(read_replica(spark, state_dir), name) == want


def test_changefeed_wide_payload_named_v(spark, chunked_source, tmp_path):
    """The same name reached through ``ChangefeedConfig.wide_payload``,
    over a 4-batch feed."""
    cfg = ChangefeedConfig(
        changefeed_id="cf-wide-v", sink_uri="replica://",
        wide_payload=(("v", "concat('s', cast(seq as string))", "TEXT"),))
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path))
    assert cf.run_to_completion() == 4
    got = read_replica(spark, cf.sink.state_dir)
    assert "v" in got.columns
    assert got.count() > 0
    bad = got.filter(F.col("v").isNull()
                     | (F.col("v") != F.concat(F.lit("s"),
                                               F.col("seq").cast("string"))))
    assert bad.count() == 0


def _batches(spark, chunked_source):
    files = sorted(glob.glob(os.path.join(chunked_source, "*.parquet")))
    assert len(files) == 4
    return [normalize_events(spark.read.parquet(f)) for f in files]


def _state(spark, state_dir):
    return sorted(map(tuple, read_state(spark, state_dir).select(
        "table_id", "pk", "op", "commit_ts", "seq", *PAYLOAD_COLS).collect()))


def _versions(state_dir):
    return sorted(int(os.path.basename(d)[2:])
                  for d in glob.glob(os.path.join(state_dir, "data", "v=*")))


@pytest.mark.parametrize("other", ["vacuum", "second_sink_compact",
                                   "second_sink_merge"])
def test_other_writer_between_batches(spark, chunked_source, tmp_path,
                                      other):
    """Another writer commits between two batches of a live sink — a
    vacuum, or a second sink on the same state_dir that compacts or
    merges a batch of its own. The live sink reuses no committed version
    number and loses no row: the final state equals one sink merging
    every batch."""
    batches = _batches(spark, chunked_source)
    plain = ReplicaSink(str(tmp_path / "plain"), PAYLOAD_COLS)
    for i, b in enumerate(batches):
        plain.process_batch(b, i)

    state_dir = str(tmp_path / "live")
    live = ReplicaSink(state_dir, PAYLOAD_COLS)
    live.process_batch(batches[0], 0)
    live.process_batch(batches[1], 1)
    second = ReplicaSink(state_dir, PAYLOAD_COLS)
    if other == "vacuum":
        # below every commit_ts: removes nothing, but checkpoints (v=3)
        assert vacuum_tombstones(spark, state_dir, below_ts=0) == 0
        assert _versions(state_dir) == [3]
    elif other == "second_sink_compact":
        second.compact(spark)
        assert _versions(state_dir) == [3]
    else:
        second.process_batch(batches[2], 2)
        assert _versions(state_dir) == [1, 2, 3]
    rest = batches[2:] if other != "second_sink_merge" else batches[3:]
    for i, b in enumerate(rest, start=4 - len(rest)):
        live.process_batch(b, i)
    assert _versions(state_dir)[-1] == 3 + len(rest)
    assert _state(spark, state_dir) == _state(spark, plain.state_dir)


def test_failed_manifest_write_leaves_snapshot_and_replay_converges(
        spark, chunked_source, tmp_path, monkeypatch):
    """The manifest write raises after the version's data landed: the
    batch fails, the driver snapshot is unchanged (the orphan dir stays
    invisible), and replaying the batch commits that same version."""
    batches = _batches(spark, chunked_source)
    state_dir = str(tmp_path / "state")
    sink = ReplicaSink(state_dir, PAYLOAD_COLS)
    sink.process_batch(batches[0], 0)
    before = copy.deepcopy(sink._snapshot)
    committed = _state(spark, state_dir)

    def fail(*a, **kw):
        raise OSError("manifest store unavailable")

    monkeypatch.setattr(sinks, "_write_manifest", fail)
    with pytest.raises(OSError, match="manifest store unavailable"):
        sink.process_batch(batches[1], 1)
    monkeypatch.undo()
    assert sink._snapshot == before
    assert _versions(state_dir) == [1, 2]  # the orphan data dir
    assert _state(spark, state_dir) == committed
    sink.process_batch(batches[1], 1)  # the replay
    assert sink._snapshot.newest == 2
    plain = ReplicaSink(str(tmp_path / "plain"), PAYLOAD_COLS)
    plain.process_batch(batches[0], 0)
    plain.process_batch(batches[1], 1)
    assert _state(spark, state_dir) == _state(spark, plain.state_dir)
