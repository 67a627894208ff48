"""The one availableNow run helper: real committed-batch counts (a
one-batch run can no longer pass a multi-batch floor, a resumed run
counts only its new batches) and a timeout that stops the query and
fails."""

from __future__ import annotations

import os
import time

import pytest

from tigate_spark.config import ChangefeedConfig
from tigate_spark.engine import Engine
from tigate_spark.streaming.changefeed import Changefeed, run_available_now

#: heavy streaming/e2e tail — excluded from the fast path
#: (`pytest -m "not slow"`); the close gate runs everything
pytestmark = pytest.mark.slow


def _land(spark, src: str, k: int) -> None:
    """One single-row parquet file per call, with increasing mtimes so
    the file source picks them in landing order."""
    out = os.path.join(src, f"_w{k}")
    spark.range(k, k + 1).coalesce(1).write.parquet(out)
    f = next(n for n in os.listdir(out) if n.endswith(".parquet"))
    dst = os.path.join(src, f"{k:02d}.parquet")
    os.rename(os.path.join(out, f), dst)
    now = time.time()
    os.utime(dst, (now + k, now + k))


def _writer(spark, src: str):
    return (spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .parquet(src)
            .writeStream.foreachBatch(lambda df, batch_id: None))


def test_one_batch_run_fails_a_two_batch_floor(spark, tmp_path):
    # the commits log holds '0' and '.0.crc' after one batch — counting
    # directory entries read 2 here and let the floor pass
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src)
    _land(spark, src, 0)
    with pytest.raises(RuntimeError, match="at least 2 micro-batches, got 1"):
        run_available_now(_writer(spark, src), ckpt, min_batches=2)
    assert spark.streams.active == []


def test_batch_count_is_this_runs_commits(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src)
    for k in range(3):
        _land(spark, src, k)
    assert run_available_now(_writer(spark, src), ckpt, min_batches=2) == 3
    # resumed from the checkpoint: only the two new files are new batches
    for k in (3, 4):
        _land(spark, src, k)
    assert run_available_now(_writer(spark, src), ckpt) == 2
    assert run_available_now(_writer(spark, src), ckpt) == 0


def _sleepy(cf: Changefeed, seconds: float) -> None:
    """Make every micro-batch of ``cf`` outlast a short timeout."""
    orig = cf.sink.process_batch

    def slow(batch_df, batch_id, **kw):
        time.sleep(seconds)
        orig(batch_df, batch_id, **kw)

    cf.sink.process_batch = slow


def test_timed_out_run_stops_the_query_and_raises(spark, chunked_source,
                                                  tmp_path):
    cf = Changefeed(
        spark, ChangefeedConfig(changefeed_id="slow", sink_uri="noop://"),
        chunked_source, str(tmp_path))
    _sleepy(cf, 3)
    with pytest.raises(TimeoutError, match="still running after 1s"):
        cf.run_to_completion(timeout_s=1)
    assert spark.streams.active == []


def test_engine_retries_a_timed_out_run_like_any_retryable_error(
        spark, chunked_source, tmp_path):
    eng = Engine(spark, chunked_source, str(tmp_path))
    cid = eng.create(
        ChangefeedConfig(changefeed_id="slow-eng", sink_uri="noop://"))
    _sleepy(eng.changefeed(cid), 3)
    with pytest.raises(TimeoutError):
        eng.run_to_completion(cid, timeout_s=1, max_retries=1)
    meta = eng._get(cid).meta
    assert eng.list()[0]["state"] == "failed"
    assert meta["last_warning"]["retryable"] is True
    assert meta["error"] == {**meta["error"], "attempt": 1, "retryable": True}
    assert spark.streams.active == []
