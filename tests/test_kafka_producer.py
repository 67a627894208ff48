"""Kafka producer seam (streaming/kafka.py — the DBAPI-seam pattern
applied to the changelog transport): admin topic/partition-count
queries, retriable produce errors resent WITHOUT duplication (broker
sequence dedup, the idempotent-producer contract), fatal errors
failing the feed, and the fake-broker e2e hash matching the default
parquet path's corpus."""

from __future__ import annotations

import glob
import json
import os

import pytest

#: heavy streaming/e2e tail — excluded from the fast path
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from tigate_spark.config import ChangefeedConfig
from tigate_spark.sources.changes import changes_stream
from tigate_spark.streaming.changefeed import Changefeed
from tigate_spark.streaming.kafka import (
    FakeWireProducer,
    ProduceError,
    produce_with_retry,
)


@pytest.fixture(scope="module")
def chunked_source(spark, sf_dir, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("events_src"))
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    qs = ev.approxQuantile("event_id", [0.5], 0.0)
    bounds = [float("-inf"), *qs, float("inf")]
    for i in range(2):
        part = ev.filter((F.col("event_id") > bounds[i])
                         & (F.col("event_id") <= bounds[i + 1]))
        part.coalesce(1).write.parquet(os.path.join(src, f"chunk-{i:02d}"))
    flat = str(tmp_path_factory.mktemp("events_flat"))
    for i in range(2):
        for f in sorted(glob.glob(
                os.path.join(src, f"chunk-{i:02d}", "part-*.parquet"))):
            os.link(f, os.path.join(flat, f"{i:02d}-{os.path.basename(f)}"))
    return flat


# -- unit: the fake broker itself -------------------------------------------

def test_admin_topic_create_and_partition_count(tmp_path):
    p = FakeWireProducer(str(tmp_path))
    assert p.ensure_topic("app_t0", 8) == 8
    assert p.partition_count("app_t0") == 8
    # existing topic keeps ITS count — the produce path must route by
    # the actual count, not the configured one (admin.go)
    assert p.ensure_topic("app_t0", 16) == 8


def test_broker_sequence_dedup(tmp_path):
    p = FakeWireProducer(str(tmp_path))
    p.ensure_topic("t", 1)
    recs = [{"seq": i, "key": "k", "value": f"v{i}"} for i in range(5)]
    assert p.produce_partition("t", 0, recs) == 5
    # full resend (the delivery-report-lost window) accepts nothing new
    assert p.produce_partition("t", 0, recs) == 0
    # partial overlap appends only the new suffix
    more = [{"seq": i, "key": "k", "value": f"v{i}"} for i in range(3, 8)]
    assert p.produce_partition("t", 0, more) == 3
    log = p.read_log("t", 0)
    assert [r["seq"] for r in log] == list(range(8))


def test_retriable_error_fires_after_append_and_once(tmp_path):
    p = FakeWireProducer(str(tmp_path), inject=[("retriable", "t-0")])
    p.ensure_topic("t", 1)
    recs = [{"seq": 0, "key": None, "value": "v"}]
    with pytest.raises(ProduceError) as ei:
        p.produce_partition("t", 0, recs)
    assert ei.value.retriable
    # the append happened BEFORE the failure — the classic window
    assert [r["seq"] for r in p.read_log("t", 0)] == [0]
    # retry path: produce_with_retry absorbs it (injection is once-only)
    p2 = FakeWireProducer(str(tmp_path), inject=[("retriable", "t-1")])
    assert produce_with_retry(p2, "t", 1, recs) == 1
    assert [r["seq"] for r in p2.read_log("t", 1)] == [0]


def test_fatal_error_raises_without_append(tmp_path):
    p = FakeWireProducer(str(tmp_path), inject=[("fatal", "t-0")])
    p.ensure_topic("t", 1)
    with pytest.raises(ProduceError) as ei:
        produce_with_retry(p, "t", 0, [{"seq": 0, "key": None, "value": "v"}])
    assert not ei.value.retriable
    assert p.read_log("t", 0) == []


# -- e2e: the changefeed through the seam ------------------------------------

def _run_feed(spark, source, work, broker_dir, inject=None,
              feed_id="cf-kafka"):
    cfg = ChangefeedConfig(
        changefeed_id=feed_id,
        sink_uri="kafka:///?protocol=open-protocol&partition-num=8")
    cf = Changefeed(spark, cfg, source, work)
    cf.sink.producer = FakeWireProducer(broker_dir, inject=inject)
    cf.run_to_completion()
    return cf


def test_changelog_via_fake_wire_matches_source(spark, sf_dir,
                                                chunked_source, tmp_path):
    cf = _run_feed(spark, chunked_source, str(tmp_path / "w"),
                   str(tmp_path / "broker"))
    got = cf.sink.producer.read_all()
    ch = changes_stream(spark, sf_dir)
    assert len(got) == ch.count()
    # every record is a real open-protocol message with a unique seq
    seqs = [r["seq"] for r in got]
    assert len(set(seqs)) == len(seqs)
    for r in got[:50]:
        assert set(json.loads(r["value"])) <= {"u", "p", "d"}
        json.loads(r["key"])
    # partition routing respects the BROKER's partition count
    assert all(0 <= r["partition"] < 8 for r in got)


def test_resend_without_duplication_e2e(spark, sf_dir, chunked_source,
                                        tmp_path):
    """A retriable produce error after the broker accepted the batch
    (delivery report lost) → the worker resends → the final broker log
    is IDENTICAL to a clean run's: same seq multiset, no dupes."""
    clean = _run_feed(spark, chunked_source, str(tmp_path / "w1"),
                      str(tmp_path / "b1"), feed_id="cf-clean")
    faulty = _run_feed(spark, chunked_source, str(tmp_path / "w2"),
                       str(tmp_path / "b2"),
                       inject=[("retriable", "app_t1-")],
                       feed_id="cf-faulty")
    a = sorted((r["topic"], r["partition"], r["seq"], r["value"])
               for r in clean.sink.producer.read_all())
    b = sorted((r["topic"], r["partition"], r["seq"], r["value"])
               for r in faulty.sink.producer.read_all())
    assert a == b and len(a) > 0


def test_fatal_produce_error_fails_feed(spark, chunked_source, tmp_path):
    with pytest.raises(Exception, match="injected fatal"):
        _run_feed(spark, chunked_source, str(tmp_path / "w"),
                  str(tmp_path / "b"), inject=[("fatal", "app_t0-")],
                  feed_id="cf-fatal")


def test_existing_topic_count_wins_routing(spark, chunked_source, tmp_path):
    """Pre-created topics with a smaller partition count: the produce
    path must route within the ACTUAL count (partition % actual)."""
    broker = str(tmp_path / "b")
    pre = FakeWireProducer(broker)
    for t in ("app_t0", "app_t1", "app_t2", "app_t3"):
        pre.ensure_topic(t, 2)
    cf = _run_feed(spark, chunked_source, str(tmp_path / "w"), broker,
                   feed_id="cf-narrow")
    got = cf.sink.producer.read_all()
    assert len(got) > 0
    assert all(r["partition"] < 2 for r in got)


# -- producer transport compression (sarama.go:79-94) ------------------------

def test_transport_compression_stored_compressed_read_plain(tmp_path):
    """compression=snappy on the producer: the broker's on-disk form is
    compressed (no plain value field), read_log hands back the plain
    value — transport compression is invisible to consumers."""
    from tigate_spark.functions.compress import decompress_bytes

    p = FakeWireProducer(str(tmp_path), compression="snappy")
    p.ensure_topic("t", 1)
    val = json.dumps({"u": {"pk": 1, "event_type": "click" * 30}})
    p.produce_partition("t", 0, [{"seq": 0, "key": "k", "value": val},
                                 {"seq": 1, "key": "k2", "value": None}])
    with open(os.path.join(str(tmp_path), "t-0.jsonl")) as f:
        raw = [json.loads(ln) for ln in f if ln.strip()]
    assert "value" not in raw[0] and raw[0]["cc"] == "snappy"
    assert decompress_bytes(
        "snappy", bytes.fromhex(raw[0]["vz"])).decode() == val
    assert raw[1]["value"] is None  # tombstones stay plain
    back = p.read_log("t", 0)
    assert back[0]["value"] == val and back[1]["value"] is None


def test_transport_compression_e2e_identity(spark, sf_dir, chunked_source,
                                            tmp_path):
    """kafka-compression=lz4 through the URI: the full feed's broker log
    reads back IDENTICAL to an uncompressed run's (same messages), and
    the stored bytes really are lz4 frames."""
    cfg = ChangefeedConfig(
        changefeed_id="cf-kc",
        sink_uri="kafka:///?protocol=open-protocol&partition-num=8"
                 "&transport=wire&kafka-compression=lz4"
                 "&broker-dir=" + str(tmp_path / "bz"))
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path / "wz"))
    assert cf.cfg.sink.kafka_compression == "lz4"
    cf.run_to_completion()
    plain = _run_feed(spark, chunked_source, str(tmp_path / "wp"),
                      str(tmp_path / "bp"), feed_id="cf-kp")
    a = sorted((r["topic"], r["partition"], r["seq"], r["key"], r["value"])
               for r in cf.sink.producer.read_all())
    b = sorted((r["topic"], r["partition"], r["seq"], r["key"], r["value"])
               for r in plain.sink.producer.read_all())
    assert a == b and len(a) > 0
    # the on-disk form is the compressed wire
    some = glob.glob(str(tmp_path / "bz" / "*.jsonl"))[0]
    with open(some) as f:
        rec = json.loads(f.readline())
    assert "vz" in rec and rec["cc"] == "lz4"
    assert bytes.fromhex(rec["vz"])[:4] == (0x184D2204).to_bytes(4, "little")


def test_unknown_kafka_compression_warns_and_falls_back(spark, tmp_path,
                                                        chunked_source):
    """sarama.go:91-93: unknown producer compression WARNS and uses
    none — it does not fail the changefeed."""
    import warnings as _w

    cfg = ChangefeedConfig(
        changefeed_id="cf-kcbad",
        sink_uri="kafka:///?protocol=open-protocol"
                 "&kafka-compression=brotli")
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        cf = Changefeed(spark, cfg, chunked_source, str(tmp_path))
    assert cf.cfg.sink.kafka_compression == "none"
    assert any("Unsupported compression" in str(w.message) for w in caught)


def test_large_message_handle_compression_uri_spelling(spark, tmp_path,
                                                       chunked_source):
    """The reference's canonical codec-level param name
    (large_message.go:33) lands on sink.compression."""
    cfg = ChangefeedConfig(
        changefeed_id="cf-lmhc",
        sink_uri="changelog://?protocol=open-protocol"
                 "&large-message-handle-compression=snappy")
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path))
    assert cf.cfg.sink.compression == "snappy"


def test_required_acks_uri_param(spark, tmp_path, chunked_source):
    """options.go:88-98: -1/0/1 parse; anything else is the
    ErrKafkaInvalidRequiredAcks class at create time."""
    cfg = ChangefeedConfig(
        changefeed_id="cf-acks1",
        sink_uri="kafka:///?protocol=open-protocol&required-acks=1")
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path / "a"))
    assert cf.cfg.sink.required_acks == 1
    for bad in ("2", "all", "-2"):
        with pytest.raises(ValueError, match="invalid required acks"):
            Changefeed(
                spark,
                ChangefeedConfig(
                    changefeed_id=f"cf-acks-{bad}",
                    sink_uri="kafka:///?protocol=open-protocol"
                             f"&required-acks={bad}"),
                chunked_source, str(tmp_path / f"b{bad}"))
