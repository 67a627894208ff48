"""Round-12 regression tests for the advisor's findings: claim-check
sizing a hex-ridden compressed open-protocol value at wire bytes (not
hex chars), the snappy import-gate + non-interop flagging of gzip/zlib,
the n_messages=0 guard in the open-protocol batch frame parser, and the
narrowed bare-first-line unretryable classification."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tigate_spark.config import ChangefeedConfig, SinkConfig
from tigate_spark.engine import _is_unretryable
from tigate_spark.functions.compress import (
    KNOWN,
    REFERENCE_INTEROP,
    ensure_supported,
    supported,
)
from tigate_spark.streaming.changefeed import Changefeed


# -- claim-check sizes the compressed WIRE, not its hex transport -----------

def test_claim_check_hex_value_sized_at_wire_bytes(spark):
    """A hex-ridden value is 2 chars/byte: with value_is_hex the offload
    threshold must compare wire bytes (octet_length/2), so a 100-byte
    wire under a 150-byte threshold stays inline even though its hex
    transport is 200 chars."""
    from tigate_spark.functions.encoders import claim_check

    df = spark.createDataFrame([(1, "AB" * 100)], "seq LONG, value STRING")
    inline = claim_check(df, 150, msg_col="value", value_is_hex=True)
    assert inline.first()["offloaded"] is False
    # without the hint the same row would (wrongly) offload
    legacy = claim_check(df, 150, msg_col="value")
    assert legacy.first()["offloaded"] is True
    # and a genuinely-large wire still offloads under the hint
    big = claim_check(df, 80, msg_col="value", value_is_hex=True)
    assert big.first()["offloaded"] is True


@pytest.mark.slow
def test_compressed_claim_check_feed_offloads_at_threshold(
        spark, sf_dir, chunked_source, tmp_path):
    """compression + claim-check on an open-protocol feed: offload
    triggers on compressed wire size — with the median COMPRESSED size
    as the threshold, roughly half the messages offload (previously the
    2-chars/byte hex sizing offloaded nearly everything)."""
    from tigate_spark.functions.compress import compress_col
    from tigate_spark.functions.encoders import encode_open_protocol
    from tigate_spark.sources.changes import changes_stream

    enc = encode_open_protocol(
        changes_stream(spark, sf_dir, with_images=True))
    wire = enc.select(
        F.octet_length(
            compress_col(F.encode(F.col("value"), "UTF-8"), "zlib")
        ).alias("n"))
    median = int(wire.approxQuantile("n", [0.5], 0.0)[0])
    cfg = ChangefeedConfig(
        changefeed_id="cf-cc-claim", sink_uri="changelog://",
        sink=SinkConfig(protocol="open-protocol", compression="zlib",
                        large_message_handle="claim-check",
                        large_message_threshold=median),
    )
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path))
    cf.run_to_completion()
    log = spark.read.parquet(cf.sink.out_dir)
    n_total = log.count()
    n_ptr = log.filter(
        F.col("value").startswith('{"claimCheckLocation"')).count()
    assert 0 < n_ptr < n_total
    # median threshold → roughly half inline; the old hex sizing put
    # ~100% of messages over (2x inflation), so this bound separates
    assert n_ptr < 0.8 * n_total


# -- snappy import-gate + interop flagging ----------------------------------

def test_snappy_known_and_gated():
    # r13 superseded the import gate: snappy is ALWAYS supported (the
    # raw block format via pyarrow's native codec, JVM cross-validated);
    # the reference-interop set is unchanged
    assert "snappy" in KNOWN
    assert REFERENCE_INTEROP == ("none", "lz4", "snappy")
    assert supported("snappy")
    ensure_supported("snappy")


# -- n_messages=0 guard in the batch frame parser ----------------------------

def test_decode_open_batch_framed_empty_batch(spark):
    """sequence(1, 0) is descending in Spark — a zero-message frame row
    must parse to zero messages, not two bogus frame reads."""
    from tigate_spark.functions.encoders import decode_open_batch_framed

    df = spark.createDataFrame(
        [("t0", 0, 0, "00000000" * 2, "", 0)],
        "topic STRING, partition LONG, batch_seq LONG, "
        "batch_key_hex STRING, batch_value_hex STRING, n_messages LONG")
    assert decode_open_batch_framed(df).count() == 0


# -- narrowed first-line unretryable scan ------------------------------------

def test_transient_first_line_not_scanned_when_headers_match():
    """A transient failure whose incidental FIRST line contains an
    unretryable fragment ('must be') must stay retryable when real
    header lines exist and carry no pattern."""
    exc = RuntimeError(
        "stage must be resubmitted after shuffle fetch failure\n"
        "Caused by: java.io.IOException: connection reset by peer\n")
    assert not _is_unretryable(exc)


def test_bracketed_first_line_still_scans():
    """The documented bare-header shape ([STREAM_FAILED] ...) keeps
    joining the scan even when deeper header lines match."""
    exc = RuntimeError(
        "[STREAM_FAILED] Query xyz terminated: invalid partition-num\n"
        "Caused by: java.io.IOException: connection reset by peer\n")
    assert _is_unretryable(exc)


def test_headerless_text_still_scans_first_line():
    assert _is_unretryable(RuntimeError("worker-count out of range"))
    assert not _is_unretryable(RuntimeError("executor heartbeat lost"))
