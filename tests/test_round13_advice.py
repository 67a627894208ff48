"""Round-13 regression tests for the advisor's findings: zstd
Repeat_Mode after Predefined/RLE sequence tables (RFC 8878
§3.1.1.3.2.1.1 — the "previous table" can come from any mode, not only
FSE-described), Dictionary_ID value 0 meaning "no dictionary", the
kafka-URI ``compression=`` semantic-trap warning, and Go-duration
parse edges (bare '0' valid, negatives rejected)."""

from __future__ import annotations

import warnings

import pytest

from tigate_spark.functions.compress import CodecError, compress_bytes
from tigate_spark.streaming.kafka_clients import parse_go_duration_ms

from tests.test_zstd_codec import (
    _dec,
    _frame_of_blocks,
    _literals_raw,
    _seq_section,
)


# -- Repeat_Mode reuses tables from predefined / RLE blocks ------------------

def _lit_section_len(blk: bytes) -> int:
    """Length of the raw-literals section emitted by _literals_raw."""
    assert (blk[0] >> 2) & 3 == 1, "_literals_raw emits 2-byte headers"
    regen = int.from_bytes(blk[:2], "little") >> 4
    return 2 + regen


def test_repeat_mode_after_predefined_block():
    """Block 1 uses Predefined tables; block 2 is byte-identical except
    its modes byte says Repeat for all three lanes — it must decode to
    the same 14 bytes by reusing the predefined tables."""
    lits = b"abcdXYZ"
    seqs = [(4, 7, 4), (3, 1, 3)]
    blk1 = _literals_raw(lits) + _seq_section(
        seqs, None, ("predef", "predef", "predef"))
    lit_len = _lit_section_len(blk1)
    # layout after literals: nseq(1) + modes(1) + bitstream
    assert blk1[lit_len + 1] == 0x00  # predefined for LL/OF/ML
    blk2 = bytearray(blk1)
    blk2[lit_len + 1] = 0xFC  # Repeat_Mode for LL/OF/ML
    content = b"abcdabcdXYZdXY"
    out = _dec(_frame_of_blocks([blk1, bytes(blk2)], content * 2))
    assert out == content * 2


def test_repeat_mode_after_rle_block():
    """Block 1 uses RLE tables (one symbol byte per lane); block 2 drops
    the symbol bytes and says Repeat — it must reuse the RLE tables."""
    lits = b"abcd"
    seqs = [(2, 5, 4), (2, 5, 4)]  # identical seqs -> one code per lane
    blk1 = _literals_raw(lits) + _seq_section(
        seqs, None, ("rle", "rle", "rle"))
    lit_len = _lit_section_len(blk1)
    assert blk1[lit_len + 1] == 0x54  # RLE for LL/OF/ML
    bitstream = blk1[lit_len + 2 + 3:]  # skip modes + 3 symbol bytes
    blk2 = (blk1[:lit_len] + bytes([len(seqs), 0xFC]) + bitstream)
    # each block decodes to: "ab" + copy(off 2, len 4) -> "ababab",
    # then "cd" + copy(off 2, len 4) -> "cdcd"
    one = b"abababcdcdcd"
    assert _dec(_frame_of_blocks([blk1], one)) == one
    out = _dec(_frame_of_blocks([blk1, blk2], one * 2))
    assert out == one * 2


# -- Dictionary_ID == 0 is "no dictionary" -----------------------------------

def _with_did(frame: bytes, did: bytes) -> bytes:
    """Rewrite a single-segment frame to carry a Dictionary_ID field."""
    fhd = frame[4]
    assert fhd & 0x20, "small payloads encode as single-segment frames"
    flag = {1: 1, 2: 2, 4: 3}[len(did)]
    return frame[:4] + bytes([fhd | flag]) + did + frame[5:]


def test_dictionary_id_zero_is_accepted():
    data = b"dictionary-id zero means no dictionary " * 20
    frame = compress_bytes("zstd", data)
    assert _dec(_with_did(frame, b"\x00")) == data
    assert _dec(_with_did(frame, b"\x00\x00")) == data
    assert _dec(_with_did(frame, b"\x00" * 4)) == data


def test_dictionary_id_nonzero_still_rejected():
    frame = compress_bytes("zstd", b"payload")
    with pytest.raises(CodecError, match="Dictionary mismatch"):
        _dec(_with_did(frame, b"\x07"))


# -- Go duration parse edges --------------------------------------------------

def test_go_duration_bare_zero_is_valid():
    assert parse_go_duration_ms("0") == 0
    assert parse_go_duration_ms("+0") == 0
    assert parse_go_duration_ms("-0") == 0
    assert parse_go_duration_ms("0s") == 0


def test_go_duration_negative_rejected():
    with pytest.raises(ValueError, match="negative"):
        parse_go_duration_ms("-5s")
    with pytest.raises(ValueError, match="negative"):
        parse_go_duration_ms("-1h30m")
    # still parses positive compounds
    assert parse_go_duration_ms("1h30m") == 5_400_000


# -- kafka-URI compression= semantic trap warns ------------------------------

def test_kafka_uri_plain_compression_warns():
    from tigate_spark.config import ChangefeedConfig
    from tigate_spark.streaming.changefeed import _apply_sink_uri_options

    cfg = ChangefeedConfig(
        changefeed_id="cf-warn",
        sink_uri="kafka://broker:9092/topic?compression=lz4")
    with pytest.warns(UserWarning, match="TRANSPORT"):
        _apply_sink_uri_options(cfg)
    assert cfg.sink.compression == "lz4"  # behavior unchanged, only warned

    # non-kafka schemes keep the quiet codec-level meaning
    cfg2 = ChangefeedConfig(
        changefeed_id="cf-quiet",
        sink_uri="file:///tmp/out?compression=lz4")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        _apply_sink_uri_options(cfg2)
    assert cfg2.sink.compression == "lz4"
